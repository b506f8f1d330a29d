"""Deterministic synthetic interleaved-document corpus (FIXTURES.md §1).

Generates the north-rule input shape
``documents(doc_id string, spans array<struct<kind,text,media_ref,offset>>)``
seeded and reproducible — the same generator feeds the pytest gate (small),
the golden-fixture comparison, and the bench corpus (large). Content mixes
exactly the phenomena the reference cleans: Lexis noise lines, heading
shapes, broken hyphens, smart quotes/ligatures, tabs/CRLF, running headers,
bare page numbers, caselaw/statute/prose classification signals, and
interleaved media spans on ~10% of docs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import types as T

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]
)
SPANS_SCHEMA = T.ArrayType(SPAN_STRUCT)
DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("source_file", T.StringType()),
        T.StructField("spans", SPANS_SCHEMA),
    ]
)

_CASE_CAPTIONS = [
    "Indian Trail, LLC v. State Bank and Trust Company",
    "Smith, Plaintiff v. Jones, Defendant",
    "Abbott Labs. v. Sandoz, Inc",
    "Agee v. State of Georgia, Appellee",
    "Asmelash v. State",
    "Brown and Sons, Petitioner v. Green Holdings, et al.",
]
_COURT_LINES = [
    "Court of Appeals of Georgia",
    "Supreme Court of Georgia",
    "Supreme Court of Texas",
    "United States Court of Appeals for the Eleventh Circuit",
    "United States District Court for the Northern District of Illinois",
]
_DATE_LINES = [
    "July 3, 2014, Decided",
    "Decided: October 9, 2024",
    "Filed: March 12, 2019",
    "Argued: January 5, 2010",
]
_CITATION_LINES = [
    "328 Ga. App. 524",
    "759 S.E.2d 654",
    "743 F. Supp. 2d 762",
    "289 Ga. 863",
    "131 S. Ct. 2541",
    "564 U.S. 91",
]
_NOISE_LINES = [
    "As of: November 28, 2024 8:48 PM Z",
    "Page 3 of 17",
    "Load Date: December 1, 2024",
    "End of Document",
    "|",
    "***",
    "  ****  ",
]
_HEADING_LINES = [
    "Opinion by: LAGRUA",
    "OPINION",
    "BACKGROUND",
    "ANALYSIS AND CONCLUSION",
    "1. Background",
    "2. Analysis",
    "II. Facts",
    "IV. Discussion",
]
_BODY_SENTENCES = [
    "The trial court granted summary judgment to the defendant bank.",
    "We review a grant of summary judgment de novo, viewing the evidence in the light most favorable to the nonmovant.",
    "The record shows that the parties executed a promissory note in 2008.",
    "Appellant contends the court erred in denying its motion for reconsideration.",
    "The judgment below is affirmed in part and reversed in part.",
    "Counsel for the plaintiff conceded the point at oral argument.",
]
_DIRTY_SENTENCES = [
    "The defend-\nant argued the motion was untimely.",
    "The PLAIN-\nTIFF filed a renewed brief.",
    "The court’s “primary” concern was the ﬁnal ruling — not costs.",
    "Money\tdamages were\tsought.",
    "It was agreed.The parties settled,without delay.",
]
_STATUTE_LINES = [
    "Official Code of Georgia Annotated",
    "TITLE 42",
    "Chapter 5",
    "§ 5-6-34. Appeals; procedures",
    "O. C. G. A. provisions as amended and codified",
    "Section 12 applies to subsection (a) and paragraph (1).",
    "See 28 U. S. C. and C. F. R. references.",
]
_PROSE_LINES = [
    "The afternoon light settled over the quiet harbor town.",
    "A recipe for bread needs flour, water, salt, and patience.",
    "Travelers often remark on the kindness of strangers abroad.",
    "The museum's new wing opened to considerable local interest.",
    "Gardens reward the patient more than the ambitious.",
]
_RUNNING_HEADER = "SUPREME COURT REPORTS, VOL. 12"


def _make_doc(rng: np.random.RandomState, i: int) -> tuple[str, str, list[dict]]:
    doc_id = f"doc_{i:07d}"
    # skewed source host on ~5% of ids (FIXTURES.md §1)
    if rng.rand() < 0.05:
        doc_id = f"hot_host_{doc_id}"

    roll = rng.rand()
    lines: list[str] = []
    # log-normal line count, heavy tail
    n_lines = max(3, int(rng.lognormal(mean=2.6, sigma=0.9)))

    if roll < 0.50:  # caselaw
        ext = ".pdf" if rng.rand() < 0.7 else ".docx"
        lines.append(_NOISE_LINES[rng.randint(len(_NOISE_LINES))])
        lines.append(_CASE_CAPTIONS[rng.randint(len(_CASE_CAPTIONS))])
        lines.append(_COURT_LINES[rng.randint(len(_COURT_LINES))])
        lines.append(_DATE_LINES[rng.randint(len(_DATE_LINES))])
        lines.append(_CITATION_LINES[rng.randint(len(_CITATION_LINES))])
        for _ in range(n_lines):
            r = rng.rand()
            if r < 0.15:
                lines.append(_NOISE_LINES[rng.randint(len(_NOISE_LINES))])
            elif r < 0.30:
                lines.append(_HEADING_LINES[rng.randint(len(_HEADING_LINES))])
            elif r < 0.45:
                lines.append(_DIRTY_SENTENCES[rng.randint(len(_DIRTY_SENTENCES))])
            else:
                lines.append(_BODY_SENTENCES[rng.randint(len(_BODY_SENTENCES))])
            if r > 0.9:
                lines.append("")  # blank separator
        # running header repeated >= 3x on some docs
        if rng.rand() < 0.3:
            for pos in sorted(rng.choice(max(len(lines), 4), 3, replace=True)):
                lines.insert(int(pos), _RUNNING_HEADER)
        # bare page numbers
        if rng.rand() < 0.4:
            lines.append(str(rng.randint(1, 400)))
            lines.append("xiv")
        lines.append("End of Document")
    elif roll < 0.75:  # statute
        ext = ".pdf"
        lines.append(_STATUTE_LINES[0])
        for _ in range(n_lines):
            lines.append(_STATUTE_LINES[rng.randint(1, len(_STATUTE_LINES))])
    else:  # prose / unknown
        ext = ".docx"
        for _ in range(n_lines):
            lines.append(_PROSE_LINES[rng.randint(len(_PROSE_LINES))])

    # filename mix: plain / legacy-coded / invalid-coded (FIXTURES.md §1)
    stem = f"source_{i:07d}"
    fr = rng.rand()
    if fr < 0.08:
        source_file = f"{stem}----ABXCD{ext}"
    elif fr < 0.12:
        source_file = f"{stem}----WWWWW{ext}"
    else:
        source_file = f"{stem}{ext}"

    spans: list[dict] = []
    off = 0
    n_media = rng.randint(1, 6) if rng.rand() < 0.10 else 0
    media_positions = set(rng.choice(len(lines) + 1, n_media, replace=True)) if n_media else set()
    media_k = 0
    for j, ln in enumerate(lines):
        if j in media_positions:
            spans.append(
                {
                    "kind": "image",
                    "text": "",
                    "media_ref": f"media://{doc_id}/{media_k}",
                    "offset": off,
                }
            )
            media_k += 1
            off += 1
        spans.append({"kind": "text", "text": ln, "media_ref": "", "offset": off})
        off += 1
    return doc_id, source_file, spans


_HTML_NAV_LINKS = ["Home", "News", "Opinions", "Dockets", "About", "Contact"]
_HTML_RELATED = [
    "Related: Smith v. Jones",
    "See also Abbott Labs",
    "More from this court",
    "Subscribe to updates",
]


def _make_html_doc(rng: np.random.RandomState, i: int) -> tuple[str, str]:
    """One deterministic synthetic web page: nav/breadcrumb/footer
    boilerplate around an article whose paragraph count is heavy-tailed —
    the input shape for the HTML boilerplate-strip job."""
    doc_id = f"page_{i:07d}"
    nav = " ".join(
        f'<a href="/{w.lower()}">{w}</a>'
        for w in rng.choice(_HTML_NAV_LINKS, 4, replace=False)
    )
    crumbs = ' &gt; '.join(
        f'<a href="/s{k}">Section {k}</a>' for k in range(rng.randint(2, 5))
    )
    n_paras = max(1, int(rng.lognormal(mean=1.6, sigma=0.8)))
    paras = []
    for p in range(n_paras):
        n_sent = 1 + rng.randint(4)
        body = " ".join(
            _BODY_SENTENCES[rng.randint(len(_BODY_SENTENCES))]
            for _ in range(n_sent)
        )
        if rng.rand() < 0.15:  # inline citation link inside a real paragraph
            body += ' as held in <a href="/case">the earlier appeal</a>.'
        paras.append(f"<p>{body}</p>")
    related = "".join(
        f'<li><a href="/r{k}">{_HTML_RELATED[rng.randint(len(_HTML_RELATED))]}</a></li>'
        for k in range(rng.randint(2, 6))
    )
    html = (
        "<html><head><title>doc</title><script>var a=1;</script></head><body>"
        f"<nav>{nav}</nav><div class='crumbs'>{crumbs}</div>"
        f"<article><h1>{_CASE_CAPTIONS[rng.randint(len(_CASE_CAPTIONS))]}</h1>"
        + "".join(paras)
        + f"</article><ul class='related'>{related}</ul>"
        f"<footer>{nav} &copy; 2024</footer></body></html>"
    )
    return doc_id, html


def synth_documents_pandas(n_docs: int, seed: int = 42) -> pd.DataFrame:
    """Generate the corpus as a pandas DataFrame (used by tests + goldens)."""
    rng = np.random.RandomState(seed)
    rows = [_make_doc(rng, i) for i in range(n_docs)]
    return pd.DataFrame(rows, columns=["doc_id", "source_file", "spans"])


def synth_documents(spark, n_docs: int, seed: int = 42, num_partitions: int | None = None):
    """Generate the corpus as a Spark DataFrame.

    Generation is driver-side (deterministic, single pass) then parallelized;
    at bench scale (200k docs) this stays < a few hundred MB. A true 10^12-doc
    corpus would instead be generated distributed via ``spark.range(n)`` +
    the same per-index pure function — the per-doc generator takes only
    (rng-derived-from-index) so that extension is mechanical.
    """
    pdf = synth_documents_pandas(n_docs, seed)
    df = spark.createDataFrame(pdf, schema=DOCS_SCHEMA)
    if num_partitions:
        df = df.repartition(num_partitions)
    return df
