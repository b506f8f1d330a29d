"""HTML boilerplate stripping via text-density + link-density block scoring
(north rule: "batched HTML boilerplate stripping via text-density +
link-density DOM heuristics (Readability/Boilerpipe-style block scoring)").

Three layers:

  html_blocks_py         regex-segment raw HTML into text blocks at
                         block-level tag boundaries, strip
                         tags/scripts/comments, decode basic entities,
                         and count words + anchor-text words per block. No
                         DOM library (regex segmentation is the Boilerpipe
                         "atomic text block" model, not a browser parse).
  classify_blocks        PURE-COLUMN implementation of the published
                         NumWordsRulesClassifier decision tree
                         (Kohlschuetter, Fankhauser, Nejdl: "Boilerplate
                         Detection using Shallow Text Features", WSDM 2010)
                         over (prev, curr, next) block features via
                         lag/lead windows partitioned by document:

                             curr.linkDensity > 0.333333        -> boilerplate
                             elif prev.linkDensity > 0.555556:
                                 content iff curr.numWords > 40
                                          or next.numWords > 17
                             else:
                                 content iff curr.numWords > 16
                                          or next.numWords > 15
                                          or prev.numWords > 4

                         Link-density thresholds are evaluated by INTEGER
                         CROSS-MULTIPLICATION (1e6*links vs 333333*words),
                         so every engine agrees exactly — no float division.
                         (``classify_blocks_py`` is its sequential twin.)
  strip_boilerplate_html end-to-end: blocks -> classify -> keep content ->
                         reassemble cleaned text per document ("\\n\\n"
                         joined, block order preserved).

Scale shape: a document's blocks are colocated inside its own row, so the
strip runs segmentation and the (prev, curr, next) classification in one
Arrow stage — map-only, zero shuffles. ``classify_blocks`` serves inputs
that already are block tables (the queries); it shuffles once on doc_id
for the per-document window.
"""

from __future__ import annotations

import html as _htmllib
import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.rows import map_rows

_HEAD_RE = re.compile(r"(?is)<head\b.*?</head\s*>")
_SCRIPT_RE = re.compile(r"(?is)<(script|style|noscript|title)\b.*?</\1\s*>")
_COMMENT_RE = re.compile(r"(?s)<!--.*?-->")
_BLOCK_TAG_RE = re.compile(
    r"(?is)</?(?:p|div|h[1-6]|ul|ol|li|table|thead|tbody|tr|td|th|blockquote"
    r"|pre|section|article|header|footer|nav|aside|main|figure|figcaption"
    r"|br|hr|form|fieldset|dl|dt|dd)\b[^>]*>"
)
_A_RE = re.compile(r"(?is)<a\b[^>]*>(.*?)</a\s*>")
_TAG_RE = re.compile(r"(?s)<[^>]+>")

def _words(s: str) -> list[str]:
    return [w for w in s.split() if w]


def html_blocks_py(doc_id: str, html: str) -> list[dict]:
    """Pure-Python block segmentation (kernel body AND golden generator)."""
    h = _COMMENT_RE.sub("", _SCRIPT_RE.sub("", _HEAD_RE.sub("", html or "")))
    out = []
    for frag in _BLOCK_TAG_RE.split(h):
        if not frag or not frag.strip():
            continue
        link_words = 0
        for m in _A_RE.finditer(frag):
            anchor_text = _htmllib.unescape(_TAG_RE.sub(" ", m.group(1)))
            link_words += len(_words(anchor_text))
        text = _htmllib.unescape(_TAG_RE.sub(" ", frag))
        text = " ".join(_words(text))
        if not text:
            continue
        out.append(
            {
                "doc_id": doc_id,
                "block_no": len(out),
                "text": text,
                "n_words": len(_words(text)),
                "n_link_words": link_words,
                "n_chars": len(text),
            }
        )
    return out


def content_flag_col(
    curr_words,
    curr_links,
    prev_words,
    prev_links,
    next_words,
):
    """The WSDM-2010 NumWordsRules tree as one column expression.

    All link-density comparisons are integer cross-multiplications; missing
    neighbors (first/last block) count as empty blocks (0 words, 0 links) —
    Boilerpipe's behavior at document edges.
    """
    curr_ld_high = curr_links * 1_000_000 > curr_words * 333_333
    prev_ld_high = prev_links * 1_000_000 > prev_words * 555_556
    return F.when(curr_ld_high, F.lit(False)).otherwise(
        F.when(prev_ld_high, (curr_words > 40) | (next_words > 17)).otherwise(
            (curr_words > 16) | (next_words > 15) | (prev_words > 4)
        )
    )


def density_flag_col(
    curr_words,
    curr_links,
    curr_lines,
    prev_words,
    prev_links,
    prev_lines,
    next_words,
    next_lines,
):
    """The WSDM-2010 DensityRules tree — the TEXT-DENSITY variant of the
    classifier (text density = words per 80-column wrapped line):

        curr.linkDensity > 0.333333                   -> boilerplate
        elif prev.linkDensity > 0.555556:
            content iff next.textDensity > 11
        elif curr.textDensity > 9:
            content iff next.textDensity > 0
        else:
            content iff next.textDensity > 10
                     or prev.textDensity > 4

    Densities are never materialized as floats: every threshold is an
    integer cross-multiplication (words > T * lines), and our wrapped-line
    count is ``max(1, ceil(n_chars / 80))`` (documented precisely so both
    engines and the sequential twin agree byte-for-byte).
    """
    curr_ld_high = curr_links * 1_000_000 > curr_words * 333_333
    prev_ld_high = prev_links * 1_000_000 > prev_words * 555_556
    next_td = lambda t: next_words > t * next_lines  # noqa: E731
    return F.when(curr_ld_high, F.lit(False)).otherwise(
        F.when(prev_ld_high, next_td(11)).otherwise(
            F.when(curr_words > 9 * curr_lines, next_words > 0).otherwise(
                next_td(10) | (prev_words > 4 * prev_lines)
            )
        )
    )


def wrapped_lines_col(n_chars):
    """max(1, ceil(n_chars / 80)) — the 80-column wrap count, computed as
    (n + 79) / 80 truncated (all-positive, so trunc == floor == exact
    integer ceiling; no float-threshold ambiguity cross-engine)."""
    return F.greatest(
        F.lit(1).cast("bigint"), ((n_chars + 79) / 80).cast("bigint")
    )


def classify_blocks(
    blocks: DataFrame, id_col: str = "doc_id", classifier: str = "num_words"
) -> DataFrame:
    """Adds ``is_content`` via lag/lead block features (one shuffle on doc).

    ``classifier``: "num_words" (NumWordsRules) or "density" (DensityRules —
    requires an ``n_chars`` column for the 80-column wrapped-line counts).
    """
    w = Window.partitionBy(id_col).orderBy("block_no")
    zero = F.lit(0)
    curr_w = F.col("n_words").cast("bigint")
    curr_l = F.col("n_link_words").cast("bigint")
    prev_w = F.coalesce(F.lag("n_words").over(w), zero).cast("bigint")
    prev_l = F.coalesce(F.lag("n_link_words").over(w), zero).cast("bigint")
    next_w = F.coalesce(F.lead("n_words").over(w), zero).cast("bigint")
    if classifier == "num_words":
        flag = content_flag_col(curr_w, curr_l, prev_w, prev_l, next_w)
    elif classifier == "density":
        curr_c = F.col("n_chars").cast("bigint")
        prev_c = F.coalesce(F.lag("n_chars").over(w), zero).cast("bigint")
        next_c = F.coalesce(F.lead("n_chars").over(w), zero).cast("bigint")
        flag = density_flag_col(
            curr_w,
            curr_l,
            wrapped_lines_col(curr_c),
            prev_w,
            prev_l,
            wrapped_lines_col(prev_c),
            next_w,
            wrapped_lines_col(next_c),
        )
    else:
        raise ValueError(f"unknown classifier: {classifier!r}")
    return blocks.withColumn("is_content", flag)


STRIP_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("content_text", T.StringType()),
        T.StructField("n_blocks", T.LongType()),
        T.StructField("n_content_blocks", T.LongType()),
    ]
)


def strip_boilerplate_html(
    df: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
    classifier: str = "num_words",
) -> DataFrame:
    """(doc_id, content_text, n_blocks, n_content_blocks): cleaned main
    content per document, boilerplate blocks dropped, order preserved.

    A document's blocks are already colocated inside its own row, so
    segmentation AND the (prev, curr, next) classification run in ONE
    Arrow stage — the whole strip is map-only, zero shuffles.
    """

    def strip_row(doc_id, doc_html):
        blocks = html_blocks_py(str(doc_id), doc_html)
        flags = classify_blocks_py(blocks, classifier=classifier)
        kept = [b["text"] for b, f_ in zip(blocks, flags) if f_]
        return (
            {
                "doc_id": str(doc_id),
                "content_text": "\n\n".join(kept),
                "n_blocks": len(blocks),
                "n_content_blocks": len(kept),
            },
        )

    return map_rows(df.select(id_col, html_col), strip_row, STRIP_SCHEMA)


def classify_blocks_py(
    blocks: list[dict], classifier: str = "num_words"
) -> list[bool]:
    """Sequential twin of classify_blocks (golden generation / tests)."""

    def lines(chars: int) -> int:
        return max(1, (chars + 79) // 80)

    flags = []
    n = len(blocks)
    for i, b in enumerate(blocks):
        cw, cl = b["n_words"], b["n_link_words"]
        prev = blocks[i - 1] if i > 0 else {"n_words": 0, "n_link_words": 0, "n_chars": 0}
        nxt = blocks[i + 1] if i < n - 1 else {"n_words": 0, "n_link_words": 0, "n_chars": 0}
        pw, pl = prev["n_words"], prev["n_link_words"]
        nw = nxt["n_words"]
        if cl * 1_000_000 > cw * 333_333:
            flags.append(False)
        elif classifier == "num_words":
            if pl * 1_000_000 > pw * 555_556:
                flags.append(cw > 40 or nw > 17)
            else:
                flags.append(cw > 16 or nw > 15 or pw > 4)
        elif classifier == "density":
            if pl * 1_000_000 > pw * 555_556:
                flags.append(nw > 11 * lines(nxt["n_chars"]))
            elif cw > 9 * lines(b["n_chars"]):
                flags.append(nw > 0)
            else:
                flags.append(
                    nw > 10 * lines(nxt["n_chars"])
                    or pw > 4 * lines(prev["n_chars"])
                )
        else:
            raise ValueError(classifier)
    return flags
