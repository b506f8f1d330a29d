"""HTML boilerplate stripping (Boilerpipe-style block scoring): kernel
segmentation, the WSDM-2010 decision tree (columnar == sequential), and the
end-to-end strip on synthesized pages."""

import random

import pytest

from modern_document_converter_for_ai_library_spark.operators.boilerplate import (
    classify_blocks,
    classify_blocks_py,
    html_blocks_py,
    strip_boilerplate_html,
)

_ARTICLE_SENTENCE = (
    "The court considered the standard of review applicable to motions "
    "for summary judgment and the record developed below in detail."
)


def _page(doc_id: int, n_paras: int = 3) -> str:
    """Deterministic page: nav + header boilerplate, article body, footer."""
    paras = "\n".join(
        f"<p>{_ARTICLE_SENTENCE} Paragraph {i} of document {doc_id}.</p>"
        for i in range(n_paras)
    )
    return f"""
<html><head><title>t</title><style>p {{ color: red }}</style>
<script>var x = "<p>not a block</p>";</script></head>
<body>
<nav><a href="/">Home</a> <a href="/news">News</a> <a href="/about">About</a></nav>
<div class="breadcrumbs"><a href="/a">Section</a> &gt; <a href="/b">Subsection</a></div>
<article>
<h1>Decision {doc_id}</h1>
{paras}
</article>
<footer><a href="/privacy">Privacy</a> <a href="/terms">Terms</a> &copy; 2024</footer>
</body></html>"""


def test_html_blocks_segmentation():
    blocks = html_blocks_py("d1", _page(1))
    texts = [b["text"] for b in blocks]
    # scripts/styles/comments never become blocks
    assert not any("not a block" in t or "color" in t for t in texts)
    # nav block: every word inside anchors
    nav = blocks[0]
    assert nav["text"] == "Home News About"
    assert nav["n_link_words"] == nav["n_words"] == 3
    # entity decoding
    crumbs = blocks[1]
    assert ">" in crumbs["text"] and "&gt;" not in crumbs["text"]
    # article paragraphs present with zero link words
    body = [b for b in blocks if "standard of review" in b["text"]]
    assert len(body) == 3 and all(b["n_link_words"] == 0 for b in body)


def test_strip_boilerplate_end_to_end(spark):
    rows = [(f"d{i}", _page(i)) for i in range(6)]
    df = spark.createDataFrame(rows, ["doc_id", "html"])
    out = {r["doc_id"]: r for r in strip_boilerplate_html(df).collect()}
    for i in range(6):
        r = out[f"d{i}"]
        # the article body survives; nav/breadcrumb/footer boilerplate is gone
        assert "standard of review" in r["content_text"]
        assert "Home News About" not in r["content_text"]
        assert "Privacy Terms" not in r["content_text"]
        assert r["n_content_blocks"] < r["n_blocks"]
        # paragraph order preserved
        idx = [r["content_text"].find(f"Paragraph {k} of") for k in range(3)]
        assert idx == sorted(idx) and all(p >= 0 for p in idx)


def test_columnar_tree_equals_sequential(spark):
    """classify_blocks (lag/lead windows) == classify_blocks_py on random
    feature sequences — including threshold-edge densities."""
    rnd = random.Random(99)
    rows = []
    expected = {}
    for d in range(25):
        blocks = []
        for b in range(rnd.randint(1, 12)):
            w = rnd.choice([1, 3, 4, 5, 15, 16, 17, 18, 40, 41, 60])
            l = rnd.choice([0, w // 3, (w + 2) // 3, w // 2, w])
            blocks.append(
                {"doc_id": f"d{d}", "block_no": b, "n_words": w, "n_link_words": min(l, w)}
            )
        for b, flag in zip(blocks, classify_blocks_py(blocks)):
            expected[(b["doc_id"], b["block_no"])] = flag
        rows.extend(
            (b["doc_id"], b["block_no"], b["n_words"], b["n_link_words"])
            for b in blocks
        )
    df = spark.createDataFrame(
        rows, ["doc_id", "block_no", "n_words", "n_link_words"]
    ).repartition(5)
    got = {
        (r["doc_id"], r["block_no"]): r["is_content"]
        for r in classify_blocks(df).collect()
    }
    assert got == expected


def test_kernel_strip_equals_python_twin(spark):
    """The map-only kernel strip produces exactly the documents the
    pure-Python segmenter + sequential classifier give, for both
    classifiers."""
    rows = [(f"d{i}", _page(i, n_paras=2 + i % 3)) for i in range(8)]
    df = spark.createDataFrame(rows, ["doc_id", "html"]).repartition(3)
    for classifier in ("num_words", "density"):
        kernel = {
            r["doc_id"]: (r["content_text"], r["n_blocks"], r["n_content_blocks"])
            for r in strip_boilerplate_html(df, classifier=classifier).collect()
        }
        twin = {}
        for doc_id, html in rows:
            blocks = html_blocks_py(doc_id, html)
            flags = classify_blocks_py(blocks, classifier=classifier)
            kept = [b["text"] for b, f in zip(blocks, flags) if f]
            twin[doc_id] = ("\n\n".join(kept), len(blocks), len(kept))
        assert kernel == twin
        assert all(n_kept < n for _, n, n_kept in twin.values())


def test_kernel_mode_is_map_only(spark):
    df = spark.createDataFrame([("d0", _page(0))], ["doc_id", "html"])
    plan = (
        strip_boilerplate_html(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan  # zero shuffles end-to-end
    assert plan.count("MapInPandas") == 1


def test_columnar_density_tree_equals_sequential(spark):
    rnd = random.Random(7)
    rows = []
    expected = {}
    for d in range(20):
        blocks = []
        for b in range(rnd.randint(1, 10)):
            w = rnd.choice([1, 4, 9, 10, 11, 12, 20, 45, 80])
            l = rnd.choice([0, w // 3, (w + 2) // 3, w // 2, w])
            # chars chosen so densities straddle the 9/10/11 words-per-line
            # thresholds: short lines (high density) and long (low)
            c = rnd.choice([w * 5, w * 9, 81, 160, 240, 800])
            blocks.append(
                {
                    "doc_id": f"d{d}",
                    "block_no": b,
                    "n_words": w,
                    "n_link_words": min(l, w),
                    "n_chars": c,
                }
            )
        for b, flag in zip(blocks, classify_blocks_py(blocks, classifier="density")):
            expected[(b["doc_id"], b["block_no"])] = flag
        rows.extend(
            (b["doc_id"], b["block_no"], b["n_words"], b["n_link_words"], b["n_chars"])
            for b in blocks
        )
    df = spark.createDataFrame(
        rows, ["doc_id", "block_no", "n_words", "n_link_words", "n_chars"]
    ).repartition(4)
    got = {
        (r["doc_id"], r["block_no"]): r["is_content"]
        for r in classify_blocks(df, classifier="density").collect()
    }
    assert got == expected


def test_strip_boilerplate_density_classifier(spark):
    rows = [(f"d{i}", _page(i)) for i in range(3)]
    df = spark.createDataFrame(rows, ["doc_id", "html"])
    out = {
        r["doc_id"]: r
        for r in strip_boilerplate_html(df, classifier="density").collect()
    }
    for i in range(3):
        r = out[f"d{i}"]
        assert "standard of review" in r["content_text"]
        assert "Home News About" not in r["content_text"]


def test_html_blocks_fuzz_invariants():
    """Property fuzz over adversarial HTML-ish strings: segmentation never
    crashes and per-block counters stay consistent."""
    import random

    rnd = random.Random(1234)
    frags = [
        "<p>", "</p>", "<div class='x'>", "</div>", "<a href='/x'>", "</a>",
        "<br>", "<hr/>", "plain words here", "&amp;", "&gt;", "&#39;",
        "<script>bad()</script>", "<!-- c -->", "<a>", "word", "<td", ">",
        "<", "<<>>", "</a weird>", "\n", "\t", "<A HREF=X>CAPS</A>",
        "<p", "unclosed <a href", "text with <b>inline</b> tags",
    ]
    for _ in range(300):
        html = "".join(rnd.choice(frags) for _ in range(rnd.randint(0, 40)))
        blocks = html_blocks_py("d", html)
        for i, b in enumerate(blocks):
            assert b["block_no"] == i
            assert b["n_words"] >= 1  # empty blocks are dropped
            assert 0 <= b["n_link_words"]
            assert b["n_chars"] == len(b["text"])
            assert "<script" not in b["text"].lower()
        # both classifiers accept whatever the segmenter produced
        assert len(classify_blocks_py(blocks)) == len(blocks)
        assert len(classify_blocks_py(blocks, classifier="density")) == len(blocks)


def test_html_strip_feeds_convert_pipeline(spark):
    """Interop: boilerplate-stripped web content flows into the convert
    pipeline (HTML -> content_text -> spans -> convert kernel)."""
    from modern_document_converter_for_ai_library_spark.operators import (
        convert_documents,
    )
    from modern_document_converter_for_ai_library_spark.sources import flat_to_spans
    from pyspark.sql import functions as F

    rows = [(f"d{i}", _page(i)) for i in range(4)]
    df = spark.createDataFrame(rows, ["doc_id", "html"])
    content = strip_boilerplate_html(df).withColumnRenamed("content_text", "text")
    spans = flat_to_spans(content.select("doc_id", "text"))
    out = convert_documents(
        spans.withColumn(
            "source_file", F.concat(F.col("doc_id"), F.lit(".html"))
        )
    ).collect()
    assert len(out) == 4
    for r in out:
        assert r["success"]
        texts = [s["text"] for s in r["spans"]]
        assert any("standard of review" in t for t in texts)
        assert not any("Home News About" in t for t in texts)
