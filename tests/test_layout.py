"""Reading-order recovery: column detection + y-sorted block merge (S4)."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from modern_document_converter_for_ai_library_spark.operators.layout import (
    PAGES_SCHEMA,
    parse_layout,
    recover_reading_order,
)


def _word(text, x0, y0, w=40.0, h=10.0):
    return {"text": text, "x0": float(x0), "y0": float(y0),
            "x1": float(x0 + w), "y1": float(y0 + h)}


def _column(texts, x0, y_start=0.0, dy=14.0):
    return [_word(t, x0, y_start + i * dy) for i, t in enumerate(texts)]


def test_two_column_page_not_interleaved():
    left = ["L1 first", "L2 second", "L3 third"]
    right = ["R1 alpha", "R2 beta", "R3 gamma"]
    # interleave construction order AND y positions so a naive y-sort fails
    words = []
    for i in range(3):
        words.append(_column([right[i]], 400, y_start=i * 14 + 3)[0])
        words.append(_column([left[i]], 50, y_start=i * 14)[0])
    n_cols, lines = recover_reading_order(words)
    assert n_cols == 2
    assert lines == left + right  # full left column, then right

    # the naive y-sort control WOULD interleave
    naive = [w["text"] for w in sorted(words, key=lambda w: (w["y0"], w["x0"]))]
    assert naive != left + right


def test_three_columns_and_line_merge():
    # first line split into two words on the same y (x-sort within line)
    words = [
        _word("a1", 0, 0), _word("a2", 45, 0.5), _word("a3", 0, 14),
        _word("b1", 300, 0), _word("b2", 300, 14),
        _word("c1", 600, 0),
    ]
    n_cols, lines = recover_reading_order(words)
    assert n_cols == 3
    assert lines == ["a1 a2", "a3", "b1", "b2", "c1"]


def test_single_column_is_plain_ysort():
    words = [_word("w2", 10, 20), _word("w1", 10, 0), _word("w3", 10, 40)]
    n_cols, lines = recover_reading_order(words)
    assert n_cols == 1
    assert lines == ["w1", "w2", "w3"]


def test_empty_page():
    assert recover_reading_order([]) == (0, [])


@settings(max_examples=80, deadline=None)
@given(
    st.integers(min_value=1, max_value=4),
    st.lists(st.integers(min_value=1, max_value=6), min_size=1, max_size=4),
    st.randoms(use_true_random=False),
)
def test_property_columns_recovered_in_order(n_cols, lens, rnd):
    """Place k columns at well-separated x ranges with arbitrary construction
    order; recovery must return column 0's lines, then column 1's, etc."""
    n_cols = min(n_cols, len(lens))
    words, expected = [], []
    for c in range(n_cols):
        texts = [f"c{c}w{i}" for i in range(lens[c])]
        expected += texts
        words += _column(texts, x0=c * 300.0)
    rnd.shuffle(words)
    got_cols, got_lines = recover_reading_order(words)
    assert got_cols == n_cols
    assert got_lines == expected


def test_layout_to_spans_end_to_end(spark):
    """word boxes -> reading order -> spans -> convert kernel: the full
    ingestion path produces a convertible span document with pages joined
    by a blank line (text_extractor.py:99 page-join convention)."""
    from modern_document_converter_for_ai_library_spark.operators.convert import (
        convert_documents,
    )
    from modern_document_converter_for_ai_library_spark.operators.layout import (
        layout_to_spans,
    )

    rows = []
    for page in (1, 2):
        words = [
            (f"p{page}L{i}", 0.0, i * 14.0, 40.0, i * 14.0 + 10.0) for i in range(2)
        ] + [
            (f"p{page}R{i}", 400.0, i * 14.0, 440.0, i * 14.0 + 10.0)
            for i in range(2)
        ]
        rows.append(("docA", page, words))
    df = spark.createDataFrame(rows, schema=PAGES_SCHEMA)
    spans_df = layout_to_spans(parse_layout(df))
    row = spans_df.collect()[0]
    texts = [s["text"] for s in row["spans"]]
    assert texts == [
        "p1L0", "p1L1", "p1R0", "p1R1", "",  # blank page separator
        "p2L0", "p2L1", "p2R0", "p2R1",
    ]
    assert [s["offset"] for s in row["spans"]] == list(range(9))
    out = convert_documents(spans_df.withColumn("source_file", spans_df.doc_id)).collect()
    assert len(out) == 1 and out[0]["success"]


def test_parse_layout_spark(spark):
    rows = []
    for d in range(6):
        words = []
        for c in range(2):
            for i in range(4):
                words.append(
                    (f"d{d}c{c}l{i}", c * 400.0, i * 14.0, c * 400.0 + 40.0, i * 14.0 + 10.0)
                )
        rows.append((f"doc{d}", 1, words))
    df = spark.createDataFrame(rows, schema=PAGES_SCHEMA)
    out = {r["doc_id"]: r for r in parse_layout(df).collect()}
    assert len(out) == 6
    for d in range(6):
        r = out[f"doc{d}"]
        assert r["n_columns"] == 2
        assert list(r["lines"]) == [f"d{d}c0l{i}" for i in range(4)] + [
            f"d{d}c1l{i}" for i in range(4)
        ]
    plan = parse_layout(df)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan and "BatchEvalPython" not in plan


def test_parse_layout_null_page_keeps_the_row(spark):
    """A null page number yields a row with a null page instead of
    failing the task."""
    words = [("alpha", 0.0, 0.0, 40.0, 10.0)]
    df = spark.createDataFrame(
        [("d0", None, words), ("d1", 2, words)], schema=PAGES_SCHEMA
    )
    out = {r["doc_id"]: r for r in parse_layout(df).collect()}
    assert out["d0"]["page"] is None
    assert list(out["d0"]["lines"]) == ["alpha"]
    assert out["d1"]["page"] == 2
