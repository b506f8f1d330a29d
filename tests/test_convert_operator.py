"""The span-equality gate (SURVEY.md §5 item 1; BASELINE.md correctness row).

Runs the distributed convert operator on the deterministic synthetic corpus
and compares every document's output span sequence — (kind, text, media_ref)
in order — against the pure-Python golden produced by the same kernels.
"""

import pandas as pd
import pytest

from modern_document_converter_for_ai_library_spark.operators import convert_documents
from modern_document_converter_for_ai_library_spark.reference_semantics.convert import (
    convert_spans_doc,
)
from modern_document_converter_for_ai_library_spark.sources import (
    DOCS_SCHEMA,
    synth_documents_pandas,
)

N_DOCS = 200  # sf-small gate size (FIXTURES.md §1)


@pytest.fixture(scope="module")
def corpus() -> pd.DataFrame:
    return synth_documents_pandas(N_DOCS, seed=42)


@pytest.fixture(scope="module")
def golden(corpus) -> dict:
    return {
        row.doc_id: convert_spans_doc(row.doc_id, list(row.spans), row.source_file)
        for row in corpus.itertuples()
    }


@pytest.fixture(scope="module")
def spark_result(spark, corpus) -> dict:
    df = spark.createDataFrame(corpus, schema=DOCS_SCHEMA)
    out = convert_documents(df).collect()
    return {r["doc_id"]: r for r in out}


def _span_seq(spans):
    return [(s["kind"], s["text"], s["media_ref"]) for s in spans]


def test_all_docs_present(spark_result, golden):
    assert set(spark_result) == set(golden)


def test_span_sequence_equality(spark_result, golden):
    """THE gate: exact (kind, text, media_ref, order) per document."""
    mismatches = []
    for doc_id, g in golden.items():
        got = _span_seq(spark_result[doc_id]["spans"])
        want = _span_seq(g["spans"])
        if got != want:
            mismatches.append(doc_id)
    assert not mismatches, f"span mismatch in {len(mismatches)} docs: {mismatches[:5]}"


def test_offsets_dense_and_ordered(spark_result):
    for r in spark_result.values():
        offs = [s["offset"] for s in r["spans"]]
        assert offs == list(range(len(offs)))


def test_stats_match_golden(spark_result, golden):
    for doc_id, g in golden.items():
        r = spark_result[doc_id]
        assert r["document_type"] == g["document_type"], doc_id
        assert r["confidence"] == pytest.approx(g["confidence"]), doc_id
        assert r["lines_removed"] == g["lines_removed"], doc_id
        assert r["headings_added"] == g["headings_added"], doc_id
        assert r["character_count"] == g["character_count"], doc_id
        assert r["success"] == g["success"], doc_id


def test_media_refs_preserved(spark_result, corpus):
    """Interleaving invariant: every media_ref survives, in order."""
    for row in corpus.itertuples():
        in_refs = [s["media_ref"] for s in row.spans if s["kind"] != "text"]
        r = spark_result[row.doc_id]
        if not r["success"]:
            continue
        out_refs = [s["media_ref"] for s in r["spans"] if s["kind"] != "text"]
        assert out_refs == in_refs, row.doc_id


def test_corpus_has_coverage(golden):
    """The synthetic corpus must actually exercise all three classes."""
    types = {g["document_type"] for g in golden.values()}
    assert {"caselaw", "statute", "unknown"} <= types
    assert any(g["lines_removed"] > 0 for g in golden.values())
    assert any(g["headings_added"] > 0 for g in golden.values())


def test_balanced_convert_identical(spark, corpus, golden):
    """Size-balanced placement must not change any output bytes."""
    df = spark.createDataFrame(corpus, schema=DOCS_SCHEMA)
    out = convert_documents(df, balance_partitions=6).collect()
    assert len(out) == len(golden)
    for r in out:
        g = golden[r["doc_id"]]
        assert _span_seq(r["spans"]) == _span_seq(g["spans"]), r["doc_id"]


def test_plan_has_single_python_stage(spark, corpus):
    """Vectorization constraint: exactly one Arrow-batched Python node
    (MapInPandas) and no row-at-a-time PythonUDF in the physical plan."""
    df = spark.createDataFrame(corpus.head(10), schema=DOCS_SCHEMA)
    plan = convert_documents(df)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan  # row-oriented Python UDF node


def test_null_source_file_is_like_a_missing_column(spark, corpus):
    """A null source_file never reaches a kernel as the string "None":
    convert treats it like a missing column, rename names the document
    <doc_id>.pdf, and both write <doc_id>.pdf."""
    from pyspark.sql import functions as F

    from modern_document_converter_for_ai_library_spark.operators.rename import (
        rename_documents,
    )

    row = corpus.iloc[[0]].copy()
    doc_id = row.doc_id.iloc[0]
    row["source_file"] = None
    df = spark.createDataFrame(row, schema=DOCS_SCHEMA)

    got = convert_documents(df).collect()[0].asDict(recursive=True)
    missing = convert_documents(df.drop("source_file")).collect()[0]
    assert got == missing.asDict(recursive=True)
    assert got["source_file"] == f"{doc_id}.pdf"

    renamed = rename_documents(df).collect()[0].asDict(recursive=True)
    named = rename_documents(
        df.withColumn("source_file", F.lit(f"{doc_id}.pdf"))
    ).collect()[0]
    assert renamed == named.asDict(recursive=True)
    assert renamed["source_file"] == f"{doc_id}.pdf"
