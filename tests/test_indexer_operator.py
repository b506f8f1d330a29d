"""Distributed filename indexer vs the sequential replay (IX1): full-row
equality on a mixed path corpus, partitioning-invariance, and the
conflict-probe contract."""

import pytest
from pyspark.sql import functions as F

from modern_document_converter_for_ai_library_spark.operators.indexer import (
    index_filenames,
)
from modern_document_converter_for_ai_library_spark.reference_semantics.indexer import (
    indexer_replay,
)

_PATHS = [
    ("/corpus/docs/deep/zeta.pdf", False),
    ("/corpus/docs/deep/Alpha.PDF", False),
    ("/corpus/docs/deep", True),
    ("/corpus/docs/brief.docx", False),
    ("/corpus/docs/notes.md", False),
    ("/corpus/docs/README.md", False),
    ("/corpus/docs/image.png", False),
    ("/corpus/docs/.hidden.pdf", False),
    ("/corpus/docs/~$temp.docx", False),
    ("/corpus/docs/script.py", False),
    ("/corpus/docs/old----ABXCD.pdf", False),
    ("/corpus/docs/older----ABCD.pdf", False),
    ("/corpus/docs/v1.2_doc----ABCDE.pdf", False),
    ("/corpus/docs/CHANGELOG", True),
    ("/corpus/docs/.git", True),
    ("/corpus/docs", True),
    ("/corpus/plain.txt", False),
    ("/corpus/UPPER.TXT", False),
    ("/corpus/noext", False),
    ("/corpus/trailingdot.", False),
    ("/corpus", True),
    ("relative/x.txt", False),
]


def _expected():
    rep = indexer_replay(list(_PATHS), existing=set(), start_index=3)
    return {
        r["path"]: (r["status"] if r["status"] != "conflict" else "renamed",
                    r["code"], r["dest"])
        for r in rep
    }


@pytest.mark.parametrize("nparts", [1, 7])
def test_index_filenames_matches_replay(spark, nparts):
    df = spark.createDataFrame(_PATHS, ["path", "is_dir"]).repartition(nparts)
    out = {
        r["path"]: (r["status"], r["unique_code"], r["dest"])
        for r in index_filenames(df, start_index=3).collect()
    }
    exp = _expected()
    assert set(out) == set(exp)
    for p in exp:
        assert out[p] == exp[p], (p, out[p], exp[p])


def test_index_filenames_conflict_raises(spark):
    df = spark.createDataFrame([("/c/a.pdf", False), ("/c/b.pdf", False)], ["path", "is_dir"])
    existing = spark.createDataFrame([("/c/a----AAAAA.pdf",)], ["path"])
    with pytest.raises(RuntimeError, match="destination"):
        index_filenames(df, start_index=0, existing_df=existing)
    # conflict-free existing set passes
    clean = spark.createDataFrame([("/c/unrelated.pdf",)], ["path"])
    rows = index_filenames(df, start_index=0, existing_df=clean).collect()
    assert sorted(r["unique_code"] for r in rows) == ["AAAAA", "AAAAB"]


def test_index_filenames_plan_is_shuffle_lean(spark):
    df = spark.createDataFrame(_PATHS, ["path", "is_dir"])
    out = index_filenames(df, start_index=0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan  # classification stays columnar


def test_index_filenames_case_variant_paths_total_order(spark):
    """Paths that differ only in case tie on the reference's sort key; the
    path itself breaks the tie, so the indexes are distinct and do not
    depend on how the input is partitioned."""
    names = ["d/case.pdf", "d/Case.pdf", "d/CASE.pdf", "d/other.pdf", "d/Other.pdf"]
    paths = [(p, False) for p in names]
    runs = []
    for nparts in (1, 3):
        df = spark.createDataFrame(paths, ["path", "is_dir"]).repartition(nparts)
        runs.append({r["path"]: r["code_index"] for r in index_filenames(df).collect()})
    assert runs[0] == runs[1]
    assert sorted(runs[0].values()) == list(range(len(paths)))
    assert runs[0]["d/CASE.pdf"] < runs[0]["d/Case.pdf"] < runs[0]["d/case.pdf"]
