"""Cross-snapshot CDC (operators/diff.py): change classification, hash
scheme collision safety, schema-drift and delta-only behavior."""

import pytest

from modern_document_converter_for_ai_library_spark.operators.diff import (
    snapshot_diff,
)


def _df(spark, rows, schema="doc_id: bigint, text: string, lang: string"):
    return spark.createDataFrame(rows, schema)


def test_diff_classifies_all_four_states(spark):
    old = _df(spark, [(1, "a", "en"), (2, "b", "en"), (3, "c", "en")])
    new = _df(spark, [(2, "b", "en"), (3, "c2", "en"), (4, "d", "en")])
    got = {r["doc_id"]: r["change_type"] for r in snapshot_diff(old, new).collect()}
    assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}


def test_diff_delta_only_drops_unchanged(spark):
    old = _df(spark, [(1, "a", "en"), (2, "b", "en")])
    new = _df(spark, [(1, "a", "en"), (2, "bb", "en")])
    rows = snapshot_diff(old, new, keep_unchanged=False).collect()
    assert {r["doc_id"] for r in rows} == {2}


def test_diff_length_prefix_prevents_concat_collisions(spark):
    # ("ab", "c") vs ("a", "bc") concatenate identically without framing
    old = _df(spark, [(1, "ab", "c")])
    new = _df(spark, [(1, "a", "bc")])
    (row,) = snapshot_diff(old, new).collect()
    assert row["change_type"] == "changed"


def test_diff_null_value_is_distinct_from_empty(spark):
    old = _df(spark, [(1, None, "en")])
    new = _df(spark, [(1, "", "en")])
    (row,) = snapshot_diff(old, new).collect()
    assert row["change_type"] == "changed"
    # and null == null is unchanged
    (row2,) = snapshot_diff(old, old).collect()
    assert row2["change_type"] == "unchanged"


def test_diff_compares_only_shared_columns(spark):
    old = _df(spark, [(1, "a", "en")])
    new = spark.createDataFrame(
        [(1, "a", "en", "extra")],
        "doc_id: bigint, text: string, lang: string, source: string",
    )
    (row,) = snapshot_diff(old, new).collect()
    assert row["change_type"] == "unchanged"  # 'source' never enters the hash


def test_diff_requires_a_comparable_column(spark):
    old = _df(spark, [(1, "a", "en")]).select("doc_id")
    with pytest.raises(ValueError):
        snapshot_diff(old, old)


def test_diff_job_end_to_end(spark, tmp_path, capsys):
    import json as _json

    import duckdb

    import jobs.diff_job as job

    oldp, newp, outp = (str(tmp_path / d) for d in ("old", "new", "out"))
    _df(spark, [(1, "a", "en"), (2, "b", "en"), (3, "c", "en")]).write.parquet(oldp)
    _df(spark, [(2, "b", "en"), (3, "c2", "en"), (4, "d", "en")]).write.parquet(newp)
    rc = job.main(["--old", oldp, "--new", newp, "--output", outp,
                   "--delta-only"])
    assert rc == 0
    report = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["counts"] == {"added": 1, "removed": 1, "changed": 1}
    rows = duckdb.sql(
        f"SELECT doc_id, change_type FROM read_parquet('{outp}/*.parquet') ORDER BY 1"
    ).fetchall()
    assert rows == [(1, "removed"), (3, "changed"), (4, "added")]
