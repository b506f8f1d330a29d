"""Kill/resume simulation (SURVEY.md §5 item 4; BASELINE.md resume row):
a partial run followed by a resumed run must produce the byte-identical
final table a single clean run would have produced."""

import pytest

from modern_document_converter_for_ai_library_spark.operators.manifest import (
    resume_pending,
    run_resumable_convert,
    with_input_hash,
)
from modern_document_converter_for_ai_library_spark.sources import (
    DOCS_SCHEMA,
    synth_documents_pandas,
)

N = 120


@pytest.fixture()
def corpus(spark):
    return spark.createDataFrame(synth_documents_pandas(N, seed=42), schema=DOCS_SCHEMA)


def _span_map(rows):
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"]) for s in r["spans"]]
        for r in rows
    }


def test_kill_and_resume_yields_identical_table(spark, corpus, tmp_path):
    out_a = str(tmp_path / "clean_run")
    out_b = str(tmp_path / "resumed_run")
    man_a = str(tmp_path / "clean_run_manifest")
    man_b = str(tmp_path / "resumed_run_manifest")

    # clean single run
    r = run_resumable_convert(spark, corpus, out_a, man_a, input_snapshot="snap1")
    assert r["n_written"] == N

    # simulated kill: only the first 70 docs were written before the failure
    partial = corpus.limit(70)
    r1 = run_resumable_convert(spark, partial, out_b, man_b, input_snapshot="snap1")
    assert r1["n_written"] == 70

    # resume with the full input: only the missing 50 convert
    r2 = run_resumable_convert(spark, corpus, out_b, man_b, input_snapshot="snap1")
    assert r2["n_pending"] == N - 70

    a = _span_map(spark.read.parquet(out_a).collect())
    b = _span_map(spark.read.parquet(out_b).collect())
    assert a == b  # byte-identical span sequences

    # third run: everything UNCHANGED -> no-op
    r3 = run_resumable_convert(spark, corpus, out_b, man_b, input_snapshot="snap1")
    assert r3["n_pending"] == 0 and r3["run_id"] is None


def test_modified_doc_detected(spark, corpus, tmp_path):
    out = str(tmp_path / "mod_run")
    man = str(tmp_path / "mod_run_manifest")
    run_resumable_convert(spark, corpus, out, man)

    # mutate one document's text -> its input_hash changes -> MODIFIED
    pdf = synth_documents_pandas(N, seed=42)
    pdf.loc[0, "spans"] = [
        {"kind": "text", "text": "Entirely new content v. Old Content", "media_ref": "", "offset": 0}
    ]
    changed = spark.createDataFrame(pdf, schema=DOCS_SCHEMA)
    pending = resume_pending(with_input_hash(changed), out)
    ids = [r["doc_id"] for r in pending.select("doc_id").collect()]
    assert ids == [pdf.loc[0, "doc_id"]]


def test_manifest_metrics(spark, corpus, tmp_path):
    out = str(tmp_path / "metrics_run")
    man = str(tmp_path / "metrics_run_manifest")
    run_resumable_convert(spark, corpus, out, man, input_snapshot="snapX")
    m = spark.read.parquet(man)
    rows = m.collect()
    assert sum(r["n_docs"] for r in rows) == N
    assert all(r["input_snapshot"] == "snapX" for r in rows)
    assert all(r["run_id"] for r in rows)
    total_spans = sum(r["n_spans"] for r in rows)
    assert total_spans > 0


def test_input_hash_framing_is_injective(spark):
    # regression: separator framing collided when a field CONTAINED the
    # separator — (text="a\x1eb", media_ref="c") vs (text="a",
    # media_ref="b\x1ec") hashed identically, so that exact modification
    # was skipped as UNCHANGED on resume. Length-prefix framing keeps
    # every field-boundary shift a distinct identity.
    rows = [
        ("d", [("text", "a\x1eb", "c", 0)]),
        ("d", [("text", "a", "b\x1ec", 0)]),
        ("d", [("text", "ab", "", 0)]),
        ("d", [("text", "a", "b", 0)]),
        ("d", [("text", "", "ab", 0)]),
        ("d", [("text", "1:a", "", 0)]),
        ("d", [("text", "", "1:a", 0)]),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    hashes = [r["input_hash"] for r in with_input_hash(df).collect()]
    assert len(set(hashes)) == len(hashes)


def test_hash_version_stamp_and_guard(spark, corpus, tmp_path):
    """Version-stamped outputs turn the framing-migration hazard loud:
    resume against a DIFFERENT input_hash_ver raises instead of
    re-appending the whole corpus (manifest.py migration note)."""
    from pyspark.sql import functions as F

    from modern_document_converter_for_ai_library_spark.operators.manifest import (
        INPUT_HASH_VERSION,
    )

    out = str(tmp_path / "ver_run")
    stamped = with_input_hash(corpus, stamp_version=True)
    assert stamped.select("input_hash_ver").distinct().collect()[0][0] == (
        INPUT_HASH_VERSION
    )
    stamped.write.parquet(out)

    # same-version output: resume proceeds, nothing pending
    pending = resume_pending(with_input_hash(corpus), out)
    assert pending.count() == 0

    # un-stamped output (no version column): legacy behavior, no guard
    out_plain = str(tmp_path / "plain_run")
    with_input_hash(corpus).write.parquet(out_plain)
    assert resume_pending(with_input_hash(corpus), out_plain).count() == 0

    # stale-version output: loud refusal, not a silent full re-append
    out_stale = str(tmp_path / "stale_run")
    stamped.withColumn("input_hash_ver", F.lit(1)).write.parquet(out_stale)
    with pytest.raises(ValueError, match="framing"):
        resume_pending(with_input_hash(corpus), out_stale)

    # partially stamped output (null version on some rows): an unknown
    # version is refused too, not waved through to re-append its rows
    out_partial = str(tmp_path / "partial_run")
    unstamped_id = stamped.select("doc_id").first()[0]
    stamped.withColumn(
        "input_hash_ver",
        F.when(F.col("doc_id") != unstamped_id, F.col("input_hash_ver")),
    ).write.parquet(out_partial)
    with pytest.raises(ValueError, match="framing"):
        resume_pending(with_input_hash(corpus), out_partial)
