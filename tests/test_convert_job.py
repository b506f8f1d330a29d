"""The spark-submit convert/rename entry point, run in-process on the test
session: convert resumes to nothing on a second run; rename writes one row
per document, counts it from the write itself and releases the kernel
output it persisted."""

import json

import pytest

N_DOCS = 12


@pytest.fixture()
def docs(spark, tmp_path):
    from modern_document_converter_for_ai_library_spark.sources.synth import (
        synth_documents,
    )

    path = str(tmp_path / "docs")
    synth_documents(spark, N_DOCS, seed=7).write.parquet(path)
    return path


def _run(capsys, *argv):
    import jobs.convert_job as job

    assert job.main(list(argv)) == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_convert_mode_resumes_to_nothing(spark, docs, tmp_path, capsys):
    out = str(tmp_path / "converted")
    first = _run(capsys, "--input", docs, "--output", out)
    assert first["n_pending"] == N_DOCS
    assert spark.read.parquet(out).count() == N_DOCS
    second = _run(capsys, "--input", docs, "--output", out)
    assert second["n_pending"] == 0
    assert spark.read.parquet(out).count() == N_DOCS


def test_rename_mode_counts_the_write_and_releases_its_cache(
    spark, docs, tmp_path, capsys
):
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    out = str(tmp_path / "renamed")
    result = _run(capsys, "--input", docs, "--output", out, "--mode", "rename")
    assert result == {"mode": "rename", "n_docs": N_DOCS}
    written = spark.read.parquet(out)
    assert written.count() == N_DOCS
    assert written.select("doc_id").distinct().count() == N_DOCS
    assert jsc.getPersistentRDDs().size() <= before
