"""End-to-end mixing job (jobs/mix_job.py): all three modes over a parquet
corpus, output accounting consistent with the operator semantics."""

import json
import os
import sys
import tempfile

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))

from mix_job import main, parse_spec  # noqa: E402

from modern_document_converter_for_ai_library_spark.operators.sampling import (  # noqa: E402
    budget_sample,
    epoch_budget_sample,
)


def test_parse_spec():
    assert parse_spec("a=1, b=0 ,c=300") == {"a": 1, "b": 0, "c": 300}
    assert parse_spec("") == {}
    with pytest.raises(ValueError):
        parse_spec("broken")


@pytest.fixture()
def corpus(spark, tmp_path):
    rows = [
        (i, "a" if i % 2 == 0 else "b", " ".join(["w"] * (5 + i % 17)))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    path = str(tmp_path / "docs")
    df.write.mode("overwrite").parquet(path)
    return df, path


def _run(capsys, argv):
    assert main(argv) == 0
    line = [
        l for l in capsys.readouterr().out.strip().splitlines()
        if l.startswith("{")
    ][-1]
    return json.loads(line)


def test_mix_job_rate(spark, corpus, tmp_path, capsys):
    df, path = corpus
    out = str(tmp_path / "rate_out")
    stats = _run(capsys, [
        "--input", path, "--output", out,
        "--mode", "rate", "--spec", "a=1000000,b=0",
    ])
    got = spark.read.parquet(out)
    assert stats["n_rows_out"] == got.count() == 100
    assert {r["source"] for r in got.collect()} == {"a"}
    # schema round-trips without the sampling scratch columns
    assert set(got.columns) == {"doc_id", "source", "text"}


def test_mix_job_budget(spark, corpus, tmp_path, capsys):
    df, path = corpus
    out = str(tmp_path / "budget_out")
    stats = _run(capsys, [
        "--input", path, "--output", out,
        "--mode", "budget", "--spec", "a=300,b=150",
    ])
    want = {
        r["doc_id"]
        for r in budget_sample(df, {"a": 300, "b": 150}).filter("kept").collect()
    }
    got = spark.read.parquet(out)
    assert {r["doc_id"] for r in got.collect()} == want
    assert stats["n_rows_out"] == len(want)
    assert stats["tokens_out"] <= 450


def test_mix_job_epochs(spark, corpus, tmp_path, capsys):
    df, path = corpus
    mass = (
        df.filter("source = 'a'")
        .select(F.sum(F.size(F.split("text", " "))).alias("t"))
        .collect()[0]["t"]
    )
    out = str(tmp_path / "epochs_out")
    budget = mass * 2 + 137
    stats = _run(capsys, [
        "--input", path, "--output", out,
        "--mode", "epochs", "--spec", f"a={budget}",
    ])
    want = epoch_budget_sample(df, {"a": budget}).collect()
    got = spark.read.parquet(out)
    assert stats["n_rows_out"] == got.count() == len(want)
    # every document appears once per emitted epoch, epoch column present
    assert got.filter("epoch = 1").count() == df.filter("source = 'a'").count()
    assert stats["tokens_out"] <= budget


def test_mix_job_shard(spark, corpus, tmp_path, capsys):
    df, path = corpus
    out = str(tmp_path / "shard_out")
    stats = _run(capsys, [
        "--input", path, "--output", out,
        "--mode", "shard", "--shard-tokens", "60",
    ])
    got = spark.read.parquet(out)
    # every document lands in exactly one shard; layout is partitioned
    assert stats["n_rows_out"] == got.count() == 200
    assert "shard_id" in got.columns
    # physical layout is (key, shard_id) — shard ids are per source, so a
    # shard_id-only layout would pool shard 0 of every source in one dir
    srcdirs = [
        d for d in os.listdir(out)
        if d.startswith("source=") and not d.startswith(("_", "."))
    ]
    assert sorted(srcdirs) == ["source=a", "source=b"]
    assert any(
        d.startswith("shard_id=")
        for d in os.listdir(os.path.join(out, srcdirs[0]))
    )
    # the write is repartitioned on (key, shard_id): one data file per
    # shard directory, not one per write task that held a row of it
    for src in srcdirs:
        for shard in os.listdir(os.path.join(out, src)):
            files = [
                f for f in os.listdir(os.path.join(out, src, shard))
                if not f.startswith(("_", "."))
            ]
            assert len(files) == 1, (src, shard, files)
    # manifest written next to the output, mass accounting consistent
    man = spark.read.parquet(stats["manifest"])
    assert set(man.columns) == {
        "source", "shard_id", "n_docs", "shard_token_count",
        "min_hash_micros", "max_hash_micros",
    }
    assert stats["tokens_out"] == sum(
        r["shard_token_count"] for r in man.collect()
    )
    max_doc = max(5 + i % 17 for i in range(200))
    assert stats["max_shard_tokens"] < 60 + max_doc
    # shard mode requires a width
    with pytest.raises(SystemExit):
        main(["--input", path, "--output", out, "--mode", "shard"])


def test_mix_job_shard_reshard_idempotent(spark, corpus, tmp_path, capsys):
    # re-sharding an already-sharded corpus replaces shard_id instead of
    # colliding on the duplicate column
    df, path = corpus
    first = str(tmp_path / "shard_a")
    _run(capsys, [
        "--input", path, "--output", first,
        "--mode", "shard", "--shard-tokens", "60",
    ])
    second = str(tmp_path / "shard_b")
    stats = _run(capsys, [
        "--input", first, "--output", second,
        "--mode", "shard", "--shard-tokens", "120",
    ])
    got = spark.read.parquet(second)
    assert stats["n_rows_out"] == got.count() == 200
    assert got.columns.count("shard_id") == 1
    # wider shards => no more shards than the narrow layout
    narrow = spark.read.parquet(first).select("shard_id").distinct().count()
    assert got.select("shard_id").distinct().count() <= narrow


def test_mix_job_shuffle(spark, corpus, tmp_path, capsys):
    from modern_document_converter_for_ai_library_spark.operators.sampling import (
        corpus_shuffle,
    )

    df, path = corpus
    out = str(tmp_path / "shuffle_out")
    stats = _run(capsys, [
        "--input", path, "--output", out, "--mode", "shuffle",
        "--salt", "e1",
    ])
    got = spark.read.parquet(out)
    assert stats["n_docs"] == got.count() == 200
    assert stats["max_rank"] == 199
    # ranks are the exact permutation the operator computes
    ranks = {r["doc_id"]: r["shuffle_rank"] for r in got.collect()}
    exp = {
        r["doc_id"]: r["shuffle_rank"]
        for r in corpus_shuffle(df, salt="e1").collect()
    }
    assert ranks == exp
    assert sorted(ranks.values()) == list(range(200))
    # re-shuffling an already-shuffled corpus replaces the rank column
    out2 = str(tmp_path / "shuffle_out2")
    stats2 = _run(capsys, [
        "--input", out, "--output", out2, "--mode", "shuffle",
        "--salt", "e2",
    ])
    got2 = spark.read.parquet(out2)
    assert stats2["n_docs"] == got2.count() == 200
    assert [c for c in got2.columns].count("shuffle_rank") == 1


def test_mix_job_temperature(spark, tmp_path, capsys):
    # skewed corpus: 160 docs of 'big', 40 of 'rare' — alpha=1/2 gives
    # rare a higher acceptance rate than proportional sampling would
    rows = [(i, "big" if i < 160 else "rare", "w " * 6) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    path = str(tmp_path / "docs_t")
    df.write.mode("overwrite").parquet(path)
    out = str(tmp_path / "temp_out")
    stats = _run(capsys, [
        "--input", path, "--output", out,
        "--mode", "temperature", "--alpha", "1/2", "--target-total", "100",
    ])
    got = spark.read.parquet(out)
    assert stats["n_rows_out"] == got.count() > 0
    # scratch columns dropped, schema round-trips
    assert set(got.columns) == {"doc_id", "source", "text"}
    # rate check against the operator directly: kept set identical
    from modern_document_converter_for_ai_library_spark.operators.sampling import (
        temperature_sample,
    )
    expect = {
        r["doc_id"]
        for r in temperature_sample(df, alpha="1/2", target_total=100)
        .filter("sampled").collect()
    }
    assert {r["doc_id"] for r in got.collect()} == expect
    # flattening: rare's kept FRACTION exceeds big's
    kept_by = {r["source"]: r["n"] for r in got.groupBy("source")
               .agg(F.count("*").alias("n")).collect()}
    assert kept_by.get("rare", 0) / 40 > kept_by.get("big", 0) / 160


def test_mix_job_temperature_requires_target(tmp_path, capsys):
    with pytest.raises(SystemExit):
        main(["--input", "x", "--output", "y", "--mode", "temperature"])
