"""End-to-end curation job: quality -> exact -> near -> substr ->
decontaminate -> mix -> shard in one spark-submit entry, with per-stage
JSON accounting. The planted corpus exercises every stage with exactly
one victim each, so the accounting line is fully predictable."""

import json
import os

import duckdb
import pytest

STOP_CYCLE = ["the", "of", "and", "to", "in"]


def good_doc(tag: str, n: int = 60, inject: list[str] | None = None,
             inject_at: int = 30) -> str:
    """A document that passes the quality funnel: 25% stopwords, unique
    4-7 char filler words, no symbols, no repeated n-grams."""
    toks = [
        STOP_CYCLE[(i // 4) % 5] if i % 4 == 0 else f"{tag}w{i}"
        for i in range(n)
    ]
    if inject is not None:
        toks = toks[:inject_at] + inject + toks[inject_at:]
    return " ".join(toks)


@pytest.fixture()
def planted(spark, tmp_path):
    shared = [f"sh{i}" for i in range(25)]          # substr victim run
    bench_phrase = [f"bp{i}" for i in range(13)]    # decontamination gram
    a_text = good_doc("aone")
    c_toks = a_text.split(" ")
    c_toks[7], c_toks[37] = "cxx1", "cxx2"          # near-dup of doc 1
    rows = [
        (1, "a", a_text),
        (2, "a", a_text),                            # exact dup of 1
        (3, "a", " ".join(c_toks)),                  # near dup of 1
        (4, "a", good_doc("eone", inject=shared)),   # first copy: intact
        (5, "a", good_doc("etwo", inject=shared, inject_at=10)),
        (6, "a", good_doc("effe", inject=bench_phrase, inject_at=20)),
        (7, "b", good_doc("geee")),                  # dropped by mix
        (8, "b", good_doc("hhhh")),                  # dropped by mix
        (9, "a", "@@ ## !!"),                        # fails gopher
        (10, "a", good_doc("tenn")),
    ]
    inp = str(tmp_path / "raw")
    bench = str(tmp_path / "bench")
    spark.createDataFrame(rows, ["doc_id", "source", "text"]).write.parquet(inp)
    spark.createDataFrame(
        [(100, " ".join(bench_phrase))], ["doc_id", "text"]
    ).write.parquet(bench)
    return inp, bench, shared


def test_curate_job_full_funnel(spark, planted, tmp_path, capsys):
    import jobs.curate_job as job

    inp, bench, shared = planted
    out = str(tmp_path / "train")
    rc = job.main(
        [
            "--input", inp, "--output", out,
            "--benchmark", bench,
            "--substr-n", "20",
            "--mix-spec", "a=1000000000",
            "--shard-tokens", "200",
        ]
    )
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    assert rep["n_input"] == 10
    st = rep["stages"]
    assert list(st) == [
        "quality", "exact", "near", "substr", "decontaminate", "mix", "shard"
    ]
    assert st["quality"] == {
        "n_in": 10, "n_out": 9, "failed_by_rule": {"gopher": 1}
    }
    assert (st["exact"]["n_in"], st["exact"]["n_out"]) == (9, 8)
    assert (st["near"]["n_in"], st["near"]["n_out"]) == (8, 7)
    assert st["substr"] == {"n_in": 7, "n_out": 7, "tokens_removed": 25}
    assert (st["decontaminate"]["n_in"], st["decontaminate"]["n_out"]) == (7, 6)
    assert (st["mix"]["n_in"], st["mix"]["n_out"]) == (6, 4)
    assert rep["n_output"] == 4
    # 60 (doc 1) + 85 (doc 4, first copy intact) + 60 (doc 5 rewritten)
    # + 60 (doc 10)
    assert rep["tokens_out"] == 265

    # physical shard layout + manifest accounting
    assert any(d == "source=a" for d in os.listdir(out))
    assert rep["manifest"] == out + "_manifest"
    man = duckdb.sql(
        f"SELECT SUM(shard_token_count), SUM(n_docs) "
        f"FROM read_parquet('{rep['manifest']}/*.parquet')"
    ).fetchone()
    assert (int(man[0]), int(man[1])) == (265, 4)
    assert rep["stages"]["shard"]["n_shards"] >= 1

    got = {
        r[0]: r[1]
        for r in duckdb.sql(
            f"SELECT doc_id, text FROM read_parquet('{out}/**/*.parquet')"
        ).fetchall()
    }
    assert set(got) == {1, 4, 5, 10}
    assert "sh0" in got[4] and "sh0" not in got[5]
    assert len(got[5].split(" ")) == 60


def test_curate_job_shuffled_shards(spark, planted, tmp_path, capsys):
    """--shuffle-salt turns the terminal layout into the q_training_layout
    shape: shard contents equal the composed corpus_shuffle +
    token-cumsum result (VERDICT r4 item 2), with the accounting line."""
    import jobs.curate_job as job
    from modern_document_converter_for_ai_library_spark.operators.sampling import (
        _auto_buckets,
        shuffled_shard_assign,
    )

    inp, bench, shared = planted
    out = str(tmp_path / "train_shuf")
    rc = job.main(
        [
            "--input", inp, "--output", out,
            "--benchmark", bench,
            "--substr-n", "20",
            "--mix-spec", "a=1000000000",
            "--shard-tokens", "100",
            "--shuffle-salt", "ep0",
        ]
    )
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    st = rep["stages"]
    assert list(st) == [
        "quality", "exact", "near", "substr", "decontaminate", "mix",
        "shuffle_shard",
    ]
    assert st["shuffle_shard"]["shuffle_salt"] == "ep0"
    assert rep["n_output"] == 4

    got = duckdb.sql(
        f"SELECT doc_id, shuffle_rank, shard_id "
        f"FROM read_parquet('{out}/**/*.parquet', hive_partitioning=1)"
    ).fetchall()
    layout = {int(r[0]): (int(r[1]), int(r[2])) for r in got}
    # physical layout is partitioned by shard_id only (global layout,
    # not per-source)
    assert any(d.startswith("shard_id=") for d in os.listdir(out))
    assert not any(d.startswith("source=") for d in os.listdir(out))

    # the composed-operators result on the surviving docs
    survivors = spark.createDataFrame(
        duckdb.sql(
            f"SELECT doc_id, text "
            f"FROM read_parquet('{out}/**/*.parquet', hive_partitioning=1)"
        ).fetchall(),
        ["doc_id", "text"],
    )
    exp = {
        r["doc_id"]: (r["shuffle_rank"], r["shard_id"])
        for r in shuffled_shard_assign(survivors, 100, salt="ep0").collect()
    }
    assert layout == exp
    assert sorted(r[0] for r in layout.values()) == list(range(4))

    # manifest: rank-contiguous shards covering all docs
    man = duckdb.sql(
        f"SELECT shard_id, n_docs, shard_token_count, min_rank, max_rank "
        f"FROM read_parquet('{rep['manifest']}/*.parquet') ORDER BY shard_id"
    ).fetchall()
    assert sum(int(r[1]) for r in man) == 4
    assert sum(int(r[2]) for r in man) == rep["tokens_out"] == 265
    for r in man:
        assert int(r[4]) - int(r[3]) + 1 == int(r[1])
    # the written columns are the input's plus rank and shard: the
    # operator's n_tokens / cum_tokens stay out of the training files
    assert set(spark.read.parquet(out).columns) == {
        "doc_id", "source", "text", "shuffle_rank", "shard_id"
    }

    # corpus-scale join strategy (no broadcast, no partition coalescing):
    # the write keeps the operator's bucket partitions of contiguous
    # ranks, so data files <= n_shards + n_buckets; an id-keyed join-back
    # scatters every shard over every shuffle partition (~5.9 files per
    # 10-doc shard over 8 partitions)
    n_docs = 240
    raw = str(tmp_path / "raw_many")
    spark.createDataFrame(
        [
            (i, "a", " ".join(f"d{i}t{j}" for j in range(10)))
            for i in range(n_docs)
        ],
        ["doc_id", "source", "text"],
    ).write.parquet(raw)
    conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k) for k in conf}
    many = str(tmp_path / "train_many")
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        rc = job.main(
            [
                "--input", raw, "--output", many, "--skip-quality",
                "--skip-exact", "--skip-near", "--shard-tokens", "100",
                "--shuffle-salt", "ep0",
            ]
        )
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    n_shards = rep["stages"]["shuffle_shard"]["n_shards"]
    assert (rep["n_output"], n_shards) == (n_docs, n_docs // 10)
    n_buckets = _auto_buckets(spark.range(1), n_docs)
    files = [
        f for _, _, names in os.walk(many) for f in names
        if not f.startswith(("_", "."))
    ]
    assert len(files) <= n_shards + n_buckets


def test_curate_job_leaves_caller_session_as_found(
    spark, planted, tmp_path, capsys
):
    """A job called in-process runs on its caller's session as is:
    get_spark hands back that session without re-applying any conf, so
    values set on the session survive the job, and the report does not
    depend on them."""
    import jobs.curate_job as job
    from modern_document_converter_for_ai_library_spark.plans import get_spark

    inp, _, _ = planted
    argv = ["--input", inp, "--output", str(tmp_path / "train_s"),
            "--skip-near", "--mix-spec", "a=1000000000", "--shard-tokens", "200"]

    def report():
        assert job.main(argv) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    before = report()
    sentinels = {
        "spark.sql.shuffle.partitions": "5",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "17",
    }
    saved = {k: spark.conf.get(k) for k in sentinels}
    try:
        for k, v in sentinels.items():
            spark.conf.set(k, v)
        assert get_spark() is spark
        after = report()
        assert get_spark() is spark
        assert {k: spark.conf.get(k) for k in sentinels} == sentinels
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert after == before


def test_curate_job_shuffle_without_shards(spark, tmp_path, capsys):
    """--shuffle-salt with no sharding appends shuffle_rank to the plain
    write — the mix_job --mode shuffle semantics inside the funnel."""
    import jobs.curate_job as job
    from modern_document_converter_for_ai_library_spark.operators.sampling import (
        corpus_shuffle,
    )

    rows = [(i, "a", f"tok{i} tok{i}b") for i in range(20)]
    inp = str(tmp_path / "raw_s")
    out = str(tmp_path / "out_s")
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    df.write.parquet(inp)
    rc = job.main(
        ["--input", inp, "--output", out, "--skip-quality",
         "--skip-exact", "--skip-near", "--shuffle-salt", ""]
    )
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert list(rep["stages"]) == ["shuffle"]
    assert rep["stages"]["shuffle"]["shuffle_salt"] == ""
    got = {
        r[0]: r[1]
        for r in duckdb.sql(
            f"SELECT doc_id, shuffle_rank FROM read_parquet('{out}/*.parquet')"
        ).fetchall()
    }
    exp = {
        r["doc_id"]: r["shuffle_rank"]
        for r in corpus_shuffle(df.select("doc_id"), salt="").collect()
    }
    assert got == exp


def test_curate_job_single_stage(spark, tmp_path, capsys):
    import jobs.curate_job as job

    rows = [(1, "a", "x y z"), (2, "a", "x y z"), (3, "a", "p q r")]
    inp = str(tmp_path / "raw2")
    out = str(tmp_path / "out2")
    spark.createDataFrame(rows, ["doc_id", "source", "text"]).write.parquet(inp)
    rc = job.main(
        ["--input", inp, "--output", out, "--skip-quality", "--skip-near"]
    )
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert list(rep["stages"]) == ["exact"]
    assert rep["n_output"] == 2 and rep["tokens_out"] == 6
    n = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{out}/*.parquet')"
    ).fetchone()[0]
    assert n == 2


def test_curate_job_blocklist_and_line_dedup(spark, tmp_path, capsys):
    import jobs.curate_job as job

    banner = "accept all cookies"
    rows = [
        (1, "a", "zzz bad zzz"),                       # blocklist victim
        (2, "a", banner + "\nu2a\nu2b\nu2c"),
        (3, "a", banner + "\nu3a\nu3b\nu3c"),
        (4, "a", banner + "\nu4a\nu4b\nu4c"),
        (5, "a", banner),                              # banner-only: dropped
    ]
    inp = str(tmp_path / "raw")
    out = str(tmp_path / "clean")
    spark.createDataFrame(rows, ["doc_id", "source", "text"]).write.parquet(
        inp
    )
    rc = job.main(
        [
            "--input", inp, "--output", out,
            "--skip-quality", "--skip-exact", "--skip-near",
            "--blocklist", "bad,awful",
            "--line-dedup", "--line-min-count", "3",
        ]
    )
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    st = rep["stages"]
    assert list(st) == ["blocklist", "line_dedup"]
    assert (st["blocklist"]["n_in"], st["blocklist"]["n_out"]) == (5, 4)
    # the banner occurs 4x >= 3 -> struck everywhere it appears
    assert st["line_dedup"] == {
        "n_in": 4, "n_out": 3, "lines_struck": 4
    }
    got = {
        r[0]: r[1]
        for r in duckdb.sql(
            f"SELECT doc_id, text FROM read_parquet('{out}/**/*.parquet')"
        ).fetchall()
    }
    assert got == {
        2: "u2a\nu2b\nu2c",
        3: "u3a\nu3b\nu3c",
        4: "u4a\nu4b\nu4c",
    }


def test_curate_job_learned_filter(spark, tmp_path, capsys):
    import jobs.curate_job as job

    # seed: the annotator-labeled set; "edu" marks quality (separable)
    seed_rows = [
        (100, "edu facts and edu prose", 1),
        (101, "edu style writing here", 1),
        (102, "junk junk clickbait junk", -1),
        (103, "clickbait junk words", -1),
    ]
    corpus_rows = [
        (1, "a", "real edu document body"),
        (2, "a", "clickbait junk page"),
        (3, "a", "more edu material text"),
    ]
    seed = str(tmp_path / "seed")
    inp = str(tmp_path / "raw")
    out = str(tmp_path / "kept")
    spark.createDataFrame(
        seed_rows, "doc_id: bigint, text: string, label: int"
    ).write.parquet(seed)
    spark.createDataFrame(
        corpus_rows, ["doc_id", "source", "text"]
    ).write.parquet(inp)
    rc = job.main(
        [
            "--input", inp, "--output", out,
            "--skip-quality", "--skip-exact", "--skip-near",
            "--classifier-seed", seed,
        ]
    )
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    st = rep["stages"]
    assert list(st) == ["classifier"]
    assert st["classifier"]["n_seed"] == 4
    # separable seed: training reaches zero mistakes
    assert st["classifier"]["train_mistakes"][-1] == 0
    assert (st["classifier"]["n_in"], st["classifier"]["n_out"]) == (3, 2)
    got = sorted(
        r[0]
        for r in duckdb.sql(
            f"SELECT doc_id FROM read_parquet('{out}/**/*.parquet')"
        ).fetchall()
    )
    assert got == [1, 3]
