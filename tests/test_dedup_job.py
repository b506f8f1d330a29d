"""End-to-end dedup job entry point (jobs/dedup_job.py): survivors +
duplicate map over a corpus with planted exact and near duplicates."""

import json

import duckdb


def test_dedup_job_end_to_end(spark, tmp_path, capsys, monkeypatch):
    import jobs.dedup_job as job

    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the harbor"),
        (2, "the quick brown fox jumps over the lazy dog near the harbor"),
        (3, "the quick brown fox jumps over the lazy dog near the harbors"),
        (4, "completely different content about gardening and fresh bread"),
        (5, "another unrelated text mentioning sailing ships and coastal towns"),
    ]
    inp = str(tmp_path / "in")
    outp = str(tmp_path / "out")
    dmap = str(tmp_path / "dupmap")
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(inp)

    # get_spark returns the active session, so the job reuses the fixture
    rc = job.main(
        [
            "--input", inp, "--output", outp, "--dupmap", dmap,
            "--tier", "near", "--threshold", "0.7",
        ]
    )
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["n_docs"] == 5
    assert report["n_survivors"] == 3  # 2 and 3 collapse onto 1
    assert 0 < report["duplicate_rate"] < 1

    surv = duckdb.sql(f"SELECT doc_id FROM read_parquet('{outp}/*.parquet') ORDER BY 1").fetchall()
    assert [r[0] for r in surv] == [1, 4, 5]
    dm = {
        r[0]: (r[1], r[2])
        for r in duckdb.sql(
            f"SELECT * FROM read_parquet('{dmap}/*.parquet')"
        ).fetchall()
    }
    assert dm[2] == (1, True) and dm[3] == (1, True)
    assert dm[1] == (1, False)


def test_dedup_job_exact_tier(spark, tmp_path, capsys):
    import jobs.dedup_job as job

    rows = [(1, "same text"), (2, "same text"), (3, "other text")]
    inp = str(tmp_path / "in2")
    outp = str(tmp_path / "out2")
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(inp)
    rc = job.main(["--input", inp, "--output", outp, "--tier", "exact"])
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["n_survivors"] == 2


def test_dedup_job_semantic_tier(spark, tmp_path, capsys):
    import math

    import jobs.dedup_job as job

    def unit(vs):
        n = math.sqrt(sum(v * v for v in vs))
        return [v / n for v in vs]

    def axis(i, eps=0.0):
        v = [0.0] * 8
        v[i] = 1.0
        if eps:
            v[(i + 1) % 8] = eps
        return unit(v)

    # docs carry their embedding inline (--embeddings defaults to input);
    # 1~2 and 4~5 are semantic near-dups, 3 is same-cell but distinct
    rows = [
        (1, "doc one", axis(0)),
        (2, "doc two", axis(0, eps=0.03)),
        (3, "doc three", unit([1.0, 0.6, 0, 0, 0, 0, 0, 0])),
        (4, "doc four", axis(1)),
        (5, "doc five", axis(1, eps=0.02)),
    ]
    inp = str(tmp_path / "in3")
    outp = str(tmp_path / "out3")
    dmap = str(tmp_path / "dupmap3")
    spark.createDataFrame(rows, ["doc_id", "text", "embedding"]).write.parquet(inp)

    rc = job.main(
        [
            "--input", inp, "--output", outp, "--dupmap", dmap,
            "--tier", "semantic", "--threshold", "0.95",
            "--n-centroids", "2", "--lloyd-iterations", "1",
        ]
    )
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["tier"] == "semantic"
    assert report["n_docs"] == 5
    assert report["n_survivors"] == 3  # one of each planted pair + doc 3
    surv = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{outp}/*.parquet') ORDER BY 1"
    ).fetchall()
    assert len(surv) == 3
    assert 3 in {r[0] for r in surv}
    dm = duckdb.sql(
        f"SELECT doc_id, cell, kept FROM read_parquet('{dmap}/*.parquet') ORDER BY 1"
    ).fetchall()
    assert len(dm) == 5
    assert sum(1 for r in dm if r[2]) == 3


def test_dedup_job_semantic_partial_embeddings(spark, tmp_path, capsys):
    import math

    import jobs.dedup_job as job

    def unit(vs):
        n = math.sqrt(sum(v * v for v in vs))
        return [v / n for v in vs]

    docs = [(i, f"doc {i}") for i in range(1, 7)]
    # embeddings cover only docs 1-4 (1~2 near-dup); 5 and 6 are unjudged
    # and must SURVIVE, appear in the dupmap, and count in the denominator
    embs = [
        (1, unit([1.0, 0, 0, 0])),
        (2, unit([1.0, 0.02, 0, 0])),
        (3, unit([0, 1.0, 0, 0])),
        (4, unit([0, 0, 1.0, 0])),
    ]
    inp = str(tmp_path / "in4")
    emb = str(tmp_path / "emb4")
    outp = str(tmp_path / "out4")
    dmap = str(tmp_path / "dupmap4")
    spark.createDataFrame(docs, ["doc_id", "text"]).write.parquet(inp)
    spark.createDataFrame(embs, ["doc_id", "embedding"]).write.parquet(emb)

    rc = job.main(
        [
            "--input", inp, "--output", outp, "--dupmap", dmap,
            "--embeddings", emb,
            "--tier", "semantic", "--threshold", "0.95",
            "--n-centroids", "2", "--lloyd-iterations", "1",
        ]
    )
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["n_docs"] == 6
    assert report["n_unjudged"] == 2
    assert report["n_survivors"] == 5  # 1-of-(1,2), 3, 4, and unjudged 5, 6
    surv = {
        r[0]
        for r in duckdb.sql(
            f"SELECT doc_id FROM read_parquet('{outp}/*.parquet')"
        ).fetchall()
    }
    assert {3, 4, 5, 6} <= surv and len(surv) == 5
    dm = duckdb.sql(
        f"SELECT doc_id, cell, kept FROM read_parquet('{dmap}/*.parquet') ORDER BY 1"
    ).fetchall()
    assert len(dm) == 6
    assert all(r[2] for r in dm if r[0] in (5, 6))


def test_dedup_job_semantic_oversized_cells_audited(spark, tmp_path, capsys):
    import math

    import jobs.dedup_job as job

    def unit(vs):
        n = math.sqrt(sum(v * v for v in vs))
        return [v / n for v in vs]

    # every vector near one axis => one fat cell; the cap forces the sweep
    # to skip it wholesale and the JSON must say so instead of reading as
    # a clean "duplicate_rate 0.0" run
    rows = [
        (i, f"doc {i}", unit([1.0, 0.001 * i, 0, 0])) for i in range(1, 9)
    ]
    inp = str(tmp_path / "in5")
    outp = str(tmp_path / "out5")
    spark.createDataFrame(rows, ["doc_id", "text", "embedding"]).write.parquet(inp)

    rc = job.main(
        [
            "--input", inp, "--output", outp,
            "--tier", "semantic", "--threshold", "0.95",
            "--n-centroids", "1", "--lloyd-iterations", "1",
            "--max-cell-size", "3",
        ]
    )
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["oversized_cells"] >= 1
    assert report["docs_in_oversized_cells"] == 8
    assert report["n_survivors"] == 8  # kept wholesale — and now visibly so


def test_dedup_job_keep_best_col(spark, tmp_path, capsys):
    import jobs.dedup_job as job

    # docs 1/2/3 are one near-dup cluster; doc 3 carries the best score,
    # so with --keep-best-col it must be the survivor instead of min-id 1
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the harbor", 10),
        (2, "the quick brown fox jumps over the lazy dog near the harbor", 20),
        (3, "the quick brown fox jumps over the lazy dog near the harbors", 30),
        (4, "completely different content about gardening and fresh bread", 1),
    ]
    inp = str(tmp_path / "in_best")
    outp = str(tmp_path / "out_best")
    dmap = str(tmp_path / "dupmap_best")
    spark.createDataFrame(rows, ["doc_id", "text", "score"]).write.parquet(inp)
    rc = job.main(
        [
            "--input", inp, "--output", outp, "--dupmap", dmap,
            "--tier", "near", "--threshold", "0.7",
            "--keep-best-col", "score",
        ]
    )
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["n_survivors"] == 2 and report["keep"] == "best:score"

    surv = duckdb.sql(
        f"SELECT doc_id FROM read_parquet('{outp}/*.parquet') ORDER BY 1"
    ).fetchall()
    assert [r[0] for r in surv] == [3, 4]
    dm = {
        r[0]: (r[1], r[2], r[3])
        for r in duckdb.sql(
            "SELECT doc_id, canonical_doc_id, representative_doc_id, "
            f"is_near_duplicate FROM read_parquet('{dmap}/*.parquet')"
        ).fetchall()
    }
    # canonical stays min-id 1; the representative moves to 3
    assert dm[1] == (1, 3, True)
    assert dm[2] == (1, 3, True)
    assert dm[3] == (1, 3, False)
    assert dm[4] == (4, 4, False)


def test_dedup_job_keep_best_requires_near(spark, tmp_path):
    import jobs.dedup_job as job
    import pytest

    with pytest.raises(SystemExit):
        job.main(
            ["--input", "x", "--output", "y", "--tier", "exact",
             "--keep-best-col", "score"]
        )


def test_dedup_job_incremental_band_index_cycle(spark, tmp_path, capsys):
    """Two ingest batches through the stored band-index cycle: run 1
    bootstraps the index from --base, run 2 reads it back (never
    re-shingling the base) and appends its survivors' rows. A batch-2 doc
    near-duplicating a BATCH-1 SURVIVOR proves the appended rows are live."""
    import jobs.dedup_job as job

    mk = lambda seed, n=40: " ".join(f"{seed}tok{i}" for i in range(n))
    basep = str(tmp_path / "base")
    idxp = str(tmp_path / "bandindex")
    spark.createDataFrame(
        [(10, mk("a")), (20, mk("b")), (30, mk("c"))], ["doc_id", "text"]
    ).write.parquet(basep)

    # --- batch 1: 101 near-dups base 10; 104 is novel (index missing ->
    # bootstrap) ---
    in1 = str(tmp_path / "batch1")
    out1 = str(tmp_path / "out1")
    dm1 = str(tmp_path / "dm1")
    spark.createDataFrame(
        [(101, mk("a", 38) + " edited tail"), (104, mk("z"))],
        ["doc_id", "text"],
    ).write.parquet(in1)
    rc = job.main(
        ["--input", in1, "--output", out1, "--dupmap", dm1,
         "--tier", "incremental", "--base", basep, "--band-index", idxp]
    )
    assert rc == 0
    rep1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep1["band_index"] == "bootstrapped"
    assert rep1["n_docs"] == 2 and rep1["n_survivors"] == 1
    surv1 = duckdb.sql(
        f"SELECT doc_id FROM read_parquet('{out1}/*.parquet') ORDER BY 1"
    ).fetchall()
    assert [r[0] for r in surv1] == [104]
    dm = {
        r[0]: (r[1], r[2])
        for r in duckdb.sql(
            f"SELECT doc_id, canonical_doc_id, is_near_duplicate "
            f"FROM read_parquet('{dm1}/*.parquet')"
        ).fetchall()
    }
    assert dm[101] == (10, True) and dm[104] == (104, False)
    # bootstrapped index covers base + batch-1 survivors
    idx_ids = {
        r[0]
        for r in duckdb.sql(
            f"SELECT doc_id FROM read_parquet('{idxp}/*.parquet')"
        ).fetchall()
    }
    assert idx_ids == {10, 20, 30, 104}

    # --- batch 2 against base ∪ batch-1 survivors: 201 near-dups the
    # batch-1 SURVIVOR 104; 205 is novel ---
    base2 = str(tmp_path / "base2")
    spark.read.parquet(basep).unionByName(
        spark.read.parquet(out1).select("doc_id", "text")
    ).write.parquet(base2)
    in2 = str(tmp_path / "batch2")
    out2 = str(tmp_path / "out2")
    dm2 = str(tmp_path / "dm2")
    spark.createDataFrame(
        [(201, mk("z", 38) + " other ending"), (205, mk("q"))],
        ["doc_id", "text"],
    ).write.parquet(in2)
    rc = job.main(
        ["--input", in2, "--output", out2, "--dupmap", dm2,
         "--tier", "incremental", "--base", base2, "--band-index", idxp]
    )
    assert rc == 0
    rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep2["band_index"] == "appended"
    assert rep2["n_survivors"] == 1
    surv2 = duckdb.sql(
        f"SELECT doc_id FROM read_parquet('{out2}/*.parquet') ORDER BY 1"
    ).fetchall()
    assert [r[0] for r in surv2] == [205]
    dm = {
        r[0]: (r[1], r[2])
        for r in duckdb.sql(
            f"SELECT doc_id, canonical_doc_id, is_near_duplicate "
            f"FROM read_parquet('{dm2}/*.parquet')"
        ).fetchall()
    }
    assert dm[201] == (104, True) and dm[205] == (205, False)
    idx_ids = {
        r[0]
        for r in duckdb.sql(
            f"SELECT doc_id FROM read_parquet('{idxp}/*.parquet')"
        ).fetchall()
    }
    assert idx_ids == {10, 20, 30, 104, 205}


def test_dedup_job_incremental_requires_base(spark):
    import jobs.dedup_job as job
    import pytest

    with pytest.raises(SystemExit):
        job.main(["--input", "x", "--output", "y", "--tier", "incremental"])
    with pytest.raises(SystemExit):
        job.main(["--input", "x", "--output", "y", "--tier", "near",
                  "--band-index", "z"])
