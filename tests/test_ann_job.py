"""ANN serving job (jobs/ann_job.py): build the four serving tables, query
against them, self-query recovers itself at distance 0 with exact rescored
distances."""

import json

import duckdb


def test_ann_job_build_then_query(spark, tmp_path, capsys):
    import jobs.ann_job as job

    src = "/root/testdata/sf0.001/embeddings.parquet"
    corpus = str(tmp_path / "corpus")
    idx = str(tmp_path / "annidx")
    qs = str(tmp_path / "queries")
    outp = str(tmp_path / "results")
    emb = spark.read.parquet(src)
    emb.write.parquet(corpus)
    # queries: three existing corpus vectors (non-seed ids)
    emb.filter("vec_id in (40, 41, 42)").write.parquet(qs)

    rc = job.main([
        "--mode", "build", "--input", corpus, "--index", idx,
        "--n-centroids", "4", "--lloyd-iterations", "1",
        "--lloyd-sample-mod", "2",
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["mode"] == "build" and rep["n_vectors"] > 0
    # the four serving tables exist with their contract columns
    assert set(spark.read.parquet(f"{idx}/assigned").columns) == {"vec_id", "cell"}
    assert set(spark.read.parquet(f"{idx}/centroids").columns) == {"cell", "cvec"}
    assert set(spark.read.parquet(f"{idx}/encoded").columns) == {"vec_id", "codes"}
    assert set(spark.read.parquet(f"{idx}/codebook").columns) == {"sub", "code", "cvec"}
    meta = spark.read.parquet(f"{idx}/meta").collect()[0]
    assert (meta["m"], meta["n_codes"], meta["dim"]) == (16, 64, 64)

    rc = job.main([
        "--mode", "query", "--input", corpus, "--index", idx,
        "--queries", qs, "--output", outp,
        "--k", "3", "--n-probe", "4", "--shortlist", "20",
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["mode"] == "query" and rep["n_queries"] == 3
    assert rep["n_results"] == 9  # k per query
    rows = duckdb.sql(
        f"SELECT query_id, vec_id, dist, rank FROM read_parquet('{outp}/*.parquet') ORDER BY 1, 4"
    ).fetchall()
    # probing ALL 4 cells: rank-1 of a self-query is itself at distance 0
    for qid in (40, 41, 42):
        top = [r for r in rows if r[0] == qid and r[3] == 1][0]
        assert top[1] == qid and top[2] == 0


def test_ann_job_query_requires_meta(spark, tmp_path):
    """A query against an index with no meta table must fail loudly, not
    run with CLI-default geometry (a mismatched m silently returns
    garbage neighbors)."""
    import shutil

    import jobs.ann_job as job
    import pytest

    src = "/root/testdata/sf0.001/embeddings.parquet"
    corpus = str(tmp_path / "c2")
    idx = str(tmp_path / "idx2")
    qs = str(tmp_path / "q2")
    emb = spark.read.parquet(src)
    emb.write.parquet(corpus)
    emb.filter("vec_id = 40").write.parquet(qs)
    rc = job.main(["--mode", "build", "--input", corpus, "--index", idx,
                   "--n-centroids", "4", "--lloyd-iterations", "0"])
    assert rc == 0
    shutil.rmtree(f"{idx}/meta")
    with pytest.raises(SystemExit, match="meta"):
        job.main(["--mode", "query", "--input", corpus, "--index", idx,
                  "--queries", qs, "--output", str(tmp_path / "r2")])


def test_ann_job_query_requires_io(spark):
    import jobs.ann_job as job
    import pytest

    with pytest.raises(SystemExit):
        job.main(["--mode", "query", "--input", "x", "--index", "y"])
