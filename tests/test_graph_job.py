"""End-to-end graph job entry point (jobs/graph_job.py): ranks, degrees,
and anchor rollup over a small planted link graph."""

import json

import duckdb


def test_graph_job_end_to_end(spark, tmp_path, capsys):
    import jobs.graph_job as job

    # 0 -> 1 -> 2 -> 0 cycle + 0 -> 3 dangler; duplicate edge and a
    # self-loop exercise normalization; anchors ride on the edge rows.
    rows = [
        (0, 1, "one"),
        (0, 1, "one"),      # duplicate edge
        (1, 2, "two"),
        (2, 0, "zero"),
        (0, 3, "three"),
        (3, 3, "self"),     # self-loop -> dropped
    ]
    edges = str(tmp_path / "edges")
    ranks = str(tmp_path / "ranks")
    degrees = str(tmp_path / "degrees")
    anchors = str(tmp_path / "anchors")
    spark.createDataFrame(rows, ["src", "dst", "anchor"]).write.parquet(edges)

    rc = job.main(
        [
            "--edges", edges, "--ranks", ranks, "--degrees", degrees,
            "--anchors", anchors, "--anchor-col", "anchor",
            "--iterations", "1",
        ]
    )
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["n_edges"] == 4  # dup collapsed, self-loop dropped
    assert report["n_nodes"] == 4
    assert set(report["outputs"]) == {"ranks", "degrees", "anchors"}

    got = dict(
        duckdb.sql(
            f"SELECT node, rank_micros FROM read_parquet('{ranks}/*.parquet')"
        ).fetchall()
    )
    # same hand-computed round-1 values as tests/test_graph.py
    assert got == {0: 1_000_000, 1: 575_000, 2: 1_000_000, 3: 575_000}

    deg = {
        r[0]: r[1:]
        for r in duckdb.sql(
            f"SELECT * FROM read_parquet('{degrees}/*.parquet')"
        ).fetchall()
    }
    assert deg[0] == (2, 1, 0)  # out 2 (1,3), in 1 (from 2), no reciprocal
    assert deg[3] == (0, 1, 0)  # dangler: self-loop dropped

    anc = {
        r[0]: r[1:]
        for r in duckdb.sql(
            f"SELECT dst, n_inlinks, top_anchor FROM read_parquet('{anchors}/*.parquet')"
        ).fetchall()
    }
    assert anc[1] == (1, "one")  # duplicate edge collapsed before rollup
    assert anc[3] == (1, "three")


def test_graph_job_requires_an_output(spark, tmp_path):
    import pytest

    import jobs.graph_job as job

    with pytest.raises(SystemExit):
        job.main(["--edges", str(tmp_path / "nope")])


def test_graph_job_rejects_string_node_ids(spark, tmp_path):
    import pytest

    import jobs.graph_job as job

    edges = str(tmp_path / "stredges")
    spark.createDataFrame(
        [("https://a", "https://b")], "src: string, dst: string"
    ).write.parquet(edges)
    with pytest.raises(SystemExit):
        job.main(["--edges", edges, "--ranks", str(tmp_path / "r")])
