"""End-to-end web-extraction job (jobs/web_extract_job.py): WARC shards ->
boilerplate strip -> spans -> resumable convert, with idempotent re-run."""

import gzip
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from test_warc import _record, _shard_bytes  # reuse the WARC fixtures


def test_web_extract_job_warc_end_to_end(spark, tmp_path, capsys):
    import jobs.web_extract_job as job

    warc_dir = tmp_path / "crawl"
    warc_dir.mkdir()
    (warc_dir / "shard-000.warc").write_bytes(_shard_bytes())
    (warc_dir / "shard-001.warc.gz").write_bytes(
        gzip.compress(_record("r3", "https://example.com/c"))
    )
    outp = str(tmp_path / "clean")

    rc = job.main(
        ["--input", str(warc_dir), "--output", outp, "--snapshot", "crawl-7"]
    )
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["n_written"] == 3  # three response records

    rows = duckdb.sql(
        f"SELECT doc_id, success, character_count FROM read_parquet('{outp}/*.parquet') ORDER BY doc_id"
    ).fetchall()
    assert len(rows) == 3 and all(r[1] for r in rows)
    # the manifest carries the crawl snapshot lineage
    man = duckdb.sql(
        f"SELECT DISTINCT input_snapshot FROM read_parquet('{outp}_manifest/*.parquet')"
    ).fetchall()
    assert man == [("crawl-7",)]

    # idempotent re-run: nothing pending, output unchanged
    rc = job.main(
        ["--input", str(warc_dir), "--output", outp, "--snapshot", "crawl-7"]
    )
    assert rc == 0
    report2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report2["n_pending"] == 0
    again = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{outp}/*.parquet')"
    ).fetchone()[0]
    assert again == 3
