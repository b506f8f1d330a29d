"""One-pass corpus audit (operators/audit.py): pure-Python twin over edge
cases (nulls, whitespace-only, duplicates), global vs grouped shape, and
the scan-amortization plan claim (ONE scan, no joins, no Python)."""

import pytest

from modern_document_converter_for_ai_library_spark.operators.audit import corpus_audit

ROWS = [
    (1, "alpha beta gamma", "s1"),
    (2, "alpha beta gamma", "s1"),      # exact dup of 1
    (3, "   ", "s1"),                   # whitespace-only -> empty
    (4, None, "s2"),                    # null -> empty
    (5, "one  two", "s2"),              # double space: 2 tokens, 8 chars
    (6, "", "s2"),                      # empty string -> empty
]


def _twin(rows):
    n = len(rows)
    texts = [t if t is not None else None for _, t, _ in rows]
    empty = [t is None or t.strip() == "" for t in texts]
    chars = [len(t) if t is not None else 0 for t in texts]
    toks = [
        0 if e else len([x for x in t.split(" ") if x != ""])
        for t, e in zip(texts, empty)
    ]
    distinct = len({t if t is not None else "" for t in texts})
    return {
        "n_docs": n,
        "n_empty": sum(empty),
        "n_distinct_texts": distinct,
        "dup_rate_micros": (n - distinct) * 1_000_000 // n,
        "total_chars": sum(chars),
        "min_chars": min(chars),
        "max_chars": max(chars),
        "mean_chars_micros": sum(chars) * 1_000_000 // n,
        "total_tokens": sum(toks),
        "mean_tokens_micros": sum(toks) * 1_000_000 // n,
    }


def test_global_audit_matches_twin(spark):
    df = spark.createDataFrame(ROWS, ["doc_id", "text", "source"])
    got = corpus_audit(df).collect()
    assert len(got) == 1
    assert got[0].asDict() == _twin(ROWS)


def test_grouped_audit_matches_twin(spark):
    df = spark.createDataFrame(ROWS, ["doc_id", "text", "source"])
    got = {r["source"]: r.asDict() for r in corpus_audit(df, group_col="source").collect()}
    for src in ("s1", "s2"):
        expect = _twin([r for r in ROWS if r[2] == src])
        expect["source"] = src
        assert got[src] == expect
    # note: distinct is WITHIN group — the s1/s2 dup split would differ
    # from the global audit's distinct count by design


def test_audit_plan_one_scan_no_joins_no_python(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = corpus_audit(df, group_col="source")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan and "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_audit_partitioning_invariance(spark):
    df = spark.createDataFrame(ROWS * 7, ["doc_id", "text", "source"])
    a = sorted(tuple(r) for r in corpus_audit(df.repartition(1), group_col="source").collect())
    b = sorted(tuple(r) for r in corpus_audit(df.repartition(13), group_col="source").collect())
    assert a == b


def test_audit_job_end_to_end(spark, tmp_path, capsys):
    import json
    import jobs.audit_job as job

    inp = str(tmp_path / "in")
    outp = str(tmp_path / "out")
    spark.createDataFrame(ROWS, ["doc_id", "text", "source"]).write.parquet(inp)
    rc = job.main(["--input", inp, "--group-col", "source", "--output", outp])
    assert rc == 0
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    glob = [l for l in lines if l["scope"] == "global"][0]
    expect = _twin(ROWS)
    assert {k: glob[k] for k in expect} == expect
    per = {l["source"]: l for l in lines if l["scope"] == "source"}
    assert set(per) == {"s1", "s2"}
    import duckdb
    n = duckdb.sql(f"SELECT count(*) FROM read_parquet('{outp}/*.parquet')").fetchone()[0]
    assert n == 2

    import pytest
    with pytest.raises(SystemExit):
        job.main(["--input", inp, "--output", outp])  # --output needs --group-col
