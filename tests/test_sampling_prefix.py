"""The token samplers keep every input column: budget_sample,
epoch_budget_sample and shard_assign return the payload next to their
computed columns (checked against a pure-Python twin), so a caller never
joins a sampler's output back on the id. One bucketed prefix helper holds
every prefix window of the sampling module."""

import ast
import collections
import hashlib
import inspect

import pytest

from modern_document_converter_for_ai_library_spark.operators import sampling
from modern_document_converter_for_ai_library_spark.operators.sampling import (
    budget_sample,
    epoch_budget_sample,
    shard_assign,
)

BUDGETS = {"a": 300, "b": 150}


def _hm(doc_id: int) -> int:
    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % 1_000_000


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (
            i,
            "a" if i % 3 else "b",
            " ".join(["w"] * (3 + i % 11)),
            f"lang{i % 4}",
            -1,  # a stale cum_tokens the samplers must replace
        )
        for i in range(120)
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, source string, text string, lang string, cum_tokens bigint"
    )
    return rows, df


def _twin(rows):
    """doc_id -> (n_tokens, hash_micros, cum_tokens): per-source running
    token sums in (hash_micros, doc_id) order."""
    out = {}
    for src in {r[1] for r in rows}:
        cum = 0
        for r in sorted((r for r in rows if r[1] == src), key=lambda r: (_hm(r[0]), r[0])):
            n = len(r[2].split())
            cum += n
            out[r[0]] = (n, _hm(r[0]), cum)
    return out


def _check_payload(out, rows, extra):
    """Every input column is present once, carries its input value, and
    the added columns come after it."""
    cols = ["doc_id", "source", "text", "lang"]
    assert out.columns == cols + extra
    payload = {r[0]: r[:4] for r in rows}
    for r in out.collect():
        assert tuple(r[c] for c in cols) == payload[r["doc_id"]]


def test_budget_sample_keeps_every_input_column(spark, corpus):
    rows, df = corpus
    out = budget_sample(df, BUDGETS)
    _check_payload(out, rows, ["n_tokens", "hash_micros", "cum_tokens", "kept"])
    twin = _twin(rows)
    for r in out.collect():
        n, hm, cum = twin[r["doc_id"]]
        assert (r["n_tokens"], r["hash_micros"], r["cum_tokens"]) == (n, hm, cum)
        assert r["kept"] == (cum <= BUDGETS[r["source"]])


def test_shard_assign_keeps_every_input_column(spark, corpus):
    rows, df = corpus
    width = 50
    out = shard_assign(df.withColumn("shard_id", df.doc_id), width)
    _check_payload(
        out, rows, ["n_tokens", "hash_micros", "cum_tokens", "shard_id"]
    )
    twin = _twin(rows)
    for r in out.collect():
        n, hm, cum = twin[r["doc_id"]]
        assert (r["n_tokens"], r["hash_micros"], r["cum_tokens"]) == (n, hm, cum)
        assert r["shard_id"] == (cum - n) // width


def test_epoch_budget_sample_keeps_every_input_column(spark, corpus):
    rows, df = corpus
    twin = _twin(rows)
    mass = collections.Counter()
    for r in rows:
        mass[r[1]] += twin[r[0]][0]
    budget = 2 * mass["a"] + 40
    out = epoch_budget_sample(df, {"a": budget})
    _check_payload(
        out, rows, ["n_tokens", "hash_micros", "cum_tokens", "epoch"]
    )
    want = collections.Counter()
    for r in rows:
        if r[1] == "a":
            want.update({(r[0], 0): 1, (r[0], 1): 1})
            if twin[r[0]][2] <= 40:
                want[(r[0], 2)] += 1
    got = out.collect()
    assert collections.Counter((r["doc_id"], r["epoch"]) for r in got) == want
    for r in got:
        assert (r["n_tokens"], r["hash_micros"], r["cum_tokens"]) == twin[r["doc_id"]]


def test_prefix_windows_live_in_one_helper():
    """Every unbounded-preceding window of the sampling module is inside
    _bucketed_prefix, and the two former copies are gone."""
    src = inspect.getsource(sampling)
    tree = ast.parse(src)
    inside = {}
    for node in tree.body:
        if isinstance(node, ast.FunctionDef):
            body = ast.get_source_segment(src, node)
            inside[node.name] = body.count("unboundedPreceding")
    assert inside["_bucketed_prefix"] > 0
    assert src.count("unboundedPreceding") == inside["_bucketed_prefix"]
    assert not hasattr(sampling, "_cumulative_tokens")
    assert not hasattr(sampling, "_bucketed_rank")
