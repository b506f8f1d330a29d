"""Streaming Bloom-filter maintenance (streaming/bloom_stream.py): after
the stream drains, the OR-merged state is EXACTLY equal, word for word,
to bloom_build over the full corpus (merge-law parity); a replayed batch
is absorbed (x | x = x); an unwritten state answers False everywhere so
a gate composed on top keeps the first batch."""

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from modern_document_converter_for_ai_library_spark.operators.bloom import (
    bloom_build,
    bloom_member,
)
from modern_document_converter_for_ai_library_spark.streaming._versioned import (
    read_pointer as _read_pointer,
)
from modern_document_converter_for_ai_library_spark.streaming.bloom_stream import (
    bloom_from_state,
    bloom_stream,
    merge_bloom_state,
)

M, K, SHARDS = 1 << 12, 5, 2


def _rows(lo, hi):
    return [("key-%d" % i,) for i in range(lo, hi)]


def _write_batch(spark, path, name, rows):
    df = spark.createDataFrame(rows, "key: string")
    scratch = tempfile.mkdtemp(prefix="bloomstream_w_")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(scratch)
        part = [f for f in os.listdir(scratch) if f.endswith(".parquet")][0]
        shutil.copy(
            os.path.join(scratch, part), os.path.join(path, f"{name}.parquet")
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def _state_rows(df):
    return {r["shard"]: r["bloom"] for r in df.collect()}


def test_stream_matches_batch_filter_exactly(spark):
    src = tempfile.mkdtemp(prefix="bloomstream_src_")
    state = tempfile.mkdtemp(prefix="bloomstream_state_")
    ckpt = tempfile.mkdtemp(prefix="bloomstream_ckpt_")
    try:
        _write_batch(spark, src, "b1", _rows(0, 150))
        q = bloom_stream(
            spark, src, state, ckpt, key_col="key", m=M, k=K, n_shards=SHARDS
        )
        q.awaitTermination(180)
        _write_batch(spark, src, "b2", _rows(150, 400))
        q = bloom_stream(
            spark, src, state, ckpt, key_col="key", m=M, k=K, n_shards=SHARDS
        )
        q.awaitTermination(180)

        got = _state_rows(bloom_from_state(spark, state, m=M, n_shards=SHARDS))
        full = spark.createDataFrame(_rows(0, 400), "key: string")
        exp = _state_rows(bloom_build(full, "key", m=M, k=K, n_shards=SHARDS))
        assert got == exp

        # the state gates like the batch filter: every streamed key hits
        flagged = bloom_member(
            full,
            bloom_from_state(spark, state, m=M, n_shards=SHARDS),
            "key",
            m=M,
            k=K,
            n_shards=SHARDS,
        )
        assert flagged.filter(~F.col("maybe_seen")).count() == 0
    finally:
        for d in (src, state, ckpt):
            shutil.rmtree(d, ignore_errors=True)


def test_replay_is_absorbed(spark):
    state = tempfile.mkdtemp(prefix="bloomstream_replay_")
    try:
        batch = spark.createDataFrame(_rows(0, 100), "key: string")
        filt = bloom_build(batch, "key", m=M, k=K, n_shards=SHARDS)
        merge_bloom_state(state, filt)
        once = _state_rows(
            spark.read.parquet(_read_pointer(state)).select("shard", "bloom")
        )
        merge_bloom_state(state, filt)  # at-least-once replay
        twice = _state_rows(
            spark.read.parquet(_read_pointer(state)).select("shard", "bloom")
        )
        assert once == twice
    finally:
        shutil.rmtree(state, ignore_errors=True)


def test_crash_window_keeps_old_state(spark):
    state = tempfile.mkdtemp(prefix="bloomstream_crash_")
    try:
        b1 = spark.createDataFrame(_rows(0, 60), "key: string")
        merge_bloom_state(state, bloom_build(b1, "key", m=M, k=K, n_shards=SHARDS))
        good = _read_pointer(state)
        os.makedirs(os.path.join(state, "v99"))
        assert _read_pointer(state) == good
        b2 = spark.createDataFrame(_rows(60, 120), "key: string")
        merge_bloom_state(state, bloom_build(b2, "key", m=M, k=K, n_shards=SHARDS))
        full = spark.createDataFrame(_rows(0, 120), "key: string")
        got = _state_rows(bloom_from_state(spark, state, m=M, n_shards=SHARDS))
        exp = _state_rows(bloom_build(full, "key", m=M, k=K, n_shards=SHARDS))
        assert got == exp
    finally:
        shutil.rmtree(state, ignore_errors=True)


def test_unwritten_state_is_all_zero_gate(spark):
    state = tempfile.mkdtemp(prefix="bloomstream_empty_")
    try:
        empty = bloom_from_state(spark, state, m=M, n_shards=SHARDS)
        rows = _state_rows(empty)
        assert sorted(rows) == list(range(SHARDS))
        assert all(all(w == 0 for w in v) for v in rows.values())
        probe = spark.createDataFrame(_rows(0, 30), "key: string")
        out = bloom_member(probe, empty, "key", m=M, k=K, n_shards=SHARDS)
        assert out.filter(F.col("maybe_seen")).count() == 0
    finally:
        shutil.rmtree(state, ignore_errors=True)
