"""Streaming sketch maintenance (streaming/sketch_stream.py): after the
stream drains, the max-merged HLL state and the sum-merged histogram are
EXACTLY equal to the batch sketches over the full corpus (the merge-law
parity), and a replayed batch is absorbed (idempotency by algebra for
HLL, by partition overwrite for the histogram)."""

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from modern_document_converter_for_ai_library_spark.operators.sketches import (
    hll_register_table,
    hll_registers,
    log2_histogram,
)
from modern_document_converter_for_ai_library_spark.streaming.sketch_stream import (
    hll_estimate_from_state,
    histogram_from_state,
    merge_hll_state,
    sketch_stream,
)

COLS = ["doc_id", "text", "lang", "source", "n_chars"]


def _rows(lo, hi):
    return [
        (str(i), "tok%d tok%d tok%d" % (i % 17, i % 5, i), "en", "s%d" % (i % 3), 10 + i % 900)
        for i in range(lo, hi)
    ]


def _write_batch(spark, path, name, rows):
    df = spark.createDataFrame(rows, COLS).withColumn(
        "n_chars", F.col("n_chars").cast("bigint")
    )
    scratch = tempfile.mkdtemp(prefix="skstream_w_")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(scratch)
        part = [f for f in os.listdir(scratch) if f.endswith(".parquet")][0]
        shutil.copy(os.path.join(scratch, part), os.path.join(path, f"{name}.parquet"))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_stream_matches_batch_sketches(spark):
    src = tempfile.mkdtemp(prefix="skstream_src_")
    state = tempfile.mkdtemp(prefix="skstream_state_")
    ckpt = tempfile.mkdtemp(prefix="skstream_ckpt_")
    try:
        _write_batch(spark, src, "b1", _rows(0, 120))
        q = sketch_stream(spark, src, state, ckpt)
        q.awaitTermination(180)
        _write_batch(spark, src, "b2", _rows(120, 300))
        q = sketch_stream(spark, src, state, ckpt)
        q.awaitTermination(180)

        full = spark.createDataFrame(_rows(0, 300), COLS).withColumn(
            "n_chars", F.col("n_chars").cast("bigint")
        ).withColumn("group", F.col("source"))

        # HLL: merged state == single-pass batch sketch, exactly
        got = sorted(map(tuple, hll_estimate_from_state(spark, state).collect()))
        exp = sorted(
            map(tuple, hll_register_table(full, "text", "group").collect())
        )
        assert got == exp

        # histogram: sum-merged cells == batch histogram, exactly
        got_h = sorted(map(tuple, histogram_from_state(spark, state).collect()))
        exp_h = sorted(map(tuple, log2_histogram(full, "n_chars", "group").collect()))
        assert got_h == exp_h
    finally:
        for d in (src, state, ckpt):
            shutil.rmtree(d, ignore_errors=True)


def test_hll_replay_is_absorbed(spark):
    from modern_document_converter_for_ai_library_spark.streaming._versioned import (
        read_pointer as _read_pointer,
    )

    state = tempfile.mkdtemp(prefix="skstream_replay_")
    path = os.path.join(state, "hll_registers")
    try:
        batch = spark.createDataFrame(_rows(0, 80), COLS).withColumn(
            "group", F.col("source")
        )
        regs = hll_registers(batch, "text", "group")
        merge_hll_state(path, regs)
        once = sorted(map(tuple, spark.read.parquet(_read_pointer(path)).collect()))
        merge_hll_state(path, regs)  # at-least-once replay
        twice = sorted(map(tuple, spark.read.parquet(_read_pointer(path)).collect()))
        assert once == twice
    finally:
        shutil.rmtree(state, ignore_errors=True)


def test_crash_between_write_and_pointer_swap_keeps_old_state(spark):
    """A version directory written WITHOUT the pointer swap (the crash
    window) must be invisible: readers and the next merge keep using the
    pointed-to version."""
    from modern_document_converter_for_ai_library_spark.streaming._versioned import (
        read_pointer as _read_pointer,
    )

    state = tempfile.mkdtemp(prefix="skstream_crash_")
    path = os.path.join(state, "hll_registers")
    try:
        b1 = spark.createDataFrame(_rows(0, 50), COLS).withColumn(
            "group", F.col("source")
        )
        merge_hll_state(path, hll_registers(b1, "text", "group"))
        good = _read_pointer(path)
        # simulate a crash: a half-written newer version, pointer not moved
        os.makedirs(os.path.join(path, "v99"))
        assert _read_pointer(path) == good
        b2 = spark.createDataFrame(_rows(50, 90), COLS).withColumn(
            "group", F.col("source")
        )
        merge_hll_state(path, hll_registers(b2, "text", "group"))
        full = spark.createDataFrame(_rows(0, 90), COLS).withColumn(
            "group", F.col("source")
        )
        got = sorted(map(tuple, hll_estimate_from_state(spark, state).collect()))
        exp = sorted(map(tuple, hll_register_table(full, "text", "group").collect()))
        assert got == exp
    finally:
        shutil.rmtree(state, ignore_errors=True)


def test_empty_state_reads_as_empty_frames(spark):
    state = tempfile.mkdtemp(prefix="skstream_empty_")
    try:
        assert hll_estimate_from_state(spark, state).count() == 0
        assert histogram_from_state(spark, state).count() == 0
    finally:
        shutil.rmtree(state, ignore_errors=True)
