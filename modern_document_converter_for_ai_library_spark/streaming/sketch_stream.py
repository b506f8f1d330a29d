"""Streaming sketch maintenance: mergeable sketches updated micro-batch
by micro-batch — the reason the sketch operators (operators/sketches.py)
are built on algebraic merge laws in the first place.

Per micro-batch, ``foreachBatch`` computes the batch's OWN sketch (the
per-group HLL register table and the log2 value histogram — both bounded
state) and folds it into the persisted state with the sketch's merge
law:

  HLL        register-wise MAX   (max is idempotent AND commutative, so
                                  an at-least-once replay of a batch is
                                  absorbed, not double-counted)
  histogram  cell-wise SUM, with per-batch_id subdirectory overwrite —
                                  the same per-partition idempotency
                                  contract as the convert manifest sink
                                  (a replayed batch rewrites its own
                                  cells instead of appending)

The batch-parity property (tested): after the stream drains, the merged
HLL state is EXACTLY equal — registers and integer estimate — to the
batch ``hll_register_table`` over the full corpus, because max-merge of
per-batch register tables is associative over any batch split. Same for
the histogram under sum-merge. That equality is the streaming analogue
of the oracle parity the batch queries carry.

State size: |groups| * 64 registers + |groups| * ~64 histogram cells —
independent of stream length; reading the state is a driver-friendly
small-table scan, so downstream consumers (dashboards, admission
control) never touch raw history.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.sketches import (
    hll_estimate_from_registers,
    hll_registers,
    log2_histogram,
)

from ._versioned import read_pointer, write_next_version

_REG_SCHEMA = "group string, bucket int, register bigint"


def merge_hll_state(state_path: str, batch_regs: DataFrame) -> None:
    """Fold a batch's register table into the persisted state with
    register-wise MAX, through the crash-safe versioned-pointer swap of
    ``streaming/_versioned.py``. Idempotent: max(x, x) = x, so batch
    replays are absorbed."""
    spark = batch_regs.sparkSession
    regs = batch_regs.select("group", "bucket", "register")

    def merged(prev_dir):
        if prev_dir is None:
            return regs
        prev = spark.read.schema(_REG_SCHEMA).parquet(prev_dir)
        return (
            prev.union(regs)
            .groupBy("group", "bucket")
            .agg(F.max("register").cast("bigint").alias("register"))
        )

    write_next_version(state_path, merged)


def hll_estimate_from_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Cardinality estimates from the persisted registers — the same
    exact-integer arithmetic as the batch hll_register_table. An empty
    or not-yet-written state yields an empty frame, not an error."""
    current = read_pointer(os.path.join(state_dir, "hll_registers"))
    if current is None:
        regs = spark.createDataFrame([], _REG_SCHEMA)
    else:
        regs = spark.read.schema(_REG_SCHEMA).parquet(current)
    return hll_estimate_from_registers(regs, ["group"])


def histogram_from_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Sum-merge the per-batch histogram cells into the corpus histogram
    (batch_id is a partition column, dropped after the rollup). An empty
    or not-yet-written state yields an empty frame, not an error."""
    path = os.path.join(state_dir, "hist_cells")
    if not any(
        n.startswith("batch_id=") for n in (os.listdir(path) if os.path.exists(path) else [])
    ):
        return spark.createDataFrame([], "group string, bucket int, cnt bigint")
    cells = spark.read.parquet(path)
    return cells.groupBy("group", "bucket").agg(
        F.sum("cnt").cast("bigint").alias("cnt")
    )


def sketch_stream(
    spark: SparkSession,
    input_path: str,
    state_dir: str,
    checkpoint_path: str,
    item_col: str = "text",
    group_col: str = "source",
    value_col: str = "n_chars",
    available_now: bool = True,
) -> StreamingQuery:
    """Maintain HLL registers (distinct ``item_col`` per ``group_col``)
    and a log2 ``value_col`` histogram over a parquet directory stream."""
    os.makedirs(state_dir, exist_ok=True)
    hll_path = os.path.join(state_dir, "hll_registers")
    hist_dir = os.path.join(state_dir, "hist_cells")

    # infer the schema from the files on disk (the pattern every other
    # streaming module uses) — hardcoding it breaks on e.g. int64 doc_id
    stream = spark.readStream.schema(
        spark.read.parquet(input_path).schema
    ).parquet(input_path)

    def _fold(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        grouped = batch.withColumn("group", F.col(group_col).cast("string"))
        merge_hll_state(hll_path, hll_registers(grouped, item_col, "group"))
        log2_histogram(grouped, value_col, "group").coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(hist_dir, "batch_id=%d" % batch_id))

    writer = stream.writeStream.foreachBatch(_fold).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
