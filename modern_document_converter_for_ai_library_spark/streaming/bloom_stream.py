"""Streaming Bloom-filter maintenance: the crawl-ingest membership state
(operators/bloom.py) kept current micro-batch by micro-batch.

Per micro-batch, ``foreachBatch`` builds the batch's OWN filter (bounded:
``n_shards`` rows of ``m/64`` longs regardless of batch size) and folds
it into the persisted state with the filter's merge law — word-wise
bitwise OR. OR is idempotent AND commutative, so an at-least-once replay
of a batch is absorbed, not double-set: the same crash-safety argument
as the HLL register MAX in sketch_stream.py, and the same versioned-dir
+ atomically-replaced CURRENT pointer protocol (a crash at any point
leaves CURRENT referencing a complete older version).

Batch parity (tested): after the stream drains, the persisted filter is
EXACTLY equal, word for word, to ``bloom_build`` over the full corpus —
OR-merge of per-batch filters is associative over any batch split. That
equality is the streaming analogue of the batch queries' oracle parity.

Downstream use: readers load the state (one broadcastable table) and
gate an incoming frame with ``bloom_member`` — "seen in ANY prior
batch?" answered with zero joins against history and zero false
negatives. State size never grows with stream length.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.bloom import bloom_build, bloom_merge
from ._versioned import read_pointer, write_next_version

_BLOOM_SCHEMA = "shard bigint, bloom array<bigint>"


def merge_bloom_state(state_path: str, batch_filter: DataFrame) -> None:
    """OR-fold a batch's filter into the persisted state. Crash-safe
    versioned-pointer swap (see module docstring); idempotent because
    ``x | x = x``."""
    spark = batch_filter.sparkSession

    def merged(prev_dir):
        if prev_dir is None:
            return batch_filter
        prev = spark.read.schema(_BLOOM_SCHEMA).parquet(prev_dir)
        return bloom_merge(prev, batch_filter)

    write_next_version(state_path, merged)


def bloom_from_state(
    spark: SparkSession,
    state_dir: str,
    m: int,
    n_shards: int = 1,
) -> DataFrame:
    """The persisted filter as the (shard, bloom) table ``bloom_member``
    expects. A not-yet-written state yields the all-zero filter (every
    probe answers False), not an error — so a gate composed on top of
    this keeps everything on the first batch."""
    current = read_pointer(state_dir)
    if current is None:
        n_words = m // 64
        return spark.range(n_shards).select(
            F.col("id").alias("shard"),
            F.expr(
                f"transform(sequence(0, {n_words - 1}),"
                " i -> CAST(0 AS BIGINT))"
            ).alias("bloom"),
        )
    return spark.read.schema(_BLOOM_SCHEMA).parquet(current)


def bloom_stream(
    spark: SparkSession,
    input_path: str,
    state_dir: str,
    checkpoint_path: str,
    key_col: str = "text",
    m: int = 1 << 20,
    k: int = 5,
    n_shards: int = 1,
    available_now: bool = True,
) -> StreamingQuery:
    """Maintain the membership filter over ``key_col`` of a parquet
    directory stream. The per-batch work is one bounded aggregate — the
    batch's own filter — plus the OR-fold into state."""
    os.makedirs(state_dir, exist_ok=True)
    stream = spark.readStream.schema(
        spark.read.parquet(input_path).schema
    ).parquet(input_path)

    def _fold(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        merge_bloom_state(
            state_dir,
            bloom_build(batch, key_col, m=m, k=k, n_shards=n_shards),
        )

    writer = stream.writeStream.foreachBatch(_fold).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
