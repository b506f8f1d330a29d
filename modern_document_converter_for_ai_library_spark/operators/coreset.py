"""Diversity coreset selection over embeddings — greedy k-center
(farthest-first traversal, Gonzalez 1985, the 2-approximation for the
k-center objective; the "diverse subset" selector data-curation recipes
pair with SemDeDup's near-duplicate pruning: SemDeDup removes what's too
close, k-center keeps what spans the space).

Spark shape: the classic incremental farthest-first. The corpus is
quantized ONCE (integer-micro grid, shared QSCALE with operators/
similarity.py) and persisted carrying a running ``_d`` = min squared
distance to the selected set. Each of the k rounds is

    map:    _d = least(_d, sqdist(vec, newest_center))   (codegen)
    reduce: TakeOrdered(1) by (_d desc, id asc)          (one row out)

— ONE corpus pass per round, no corpus shuffle at all (the per-round
reduce is a top-1, combined map-side), driver state bounded by k
center vectors. Re-materialization per round follows the bounded-
iteration persist/release pattern of bpe_train, so the plan never
grows with k.

Exact-integer arithmetic end-to-end (quantized bigint squared
distances, deterministic (dist desc, id asc) tie-breaks): the selected
sequence is a pure function of the corpus on any partitioning — the
DuckDB oracle (q_kcenter) unrolls the same rounds and must produce the
identical rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import _qe_sqdist, _quantize


def kcenter_select(
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center selection: returns (round, id, qdist) — the k
    selected ids in selection order; ``qdist`` is the squared quantized
    distance from the selected point to the previously-selected set (0
    for the seed, which is the minimum id — deterministic, like the
    min-label conventions elsewhere in the repo)."""
    spark = corpus.sparkSession
    cur = corpus.select(
        F.col(id_col).alias("_id"), _quantize(F.col(vec_col)).alias("_qe")
    ).withColumn("_d", F.lit(None).cast("bigint"))
    cur = cur.persist()
    cur.count()
    picked: list[tuple[int, object, int]] = []
    try:
        seed = cur.orderBy("_id").limit(1).collect()[0]
        picked.append((0, seed["_id"], 0))
        center = seed["_qe"]
        for rnd in range(1, k):
            qc = F.array(*[F.lit(int(v)) for v in center])
            nxt = cur.withColumn(
                "_d",
                F.least(
                    F.coalesce("_d", F.lit((1 << 62) - 1)),
                    _qe_sqdist(F.col("_qe"), qc),
                ),
            ).persist()
            nxt.count()
            cur.unpersist()
            cur = nxt
            far = (
                cur.filter(~F.col("_id").isin([p[1] for p in picked]))
                .orderBy(F.desc("_d"), F.asc("_id"))
                .limit(1)
                .collect()
            )
            if not far:  # k exceeds the corpus size
                break
            picked.append((rnd, far[0]["_id"], int(far[0]["_d"])))
            center = far[0]["_qe"]
    finally:
        cur.unpersist(blocking=True)
    id_type = dict(corpus.dtypes)[id_col]
    return spark.createDataFrame(
        picked, f"round: bigint, _id: {id_type}, qdist: bigint"
    ).withColumnRenamed("_id", id_col)
