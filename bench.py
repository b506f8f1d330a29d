#!/usr/bin/env python3
"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON
line::

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": ..., "docs_per_sec": ...}

The flagship number is the end-to-end convert pipeline (docs/sec); the other
entries time each oracle-checked operator. All timings force full execution
via a noop-sink write.

Warm-share protocol (VERDICT r3 item 5 / r4 item 4): two query families
rebuild identical deterministic front ends — the q_near_dedup family's
LSH->verify frames (q_lsh_jaccard_pairs, q_minhash128_pairs and
q_split_leakage build the same frames through the same operator, so
they read them from cache too) and the q_ivf/pq/ivfpq codebook builds. Those fronts
are built ONCE before timing, persisted, and their cost is reported
separately in ``warm_shared_fronts_sec`` (added into ``value``, never
hidden). Per-query timings for those families therefore measure the
distinct BACK ends (CC variants, probe/ADC/rescore search paths) reading
the shared front from cache — by design, not an accident of caching.
Every other query runs cold, uncached.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main() -> None:
    from modern_document_converter_for_ai_library_spark.plans import get_spark
    from modern_document_converter_for_ai_library_spark.queries import SPARK_QUERIES

    spark = get_spark(
        app_name="mdcal-bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(8, CPUS * 2),
    )

    # warm the JVM + Python worker pool once so per-query numbers measure the
    # operators, not interpreter startup (same methodology as
    # scripts/scaling_bench.py: a sample convert forks and imports the kernel
    # on every core before anything is timed)
    spark.range(1000).selectExpr("sum(id)").collect()
    from modern_document_converter_for_ai_library_spark.operators import (
        convert_documents,
    )
    from modern_document_converter_for_ai_library_spark.sources import flat_to_spans

    warm = flat_to_spans(spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(256))
    convert_documents(warm).write.format("noop").mode("overwrite").save()

    timings: dict[str, float] = {}
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()

    # Warm-share the near-dedup family's LSH->verify front ends (VERDICT
    # r3 item 5) and the ANN family's codebook builds (r4 item 4): see
    # the module docstring for the protocol. Incremental-failure hygiene
    # (ADVICE r4): `fronts` is the builder's own sink, appended to as
    # each front is CONSTRUCTED (near_dup_verified_pairs registers its
    # pairs frame with the CacheManager at construction), and persisted
    # ANN frames are tracked one by one — so the finally-style cleanup
    # below releases everything that actually got registered even when
    # the warm fails halfway, and the "unwarmed" message stays accurate.
    from modern_document_converter_for_ai_library_spark.queries import (
        ann_family_fronts,
        clear_ann_fronts,
        near_dedup_family_fronts,
    )

    t0 = time.perf_counter()
    fronts: list = []      # (verified, pairs) tuples, builder-appended
    ann_fronts: list = []  # persisted ANN frames, tracked incrementally
    try:
        near_dedup_family_fronts(spark, SF_DIR, sink=fronts)
        for verified, _pairs in fronts:
            verified.persist().count()
        for frame in ann_family_fronts(spark, SF_DIR):
            ann_fronts.append(frame)
            frame.persist().count()
    except Exception as exc:  # pragma: no cover - defensive
        # a failed warm must never fail the driver bench: the family
        # queries are self-contained and simply run unwarmed (already-
        # persisted fronts still serve; cleanup below releases them all)
        print(
            f"front warm failed ({exc}); affected families run unwarmed",
            file=sys.stderr,
        )
    warm_sec = round(time.perf_counter() - t0, 4)

    try:
        for name in sorted(SPARK_QUERIES):
            df_fn = SPARK_QUERIES[name]
            t0 = time.perf_counter()
            df_fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            timings[name] = round(time.perf_counter() - t0, 4)
    finally:
        for verified, pairs in fronts:
            verified.unpersist()
            if pairs is not None:
                pairs.unpersist()
        for frame in ann_fronts:
            frame.unpersist()
        clear_ann_fronts()

    total = round(sum(timings.values()) + warm_sec, 4)
    convert_sec = timings.get("q_convert_pipeline", float("nan"))
    result = {
        "metric": "end-to-end conversion throughput + operator suite wall time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "warm_shared_fronts_sec": warm_sec,
        "sf": SF_DIR,
        "cpus": CPUS,
        "n_docs": n_docs,
        "docs_per_sec": round(n_docs / convert_sec, 2) if convert_sec else None,
    }
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
