#!/usr/bin/env python3
"""spark-submit entry point for cross-snapshot CDC diff.

Usage (cluster):

    zip -r mdcal.zip modern_document_converter_for_ai_library_spark
    spark-submit --py-files mdcal.zip jobs/diff_job.py \
        --old lake.db.documents@snap1 --new lake.db.documents \
        --output lake.db.documents_delta --delta-only

Classifies every id across the two snapshots as added / removed /
changed / unchanged (operators/diff.py:snapshot_diff — one full-outer
equi-join of slim (id, content-hash) projections). ``--compare-cols``
restricts the hash to specific columns; by default all shared non-id
columns enter it. ``--delta-only`` drops unchanged rows from the
output. Targets accept Iceberg identifiers or parquet paths
(sources/catalog.py). Prints one JSON line with per-state counts.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--old", required=True, help="previous snapshot")
    p.add_argument("--new", required=True, help="current snapshot")
    p.add_argument("--output", required=True, help="diff output target")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--compare-cols", default=None,
                   help="comma-separated columns to hash (default: all "
                        "shared non-id columns)")
    p.add_argument("--delta-only", action="store_true",
                   help="drop unchanged rows from the output")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)
    cols = None
    if args.compare_cols:
        cols = [c.strip() for c in args.compare_cols.split(",") if c.strip()]
        if not cols:
            p.error("--compare-cols given but names no columns")

    from pyspark.sql import functions as F

    from modern_document_converter_for_ai_library_spark.operators.diff import (
        snapshot_diff,
    )
    from modern_document_converter_for_ai_library_spark.plans import job_session
    from modern_document_converter_for_ai_library_spark.sources.catalog import (
        read_documents,
        write_documents,
    )

    with job_session("mdcal-diff", master=args.master) as spark:
        old = read_documents(spark, args.old)
        new = read_documents(spark, args.new)
        diff = snapshot_diff(
            old, new, id_col=args.id_col, compare_cols=cols,
            keep_unchanged=not args.delta_only,
        ).persist()
        write_documents(diff, args.output, mode="overwrite")
        counts = {
            r["change_type"]: r["n"]
            for r in diff.groupBy("change_type")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        diff.unpersist()
        print(json.dumps({"counts": counts, "delta_only": args.delta_only}))
        return 0


if __name__ == "__main__":
    sys.exit(main())
