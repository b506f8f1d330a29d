#!/usr/bin/env python3
"""spark-submit entry point for parquet small-file compaction.

Usage (cluster):

    zip -r mdcal.zip modern_document_converter_for_ai_library_spark
    spark-submit --py-files mdcal.zip jobs/compact_job.py \
        --input /lake/documents --output /lake/documents_compact \
        [--target-mb 128] [--partition-by source] [--audit-only]

Runs operators/compaction.py: lists the table's data files (one remote
listing, no data read), and unless --audit-only, rewrites them into
ceil(total_bytes / target) near-target parquet files in a NEW directory
(the republish is the caller's atomic rename/pointer swap — never an
in-place overwrite of a directory being read). The rewrite is verified
by row count + order-insensitive content checksum before the job reports
success; a verification miss raises and leaves the source untouched.
Prints one JSON line (before/after fragmentation digest, planned file
count, verification) — the heartbeat a maintenance scheduler alerts on.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True)
    p.add_argument("--output", default=None,
                   help="NEW directory for the compacted copy")
    p.add_argument("--target-mb", type=int, default=128)
    p.add_argument("--partition-by", default=None,
                   help="comma-separated Hive partition columns to preserve")
    p.add_argument("--audit-only", action="store_true",
                   help="print the fragmentation digest and exit")
    p.add_argument("--no-verify", action="store_true",
                   help="skip the row-count/checksum verification pass")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)
    if not args.audit_only and not args.output:
        p.error("--output is required unless --audit-only")

    from modern_document_converter_for_ai_library_spark.operators.compaction import (
        compact_parquet,
        file_stats,
    )
    from modern_document_converter_for_ai_library_spark.plans import job_session

    target = args.target_mb * 1024 * 1024
    with job_session("mdcal-compact", master=args.master) as spark:
        if args.audit_only:
            print(json.dumps(
                {"mode": "audit", "input": args.input,
                 **file_stats(spark, args.input, target)}
            ))
            return 0
        result = compact_parquet(
            spark,
            args.input,
            args.output,
            target_bytes=target,
            partition_by=(
                args.partition_by.split(",") if args.partition_by else None
            ),
            verify=not args.no_verify,
        )
        print(json.dumps(
            {"mode": "compact", "input": args.input, "output": args.output,
             **result}
        ))
        return 0


if __name__ == "__main__":
    sys.exit(main())
