#!/usr/bin/env python3
"""spark-submit entry point for the convert/rename pipeline.

Usage (cluster):

    zip -r mdcal.zip modern_document_converter_for_ai_library_spark
    spark-submit --py-files mdcal.zip jobs/convert_job.py \
        --input  s3://bucket/documents_parquet \
        --output s3://bucket/documents_clean \
        --mode convert --balance-partitions 4096 --snapshot <snapshot-id>

Local smoke:

    spark-submit --master 'local[8]' \
        --py-files mdcal.zip jobs/convert_job.py \
        --input /tmp/in.parquet --output /tmp/out --mode convert

The job is idempotently resumable: re-running with the same input appends
only NEW/MODIFIED documents (anti-join against the output on
(doc_id, input_hash)) and records per-partition lineage in the manifest
table. A killed run is resumed by simply running the same command again.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="span-shaped documents parquet/Iceberg path")
    p.add_argument("--output", required=True, help="output table path")
    p.add_argument("--manifest", default=None, help="manifest table path (default: <output>_manifest)")
    p.add_argument("--mode", choices=["convert", "rename"], default="convert")
    p.add_argument("--balance-partitions", type=int, default=None,
                   help="apply size-aware placement with this many partitions")
    p.add_argument("--start-index", type=int, default=0,
                   help="rename mode: first code index to allocate")
    p.add_argument("--snapshot", default="", help="input snapshot id recorded in the manifest")
    p.add_argument("--master", default=None, help="override master (default: from spark-submit)")
    args = p.parse_args(argv)

    from modern_document_converter_for_ai_library_spark.plans import job_session
    from modern_document_converter_for_ai_library_spark.operators.manifest import (
        run_resumable_convert,
    )

    from modern_document_converter_for_ai_library_spark.sources.catalog import (
        current_snapshot_id,
        read_documents,
        write_documents,
    )

    with job_session(f"mdcal-{args.mode}", master=args.master) as spark:
        # input/output accept Iceberg identifiers (catalog.db.table) or
        # parquet paths — sources/catalog.py resolves per target
        inp = read_documents(spark, args.input)
        snapshot = args.snapshot or current_snapshot_id(spark, args.input)
        if args.mode == "convert":
            result = run_resumable_convert(
                spark,
                inp,
                args.output,
                args.manifest,
                input_snapshot=snapshot,
                balance_partitions=args.balance_partitions,
            )
        else:
            from pyspark.sql import Observation
            from pyspark.sql import functions as F

            from modern_document_converter_for_ai_library_spark.operators.rename import (
                rename_documents,
            )
            from modern_document_converter_for_ai_library_spark.plans.caching import (
                CacheScope,
            )

            # the row count rides on the write (no second execution), and
            # the persisted kernel output is released when the write is done
            written = Observation("rename")
            with CacheScope() as scope:
                out = rename_documents(
                    inp, start_index=args.start_index, cache_scope=scope
                )
                write_documents(
                    out.observe(written, F.count(F.lit(1)).alias("n_docs")),
                    args.output,
                    mode="overwrite",
                )
            result = {"mode": "rename", "n_docs": int(written.get["n_docs"])}
        print(json.dumps(result))
        return 0


if __name__ == "__main__":
    sys.exit(main())
