#!/usr/bin/env python3
"""spark-submit entry point for the one-pass corpus health audit.

Usage (cluster):

    zip -r mdcal.zip modern_document_converter_for_ai_library_spark
    spark-submit --py-files mdcal.zip jobs/audit_job.py \
        --input lake.db.documents --group-col source \
        [--output lake.db.documents_audit]

Runs operators/audit.py:corpus_audit — every health metric (doc counts,
emptiness, exact-dup rate, size totals/extremes, token mass) in ONE
aggregate over ONE scan. Prints the GLOBAL audit as one JSON line (the
operational heartbeat a scheduler can alert on); with --group-col the
per-group breakdown is printed as JSON lines too (bounded by group
cardinality) and, with --output, written as a table. At 100 TB the
metric count is free; the scan count is the bill — this job costs one
scan per invocation (two with --group-col: one global, one grouped).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True)
    p.add_argument("--output", default=None,
                   help="optional table/path for the per-group breakdown")
    p.add_argument("--group-col", default=None,
                   help="per-group breakdown column (e.g. source, lang)")
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)
    if args.output and not args.group_col:
        p.error("--output requires --group-col (the global audit is one "
                "row; it is printed, not written)")

    from modern_document_converter_for_ai_library_spark.operators.audit import corpus_audit
    from modern_document_converter_for_ai_library_spark.plans import job_session
    from modern_document_converter_for_ai_library_spark.sources.catalog import (
        read_documents,
        write_documents,
    )

    with job_session("mdcal-audit", master=args.master) as spark:
        docs = read_documents(spark, args.input)
        glob = corpus_audit(
            docs, text_col=args.text_col, id_col=args.id_col
        ).collect()[0]
        print(json.dumps({"scope": "global", **glob.asDict()}))
        if args.group_col:
            grouped = corpus_audit(
                docs,
                text_col=args.text_col,
                id_col=args.id_col,
                group_col=args.group_col,
            )
            if args.output:
                write_documents(grouped, args.output, mode="overwrite")
            for r in grouped.orderBy(args.group_col).collect():
                print(json.dumps({"scope": args.group_col, **r.asDict()}))
        return 0


if __name__ == "__main__":
    sys.exit(main())
