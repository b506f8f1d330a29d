#!/usr/bin/env python3
"""spark-submit entry point for the full web-extraction pipeline — the
north-star path in one job:

    WARC shards (or an HTML table)            sources/warc.py | catalog
      -> Boilerpipe-style boilerplate strip   operators/boilerplate.py
         (map-only kernel mode)
      -> span shaping                         sources/io.py:flat_to_spans
      -> resumable convert with per-partition operators/manifest.py
         lineage manifests

Usage (cluster):

    zip -r mdcal.zip modern_document_converter_for_ai_library_spark
    spark-submit --py-files mdcal.zip jobs/web_extract_job.py \
        --input s3://crawl/segments --input-format warc \
        --output lake.db.documents_clean --snapshot <crawl-id> \
        --classifier density

Re-running resumes idempotently: cleaned content is hashed into the span
identity, so only NEW/MODIFIED pages convert on a re-run (anti-join against
the output table). One JSON line is printed with run/pending/written counts.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="WARC directory or html table")
    p.add_argument(
        "--input-format",
        choices=["warc", "html"],
        default="warc",
        help="warc: binaryFile shards; html: table with (doc_id, html)",
    )
    p.add_argument("--output", required=True)
    p.add_argument("--manifest", default=None)
    p.add_argument("--snapshot", default="", help="crawl/snapshot id for lineage")
    p.add_argument(
        "--classifier",
        choices=["num_words", "density"],
        default="num_words",
        help="boilerplate decision tree (WSDM-2010 NumWordsRules / DensityRules)",
    )
    p.add_argument("--min-content-words", type=int, default=5,
                   help="drop pages whose surviving content is shorter")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    from pyspark.sql import functions as F

    from modern_document_converter_for_ai_library_spark.operators.boilerplate import (
        strip_boilerplate_html,
    )
    from modern_document_converter_for_ai_library_spark.operators.manifest import (
        run_resumable_convert,
    )
    from modern_document_converter_for_ai_library_spark.plans import job_session
    from modern_document_converter_for_ai_library_spark.sources.catalog import (
        read_documents,
    )
    from modern_document_converter_for_ai_library_spark.sources.io import (
        flat_to_spans,
    )
    from modern_document_converter_for_ai_library_spark.sources.warc import (
        read_warc_content,
    )

    with job_session("mdcal-web-extract", master=args.master) as spark:
        if args.input_format == "warc":
            # fused framing+strip: one Arrow stage, raw HTML never crosses
            # the JVM<->Python boundary twice (sources/warc.py)
            content = read_warc_content(
                spark, args.input, classifier=args.classifier
            )
        else:
            pages = read_documents(spark, args.input)
            content = strip_boilerplate_html(pages, classifier=args.classifier)
        kept = content.filter(
            F.size(F.split(F.trim(F.col("content_text")), r"\s+"))
            >= args.min_content_words
        )
        spans = flat_to_spans(
            kept.select("doc_id", F.col("content_text").alias("text"))
        ).withColumn("source_file", F.concat("doc_id", F.lit(".html")))
        result = run_resumable_convert(
            spark,
            spans.select("doc_id", "source_file", "spans"),
            args.output,
            args.manifest,
            input_snapshot=args.snapshot,
        )
        print(json.dumps(result))
        return 0


if __name__ == "__main__":
    sys.exit(main())
