#!/usr/bin/env python3
"""spark-submit entry point for link-graph signals (training-data tier).

Usage (cluster):

    zip -r mdcal.zip modern_document_converter_for_ai_library_spark
    spark-submit --py-files mdcal.zip jobs/graph_job.py \
        --edges lake.db.links --ranks lake.db.pagerank \
        --degrees lake.db.link_degrees --iterations 3 --damping 0.85

Inputs:
    --edges    table/path with (src, dst) link rows (column names
               overridable via --src-col/--dst-col); an optional
               --anchor-col enables the anchor rollup output
    --nodes    optional node-universe table (--node-col, default "node");
               defaults to the distinct edge endpoints. Pass the corpus id
               projection when isolated documents must be ranked too.

Outputs (any subset; at least one):
    --ranks    (node, rank_micros) — fixed-iteration exact-integer
               PageRank (operators/graph.py:pagerank)
    --degrees  (node, outdeg, indeg, n_reciprocal)
    --anchors  (dst, n_inlinks, n_anchors, top_anchor, top_anchor_count)

Edges are normalized first (self-loops dropped, duplicates collapsed)
unless --no-normalize is given (pass it when the upstream extractor
already guarantees a clean edge set — saves one distinct shuffle).
Targets accept Iceberg identifiers or parquet paths (sources/catalog.py).
The job prints one JSON line with graph-shape stats.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--edges", required=True)
    p.add_argument("--nodes", default=None, help="optional node universe table")
    p.add_argument("--ranks", default=None, help="PageRank output target")
    p.add_argument("--degrees", default=None, help="degree-stats output target")
    p.add_argument("--anchors", default=None, help="anchor-rollup output target")
    p.add_argument("--iterations", type=int, default=3)
    p.add_argument("--damping", type=float, default=0.85)
    p.add_argument("--src-col", default="src")
    p.add_argument("--dst-col", default="dst")
    p.add_argument("--node-col", default="node")
    p.add_argument("--anchor-col", default=None,
                   help="anchor-text column on the edge table (required "
                        "for --anchors)")
    p.add_argument("--no-normalize", action="store_true",
                   help="skip the distinct + self-loop-drop pass")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)
    if not (args.ranks or args.degrees or args.anchors):
        p.error("need at least one of --ranks / --degrees / --anchors")
    if args.anchors and not args.anchor_col:
        p.error("--anchors requires --anchor-col")

    from pyspark.sql import functions as F

    from modern_document_converter_for_ai_library_spark.operators.graph import (
        anchor_rollup,
        degree_stats,
        pagerank,
    )
    from modern_document_converter_for_ai_library_spark.plans import job_session
    from modern_document_converter_for_ai_library_spark.plans.caching import (
        CacheScope,
    )
    from modern_document_converter_for_ai_library_spark.sources.catalog import (
        read_documents,
        write_documents,
    )

    from pyspark.sql import types as T

    with job_session("mdcal-graph", master=args.master) as spark:
        raw = read_documents(spark, args.edges)
        # fail fast on non-numeric id columns: casting a URL-string src to
        # bigint yields NULL for every row and the job would "succeed" with an
        # empty graph — a schema check is free and catches it before any scan
        for col in (args.src_col, args.dst_col):
            if not isinstance(raw.schema[col].dataType, T.NumericType):
                p.error(
                    f"edge column {col!r} has type "
                    f"{raw.schema[col].dataType.simpleString()}; node ids must "
                    "be numeric (map string ids to hashes upstream)"
                )
        sel = [
            F.col(args.src_col).cast("bigint").alias("src"),
            F.col(args.dst_col).cast("bigint").alias("dst"),
        ]
        if args.anchor_col:
            sel.append(F.col(args.anchor_col).alias("anchor"))
        edges_full = raw.select(*sel)

        stats: dict = {"outputs": []}
        with CacheScope() as scope:
            ea = None
            if args.no_normalize:
                edges = edges_full.select("src", "dst")
                ea = edges_full
            elif args.anchor_col:
                # ONE normalization pass serves both frames: the per-(src, dst)
                # min-anchor aggregate dedups pairs and drops self-loops, and
                # its (src, dst) projection IS the normalized edge set
                ea = (
                    edges_full.filter(F.col("src") != F.col("dst"))
                    .groupBy("src", "dst")
                    .agg(F.min("anchor").alias("anchor"))
                )
                edges = ea.select("src", "dst")
            else:
                edges = (
                    edges_full.select("src", "dst")
                    .filter(F.col("src") != F.col("dst"))
                    .distinct()
                )
            # the edge set feeds up to three outputs plus the count stat —
            # cache it once, released by the scope after all actions
            edges = scope.persist(edges)

            if args.nodes:
                nodes = read_documents(spark, args.nodes).select(
                    F.col(args.node_col).cast("bigint").alias("node")
                )
            else:
                nodes = (
                    edges.select(F.col("src").alias("node"))
                    .union(edges.select(F.col("dst").alias("node")))
                    .distinct()
                )

            if args.ranks:
                ranks = pagerank(
                    nodes,
                    edges,
                    n_iter=args.iterations,
                    damping_micros=int(round(args.damping * 1_000_000)),
                    cache_scope=scope,
                )
                write_documents(ranks, args.ranks, mode="overwrite")
                stats["outputs"].append("ranks")
                stats["iterations"] = args.iterations
            if args.degrees:
                write_documents(degree_stats(edges), args.degrees, mode="overwrite")
                stats["outputs"].append("degrees")
            if args.anchors:
                write_documents(anchor_rollup(ea), args.anchors, mode="overwrite")
                stats["outputs"].append("anchors")
            stats["n_edges"] = edges.count()
            stats["n_nodes"] = nodes.count()
        print(json.dumps(stats))
        return 0


if __name__ == "__main__":
    sys.exit(main())
