#!/usr/bin/env python3
"""spark-submit entry point for the ANN serving layout (IVF-PQ).

Usage (cluster):

    zip -r mdcal.zip modern_document_converter_for_ai_library_spark
    # build the serving index once per corpus snapshot
    spark-submit --py-files mdcal.zip jobs/ann_job.py --mode build \
        --input lake.db.embeddings --index /lake/ann_index \
        --n-centroids 256 --pq-m 16 --pq-codes 64
    # serve a batch of queries against it
    spark-submit --py-files mdcal.zip jobs/ann_job.py --mode query \
        --input lake.db.embeddings --index /lake/ann_index \
        --queries lake.db.query_vectors --output lake.db.ann_results \
        --k 10 --n-probe 8 --shortlist 100

``build`` materializes the four serving tables under the ``--index``
prefix (path targets join with '/', Iceberg identifiers with '_'):

    assigned   (vec_id, cell)            IVF coarse cells
    centroids  (cell, cvec)              coarse quantizer (K rows)
    encoded    (vec_id, codes)           PQ codes (m bytes/vector payload)
    codebook   (sub, code, cvec)         PQ codebooks (m x n_codes rows)
    meta       (m, n_codes, dim, n_centroids)  build-time knobs, 1 row

``query`` reads the geometry knobs (m, dim) FROM the meta table — never
from its own CLI — so a query can never silently run with a subspace
layout that differs from the build (mismatched m would shred the ADC
joins into garbage distances that still look like results).

``query`` runs operators/pq.py:ivf_pq_search — coarse cells bound the
candidate set, PQ codes bound the bytes per candidate, the exact rescore
bounds the error — and writes (query_id, vec_id, dist, rank). The full
corpus (--input) is read only for the shortlist rescore (a selective
equi-join). Both modes print one JSON line of stats. Everything is
integer-exact and deterministic, matching the oracled q_ivfpq_topk
semantics at the chosen knobs.
"""

from __future__ import annotations

import argparse
import json
import sys


def _sub(index: str, name: str) -> str:
    from modern_document_converter_for_ai_library_spark.sources.catalog import is_table_identifier

    return f"{index}_{name}" if is_table_identifier(index) else f"{index.rstrip('/')}/{name}"


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--mode", choices=["build", "query"], required=True)
    p.add_argument("--input", required=True, help="corpus embeddings table")
    p.add_argument("--index", required=True,
                   help="serving-table prefix (path or Iceberg identifier)")
    p.add_argument("--queries", default=None, help="query vectors table")
    p.add_argument("--output", default=None, help="query results table")
    p.add_argument("--id-col", default="vec_id")
    p.add_argument("--vec-col", default="embedding")
    p.add_argument("--dim", type=int, default=64)
    p.add_argument("--n-centroids", type=int, default=16)
    p.add_argument("--lloyd-iterations", type=int, default=2)
    p.add_argument("--lloyd-sample-mod", type=int, default=5)
    p.add_argument("--pq-m", type=int, default=16)
    p.add_argument("--pq-codes", type=int, default=64)
    p.add_argument("--pq-lloyd", type=int, default=2)
    p.add_argument("--k", type=int, default=10)
    p.add_argument("--n-probe", type=int, default=8)
    p.add_argument("--shortlist", type=int, default=100)
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)
    if args.mode == "query" and not (args.queries and args.output):
        p.error("--mode query requires --queries and --output")

    from modern_document_converter_for_ai_library_spark.plans import job_session
    from modern_document_converter_for_ai_library_spark.sources.catalog import (
        read_documents,
        write_documents,
    )

    with job_session(f"mdcal-ann-{args.mode}", master=args.master) as spark:
        corpus = read_documents(spark, args.input)
        if args.mode == "build":
            from modern_document_converter_for_ai_library_spark.operators.pq import pq_build
            from modern_document_converter_for_ai_library_spark.operators.similarity import ivf_build
            from modern_document_converter_for_ai_library_spark.plans.caching import CacheScope

            with CacheScope() as scope:
                assigned, centroids = ivf_build(
                    corpus,
                    n_centroids=args.n_centroids,
                    id_col=args.id_col,
                    vec_col=args.vec_col,
                    lloyd_iterations=args.lloyd_iterations,
                    lloyd_sample_mod=args.lloyd_sample_mod,
                    cache_scope=scope,
                )
                encoded, codebook = pq_build(
                    corpus,
                    m=args.pq_m,
                    n_codes=args.pq_codes,
                    dim=args.dim,
                    lloyd_iterations=args.pq_lloyd,
                    id_col=args.id_col,
                    vec_col=args.vec_col,
                    cache_scope=scope,
                )
                write_documents(
                    assigned.select(args.id_col, "cell"),
                    _sub(args.index, "assigned"), mode="overwrite",
                )
                write_documents(centroids, _sub(args.index, "centroids"),
                                mode="overwrite")
                write_documents(encoded, _sub(args.index, "encoded"),
                                mode="overwrite")
                write_documents(codebook, _sub(args.index, "codebook"),
                                mode="overwrite")
                meta = spark.createDataFrame(
                    [(args.pq_m, args.pq_codes, args.dim,
                      args.n_centroids)],
                    "m int, n_codes int, dim int, n_centroids int",
                )
                write_documents(meta, _sub(args.index, "meta"),
                                mode="overwrite")
            # count the slim assigned table (1 row/vector), not the full
            # corpus — the caches are released and a corpus.count() here
            # would re-scan the entire embeddings table for a stats line
            n = read_documents(spark, _sub(args.index, "assigned")).count()
            print(json.dumps({
                "mode": "build", "n_vectors": n,
                "n_centroids": args.n_centroids,
                "pq": {"m": args.pq_m, "n_codes": args.pq_codes},
                "payload_bytes_per_vector": args.pq_m,
            }))
        else:
            from modern_document_converter_for_ai_library_spark.operators.pq import ivf_pq_search

            queries = read_documents(spark, args.queries)
            try:
                meta = read_documents(spark, _sub(args.index, "meta")).collect()[0]
            except Exception as e:
                raise SystemExit(
                    f"cannot read the index meta table under {args.index!r} "
                    f"({e}); rebuild the index with --mode build"
                )
            m, dim = int(meta["m"]), int(meta["dim"])
            out = ivf_pq_search(
                read_documents(spark, _sub(args.index, "assigned")),
                read_documents(spark, _sub(args.index, "centroids")),
                read_documents(spark, _sub(args.index, "encoded")),
                read_documents(spark, _sub(args.index, "codebook")),
                corpus,
                queries,
                k=args.k,
                n_probe=args.n_probe,
                shortlist=args.shortlist,
                m=m,
                dim=dim,
                id_col=args.id_col,
                vec_col=args.vec_col,
            )
            write_documents(out, args.output, mode="overwrite")
            n_q = queries.count()
            n_res = read_documents(spark, args.output).count()
            print(json.dumps({
                "mode": "query", "n_queries": n_q, "n_results": n_res,
                "k": args.k, "n_probe": args.n_probe,
                "shortlist": args.shortlist, "m": m, "dim": dim,
            }))
        return 0


if __name__ == "__main__":
    sys.exit(main())
