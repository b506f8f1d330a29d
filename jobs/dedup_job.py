#!/usr/bin/env python3
"""spark-submit entry point for corpus deduplication (training-data tier).

Usage (cluster):

    zip -r mdcal.zip modern_document_converter_for_ai_library_spark
    spark-submit --py-files mdcal.zip jobs/dedup_job.py \
        --input lake.db.documents --output lake.db.documents_dedup \
        --dupmap lake.db.duplicate_map --tier near --threshold 0.8

Tiers:
    exact        md5 content grouping (one shuffle)
    near         MinHash -> banded LSH -> exact-Jaccard verify -> connected
                 components (operators/dedup.py:near_dedup)
    semantic     SemDeDup (operators/semdedup.py): k-means cells + per-cell
                 cosine sweep over an embedding column; --threshold is the
                 cosine cutoff; embeddings come from --embeddings (a table
                 sharing --id-col) or from --vec-col on the input itself
    incremental  dedup an INGEST BATCH (--input) against an existing
                 corpus (--base) plus itself without ever generating
                 base-vs-base pairs (operators/dedup.py:
                 near_dedup_incremental). With --band-index TARGET the
                 job reads the corpus' stored LSH index (slim
                 (id, band_0..band_15) rows, operators/dedup.py:
                 band_index) instead of re-shingling the base text, and
                 APPENDS the batch survivors' rows to it afterwards — the
                 continuous-ingest cycle: each run consumes index_t and
                 leaves index_{t+1}. A missing index target bootstraps
                 from --base (first ingest); any other read error
                 propagates.

Outputs:
    --output   the SURVIVORS (canonical docs only) — the deduplicated corpus
    --dupmap   exact/near: (doc_id, canonical_doc_id, is_duplicate) for every
               input doc; semantic: (doc_id, cell, kept) — SemDeDup picks a
               per-cell representative rather than a canonical id

With --keep-best-col SCORE (near tier), the survivor of each duplicate
cluster is its highest-SCORE member (ties -> min id) instead of the min-id
canonical (operators/dedup.py:select_representatives); the dupmap then also
carries representative_doc_id.

Input/output targets accept Iceberg identifiers or parquet paths
(sources/catalog.py). The job prints one JSON line with corpus/survivor
counts and the duplicate rate.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True, help="deduplicated survivors")
    p.add_argument("--dupmap", default=None, help="doc->canonical map table")
    p.add_argument("--tier",
                   choices=["exact", "near", "semantic", "incremental"],
                   default="near")
    p.add_argument("--base", default=None,
                   help="incremental tier: the existing (already-deduped) "
                        "corpus the batch dedups against")
    p.add_argument("--band-index", default=None,
                   help="incremental tier: stored LSH band-index target "
                        "(read if present, bootstrapped from --base if "
                        "missing; batch survivors' rows appended after)")
    p.add_argument("--prune", choices=["broadcast", "shuffle"],
                   default="broadcast",
                   help="incremental tier: base-side touched-bucket prune "
                        "strategy — broadcast while 16 x batch band keys "
                        "fit a broadcast (~<= 1M-doc batches), shuffle for "
                        "larger batches (identical output, unpruned-plan "
                        "cost)")
    p.add_argument("--threshold", type=float, default=0.8,
                   help="near: Jaccard threshold; semantic: cosine cutoff")
    p.add_argument("--n-bands", type=int, default=2)
    p.add_argument("--band-rows", type=int, default=2)
    p.add_argument("--max-bucket-size", type=int, default=100_000,
                   help="LSH bucket skew cap (dropped buckets audited)")
    p.add_argument("--embeddings", default=None,
                   help="semantic tier: embeddings table (defaults to the "
                        "input itself carrying --vec-col)")
    p.add_argument("--vec-col", default="embedding")
    p.add_argument("--n-centroids", type=int, default=16,
                   help="semantic tier: k-means cells; scale with corpus "
                        "size (target cells under --max-cell-size, e.g. "
                        "n_docs/50k) or the sweep skips oversized cells — "
                        "see oversized_cells in the job's JSON output")
    p.add_argument("--lloyd-iterations", type=int, default=2)
    p.add_argument("--lloyd-sample-mod", type=int, default=None)
    p.add_argument("--max-cell-size", type=int, default=100_000,
                   help="semantic tier: cell skew cap (oversized cells "
                        "kept wholesale, auditable)")
    p.add_argument("--keep-best-col", default=None,
                   help="near tier: numeric per-doc score column on the "
                        "input; keep the HIGHEST-scoring member of each "
                        "duplicate cluster (ties -> min id) instead of the "
                        "min-id canonical "
                        "(operators/dedup.py:select_representatives)")
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)
    if args.keep_best_col and args.tier != "near":
        p.error("--keep-best-col requires --tier near")
    if args.tier == "incremental" and not args.base:
        p.error("--tier incremental requires --base")
    if args.band_index and args.tier != "incremental":
        p.error("--band-index requires --tier incremental")

    from pyspark.sql import functions as F

    from modern_document_converter_for_ai_library_spark.operators.dedup import (
        exact_dedup,
        near_dedup,
    )
    from modern_document_converter_for_ai_library_spark.plans import job_session
    from modern_document_converter_for_ai_library_spark.sources.catalog import (
        read_documents,
        write_documents,
    )

    with job_session(f"mdcal-dedup-{args.tier}", master=args.master) as spark:
        docs = read_documents(spark, args.input)
        if args.tier == "exact":
            marked = exact_dedup(docs, text_col=args.text_col, id_col=args.id_col)
            dup_col = "is_duplicate"
        elif args.tier == "semantic":
            from modern_document_converter_for_ai_library_spark.operators.semdedup import (
                semantic_dedup,
            )

            emb = (
                read_documents(spark, args.embeddings)
                if args.embeddings
                else docs
            )
            verdicts = semantic_dedup(
                emb,
                n_centroids=args.n_centroids,
                threshold=args.threshold,
                lloyd_iterations=args.lloyd_iterations,
                lloyd_sample_mod=args.lloyd_sample_mod,
                max_cell_size=args.max_cell_size,
                id_col=args.id_col,
                vec_col=args.vec_col,
            )
            # LEFT join: documents with no embedding row were never judged
            # and must survive (and be counted) — an inner join would
            # silently drop them from survivors, dupmap, and the rate's
            # denominator. Unjudged rows keep cell = null.
            marked = docs.join(
                verdicts.select(
                    args.id_col, "cell", (~F.col("kept")).alias("is_semantic_duplicate")
                ),
                on=args.id_col,
                how="left",
            ).fillna({"is_semantic_duplicate": False})
            dup_col = "is_semantic_duplicate"
        elif args.tier == "incremental":
            from pyspark.errors import AnalysisException

            from modern_document_converter_for_ai_library_spark.operators.dedup import (
                band_index,
                near_dedup_incremental,
            )

            base = read_documents(spark, args.base)
            base_bands = None
            index_bootstrapped = False
            if args.band_index:
                try:
                    base_bands = read_documents(spark, args.band_index)
                except AnalysisException as e:
                    # Only a genuinely-missing target bootstraps from the
                    # base text; misconfiguration/transient errors propagate
                    # (the resume_pending pattern, ADVICE r2).
                    from modern_document_converter_for_ai_library_spark.sources.catalog import (
                        is_missing_target_error,
                    )

                    if not is_missing_target_error(e):
                        raise
                    index_bootstrapped = True
                    # bootstrap: band the base ONCE, persisted — the same
                    # frame serves the dedup pass (base_bands) and the
                    # index write below, instead of running the
                    # 128-permutation minhash over the whole base twice
                    # on exactly the run where base is the entire corpus
                    base_bands = band_index(
                        base.select(args.id_col, args.text_col),
                        text_col=args.text_col,
                        id_col=args.id_col,
                    ).persist()
            marked = near_dedup_incremental(
                docs,
                base,
                text_col=args.text_col,
                id_col=args.id_col,
                threshold_micros=int(args.threshold * 1_000_000),
                max_bucket_size=args.max_bucket_size,
                base_bands=base_bands,
                prune=args.prune,
            )
            dup_col = "is_near_duplicate"
        else:
            marked = near_dedup(
                docs,
                text_col=args.text_col,
                id_col=args.id_col,
                threshold_micros=int(args.threshold * 1_000_000),
                n_bands=args.n_bands,
                band_rows=args.band_rows,
                max_bucket_size=args.max_bucket_size,
            )
            dup_col = "is_near_duplicate"
            if args.keep_best_col:
                from modern_document_converter_for_ai_library_spark.operators.dedup import (
                    select_representatives,
                )

                # the selection's extra input consumers are column-pruned
                # re-scans over the checkpoint-truncated near_dedup output
                # — measured within run noise of the plain job at 500k
                # docs (BENCH/BASELINE.md, "Operator suite"), so no extra persist
                # here; the shared post-selection persist below covers the
                # job's multiple output actions.
                # re-derive the drop flag from the score-argmax keeper so
                # the survivor filter below stays uniform across tiers
                marked = select_representatives(
                    marked, args.keep_best_col, id_col=args.id_col
                ).withColumn(dup_col, ~F.col("keep"))
        marked = marked.persist()
        survivors = marked.filter(~F.col(dup_col)).drop(
            "canonical_doc_id", "representative_doc_id", "keep", "cell",
            dup_col,
        )
        write_documents(survivors, args.output, mode="overwrite")
        if args.tier == "incremental" and args.band_index:
            # band_index was imported by the tier branch above (the
            # validation at parse time guarantees tier == incremental here).
            # Band the survivors from the file JUST WRITTEN (args.output),
            # not from `marked`'s lineage: that lineage reads the CURRENT
            # index (base_bands), so appending to the same index from a
            # plan that can recompute (cache eviction, executor loss)
            # would be a self-referential write — the in-place
            # read-while-write hazard the compaction module bans. The
            # read-back severs the lineage at a durable file.
            new_rows = band_index(
                read_documents(spark, args.output).select(
                    args.id_col, args.text_col
                ),
                text_col=args.text_col,
                id_col=args.id_col,
            )
            if index_bootstrapped:
                # first ingest: the full index = the base bands computed
                # (and persisted) above + the batch survivors' rows
                write_documents(
                    base_bands.unionByName(new_rows),
                    args.band_index, mode="overwrite",
                )
                base_bands.unpersist()
            else:
                # per-doc rows compose, so maintenance is a pure append of
                # the batch survivors' rows (index(base ∪ batch) ==
                # index(base) ∪ index(batch)). Appends are NOT idempotent
                # on re-run — gate re-runs with the manifest protocol.
                write_documents(new_rows, args.band_index, mode="append")
        if args.dupmap:
            if args.tier == "semantic":
                dupmap = marked.select(
                    args.id_col, "cell", (~F.col(dup_col)).alias("kept")
                )
            else:
                cols = [args.id_col, "canonical_doc_id"]
                if args.keep_best_col:
                    cols.append("representative_doc_id")
                dupmap = marked.select(*cols, F.col(dup_col))
            write_documents(dupmap, args.dupmap, mode="overwrite")
        n_total = marked.count()
        n_survivors = survivors.count()
        stats = {
            "tier": args.tier,
            "n_docs": n_total,
            "n_survivors": n_survivors,
            "duplicate_rate": round(1 - n_survivors / max(n_total, 1), 6),
        }
        if args.keep_best_col:
            stats["keep"] = f"best:{args.keep_best_col}"
        if args.tier == "incremental" and args.band_index:
            stats["band_index"] = (
                "bootstrapped" if index_bootstrapped else "appended"
            )
        if args.tier == "semantic":
            # surface the two silent-no-op modes: cells over the skew cap
            # are kept wholesale (sweep skipped), and documents without an
            # embedding row are never judged — a run where these dominate
            # did not actually deduplicate anything
            over = (
                marked.filter(F.col("cell").isNotNull())
                .groupBy("cell")
                .agg(F.count("*").alias("n"))
                .filter(F.col("n") > args.max_cell_size)
                .agg(
                    F.count("*").alias("cells"),
                    F.coalesce(F.sum("n"), F.lit(0)).alias("docs"),
                )
                .collect()[0]
            )
            stats["oversized_cells"] = int(over["cells"])
            stats["docs_in_oversized_cells"] = int(over["docs"])
            stats["n_unjudged"] = marked.filter(
                F.col("cell").isNull()
            ).count()
        marked.unpersist()
        print(json.dumps(stats))
        return 0


if __name__ == "__main__":
    sys.exit(main())
