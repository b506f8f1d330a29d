#!/usr/bin/env python3
"""spark-submit entry point for corpus mixing (training-data tier).

Usage (cluster):

    zip -r mdcal.zip modern_document_converter_for_ai_library_spark
    spark-submit --py-files mdcal.zip jobs/mix_job.py \
        --input lake.db.documents --output lake.db.documents_mixed \
        --mode budget --spec "web=2000000000,code=500000000" --default 0

Modes (operators/sampling.py — all deterministic pure functions of
(doc_id, salt), reproducible on any engine / partitioning / cluster size):

    rate    hash-threshold stratified sampling; spec values are rates in
            MICROS of probability (600000 = keep ~60% of the source)
    budget  token-budget prefix: keep each source's docs in hash-priority
            order until the source's token budget fills (spec values are
            token budgets)
    epochs  budget with UPSAMPLING: budgets above a source's token mass
            emit full repeat epochs + a prefix remainder; output rows are
            per emitted COPY with an `epoch` column
    temperature  share_i ∝ mass_i^alpha rebalancing (--alpha 1|1/2|1/4,
            --target-total docs, --mass docs|tokens): rare sources are
            upweighted toward uniform as alpha drops; no --spec needed —
            rates derive from the corpus itself (exact integer roots)
    shuffle deterministic global training-order shuffle: graft a
            `shuffle_rank` column (exact 0-based position in the seeded
            (60-bit hash, id) permutation —
            operators/sampling.py:corpus_shuffle);
            --salt picks the permutation (a new salt = a new epoch order);
            a pre-existing shuffle_rank column is replaced
    shard   terminal storage layout: assign every document to a fixed-
            token-mass shard (--shard-tokens) by start offset in the
            canonical hash-priority order and write the corpus
            PARTITIONED BY (key, shard_id), one file per directory —
            shard ids are per key, so the key must be part of the
            physical layout or one directory would pool shard 0 of every
            source — plus a per-shard manifest table at --manifest
            (default <output>_manifest); a pre-existing shard_id column
            is replaced

Every mode writes through operators/sampling.py:write_training_layout:
shuffle and shard are its layouts of the whole input (the curate_job
terminal stage run alone), the sampling modes its plain write. The
accounting is one aggregate (over the manifest for shard).

Input/output targets accept Iceberg identifiers or parquet paths
(sources/catalog.py). The job prints one JSON line with document/token
accounting per run.
"""

from __future__ import annotations

import argparse
import json
import sys

from modern_document_converter_for_ai_library_spark.operators.sampling import (
    parse_spec,
)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True, help="the mixed corpus")
    p.add_argument("--mode",
                   choices=["rate", "budget", "epochs", "shard",
                            "temperature", "shuffle"],
                   default="budget")
    p.add_argument("--alpha", choices=["1", "1/2", "1/4"], default="1/2",
                   help="temperature mode: share exponent")
    p.add_argument("--target-total", type=int, default=0,
                   help="temperature mode: total kept mass to aim for")
    p.add_argument("--mass", choices=["docs", "tokens"], default="docs",
                   help="temperature mode: source mass measure")
    p.add_argument("--shard-tokens", type=int, default=0,
                   help="shard mode: target token mass per shard")
    p.add_argument("--manifest", default=None,
                   help="shard mode: manifest target "
                        "(default <output>_manifest for path targets)")
    p.add_argument("--spec", default="",
                   help="per-source values: 'key=value,key=value' "
                        "(rate: micros; budget/epochs: token budgets)")
    p.add_argument("--default", type=int, default=0,
                   help="value for sources absent from --spec")
    p.add_argument("--salt", default="",
                   help="decorrelates independent samples of one corpus")
    p.add_argument("--key-col", default="source")
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    spec = parse_spec(args.spec)
    if args.mode == "temperature" and args.target_total <= 0:
        raise SystemExit("--mode temperature requires --target-total > 0")
    if args.mode == "shard" and args.shard_tokens <= 0:
        raise SystemExit("--mode shard requires --shard-tokens > 0")

    from pyspark.sql import functions as F

    from modern_document_converter_for_ai_library_spark.operators.sampling import (
        budget_sample,
        epoch_budget_sample,
        stratified_sample,
        write_training_layout,
    )
    from modern_document_converter_for_ai_library_spark.plans import job_session
    from modern_document_converter_for_ai_library_spark.sources.catalog import (
        read_documents,
    )

    with job_session(f"mdcal-mix-{args.mode}", master=args.master) as spark:
        docs = read_documents(spark, args.input)
        common = dict(
            key_col=args.key_col, id_col=args.id_col, salt=args.salt
        )
        if args.mode == "temperature":
            from modern_document_converter_for_ai_library_spark.operators.sampling import (
                temperature_sample,
            )
            from modern_document_converter_for_ai_library_spark.functions.hashing import (
                tokens_col,
            )

            base = docs
            mass_col = None
            if args.mass == "tokens":
                base = docs.withColumn(
                    "_n_tokens", F.size(tokens_col(args.text_col))
                )
                mass_col = "_n_tokens"
            marked = temperature_sample(
                base,
                source_col=args.key_col,
                alpha=args.alpha,
                target_total=args.target_total,
                id_col=args.id_col,
                salt=args.salt,
                mass_col=mass_col,
            )
            kept = marked.filter("sampled").drop(
                "hash_micros", "sampled", "rate_micros", "_n_tokens"
            )
        elif args.mode == "rate":
            marked = stratified_sample(
                docs, spec, default_micros=args.default, **common
            )
            kept = marked.filter("sampled").drop("hash_micros", "sampled")
        elif args.mode == "budget":
            kept = (
                budget_sample(
                    docs, spec, text_col=args.text_col,
                    default_budget=args.default, **common
                )
                .filter("kept")
                .select(docs.columns)
            )
        elif args.mode == "epochs":  # one output row per emitted COPY
            kept = epoch_budget_sample(
                docs, spec, text_col=args.text_col,
                default_budget=args.default, **common
            ).select(*docs.drop("epoch").columns, "epoch")
        else:  # shuffle / shard: the terminal layout of the whole input
            kept = docs
        kept = kept.persist()
        layout = write_training_layout(
            kept,
            args.output,
            shard_tokens=args.shard_tokens if args.mode == "shard" else 0,
            shuffle_salt=args.salt if args.mode == "shuffle" else None,
            text_col=args.text_col,
            manifest=args.manifest,
            **common,
        )
        n_out = layout["n_docs"]
        rep = {
            "mode": args.mode,
            "n_docs_in": (
                n_out if args.mode in ("shuffle", "shard") else docs.count()
            ),
            "n_rows_out": n_out,
            **layout,
        }
        if args.mode == "shuffle":
            rep.update(salt=args.salt, max_rank=n_out - 1)
        print(json.dumps(rep))
        kept.unpersist()
        return 0


if __name__ == "__main__":
    sys.exit(main())
