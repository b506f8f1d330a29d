#!/usr/bin/env python3
"""spark-submit entry point for END-TO-END corpus curation — the whole
training-data funnel as one job, chaining the repo's oracled operators
in the canonical order a DataComp/RefinedWeb-style pipeline runs them:

    quality      Gopher + repetition + language gates, first-failed-rule
                 attribution (operators/quality.py:quality_funnel)
    exact        content-hash dedup, keep one copy (dedup.py:exact_dedup)
    near         MinHash/LSH near-dedup, connected-component canonical
                 survivors (dedup.py:near_dedup)
    substr       duplicated-SPAN excision at any alignment — rewrites
                 text, drops docs left empty (ExactSubstr, Lee et al.
                 2022; dedup.py:exact_substring_removal); opt-in via
                 --substr-n > 0
    decontaminate 13-gram benchmark-overlap removal when --benchmark is
                 given (dedup.py:decontaminate)
    mix          token-budget mixing when --mix-spec is given
                 (sampling.py:budget_sample)
    shuffle      seeded global training-order shuffle when
                 --shuffle-salt is given (sampling.py:corpus_shuffle) —
                 without it, shard interiors are single-source
                 sampler-order runs: correlated adjacent training
                 batches
    shard        fixed-token-mass training shards + manifest when
                 --shard-tokens > 0 (sampling.py:shard_assign/manifest,
                 partitioned by (key, shard_id)); with --shuffle-salt
                 too, the shuffle and the token cumsum fuse into ONE
                 bucketed pass (sampling.py:shuffled_shard_assign/
                 manifest) written as computed, partitioned by shard_id:
                 shards are prefixes of the shuffled order

Every stage is deterministic (pure function of row values + salt), so
the whole funnel is reproducible on any cluster size or partitioning.
Stages are individually skippable; each enabled stage up to mix
persists its survivor frame, counts it for the accounting line, and
unpersists its predecessor — peak executor storage is two adjacent stage
frames, never the whole chain. shuffle and shard are the terminal
layout: one call to sampling.py:write_training_layout writes the output
(and manifest) from the last persisted frame and returns the token and
shard accounting from one aggregate (over the manifest when sharded),
not from another pass over the corpus.

Usage (cluster):

    zip -r mdcal.zip modern_document_converter_for_ai_library_spark
    spark-submit --py-files mdcal.zip jobs/curate_job.py \
        --input lake.db.documents_raw --output lake.db.documents_train \
        --benchmark lake.db.eval_docs \
        --mix-spec "web=2000000000,code=500000000" \
        --shard-tokens 100000000

Input/output targets accept Iceberg identifiers or parquet paths
(sources/catalog.py). The job prints ONE JSON line: per-stage in/out
document counts (plus first-failed-rule attribution for the quality
stage and removed-token mass for substr), final token mass, and the
output/manifest targets.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--skip-quality", action="store_true")
    p.add_argument("--skip-exact", action="store_true")
    p.add_argument("--classifier-seed", default=None,
                   help="labeled seed table/path (text + label in +1/-1) "
                        "for the learned-filter stage: trains the "
                        "full-batch perceptron on the seed, scores the "
                        "corpus, drops docs below --classifier-threshold")
    p.add_argument("--classifier-epochs", type=int, default=5)
    p.add_argument("--classifier-threshold", type=int, default=1,
                   help="keep docs with score_micros >= this (micros)")
    p.add_argument("--blocklist", default="",
                   help="comma-separated bad words; enables the C4 "
                        "blocklist stage (drop any flagged doc)")
    p.add_argument("--blocklist-phrases", default="",
                   help="comma-separated bad phrases (space-joined "
                        "tokens) for the blocklist stage")
    p.add_argument("--line-dedup", action="store_true",
                   help="corpus-wide repeated-line removal (RefinedWeb "
                        "line-wise dedup) before the document tiers")
    p.add_argument("--line-width", type=int, default=0,
                   help="pseudo-line width in tokens (0 = split on "
                        "newlines; use >0 for newline-less corpora)")
    p.add_argument("--line-min-count", type=int, default=3,
                   help="corpus occurrences at which a line is struck")
    p.add_argument("--skip-near", action="store_true")
    p.add_argument("--near-threshold", type=int, default=500_000,
                   help="near tier: Jaccard verify threshold in micros")
    p.add_argument("--substr-n", type=int, default=0,
                   help="duplicated-span excision window in tokens "
                        "(0 = stage off; the ExactSubstr literature "
                        "uses ~50 BPE tokens)")
    p.add_argument("--benchmark", default=None,
                   help="eval-set table/path; enables decontamination")
    p.add_argument("--mix-spec", default="",
                   help="token budgets 'key=value,...'; enables the mix "
                        "stage (values are per-source token budgets)")
    p.add_argument("--mix-default", type=int, default=0,
                   help="budget for sources absent from --mix-spec")
    p.add_argument("--shuffle-salt", default=None,
                   help="enable the seeded global training-order "
                        "shuffle between mix and shard (the salt seeds "
                        "the permutation; '' is a valid salt). Output "
                        "rows carry shuffle_rank; with --shard-tokens "
                        "the shards are token-mass prefixes of the "
                        "shuffled order instead of per-source "
                        "sampler-order runs")
    p.add_argument("--shard-tokens", type=int, default=0,
                   help="target token mass per training shard "
                        "(0 = plain unpartitioned write)")
    p.add_argument("--manifest", default=None,
                   help="shard manifest target (default "
                        "<output>_manifest)")
    p.add_argument("--salt", default="")
    p.add_argument("--key-col", default="source")
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    from pyspark.sql import functions as F

    from modern_document_converter_for_ai_library_spark.operators.dedup import (
        decontaminate,
        exact_dedup,
        exact_substring_removal,
        line_dedup,
        near_dedup,
    )
    from modern_document_converter_for_ai_library_spark.functions.hashing import (
        tokens_col,
    )
    from modern_document_converter_for_ai_library_spark.operators.quality import (
        blocklist_filter,
        classifier_score,
        perceptron_train,
        quality_funnel,
    )
    from modern_document_converter_for_ai_library_spark.operators.sampling import (
        budget_sample,
        parse_spec,
        write_training_layout,
    )
    from modern_document_converter_for_ai_library_spark.plans import job_session
    from modern_document_converter_for_ai_library_spark.queries import STOPWORDS
    from modern_document_converter_for_ai_library_spark.sources.catalog import (
        read_documents,
    )

    id_col, text_col, key_col = args.id_col, args.text_col, args.key_col
    mix_spec = parse_spec(args.mix_spec)

    with job_session("mdcal-curate", master=args.master) as spark:
        cur = read_documents(spark, args.input).persist()
        stages: dict[str, dict] = {}
        n_cur = cur.count()
        n_input = n_cur

        def advance(name: str, nxt, extra: dict | None = None):
            """Persist the next stage frame, count it, release the
            previous one; record the stage's accounting row."""
            nonlocal cur, n_cur
            nxt = nxt.persist()
            n_out = nxt.count()
            cur.unpersist()
            stages[name] = {"n_in": n_cur, "n_out": n_out, **(extra or {})}
            cur, n_cur = nxt, n_out

        if not args.skip_quality:
            # carry the corpus columns THROUGH the one-scan funnel so
            # survivors are a map-only filter of the same scan — the
            # old join-back on id_col was a full-corpus-payload
            # Exchange that dominated the stage at scale (curate probe)
            verdicts = quality_funnel(
                cur,
                STOPWORDS,
                text_col=text_col,
                id_col=id_col,
                carry=[c for c in cur.columns if c != id_col],
            ).persist()
            fails = {
                r["first_failed_rule"]: r["n"]
                for r in verdicts.filter(~F.col("keep"))
                .groupBy("first_failed_rule")
                .agg(F.count("*").alias("n"))
                .collect()
            }
            kept = verdicts.filter(F.col("keep")).select(cur.columns)
            advance("quality", kept, {"failed_by_rule": fails})
            verdicts.unpersist()

        if args.classifier_seed:
            # the FineWeb-Edu shape: a small labeled seed set trains the
            # linear filter, the filter screens the whole corpus. The
            # seed is bounded (annotation budgets are thousands of docs),
            # so training cost is independent of corpus size; scoring is
            # one broadcast vocab join + per-doc sum.
            seed = read_documents(spark, args.classifier_seed)
            weights, bias, hist = perceptron_train(
                seed,
                text_col=text_col,
                id_col=id_col,
                epochs=args.classifier_epochs,
            )
            scored = classifier_score(
                cur,
                text_col=text_col,
                id_col=id_col,
                weights=weights,
                bias_micros=bias,
                threshold_micros=args.classifier_threshold,
            )
            nxt = cur.join(
                scored.filter(F.col("keep")).select(id_col),
                on=id_col,
                how="left_semi",
            )
            advance(
                "classifier",
                nxt,
                {
                    "train_mistakes": [h["n_mistakes"] for h in hist],
                    "n_seed": seed.count(),
                },
            )
            weights.unpersist()

        if args.blocklist:
            terms = [t for t in args.blocklist.split(",") if t]
            phrases = [
                t for t in args.blocklist_phrases.split(",") if t
            ]
            marked = blocklist_filter(
                cur, terms, phrases, text_col=text_col, id_col=id_col
            )
            nxt = cur.join(
                marked.filter(~F.col("flagged")).select(id_col),
                on=id_col,
                how="left_semi",
            )
            advance("blocklist", nxt)

        if args.line_dedup:
            if args.line_width > 0:
                w = F.lit(args.line_width)
                toks = tokens_col(text_col)
                lines = F.when(
                    F.size("_ld_toks") > 0,
                    F.transform(
                        F.sequence(
                            F.lit(0),
                            F.floor(
                                (F.size("_ld_toks") + w - 1) / w
                            ).cast("int")
                            - 1,
                        ),
                        lambda i: F.array_join(
                            F.slice("_ld_toks", i * w + 1, w), " "
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>"))
                framed = cur.withColumn("_ld_toks", toks).select(
                    F.col(id_col), lines.alias("lines")
                )
                sep = " "
            else:
                framed = cur.select(
                    F.col(id_col),
                    F.split(F.col(text_col), "\n").alias("lines"),
                )
                sep = "\n"
            res = line_dedup(
                framed, min_count=args.line_min_count, sep=sep
            )
            struck = int(
                res.agg(
                    F.coalesce(F.sum("n_removed"), F.lit(0))
                ).collect()[0][0]
            )
            carried = [c for c in cur.columns if c != text_col]
            nxt = cur.select(*carried).join(
                res.filter(
                    F.col("keep_doc") & (F.length("text_clean") > 0)
                ).select(id_col, F.col("text_clean").alias(text_col)),
                on=id_col,
                how="inner",
            )
            advance("line_dedup", nxt, {"lines_struck": struck})

        if not args.skip_exact:
            marked = exact_dedup(cur, text_col=text_col, id_col=id_col)
            advance(
                "exact",
                marked.filter(~F.col("is_duplicate")).select(cur.columns),
            )

        if not args.skip_near:
            marked = near_dedup(
                cur,
                text_col=text_col,
                id_col=id_col,
                threshold_micros=args.near_threshold,
            )
            advance(
                "near",
                marked.filter(
                    F.col("canonical_doc_id") == F.col(id_col)
                ).select(cur.columns),
            )

        if args.substr_n > 0:
            rewritten = exact_substring_removal(
                cur, text_col=text_col, id_col=id_col, n=args.substr_n
            )
            removed = int(
                rewritten.agg(
                    F.coalesce(F.sum("n_removed"), F.lit(0))
                ).collect()[0][0]
            )
            carried = [c for c in cur.columns if c != text_col]
            nxt = (
                cur.select(*carried)
                .join(
                    rewritten.filter(F.length("text_clean") > 0).select(
                        id_col, F.col("text_clean").alias(text_col)
                    ),
                    on=id_col,
                    how="inner",
                )
            )
            advance("substr", nxt, {"tokens_removed": removed})

        if args.benchmark:
            bench = read_documents(spark, args.benchmark)
            marked = decontaminate(
                cur, bench, text_col=text_col, id_col=id_col
            )
            nxt = cur.join(
                marked.filter(~F.col("contaminated")).select(id_col),
                on=id_col,
                how="left_semi",
            )
            advance("decontaminate", nxt)

        if mix_spec or args.mix_default > 0:
            sampled = budget_sample(
                cur,
                mix_spec,
                key_col=key_col,
                id_col=id_col,
                text_col=text_col,
                salt=args.salt,
                default_budget=args.mix_default,
            )
            advance("mix", sampled.filter(F.col("kept")).select(cur.columns))

        sharded = args.shard_tokens > 0
        shuffled = args.shuffle_salt is not None
        layout = write_training_layout(
            cur,
            args.output,
            shard_tokens=args.shard_tokens,
            shuffle_salt=args.shuffle_salt,
            key_col=key_col,
            id_col=id_col,
            text_col=text_col,
            salt=args.salt,
            manifest=args.manifest,
            n_rows=n_cur,  # the stage accounting just counted cur
        )
        stage = "_".join(
            n for n, on in (("shuffle", shuffled), ("shard", sharded)) if on
        )
        if stage:
            stages[stage] = {"n_in": n_cur, "n_out": layout["n_docs"]}
            if sharded:
                stages[stage]["n_shards"] = layout["n_shards"]
            if shuffled:
                stages[stage]["shuffle_salt"] = args.shuffle_salt
        cur.unpersist()
        print(
            json.dumps(
                {
                    "n_input": n_input,
                    "n_output": n_cur,
                    "tokens_out": layout["tokens_out"],
                    "stages": stages,
                    "output": args.output,
                    "manifest": layout.get("manifest"),
                }
            )
        )
        return 0


if __name__ == "__main__":
    sys.exit(main())
