#!/usr/bin/env python3
"""Write BENCH/PLANS.md: `.explain("formatted")` output for representative
queries plus automated red-flag checks (row-Python nodes, cartesian joins,
un-pruned scans). The full audit runs in tests/test_plan_audit.py; this
artifact records the evidence for review.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"
SHOWCASE = [
    ("q_convert_pipeline", "flagship: map-only scan -> one Arrow kernel stage"),
    ("q_classify_scores", "pure-JVM rule compilation inside WholeStageCodegen"),
    ("q_docs_events_join", "broadcast hash join + partial aggregation"),
    ("q_lsh_jaccard_pairs", "banded LSH self-join behind the aggregate barrier"),
    ("q_exact_dedup", "single-shuffle hash grouping"),
    ("q_events_topk", "ranking window after one exchange"),
    ("q_rename_pipeline", "kernel + broadcast-only contested-code resolution (no claim window)"),
    ("q_embed_neardup", "sign-LSH-bucket-blocked self-join behind the aggregate barrier"),
    ("q_boilerplate", "Boilerpipe tree: per-doc lag/lead window, integer link-density"),
    ("q_code_assign", "two-phase sequential allocation (no unpartitioned window)"),
    ("q_simhash64_pairs", "production SimHash: single exploded-band-key self-join behind the aggregate barrier, packed-word XOR bit_count verify"),
    ("q_passage_dedup", "cross-doc passage dedup: one window shuffle on chunk hash + reassembly groupBy"),
    ("q_decontaminate", "benchmark gram set broadcast semi-join"),
    ("q_gopher_quality", "map-only exact-integer quality signals"),
    ("q_pack_sequences", "bucket-parallel greedy packing (FlatMapGroupsInPandas per bucket)"),
    ("q_minhash128_pairs", "production-width MinHash: 128 partial-MIN aggregates behind one shuffle, bucket-local pair generation (band build runs ONCE)"),
    ("q_events_asof", "as-of join: tagged-union + last-non-null window — ONE exchange, ZERO join nodes"),
    ("q_events_window_count", "bounded-interval join: bucket-binned composite keys, fan-out bounded by bin occupancy"),
    ("q_interleave_stats", "interleaved-span statistics: pure array expressions, map-only, ZERO exchanges"),
    ("q_span_reflow", "span reflow: posexplode + per-doc windows (linear, no array fold)"),
    ("q_inverted_index", "skew-safe two-phase top-K: ONE tokenize/explode, shared (token, salt) exchange carries both rank and doc-frequency"),
    ("q_bm25_search", "integer-exact BM25: ONE per-doc aggregate (dl + per-term conditional tfs), driver-side idf, no data-scale joins, TakeOrdered top-k"),
    ("q_repeated_ngrams", "sliding-gram dedup stats: partial-aggregated gram counts + count-back join, no windows"),
    ("q_group_sample", "mergeable bottom-k group sample: two-phase salted windows"),
    ("q_hll_distinct", "HyperLogLog registers: two partial-aggregated groupBys, bounded state"),
    ("q_token_budget_mix", "token-budget mix: two-phase bucketed cumsum — per-(source, bucket) windows only, offsets from the tiny per-bucket frame"),
    ("q_repetition_stats", "Gopher repetition as a map-only JVM fold over each doc's sorted grams: ZERO exchanges, no Python"),
    ("q_quality_funnel", "fused three-family funnel on one scan: zero joins, zero exchanges, no Python"),
    ("q_dsir_select", "DSIR importance: four broadcast model joins over the shared gram pyramid, two data-scale partial aggregates"),
    ("q_substr_removal", "ExactSubstr excision: codegen position-explode gram keys (no higher-order lambda), ONE partial-aggregated gram groupBy + occurrence join, per-doc interval fold in an array expression"),
    ("q_bpe_pair_counts", "BPE training round: corpus-scale word-frequency groupBy, then pair explode over the BOUNDED vocab only"),
    ("q_bloom_dedup", "Bloom membership: bounded bit_or build, single-row broadcast hash join, codegen forall verdict — zero data-side shuffle"),
    ("q_near_dedup_best", "cluster representative selection: score-argmax aggregation over multi-member clusters only, corpus touched by two AQE-broadcastable slim joins"),
    ("q_pagerank", "fixed-iteration exact-integer PageRank: per round one slim rank shuffle on src against the persisted degree-annotated edges + one associative contribution sum on dst (in-degree skew partial-aggregates map-side)"),
    ("q_anchor_text", "anchor rollup: two-phase (dst, anchor) count then sort-free max-struct argmax — no windows, hot targets absorb map-side"),
    ("q_pq_topk", "product quantization serving: broadcast m x n_codes codebook + distance table, codes-explode ADC sum, exact rescore touches full vectors only for the C-candidate shortlist"),
    ("q_ivfpq_topk", "composed IVF-PQ: coarse cells bound candidates (broadcast probe join), PQ codes bound bytes per candidate, exact rescore bounds error"),
    ("q_snapshot_diff", "cross-snapshot CDC: map-side codegen hashes, ONE full-outer equi-join of two slim (id, hash) projections"),
    ("q_corpus_audit", "one-pass corpus audit: every health metric in ONE aggregate over ONE pruned scan — zero joins, zero Python, count-distinct folded into the same scan"),
    ("q_topic_clusters", "integer-exact k-means topics: MAP-ONLY Arrow-UDF assignment (closure centroids, zero centroid-dependent codegen), Lloyd rounds fused into one mapInPandas partial-sum pass + a trivial centroid-free (cell, pos) reduce"),
    ("q_corpus_shuffle", "deterministic global training-order shuffle: exact two-phase rank over the 60-bit key — bounded bucket-offset window + bucket-partitioned row_number, no corpus-wide window"),
    ("q_training_layout", "composed mix->shuffle->shard terminal layout: temperature rates (bounded cross), seeded global rank, integer-div shard ids"),
    ("q_shuffled_shards", "fused terminal layout: rank + token cumsum off ONE bucketed reduction — one corpus Exchange, the (count, tokens) offsets share one bounded window, shards are prefixes of the shuffled order"),
    ("q_cdc_chunks", "content-defined chunking: one doc-id shuffle feeds both per-doc windows, partial-aggregated chunk frequency join (no count-over-window by hash)"),
    ("q_fix_mojibake", "codec-table mojibake repair: one map-only 50-replace codegen chain"),
    ("q_dup_source_matrix", "cross-source dup matrix: (hash, source) collapse BEFORE the per-group self-join — degenerate groups fan out n_sources^2, not group_size^2"),
]


def main() -> None:
    from modern_document_converter_for_ai_library_spark.plans import get_spark
    from modern_document_converter_for_ai_library_spark.queries import SPARK_QUERIES

    spark = get_spark(app_name="plans", master="local[4]", shuffle_partitions=8)
    out = [
        "# BENCH/PLANS — physical plan evidence",
        "",
        "Generated by `python scripts/dump_plans.py` (re-run after operator",
        "changes). Every contract query is also machine-audited in",
        "`tests/test_plan_audit.py`: no `BatchEvalPython` (row-wise Python),",
        "no accidental `CartesianProduct`/`BroadcastNestedLoopJoin`, and",
        "column-pruned parquet scans.",
        "",
    ]
    for name, why in SHOWCASE:
        df = SPARK_QUERIES[name](spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        # keep the node tree, trim the verbose per-node detail section
        tree = plan.split("\n\n")[0]
        out += [f"## {name}", "", f"*{why}*", "", "```", tree, "```", ""]
    spark.stop()

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "BENCH", "PLANS.md")
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(out))
    print(path)


if __name__ == "__main__":
    main()
