"""One-pass corpus health audit — many metrics, ONE scan.

At 100 TB the dominant cost of "how healthy is this corpus?" is not any
single metric, it is reading the corpus once per metric: five separate
count/sum jobs re-scan 100 TB five times. ``corpus_audit`` folds the
standard health metrics (doc counts, emptiness, size totals/extremes,
token mass, exact-duplicate rate) into ONE aggregate over ONE scan — the
plan is scan -> partial HashAggregate -> one slim exchange -> final
aggregate, with the count-distinct expansion handled by Catalyst's
single-scan Expand. Adding a metric here costs zero additional I/O.

All outputs are integer-exact (micros for ratios, floor division), so the
audit is bit-identical across engines and partitionings — it is oracled
cross-engine as ``q_corpus_audit``.

No reference-repo counterpart: the reference's per-run stats are the
sequential CLI's in-memory counters (src/converters/document_converter.py
tallies lines_removed/headings_added per file); this is the corpus-scale
generalization a 10^12-doc pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import tokens_col

MICRO = 1_000_000


def corpus_audit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str | None = None,
) -> DataFrame:
    """Corpus health metrics in one aggregate over one scan.

    Global (``group_col=None``): one row. Per-group (e.g. ``source``):
    one row per group, hash-partitioned on the group key — group counts
    are partial-aggregated map-side, so a skewed group never concentrates
    rows before the combine.

    Columns: n_docs, n_empty (null-or-whitespace), n_distinct_texts
    (count distinct md5 — exact), dup_rate_micros, total_chars,
    min_chars/max_chars, mean_chars_micros, total_tokens,
    mean_tokens_micros. Tokens = single-space split, empties dropped
    (the repo-wide token convention, cf. queries.spark_token_stats).
    """
    text = F.col(text_col)
    is_empty = text.isNull() | (F.trim(text) == "")
    n_tokens = F.when(is_empty, F.lit(0)).otherwise(
        F.size(tokens_col(text_col))
    ).cast("bigint")
    chars = F.coalesce(F.length(text), F.lit(0)).cast("bigint")
    pre = df.select(
        *( [F.col(group_col)] if group_col else [] ),
        is_empty.alias("_empty"),
        chars.alias("_chars"),
        n_tokens.alias("_toks"),
        F.md5(F.coalesce(text, F.lit(""))).alias("_h"),
    )
    aggs = [
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.col("_empty").cast("bigint")).alias("n_empty"),
        F.countDistinct("_h").cast("bigint").alias("n_distinct_texts"),
        F.sum("_chars").alias("total_chars"),
        F.min("_chars").alias("min_chars"),
        F.max("_chars").alias("max_chars"),
        F.sum("_toks").alias("total_tokens"),
    ]
    out = pre.groupBy(group_col).agg(*aggs) if group_col else pre.agg(*aggs)
    # DIV = exact bigint floor division (matches DuckDB's //) — ratios stay
    # integer-exact past the 2^53 double-precision cliff a 100 TB corpus'
    # char totals would cross
    return out.select(
        *( [F.col(group_col)] if group_col else [] ),
        "n_docs",
        "n_empty",
        "n_distinct_texts",
        F.expr(
            f"CAST(((n_docs - n_distinct_texts) * {MICRO}) DIV n_docs "
            "AS BIGINT)"
        ).alias("dup_rate_micros"),
        "total_chars",
        "min_chars",
        "max_chars",
        F.expr(f"CAST((total_chars * {MICRO}) DIV n_docs AS BIGINT)").alias(
            "mean_chars_micros"
        ),
        "total_tokens",
        F.expr(f"CAST((total_tokens * {MICRO}) DIV n_docs AS BIGINT)").alias(
            "mean_tokens_micros"
        ),
    )
