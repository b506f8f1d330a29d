"""Distributed BPE tokenizer training + encoding (training-data tier).

The classic byte-pair-encoding trainer of Sennrich et al. 2016 (Neural
Machine Translation of Rare Words with Subword Units, arXiv:1508.07909),
re-shaped for Spark the way real trainers are shaped for RAM: BPE never
iterates over the corpus — it iterates over the WORD-FREQUENCY table.

    1. ONE corpus-scale shuffle: explode whitespace tokens, groupBy(word)
       with map-side partial aggregation -> (word, freq). Vocabulary size
       is bounded by Heaps' law, orders of magnitude below corpus size.
    2. Each merge round runs entirely on that bounded table: adjacent
       symbol pairs explode weighted by freq, a partial-aggregated
       groupBy sums them, and the single best pair (max summed freq,
       ties broken lexicographically — engine-independent) comes back to
       the driver as ONE row. The merge applies to the symbol arrays via
       an array fold in codegen — no Python in the loop.
    3. The evolving symbol table re-materializes every round (persist ->
       count -> unpersist predecessor; operators/dedup.py:
       connected_canonical bounds its rounds the same way with a
       checkpoint), so the plan never grows with the merge count.

Encoding applies the learned merge ranks greedily per word inside an
Arrow-batched pandas UDF (the merge table is a broadcast-sized Python
dict; per-word work is the standard lowest-rank-first loop). Training is
exact and deterministic: same corpus -> same merges on any partitioning
or cluster size.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .quality import _tokens


def _chars(col):
    """Split a word into single-character symbols (codepoint-safe via
    substring semantics, unlike split-by-empty-pattern edge cases)."""
    return F.transform(
        F.sequence(F.lit(1), F.length(col)),
        lambda i: col.substr(i, F.lit(1)),
    )


def word_frequencies(
    df: DataFrame, text_col: str = "text", min_freq: int = 1
) -> DataFrame:
    """(word, freq) over whitespace tokens — the ONLY corpus-scale
    shuffle in BPE training; everything after runs on this bounded
    table."""
    wf = (
        df.select(F.explode(_tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )
    if min_freq > 1:
        wf = wf.filter(F.col("freq") >= min_freq)
    return wf


def _apply_merge(symbols, left: str, right: str):
    """Fold the symbol array left-to-right, joining every adjacent
    (left, right) occurrence — the same single-pass semantics as the
    sequential trainer (a merged symbol can immediately participate as
    the LEFT side of the next adjacency, e.g. 'aaa' with merge (a,a)
    -> ['aa','a'], not ['aa','aa'])."""
    return F.aggregate(
        symbols,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.lit(left + right)),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 50,
    min_freq: int = 1,
    min_pair_freq: int = 2,
) -> list[tuple[int, str, str, int]]:
    """Learn ``n_merges`` BPE merges; returns [(rank, left, right,
    pair_freq)] in learned order. Stops early when the best remaining
    pair's summed frequency drops below ``min_pair_freq``.

    The driver receives ONE row per round (the argmax pair) — never
    data-scale rows. Ties on pair frequency break lexicographically on
    (left, right), so training is a pure function of the corpus.
    """
    spark = df.sparkSession
    wf = word_frequencies(df, text_col=text_col, min_freq=min_freq)
    cur = wf.select(
        _chars(F.col("word")).alias("symbols"), "freq"
    ).persist()
    cur.count()
    merges: list[tuple[int, str, str, int]] = []
    try:
        for rank in range(n_merges):
            pairs = (
                cur.filter(F.size("symbols") >= 2)
                .select(
                    F.explode(
                        F.transform(
                            F.sequence(F.lit(1), F.size("symbols") - 1),
                            lambda i: F.struct(
                                F.element_at("symbols", i).alias("left"),
                                F.element_at("symbols", i + 1).alias(
                                    "right"
                                ),
                            ),
                        )
                    ).alias("pair"),
                    "freq",
                )
                .groupBy("pair.left", "pair.right")
                .agg(F.sum("freq").cast("bigint").alias("pair_freq"))
            )
            best = pairs.orderBy(
                F.col("pair_freq").desc(), F.col("left"), F.col("right")
            ).limit(1).collect()
            if not best or best[0]["pair_freq"] < min_pair_freq:
                break
            left, right, pf = (
                best[0]["left"],
                best[0]["right"],
                int(best[0]["pair_freq"]),
            )
            merges.append((rank, left, right, pf))
            nxt = cur.select(
                _apply_merge(F.col("symbols"), left, right).alias(
                    "symbols"
                ),
                "freq",
            ).persist()
            nxt.count()
            cur.unpersist()
            cur = nxt
    finally:
        cur.unpersist()
    return merges


def merges_table(spark: SparkSession, merges) -> DataFrame:
    """The learned merges as a DataFrame (rank, left, right, pair_freq)
    — bounded by n_merges, broadcastable anywhere."""
    return spark.createDataFrame(
        list(merges), "rank: bigint, left: string, right: string, pair_freq: bigint"
    )


def encode_word(word: str, rank_of: dict[tuple[str, str], int]) -> list[str]:
    """Sequential greedy BPE encode of one word: repeatedly apply the
    LOWEST-rank applicable merge (the standard inference loop, and the
    pure-Python twin the tests check the trainer against)."""
    syms = list(word)
    while len(syms) >= 2:
        ranked = [
            (rank_of[(a, b)], i)
            for i, (a, b) in enumerate(zip(syms, syms[1:]))
            if (a, b) in rank_of
        ]
        if not ranked:
            break
        _, i = min(ranked)
        syms[i : i + 2] = [syms[i] + syms[i + 1]]
    return syms


def bpe_encode(
    df: DataFrame,
    merges,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document BPE token count + tokens under a learned merge list:
    (id, n_words, n_bpe_tokens). Arrow-batched pandas UDF (the merge
    dict is n_merges entries — closure-broadcast, no join); one map-only
    stage, no shuffle."""
    from pyspark.sql.functions import pandas_udf

    rank_of = {(m[1], m[2]): m[0] for m in merges}

    @pandas_udf("struct<n_words: bigint, n_bpe_tokens: bigint>")
    def _encode(texts: pd.Series) -> pd.DataFrame:
        n_words, n_toks = [], []
        for t in texts:
            words = [w for w in (t or "").split(" ") if w]
            n_words.append(len(words))
            n_toks.append(
                sum(len(encode_word(w, rank_of)) for w in words)
            )
        return pd.DataFrame({"n_words": n_words, "n_bpe_tokens": n_toks})

    out = df.select(F.col(id_col), _encode(F.col(text_col)).alias("_e"))
    return out.select(
        id_col,
        F.col("_e.n_words").alias("n_words"),
        F.col("_e.n_bpe_tokens").alias("n_bpe_tokens"),
    )
