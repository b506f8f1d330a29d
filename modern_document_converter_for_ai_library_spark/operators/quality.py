"""Document-quality filters for LLM training-data pipelines.

Two public-literature rule families, re-expressed as exact-integer Spark
columns so a DuckDB oracle reproduces identical rows:

  gopher_quality_signals   the per-document heuristics of Gopher
                           (Rae et al. 2021, "Scaling Language Models",
                           Appendix A1.1): word count bounds, mean word
                           length bounds, symbol-to-word ratio, fraction
                           of words with an alphabetic character, and the
                           stopword-presence test
  ngram_repetition_stats   the repetition family of the same appendix:
                           fraction of characters in the most frequent
                           word 2-gram, and fraction of characters in
                           duplicated word 5-grams
  classifier_score         linear quality-classifier scoring (the
                           learned-filter stage): broadcast vocab weights
                           or the feature-hashing trick, exact
                           integer-micro arithmetic

All ratios are integer micros (x * 1_000_000 // denom) — float division
would make pass/fail flags engine-dependent at the thresholds.

Scale notes: the quality signals and the repetition stats are both
map-only JVM expressions over the token array — no shuffle, no Python.
Repetition sorts each document's own grams and folds the runs
(:func:`repetition_exprs`), so per-document memory is bounded by that
document's length at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import tokens_col

MICRO = 1_000_000


def micros_ratio(num, den) -> F.Column:
    """EXACT floor((num * 1e6) / den) as BIGINT — the module contract
    ("all ratios are integer micros") and the DuckDB oracles' ``//``.

    float '/' then cast truncates a nearest-ROUNDED double, which can
    exceed the true floor once num*1e6 leaves the 2^53-exact range (a
    multi-GB single document) — flipping a threshold flag in one engine
    but not the other. Route through DECIMAL(38,0): subtract the exact
    remainder first so the final division is integer-valued, hence
    exact at any decimal scale. A zero denominator yields null, as
    DuckDB's ``x // 0`` does (ANSI mode would raise on ``% 0``)."""
    n6 = num.cast("decimal(38,0)") * MICRO
    d = F.nullif(den.cast("decimal(38,0)"), F.lit(0))
    return ((n6 - n6 % d) / d).cast("bigint")

# Gopher's stopword-presence list (Rae et al. 2021 A1.1: "contains at
# least two of the following English words")
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

# published thresholds
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN_MICROS = 3 * MICRO
GOPHER_MAX_MEAN_WORD_LEN_MICROS = 10 * MICRO
GOPHER_MAX_SYMBOL_RATIO_MICROS = 100_000  # 0.1 hash-or-ellipsis per word
GOPHER_MIN_ALPHA_RATIO_MICROS = 800_000  # 80% words need a letter
GOPHER_MIN_STOPWORDS = 2
TOP2_MAX_FRAC_MICROS = 200_000  # top word-2-gram chars <= 0.20
DUP5_MAX_FRAC_MICROS = 150_000  # duplicated word-5-gram chars <= 0.15


def gopher_signal_exprs(text_col: str, toks_col: str) -> dict:
    """The Gopher signal family as named Column expressions over an
    existing token-array column — reusable without a join (the quality
    funnel stacks these next to the repetition kernel and langid
    expressions on ONE scan)."""
    n = F.size(toks_col).cast("bigint")
    total_len = F.aggregate(
        F.transform(toks_col, lambda t: F.length(t).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )
    # '#' occurrences + '...' occurrences (ellipsis counted on the raw text)
    hashes = F.length(text_col) - F.length(F.regexp_replace(text_col, "#", ""))
    ellipses = (
        F.length(text_col) - F.length(F.regexp_replace(text_col, r"\.\.\.", ""))
    ) / 3
    n_symbols = (hashes + ellipses).cast("bigint")
    n_alpha = F.size(
        F.filter(toks_col, lambda t: t.rlike("[a-zA-Z]"))
    ).cast("bigint")
    stop_arr = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    lowered = F.transform(toks_col, lambda t: F.lower(t))
    n_stop = F.size(
        F.filter(stop_arr, lambda s: F.array_contains(lowered, s))
    ).cast("bigint")

    nz = F.greatest(n, F.lit(1))  # guard: token-less docs fail on word count
    mean_len = micros_ratio(total_len, nz)
    sym_ratio = micros_ratio(n_symbols, nz)
    alpha_ratio = micros_ratio(n_alpha, nz)
    gpass = (
        (n >= GOPHER_MIN_WORDS)
        & (n <= GOPHER_MAX_WORDS)
        & (mean_len >= GOPHER_MIN_MEAN_WORD_LEN_MICROS)
        & (mean_len <= GOPHER_MAX_MEAN_WORD_LEN_MICROS)
        & (sym_ratio < GOPHER_MAX_SYMBOL_RATIO_MICROS)
        & (alpha_ratio >= GOPHER_MIN_ALPHA_RATIO_MICROS)
        & (n_stop >= GOPHER_MIN_STOPWORDS)
    )
    return {
        "n_words": n,
        "mean_word_len_micros": mean_len,
        "symbol_ratio_micros": sym_ratio,
        "alpha_word_ratio_micros": alpha_ratio,
        "n_gopher_stopwords": n_stop,
        "gopher_pass": gpass,
    }


def gopher_quality_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Adds the Gopher quality columns + ``gopher_pass``. Map-only."""
    out = df.withColumn("_toks", tokens_col(text_col))
    exprs = gopher_signal_exprs(text_col, "_toks")
    return out.select(
        F.col(id_col), *[c.alias(name) for name, c in exprs.items()]
    )


def _grams(toks, width: int):
    """Word ``width``-grams of the token array ``toks``.

    Materialize ``toks`` first (withColumn): lambdas re-evaluate inline exprs.
    """
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), n - (width - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(width)]
        ),
    )
    # sequence(1, 0) would DESCEND ([1, 0]) — guard short docs explicitly
    return F.when(n >= width, grams).otherwise(
        F.array().cast("array<string>")
    )


def repetition_exprs(toks_col: str) -> dict:
    """The Gopher repetition family as named Column expressions over an
    existing token-array column — ``top2_frac_micros`` (chars in the
    most frequent word 2-gram) and ``dup5_frac_micros`` (chars in
    duplicated word 5-grams), each over all gram-occurrence chars.

    One map-only JVM fold per width: the grams are sorted so equal
    grams form runs, and one ``aggregate`` pass carries (prev, run,
    total, best, hit). Top 2-gram: a run replaces the best only on a
    strictly higher count, so a tie keeps the lexicographically first
    gram (the oracle's ``ORDER BY n DESC, g ASC``); hit = best count *
    its length. Duplicated 5-grams: a gram adds both copies' chars on
    its second occurrence and one copy per further repeat. Gram-less
    docs fold nothing and yield 0."""
    zero, one = F.lit(0).cast("bigint"), F.lit(1).cast("bigint")

    def fold(width: int, top: bool) -> F.Column:
        init = F.struct(
            F.lit(None).cast("string").alias("prev"),
            zero.alias("run"),
            zero.alias("total"),
            zero.alias("best"),
            zero.alias("hit"),
        )

        def step(a, x):
            ln = F.length(x).cast("bigint")

            def state(run, best, hit):
                return F.struct(
                    x.alias("prev"),
                    run.alias("run"),
                    (a["total"] + ln).alias("total"),
                    best.alias("best"),
                    hit.alias("hit"),
                )

            run = a["run"] + 1
            if top:
                more = run > a["best"]
                same = state(
                    run,
                    F.when(more, run).otherwise(a["best"]),
                    F.when(more, run * ln).otherwise(a["hit"]),
                )
                new = state(
                    one,
                    F.greatest(a["best"], one),
                    F.when(a["best"] == 0, ln).otherwise(a["hit"]),
                )
            else:
                dup = F.when(run == 2, 2 * ln).otherwise(ln)
                same = state(run, a["best"], a["hit"] + dup)
                new = state(one, a["best"], a["hit"])
            return F.when(x == a["prev"], same).otherwise(new)

        return F.aggregate(
            F.sort_array(_grams(F.col(toks_col), width)),
            init,
            step,
            lambda a: micros_ratio(a["hit"], F.greatest(a["total"], one)),
        )

    return {
        "top2_frac_micros": fold(2, top=True),
        "dup5_frac_micros": fold(5, top=False),
    }


def ngram_repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, top2_frac_micros, dup5_frac_micros, repetition_pass).

    Map-only: the :func:`repetition_exprs` folds over one tokenized
    column — no Exchange, no Python. Per-document work is a sort of that
    document's own grams, so memory is bounded by the longest document,
    not the corpus. Docs too short to form a gram of a width get
    fraction 0 for it (nothing repeated).
    """
    out = df.withColumn("_toks", tokens_col(text_col)).select(
        F.col(id_col),
        *[c.alias(name) for name, c in repetition_exprs("_toks").items()],
    )
    return out.select(
        id_col,
        "top2_frac_micros",
        "dup5_frac_micros",
        (
            (F.col("top2_frac_micros") <= TOP2_MAX_FRAC_MICROS)
            & (F.col("dup5_frac_micros") <= DUP5_MAX_FRAC_MICROS)
        ).alias("repetition_pass"),
    )


def quality_funnel(
    df: DataFrame,
    langid_stopwords,
    text_col: str = "text",
    id_col: str = "doc_id",
    langid_min_ratio_micros: int = 80_000,
    carry: list[str] | None = None,
) -> DataFrame:
    """The composed keep/reject decision — Gopher AND repetition AND
    language gates with first-failed-rule attribution (priority order
    gopher → repetition → langid) — stacked as columns on ONE scan.

    Zero Exchange, zero joins, no Python: every family is a per-document
    JVM expression over one shared token column, so the funnel is
    map-only at any corpus size. ``langid_stopwords`` is the caller's
    language-ID stopword list (queries.py:STOPWORDS for the oracled
    query); a zero token count makes the stopword ratio null =>
    not-English, matching the standalone langid query's 'unknown' bucket.

    ``carry`` names input columns to pass through alongside the verdict
    columns, so a funnel consumer can take survivors with
    ``.filter("keep").select(...)`` as a MAP-ONLY continuation of the
    same scan. Without it the caller must join the verdict frame back to
    the corpus on ``id_col`` — a full-corpus-payload Exchange that
    dwarfs the funnel itself at scale (measured in the curate probe:
    the join-back quality stage scaled ~2.4x at 4x cores because the
    shuffle, not the map work, was the marginal cost).
    """
    base = df.withColumn("_toks", tokens_col(text_col))
    gopher_pass = gopher_signal_exprs(text_col, "_toks")["gopher_pass"]
    rep = repetition_exprs("_toks")
    rep_pass = (rep["top2_frac_micros"] <= TOP2_MAX_FRAC_MICROS) & (
        rep["dup5_frac_micros"] <= DUP5_MAX_FRAC_MICROS
    )
    n = F.size("_toks").cast("bigint")
    stop_arr = F.array(*[F.lit(s) for s in langid_stopwords])
    n_stop = F.size(
        F.filter("_toks", lambda x: F.array_contains(stop_arr, F.lower(x)))
    ).cast("bigint")
    ratio_micros = micros_ratio(n_stop, n)
    lang_en = F.coalesce(
        ratio_micros >= langid_min_ratio_micros, F.lit(False)
    )
    carry_cols = [c for c in (carry or []) if c != id_col]
    return base.select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        gopher_pass.alias("gopher_pass"),
        rep_pass.alias("repetition_pass"),
        lang_en.alias("lang_en"),
    ).select(
        id_col,
        *carry_cols,
        "gopher_pass",
        "repetition_pass",
        "lang_en",
        (
            F.col("gopher_pass") & F.col("repetition_pass") & F.col("lang_en")
        ).alias("keep"),
        F.when(~F.col("gopher_pass"), F.lit("gopher"))
        .when(~F.col("repetition_pass"), F.lit("repetition"))
        .when(~F.col("lang_en"), F.lit("langid"))
        .otherwise(F.lit("none"))
        .alias("first_failed_rule"),
    )


def classifier_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    weights: DataFrame | None = None,
    bias_micros: int = 0,
    threshold_micros: int = 0,
) -> DataFrame:
    """Linear quality-classifier scoring — the learned-filter stage of a
    training-data pipeline (the fasttext/FineWeb-Edu shape: a linear model
    over token features decides keep/drop at corpus scale).

    Two weight sources, same contract (score_micros = bias + sum of
    per-token weights, term-frequency weighted; label = score >= threshold):

    - ``weights`` given: a (token, weight_micros) vocab table. Exploded
      tokens LEFT-join the vocab (out-of-vocab tokens weigh 0) — at scale
      the vocab is ~1e5-1e6 rows, far under the broadcast threshold, so
      the join is a broadcast hash join and the only shuffle is the
      per-doc sum's partial aggregation.
    - ``weights`` None: the feature-HASHING trick (Weinberger et al. '09,
      the vowpal-wabbit construction): weight(tok) = a signed integer
      derived from md5(tok) — w = ('0x'||md5[:8]) % 1000001 - 500000
      micros. No vocab, no join, map-side only; deterministic in any
      engine, which is what the cross-engine oracle checks.

    Integer-micro weights keep the score exact (no float summation-order
    sensitivity across partitionings).
    """
    toks = tokens_col(text_col)
    ex = df.select(F.col(id_col), F.explode(toks).alias("_tok"))
    if weights is None:
        w = (
            F.conv(F.substring(F.md5("_tok"), 1, 8), 16, 10).cast("bigint")
            % 1000001
            - 500000
        )
        scored = ex.select(F.col(id_col), w.alias("_w"))
    else:
        from pyspark.sql.functions import broadcast

        # aggregate to ONE row per token first: a vocab with duplicate
        # token rows (unioned sources) would fan the join out, inflating
        # both the score and n_tokens. Duplicate weights SUM — the linear-
        # model composition rule for repeated features.
        vocab = (
            weights.select(
                F.col("token").alias("_tok"),
                F.col("weight_micros").cast("bigint").alias("_w"),
            )
            .groupBy("_tok")
            .agg(F.sum("_w").alias("_w"))
        )
        scored = ex.join(broadcast(vocab), on="_tok", how="left").select(
            F.col(id_col), F.coalesce("_w", F.lit(0)).alias("_w")
        )
    g = scored.groupBy(id_col).agg(
        (F.sum("_w") + F.lit(bias_micros)).cast("bigint").alias("score_micros"),
        F.count("*").cast("bigint").alias("n_tokens"),
    )
    # docs with zero tokens score exactly the bias
    return (
        df.select(F.col(id_col))
        .join(g, on=id_col, how="left")
        .fillna({"score_micros": bias_micros, "n_tokens": 0})
        .withColumn(
            "keep", F.col("score_micros") >= F.lit(threshold_micros)
        )
    )


def _doc_bigram_counts(
    df: DataFrame, text_col: str, id_col: str, n_buckets: int
) -> DataFrame:
    """(id, h1, h12, m): per-document hashed bigram multiplicities — the
    shared bottom level of the hashed-LM aggregation pyramids
    (:func:`bigram_lm_scores`, :func:`dsir_importance`). h1 hashes the
    context token, h12 the (w1, w2) pair, both into ``n_buckets``."""
    toks = tokens_col(text_col)
    pairs = F.expr(
        "transform(slice(_toks, 1, greatest(size(_toks)-1, 0)), "
        "(x, i) -> struct(x AS w1, element_at(_toks, i+2) AS w2))"
    )
    grams = (
        df.select(F.col(id_col), toks.alias("_toks"))
        .select(F.col(id_col), F.explode(pairs).alias("_g"))
        .select(
            F.col(id_col),
            (
                F.conv(F.substring(F.md5("_g.w1"), 1, 8), 16, 10).cast("bigint")
                % n_buckets
            ).alias("h1"),
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws("\u001f", "_g.w1", "_g.w2")), 1, 8
                    ),
                    16,
                    10,
                ).cast("bigint")
                % n_buckets
            ).alias("h12"),
        )
    )
    return grams.groupBy(id_col, "h1", "h12").agg(
        F.count("*").cast("bigint").alias("m")
    )


def _ilog2(col):
    """floor(log2(col)) for positive BIGINTs via binary-string length —
    exact in both engines (float log2 drifts at ulp boundaries)."""
    return (F.length(F.bin(col)) - 1).cast("bigint")


def bigram_lm_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1 << 20,
    smoothing: int = 256,
    max_bits_per_gram_micros: int = 9 * MICRO,
) -> DataFrame:
    """Language-model quality scoring — the CCNet/RedPajama perplexity
    stage, self-trained: build a hashed bigram model over the corpus
    itself in one aggregation pyramid, then score each document by its
    code length under that model. Fluent, corpus-typical text compresses
    well (low bits/gram); boilerplate soup and gibberish do not.

    Exactness: the per-bigram cost is the INTEGER code length

        m * ( floor(log2(c1 + smoothing)) - floor(log2(c12 + 1)) )

    where c1/c12 are corpus-wide hashed context/bigram counts and m the
    per-document multiplicity — floor-log2 computed from the binary
    representation length, so both engines produce identical BIGINTs (a
    float ln()/log2() would drift at ulp boundaries and break the oracle;
    same reasoning as the integer-micro ratios above). A per-bigram cost
    can go NEGATIVE under feature-hash collisions (c12 aggregates a
    different hash space than c1, so a rare context whose bigram bucket
    collides with a hot bigram has c12 > c1); both engines divide the
    per-doc total with truncate-toward-zero semantics (Spark `div`,
    DuckDB `//`), keeping the ratio identical either way.

    Scale shape: token and bigram features are HASHED into ``n_buckets``
    (Weinberger '09, as in :func:`classifier_score`), so both model
    tables are bounded at n_buckets rows regardless of corpus size —
    broadcastable at 100 TB. The aggregation pyramid reuses each level:
    (doc, h1, h12) counts -> (h12)/(h1) models — nothing rescans the raw
    corpus; model joins are broadcast (map-side); the only data-scale
    shuffles are the per-doc gram count and the final per-doc sum, both
    with map-side partial aggregation.
    """
    from pyspark.sql.functions import broadcast

    docgrams = _doc_bigram_counts(df, text_col, id_col, n_buckets)
    model12 = docgrams.groupBy("h12").agg(F.sum("m").alias("c12"))
    model1 = docgrams.groupBy("h1").agg(F.sum("m").alias("c1"))

    scored = (
        docgrams.join(broadcast(model12), on="h12")
        .join(broadcast(model1), on="h1")
        .select(
            F.col(id_col),
            F.col("m"),
            (
                F.col("m")
                * (_ilog2(F.col("c1") + F.lit(smoothing)) - _ilog2(F.col("c12") + 1))
            ).alias("_bits"),
        )
    )
    g = scored.groupBy(id_col).agg(
        F.sum("_bits").cast("bigint").alias("bits"),
        F.sum("m").cast("bigint").alias("n_bigrams"),
    )
    out = (
        df.select(F.col(id_col))
        .join(g, on=id_col, how="left")
        .fillna({"bits": 0, "n_bigrams": 0})
    )
    # integer division (not float `/` + cast): float quotients can round
    # across an integer boundary differently than the oracle's `//`
    bpg = F.expr("bits * %d div greatest(n_bigrams, 1)" % MICRO).cast("bigint")
    return out.select(
        F.col(id_col),
        "bits",
        "n_bigrams",
        bpg.alias("bits_per_gram_micros"),
        (
            (F.col("n_bigrams") > 0)
            & (bpg <= F.lit(max_bits_per_gram_micros))
        ).alias("keep"),
    )


def dsir_importance(
    df: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1 << 20,
    smoothing: int = 256,
    select_threshold_micros: int = 0,
) -> DataFrame:
    """Data Selection with Importance Resampling (DSIR, Xie et al. 2023,
    arXiv:2302.03169), re-expressed over the hashed bigram machinery of
    :func:`bigram_lm_scores`: estimate hashed-n-gram models of the RAW
    corpus (``df`` itself) and of a TARGET distribution sample
    (``target``), then score every raw document by its importance —
    how much shorter its code is under the target model than under the
    raw model:

        importance_bits(doc) = code_len_raw(doc) - code_len_target(doc)
                             = sum_g m_g * (bits_raw(g) - bits_target(g))

    Positive = the document looks more like the target than like the
    raw pool — DSIR's log importance weight log(p_target/p_raw), here as
    EXACT integer floor-log2 code lengths (``_ilog2``) so both engines
    agree bit-for-bit; float ln() would drift at ulp boundaries.

    Divergence from the paper, documented: DSIR proper resamples with
    Gumbel-noised weights; this operator exposes the deterministic
    building block — the exact integer weight plus a threshold verdict
    (``keep`` iff importance_per_gram_micros >= threshold over >=1
    bigram). Plug the weight into any sampler (e.g. hash-threshold
    acceptance from sampling.py) for the randomized variant.

    Scale shape: both models are hashed into ``n_buckets`` rows —
    bounded and broadcastable regardless of corpus size (Weinberger
    '09); the target sample is typically small (the paper uses the
    target task's train set). Data-scale shuffles: the per-doc gram
    count and the final per-doc sum, both map-side combined. Model
    joins are broadcast. Raw-model grams absent from the target model
    cost ``bits_target = ilog2(smoothing) - 0`` via count-0 coalesce —
    the same smoothing floor the raw side uses.
    """
    from pyspark.sql.functions import broadcast

    docgrams = _doc_bigram_counts(df, text_col, id_col, n_buckets)
    raw12 = docgrams.groupBy("h12").agg(F.sum("m").alias("c12_r"))
    raw1 = docgrams.groupBy("h1").agg(F.sum("m").alias("c1_r"))

    tgrams = _doc_bigram_counts(target, text_col, id_col, n_buckets)
    tgt12 = tgrams.groupBy("h12").agg(F.sum("m").alias("c12_t"))
    tgt1 = tgrams.groupBy("h1").agg(F.sum("m").alias("c1_t"))

    scored = (
        docgrams.join(broadcast(raw12), on="h12")
        .join(broadcast(raw1), on="h1")
        .join(broadcast(tgt12), on="h12", how="left")
        .join(broadcast(tgt1), on="h1", how="left")
        .fillna({"c12_t": 0, "c1_t": 0})
    )
    bits_raw = _ilog2(F.col("c1_r") + F.lit(smoothing)) - _ilog2(
        F.col("c12_r") + 1
    )
    bits_tgt = _ilog2(F.col("c1_t") + F.lit(smoothing)) - _ilog2(
        F.col("c12_t") + 1
    )
    scored = scored.select(
        F.col(id_col),
        F.col("m"),
        (F.col("m") * (bits_raw - bits_tgt)).alias("_bits"),
    )
    g = scored.groupBy(id_col).agg(
        F.sum("_bits").cast("bigint").alias("importance_bits"),
        F.sum("m").cast("bigint").alias("n_bigrams"),
    )
    out = (
        df.select(F.col(id_col))
        .join(g, on=id_col, how="left")
        .fillna({"importance_bits": 0, "n_bigrams": 0})
    )
    ipg = F.expr(
        "importance_bits * %d div greatest(n_bigrams, 1)" % MICRO
    ).cast("bigint")
    return out.select(
        F.col(id_col),
        "importance_bits",
        "n_bigrams",
        ipg.alias("importance_per_gram_micros"),
        (
            (F.col("n_bigrams") > 0)
            & (ipg >= F.lit(select_threshold_micros))
        ).alias("keep"),
    )


def blocklist_filter(
    df: DataFrame,
    terms: "list[str] | tuple[str, ...]",
    phrases: "list[str] | tuple[str, ...]" = (),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bad-word / bad-phrase blocklist screening — the C4 "dirty, naughty
    ... word list" stage (Raffel et al. 2020, arXiv:1910.10683 §2.2:
    "removed any page that contained any word on [the] list") and the
    UT1-blacklist URL/content tier RefinedWeb layers on top.

    ``terms`` match whole whitespace tokens; ``phrases`` match as
    space-joined token subsequences (both case-insensitive). Blocklists
    are crafted artifacts of a few thousand entries — parameters, never
    data — so both live inside the plan as literal arrays and the whole
    operator is MAP-ONLY whole-stage codegen: zero shuffles, zero joins,
    zero Python at any corpus size.

    Output per input row: ``n_term_hits`` (token occurrences matching any
    term), ``n_terms_matched`` (distinct terms present), ``n_phrases_
    matched`` (distinct phrases present), ``flagged`` (any hit — C4 drops
    these). Exact-integer; DuckDB reproduces rows bit-for-bit.
    """
    terms_arr = F.array(*[F.lit(t.lower()) for t in terms])
    low = F.filter(
        F.split(F.lower(F.col(text_col)), " "), lambda x: x != ""
    )
    base = df.withColumn("_lt", low)
    n_hits = F.size(
        F.filter("_lt", lambda t: F.array_contains(terms_arr, t))
    ).cast("bigint")
    n_terms = F.size(F.array_intersect("_lt", terms_arr)).cast("bigint")
    joined = F.concat_ws(" ", F.lit(""), F.array_join("_lt", " "), F.lit(""))
    n_phrases = (
        F.size(
            F.filter(
                F.array(*[F.lit(p.lower()) for p in phrases]),
                lambda p: F.contains(
                    joined, F.concat(F.lit(" "), p, F.lit(" "))
                ),
            )
        ).cast("bigint")
        if phrases
        else F.lit(0).cast("bigint")
    )
    return base.select(
        F.col(id_col),
        n_hits.alias("n_term_hits"),
        n_terms.alias("n_terms_matched"),
        n_phrases.alias("n_phrases_matched"),
        ((n_hits > 0) | (n_phrases > 0)).alias("flagged"),
    )


def perceptron_train(
    df: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    id_col: str = "doc_id",
    epochs: int = 3,
    lr_micros: int = MICRO,
    hash_tokens: bool = True,
):
    """Distributed training of the linear quality classifier that
    :func:`classifier_score` applies — the learn-the-filter half of the
    fasttext/FineWeb-Edu recipe, as the FULL-BATCH perceptron (Rosenblatt
    1958; the batch variant sums updates over all current mistakes per
    epoch, which is what makes it order-free and therefore exactly
    reproducible on any partitioning — sequential SGD is not).

    ``label_col`` must hold +1/-1. Returns ``(weights, bias_micros,
    history)`` where ``weights`` is a (token, weight_micros) DataFrame —
    the exact input contract of classifier_score, returned PERSISTED
    because scoring consumes it repeatedly; the caller owns its
    lifetime (``weights.unpersist()`` when done — unpersisting is safe,
    recompute replays deterministic integer lineage) — and ``history`` is
    one ``{"epoch": e, "n_mistakes": m}`` row per epoch (training
    stops early at zero mistakes).

    Plan shape: the corpus is hash-partitioned by document in ONE
    exchange BEFORE tokenization — the *document rows* are
    repartitioned by ``id``, then exploded; Generate preserves the
    child's HashPartitioning, so the (id, token, tf) groupBy that
    follows is exchange-free (HashPartitioning(id) satisfies the
    (id, token) clustering) and the persisted cache comes out
    id-partitioned. Shuffling doc rows moves ~the corpus bytes (1M
    rows) where shuffling exploded tokens moves 244M slim rows and
    aggregate-then-repartition pays two exchanges plus two aggregation
    passes; fresh-JVM best-of-3 at 24 cores on 1M docs: 17.5 s
    (doc-row shuffle) vs 20.1 s (exploded-token shuffle) vs 49.7 s
    (aggregate-then-repartition).

    The LABEL rides inside the tf cache (constant per doc, folded by
    max() in the same aggregate), which makes every epoch ZERO-exchange
    end to end: scoring is a broadcast weight join + groupBy(id) on the
    id-partitioned cache (no shuffle), the mistake frame inherits that
    same partitioning through filter, and the gradient's tf⋈mistakes
    join is co-partitioned on both sides — no labels re-scan of the
    source, no label exchange, nothing corpus-scale moves after the one
    tf-build shuffle. Stage isolation motivated this: the earlier
    labels-join epoch plan measured parallelism-INDEPENDENT (~18 s at
    both 6 and 24 cores on 1M docs) because each epoch re-scanned the
    source for labels and exchanged them behind a collect barrier.

    The epoch JOIN KEY is ``xxhash64(token)`` (``hash_tokens=True``),
    not the token string: scanning the cached string column costs ~8 s
    per epoch at BOTH 6 and 24 cores on 1M docs (83M UTF8String
    materializations — allocation-bound, parallelism-independent),
    while the fixed-width bigint column scans in ~1.0 s at 24 cores
    (9.3 s -> 1.0 s measured on the broadcast-score pass; the columnar
    cache prunes the unused column either way, and with hash keys the
    cache never stores strings at all). Token strings are resolved
    ONCE at the end: a source-side pass (scan -> explode -> partial
    groupBy(xxhash64) with min/max token — it re-tokenizes, but
    SCALES like the tf build instead of paying the allocation wall
    per epoch) yields the hash->token dim, an exact collision guard
    (min != max anywhere => two distinct tokens shared a hash cell =>
    training merged their weights) raises instead of returning silently
    wrong weights, and a vocab-scale join renders (token,
    weight_micros). P(collision) ~ V^2/2^65 — ~3e-6 at a 10M-token
    vocab; ``hash_tokens=False`` keeps the string-keyed epochs for
    adversarial vocabularies (twin-tested identical).
    The per-epoch id-join carries a SHUFFLE_HASH hint on the mistake
    side — SortMergeJoin would re-SORT the 83M-row cache inside every
    epoch (measured 40.6 s vs 5.2 s for the first gradient at 24
    cores); hash-probing the mistake table streams the cache unsorted,
    and the mistake frame can never broadcast (corpus-scale — half the
    docs under the probe's parity labels) but its per-partition hash
    table is |mistakes|/shuffle_partitions.

    Empty documents (no tokens) never enter the tf cache, yet the
    full-batch semantics still count them: their score is identically
    0 every epoch, so they are mistakes iff y*(0+bias) <= 0 and they
    contribute only to the bias (no tokens -> no gradient rows). Their
    (+1, -1) counts are measured ONCE up front (one exchange-free
    aggregate over the cache + one slim source aggregate) and folded
    into each epoch's mistake count / bias update as exact driver
    arithmetic. Each epoch is then: score + mistake filter persisted
    SLIM; one bounded collect; one partial-aggregated gradient
    groupBy(token); a vocab-scale outer join to fold the update in
    (persist/release per epoch, the bpe_train bounded-iteration
    pattern). All arithmetic is integer micros — no float
    summation-order sensitivity — so training is a pure function of
    the corpus (twin-tested incl. empty/whitespace-only docs; the
    first two epochs are DuckDB-oracled relationally by q_perceptron).
    """
    from pyspark.sql.functions import broadcast

    key = "_tokh" if hash_tokens else "_tok"
    exploded = df.repartition(F.col(id_col)).select(
        F.col(id_col),
        F.col(label_col).cast("bigint").alias("_y"),
        F.explode(tokens_col(text_col)).alias("_tok"),
    )
    if hash_tokens:
        exploded = exploded.select(
            id_col, "_y", F.xxhash64("_tok").alias("_tokh")
        )
    tf = (
        exploded.groupBy(id_col, key)
        .agg(
            F.count("*").cast("bigint").alias("_tf"),
            F.max("_y").alias("_y"),
        )
        .persist()
    )
    tf.count()
    # empty/whitespace-only docs never reach the cache (explode emits no
    # rows); measure their (+1, -1) counts once — exact driver-side
    # bookkeeping for every epoch's mistake count and bias update.
    tot = df.groupBy().agg(
        F.count("*").alias("_n"),
        F.sum(
            F.when(F.col(label_col).cast("bigint") > 0, 1).otherwise(0)
        ).alias("_np"),
    ).collect()[0]
    intf = (
        tf.groupBy(id_col)
        .agg(F.max("_y").alias("_y"))
        .groupBy()
        .agg(
            F.count("*").alias("_n"),
            F.sum(F.when(F.col("_y") > 0, 1).otherwise(0)).alias("_np"),
        )
        .collect()[0]
    )
    n0_pos = int(tot["_np"]) - int(intf["_np"])
    n0_neg = (int(tot["_n"]) - int(tot["_np"])) - (
        int(intf["_n"]) - int(intf["_np"])
    )
    weights = None  # (token, weight_micros) DataFrame, zero-initialised
    bias = 0
    history: list[dict] = []
    try:
        for epoch in range(epochs):
            if weights is None:
                scored = (
                    tf.groupBy(id_col)
                    .agg(F.max("_y").alias("_y"))
                    .withColumn("_score", F.lit(0).cast("bigint"))
                )
            else:
                scored = (
                    tf.join(broadcast(weights), on=key, how="left")
                    .groupBy(id_col)
                    .agg(
                        F.max("_y").alias("_y"),
                        F.sum(
                            F.col("_tf")
                            * F.coalesce("weight_micros", F.lit(0))
                        )
                        .cast("bigint")
                        .alias("_score"),
                    )
                )
            mistakes = (
                scored.filter(
                    F.col("_y") * (F.col("_score") + F.lit(bias)) <= 0
                )
                .select(id_col, "_y")
                .persist()
            )
            agg = mistakes.agg(
                F.count("*").alias("_n"), F.sum("_y").alias("_sy")
            ).collect()[0]
            # empty docs: score==0 always, so mistake iff y*bias <= 0
            m0_pos = n0_pos if bias <= 0 else 0
            m0_neg = n0_neg if bias >= 0 else 0
            n_mist = int(agg["_n"]) + m0_pos + m0_neg
            history.append({"epoch": epoch, "n_mistakes": n_mist})
            if n_mist == 0:
                mistakes.unpersist()
                break
            bias += lr_micros * (
                int(agg["_sy"] or 0) + m0_pos - m0_neg
            )
            grad = (
                tf.join(
                    mistakes.select(id_col).hint("shuffle_hash"),
                    on=id_col,
                )
                .groupBy(key)
                .agg(
                    (F.sum(F.col("_y") * F.col("_tf")) * lr_micros)
                    .cast("bigint")
                    .alias("_delta")
                )
            )
            if weights is None:
                nxt = grad.select(
                    F.col(key), F.col("_delta").alias("weight_micros")
                )
            else:
                nxt = (
                    weights.join(grad, on=key, how="full")
                    .select(
                        key,
                        (
                            F.coalesce("weight_micros", F.lit(0))
                            + F.coalesce("_delta", F.lit(0))
                        )
                        .cast("bigint")
                        .alias("weight_micros"),
                    )
                    .filter(F.col("weight_micros") != 0)
                )
            nxt = nxt.persist()
            nxt.count()
            mistakes.unpersist()
            if weights is not None:
                weights.unpersist()
            weights = nxt
    finally:
        tf.unpersist(blocking=True)
    if weights is None:
        return (
            df.sparkSession.createDataFrame(
                [], "token: string, weight_micros: bigint"
            ),
            bias,
            history,
        )
    if not hash_tokens:
        return (
            weights.select(F.col("_tok").alias("token"), "weight_micros"),
            bias,
            history,
        )
    # resolve hash keys back to token strings: ONE source-side pass
    # (re-tokenize -> partial groupBy(xxhash64) -> vocab-scale dim) —
    # scales with cores, unlike a per-epoch cached-string scan. The
    # guard is EXACT: min != max inside any hash cell means two distinct
    # corpus tokens shared a cell, i.e. every epoch merged their
    # weights — raise rather than return silently corrupted training.
    vocab = (
        df.select(F.explode(tokens_col(text_col)).alias("_tok"))
        .groupBy(F.xxhash64("_tok").alias("_tokh"))
        .agg(F.min("_tok").alias("_lo"), F.max("_tok").alias("_hi"))
        .persist()
    )
    try:
        n_bad = vocab.filter(F.col("_lo") != F.col("_hi")).count()
        if n_bad:
            weights.unpersist()
            raise ValueError(
                f"xxhash64 collision in {n_bad} token hash cells — "
                "training merged distinct tokens; rerun with "
                "hash_tokens=False"
            )
        resolved = (
            weights.join(
                vocab.select("_tokh", F.col("_hi").alias("token")),
                on="_tokh",
            )
            .select("token", "weight_micros")
            .persist()
        )
        resolved.count()
    finally:
        vocab.unpersist(blocking=True)
    weights.unpersist(blocking=True)
    return resolved, bias, history
