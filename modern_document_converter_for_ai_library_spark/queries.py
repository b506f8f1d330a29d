"""Driver-contract queries with DuckDB oracle parity.

Each entry here implements one operator family from SURVEY.md §2 (or a
training-data-pipeline operator the engine adds on top) twice:

  - ``spark_*``: the PySpark DataFrame implementation (JVM-side expressions,
    whole-stage codegen; Python only where semantics demand kernels)
  - a matching ANSI-SQL string in ``ORACLE_SQL`` runnable by DuckDB on the
    same parquet tables

Cross-engine determinism rules used throughout (so the driver's value-hash
comparison cannot flake):

  - no raw float outputs: ratios/products are quantized as
    ``floor(x * 1e6) -> bigint`` or computed in integer arithmetic
  - hashing is ``md5`` hex strings (identical bytes in both engines)
  - every Spark 32-bit int (size, row_number, ...) is cast to bigint to match
    DuckDB's int64 defaults
  - regex pattern strings are shared constants valid in BOTH Java regex and
    RE2 (no lookaround, no backrefs); only replacement-group syntax differs
    (``$1`` vs ``\\1``) and is kept engine-local
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .reference_semantics.codes import ALPHABET

# ---------------------------------------------------------------------------
# shared pattern/weight tables (subset of rules.py that is provably
# Java-regex/RE2 equivalent; the full Python-re semantics live in the kernels)
# ---------------------------------------------------------------------------

CASELAW_SCORED = [
    (r"(?i)\b\w+\s+v\.\s+\w+|\b\w+\s+versus\s+\w+", 40),
    (r"(?i)\d+\s+[A-Z][a-z]+\.?\s+(?:App\.\s+)?(?:2d|3d)?\s*\d+", 35),
    (
        r"(?i)Court of Appeals|Supreme Court|District Court|Circuit Court"
        r"|Superior Court|Appellate Court",
        20,
    ),
    (r"(?i)\b(?:LEXIS|Westlaw|WL\s+\d+|West\s+Law)\b", 15),
    (r"(?i)\b(?:Plaintiff|Defendant|Appellant|Appellee|Petitioner|Respondent)\b", 10),
    (r"(?i)(?:Decided|Filed|Argued).*\d{4}", 10),
    (r"\b(?:Opinion|Judgment|ORDER|MOTION|Memorandum|Per Curiam)\b", 5),  # case-sensitive
    (r"(?i)\b(?:affirm|reverse|remand|vacate|dismiss)(?:ed|ing)?\b", 5),
    (r"(?i)Case\s+No\.|Docket\s+No\.|Civil\s+Action\s+No\.", 5),
    (r"(?i)\bJ\.,\s+(?:concurring|dissenting|delivering the opinion)", 5),
    (r"(?i)This case comes before (?:the court|us)", 3),
    (r"(?i)\b(?:Section|§)\s+\d+|\bU\.S\.C\.|United States Code", -10),
]

STATUTE_SCORED = [
    (r"(?i)Official Code of", 100),
    (r"§", 35),
    (r"(?i)O\.\s*C\.\s*G\.\s*A\.", 30),
    (r"(?i)U\.\s*S\.\s*C\.", 30),
    (r"(?i)C\.\s*F\.\s*R\.", 30),
    (r"(?i)TITLE\s+\d+", 50),
    (r"(?i)Chapter\s+\d+", 15),
    (r"(?i)\bCode of\b", 10),
    (r"(?i)(?:Section|Sec\.)\s+\d+", 10),
    (r"(?i)§\s*\d+", 10),
    (r"(?i)\b(?:enacted|codified|amended)\b", 5),
    (r"(?i)Public Law|Pub\.\s*L\.", 5),
    (r"(?i)\b(?:subsection|subdivision|paragraph)\s*\([a-z0-9]+\)", 5),
    (r"(?i)\b\w+\s+v\.\s+\w+|\b\w+\s+versus\s+\w+", -5),
    (r"(?i)Court of Appeals|Supreme Court|District Court|Circuit Court", -5),
    (r"(?i)\b(?:Plaintiff|Defendant|Appellant|Appellee|Petitioner)\b", -5),
    (r"(?i)(?:Decided|Filed|Argued).*\d{4}", -5),
    (r"(?i)\b(?:Opinion|affirm|reverse|remand)\b", -5),
]

STOPWORDS = ["the", "a", "of", "and", "in", "to", "is", "was", "for", "on"]

MICRO = 1_000_000
SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min in microseconds


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _score_col(scored: list[tuple[str, int]]):
    col = F.lit(0)
    for pat, w in scored:
        col = col + F.when(F.col("text").rlike(pat), F.lit(w)).otherwise(F.lit(0))
    return col.cast("bigint")


def _score_sql(scored: list[tuple[str, int]]) -> str:
    terms = [
        "CASE WHEN regexp_matches(text, '%s') THEN %d ELSE 0 END" % (pat, w)
        for pat, w in scored
    ]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


# ---------------------------------------------------------------------------
# q_classify_scores — A1-A3 columnar (classification scoring + argmax + bucket)
# ---------------------------------------------------------------------------

def spark_classify_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _docs(spark, sf_dir)
    df = df.withColumn("caselaw_score", _score_col(CASELAW_SCORED)).withColumn(
        "statute_score", _score_col(STATUTE_SCORED)
    )
    best = F.greatest(F.col("caselaw_score"), F.col("statute_score"))
    doc_type = (
        F.when(best < 10, F.lit("unknown"))  # includes <=0 (below low threshold)
        # tie-break: the reference iterates rulesets in filesystem glob
        # order — statute first in this deployment (see rules.py) — and a
        # tie keeps the first-seen type
        .when(F.col("statute_score") >= F.col("caselaw_score"), F.lit("statute"))
        .otherwise(F.lit("caselaw"))
    )
    conf = F.floor(
        F.least(F.greatest(best, F.lit(0)).cast("double") / 100.0, F.lit(1.0)) * MICRO
    ).cast("bigint")
    return df.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "caselaw_score",
        "statute_score",
        doc_type.alias("document_type"),
        conf.alias("confidence_micros"),
    )


_CLASSIFY_SQL = """
WITH scored AS (
  SELECT doc_id,
         {case_score} AS caselaw_score,
         {stat_score} AS statute_score
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       caselaw_score,
       statute_score,
       CASE WHEN GREATEST(caselaw_score, statute_score) < 10 THEN 'unknown'
            WHEN statute_score >= caselaw_score THEN 'statute'
            ELSE 'caselaw' END AS document_type,
       CAST(FLOOR(LEAST(CAST(GREATEST(GREATEST(caselaw_score, statute_score), 0) AS DOUBLE) / 100.0, 1.0) * 1000000) AS BIGINT) AS confidence_micros
FROM scored
""".format(case_score=_score_sql(CASELAW_SCORED), stat_score=_score_sql(STATUTE_SCORED))


# ---------------------------------------------------------------------------
# q_normalize_chain — N2/N3 columnar whitespace+hyphen normalization, hashed
# ---------------------------------------------------------------------------

def spark_normalize_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = F.col("text")
    t = F.regexp_replace(t, r"-\s*\n\s*([a-z])", r"$1")
    t = F.regexp_replace(t, r"-\s*\n\s*([A-Z])", r"$1")
    t = F.regexp_replace(t, r"-\s{2,}([a-z])", r" $1")
    t = F.regexp_replace(t, r"\t", " ")
    t = F.regexp_replace(t, r"\r\n", "\n")
    t = F.regexp_replace(t, r"\r", "\n")
    t = F.regexp_replace(t, r"[ \t]+\n", "\n")
    t = F.regexp_replace(t, r"[ \t]{2,}", " ")
    t = F.regexp_replace(t, r"\n{3,}", "\n\n")
    t = F.trim(t)
    t = F.regexp_replace(t, r"\.([A-Z])", r". $1")
    t = F.regexp_replace(t, r",([^ \n])", r", $1")
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.md5(t).alias("normalized_hash"),
        F.length(t).cast("bigint").alias("normalized_len"),
    )


_NORMALIZE_SQL = r"""
WITH n AS (
  SELECT doc_id,
         TRIM(
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(
                           regexp_replace(text, '-\s*\n\s*([a-z])', '\1', 'g'),
                           '-\s*\n\s*([A-Z])', '\1', 'g'),
                         '-\s{2,}([a-z])', ' \1', 'g'),
                       '\t', ' ', 'g'),
                     '\r\n', e'\n', 'g'),
                   '\r', e'\n', 'g'),
                 '[ \t]+\n', e'\n', 'g'),
               '[ \t]{2,}', ' ', 'g'),
             '\n{3,}', e'\n\n', 'g')
         ) AS t0
  FROM documents
), p AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(t0, '\.([A-Z])', '. \1', 'g'),
           ',([^ \n])', ', \1', 'g') AS t
  FROM n
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       md5(t) AS normalized_hash,
       CAST(length(t) AS BIGINT) AS normalized_len
FROM p
"""


# ---------------------------------------------------------------------------
# q_token_stats — token counting (training-data op)
# ---------------------------------------------------------------------------

def spark_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    tokens = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    df = _docs(spark, sf_dir).withColumn("tokens", tokens)
    n = F.size("tokens").cast("bigint")
    nd = F.size(F.array_distinct("tokens")).cast("bigint")
    total_len = F.aggregate(
        "tokens", F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
    )
    return df.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        n.alias("n_tokens"),
        nd.alias("n_distinct"),
        ((nd * MICRO) / n).cast("bigint").alias("ttr_micros"),
        ((total_len * MICRO) / n).cast("bigint").alias("avg_token_len_micros"),
    )


_TOKEN_STATS_SQL = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS tokens
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(tokens) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(tokens)) AS BIGINT) AS n_distinct,
       CAST((CAST(len(list_distinct(tokens)) AS BIGINT) * 1000000) // len(tokens) AS BIGINT) AS ttr_micros,
       CAST((list_sum(list_transform(tokens, x -> len(x))) * 1000000) // len(tokens) AS BIGINT) AS avg_token_len_micros
FROM t
"""


# ---------------------------------------------------------------------------
# q_langid_ngram — character-TRIGRAM-profile language ID (the n-gram
# heuristic tier above the stopword ratio of q_quality_langid). The testdata
# vocabulary is synthetic, so each doc gets a deterministic language
# template prepended (doc_id % 4 selects en/fr/de/es; repeated 1+doc_id%3
# times) and the classifier must recover it. Trigram occurrence counts use
# the exact substring-count identity (len(s) - len(replace(s,t,''))) / 3 —
# identical integers in Spark and DuckDB; argmax tie-breaks in fixed
# language order.
# ---------------------------------------------------------------------------

_LANG_TEMPLATES = {
    "en": "the quick brown fox and the lazy dog are running through the fields",
    "fr": "les enfants de la ville sont dans le jardin avec leurs amis et les chiens",
    "de": "der schnelle braune fuchs und die katze schlafen in dem garten der stadt",
    "es": "los ninos de la ciudad estan en el jardin con sus amigos y los perros",
}
# common character trigrams per language (public shallow-profile heuristic)
_LANG_TRIGRAMS = {
    "en": ["the", "ing", "nd ", " ar"],
    "fr": ["les", " de", "ans", "eur"],
    "de": ["der", "sch", "und", "die"],
    "es": ["los", " el", "con", "sus"],
}
_LANG_ORDER = ["en", "fr", "de", "es"]


def spark_langid_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    did = F.col("doc_id").cast("bigint")
    template = F.element_at(
        F.array(*[F.lit(_LANG_TEMPLATES[l]) for l in _LANG_ORDER]),
        (did % 4).cast("int") + 1,
    )
    reps = (did % 3 + 1).cast("int")
    header = F.array_join(F.array_repeat(template, reps), " ")
    s = F.concat(header, F.lit(" "), F.lower(F.col("text")))
    df = _docs(spark, sf_dir).select(did.alias("doc_id"), s.alias("s"))

    def count3(t):
        return (
            (F.length("s") - F.length(F.replace(F.col("s"), F.lit(t)))) / 3
        ).cast("bigint")

    scores = {
        lang: sum(
            (count3(t) for t in _LANG_TRIGRAMS[lang][1:]),
            count3(_LANG_TRIGRAMS[lang][0]),
        )
        for lang in _LANG_ORDER
    }
    cols = [scores[lang].alias(f"score_{lang}") for lang in _LANG_ORDER]
    df = df.select("doc_id", *cols)
    best = F.col(f"score_{_LANG_ORDER[0]}")
    guess = F.lit(_LANG_ORDER[0])
    for lang in _LANG_ORDER[1:]:
        better = F.col(f"score_{lang}") > best
        guess = F.when(better, F.lit(lang)).otherwise(guess)
        best = F.when(better, F.col(f"score_{lang}")).otherwise(best)
    return df.withColumn("lang_guess", guess)


_LANGID_SQL = """
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         {templates}[CAST(doc_id % 4 AS INT) + 1] AS tpl,
         CAST(doc_id % 3 + 1 AS INT) AS reps,
         lower(text) AS body
  FROM documents
), s AS (
  SELECT doc_id,
         array_to_string(list_transform(range(1, reps + 1), i -> tpl), ' ')
           || ' ' || body AS s
  FROM d
), sc AS (
  SELECT doc_id, {scores}
  FROM s
)
SELECT doc_id, {score_cols},
       CASE {guess} END AS lang_guess
FROM sc
""".format(
    templates="["
    + ", ".join("'%s'" % _LANG_TEMPLATES[l] for l in _LANG_ORDER)
    + "]",
    scores=", ".join(
        "CAST(%s AS BIGINT) AS score_%s"
        % (
            " + ".join(
                "(length(s) - length(replace(s, '%s', ''))) // 3" % t
                for t in _LANG_TRIGRAMS[lang]
            ),
            lang,
        )
        for lang in _LANG_ORDER
    ),
    score_cols=", ".join("score_%s" % l for l in _LANG_ORDER),
    # mirror the Spark fold: a later language wins only on STRICTLY greater
    # score than the running max of all earlier languages
    guess=(
        "WHEN score_es > GREATEST(score_en, score_fr, score_de) THEN 'es' "
        "WHEN score_de > GREATEST(score_en, score_fr) THEN 'de' "
        "WHEN score_fr > score_en THEN 'fr' "
        "ELSE 'en'"
    ),
)


# ---------------------------------------------------------------------------
# q_quality_langid — quality scoring + stopword language ID (training-data op)
# ---------------------------------------------------------------------------

def spark_quality_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    tokens = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    df = _docs(spark, sf_dir).withColumn("tokens", tokens)
    n = F.size("tokens").cast("bigint")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(
        F.filter("tokens", lambda x: F.array_contains(stop_arr, F.lower(x)))
    ).cast("bigint")
    # exact integer micros (matches the oracle's `//` — see
    # operators/quality.py:micros_ratio for why float '/' diverges)
    from .operators.quality import micros_ratio

    ratio_micros = micros_ratio(n_stop, n)
    lang = F.when(ratio_micros >= 80_000, F.lit("en")).otherwise(F.lit("unknown"))
    quality = (
        F.when((n >= 20) & (ratio_micros >= 80_000), F.lit("good"))
        .when(n >= 5, F.lit("fair"))
        .otherwise(F.lit("poor"))
    )
    return df.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        n.alias("n_tokens"),
        n_stop.alias("n_stopwords"),
        ratio_micros.alias("stopword_ratio_micros"),
        lang.alias("lang_guess"),
        quality.alias("quality"),
    )


_QUALITY_SQL = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS tokens
  FROM documents
), s AS (
  SELECT doc_id,
         CAST(len(tokens) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(tokens, x -> list_contains({stops}, lower(x)))) AS BIGINT) AS n_stopwords
  FROM t
)
SELECT doc_id,
       n_tokens,
       n_stopwords,
       CAST((n_stopwords * 1000000) // n_tokens AS BIGINT) AS stopword_ratio_micros,
       CASE WHEN (n_stopwords * 1000000) // n_tokens >= 80000 THEN 'en' ELSE 'unknown' END AS lang_guess,
       CASE WHEN n_tokens >= 20 AND (n_stopwords * 1000000) // n_tokens >= 80000 THEN 'good'
            WHEN n_tokens >= 5 THEN 'fair'
            ELSE 'poor' END AS quality
FROM s
""".format(stops="[" + ", ".join("'%s'" % s for s in STOPWORDS) + "]")


# ---------------------------------------------------------------------------
# q_token_bpe — BPE-ish token counting: a GPT-2-style pretokenizer regex
# (letter runs / digit runs / punctuation runs, each with an optional
# leading space) counted via regexp_count, plus the chars/4 estimator.
# The pattern is RE2-safe (no lookaheads) so Java regex (Spark) and RE2
# (DuckDB) scan it identically — leftmost-first, same alternation order.
# This is the budget-estimation tier for sequence packing / cost models;
# exact subword ids need the real tokenizer model (out of engine scope).
# ---------------------------------------------------------------------------

_BPE_ISH_PATTERN = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"


def spark_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    ws = F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != "")).cast(
        "bigint"
    )
    bpe = F.regexp_count(F.col("text"), F.lit(_BPE_ISH_PATTERN)).cast("bigint")
    est4 = F.ceil(F.length("text") / 4).cast("bigint")
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        ws.alias("n_ws_tokens"),
        bpe.alias("n_bpe_ish"),
        est4.alias("est_tokens_len4"),
        (bpe * MICRO / F.greatest(ws, F.lit(1))).cast("bigint").alias(
            "bpe_per_ws_micros"
        ),
    )


_TOKEN_BPE_SQL = """
WITH t AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS ws,
         CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')) AS BIGINT) AS bpe,
         CAST(ceil(len(text) / 4.0) AS BIGINT) AS est4
  FROM documents
)
SELECT doc_id,
       ws AS n_ws_tokens,
       bpe AS n_bpe_ish,
       est4 AS est_tokens_len4,
       CAST((bpe * 1000000) // GREATEST(ws, 1) AS BIGINT) AS bpe_per_ws_micros
FROM t
"""


# ---------------------------------------------------------------------------
# q_bpe_pair_counts — the first round of BPE tokenizer TRAINING
# (operators/bpe.py): weighted adjacent character-pair counts over the
# corpus word-frequency table, top 20 by (freq desc, left, right) — the
# argmax row is the trainer's first merge. The full iterative trainer
# (bpe_train) is merge-history-dependent and not SQL-expressible; it is
# pinned against a sequential pure-Python twin in tests/test_bpe.py.
# Plan: one corpus-scale partial-aggregated groupBy(word), then pair
# explode + groupBy over the BOUNDED vocabulary table only.
# ---------------------------------------------------------------------------


def spark_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.bpe import word_frequencies

    wf = word_frequencies(_docs(spark, sf_dir))
    pairs = (
        wf.filter(F.length("word") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("word") - 1),
                    lambda i: F.struct(
                        F.col("word").substr(i, F.lit(1)).alias("left"),
                        F.col("word")
                        .substr(i + 1, F.lit(1))
                        .alias("right"),
                    ),
                )
            ).alias("pair"),
            "freq",
        )
        .groupBy("pair.left", "pair.right")
        .agg(F.sum("freq").cast("bigint").alias("pair_freq"))
    )
    return pairs.orderBy(
        F.col("pair_freq").desc(), F.col("left"), F.col("right")
    ).limit(20)


_BPE_PAIR_COUNTS_SQL = """
WITH w AS (
  SELECT u.word FROM documents,
         UNNEST(list_filter(string_split(text, ' '), x -> x <> '')) AS u(word)
), wf AS (
  SELECT word, COUNT(*)::BIGINT AS freq FROM w GROUP BY 1
), p AS (
  SELECT word[CAST(u.i AS INT)] AS left_c,
         word[CAST(u.i AS INT) + 1] AS right_c,
         freq
  FROM wf, UNNEST(range(1, CAST(length(word) AS BIGINT))) AS u(i)
  WHERE length(word) >= 2
)
SELECT left_c AS "left", right_c AS "right",
       SUM(freq)::BIGINT AS pair_freq
FROM p GROUP BY 1, 2
ORDER BY pair_freq DESC, "left", "right"
LIMIT 20
"""


# ---------------------------------------------------------------------------
# q_bloom_dedup — cross-snapshot membership via a distributed Bloom filter
# (operators/bloom.py): even-doc_id documents play the HISTORICAL corpus
# (their content hashes build the filter — one bounded groupBy, output a
# single 64Ki-bit array row); odd-doc_id documents are the INCOMING batch,
# each answering "maybe seen before?" through a broadcast of the filter +
# a codegen forall over its 5 probe bits — zero data-side shuffle, no
# join against the history. The key is the md5 of the first 8 whitespace
# tokens (a content-prefix fingerprint — the synthetic corpus has no
# byte-identical full texts, but shared openings collide, which is what
# prefix-keyed crawl dedup catches). Shared prefixes across the split
# MUST flag (no false negatives); false positives are deterministic
# given the md5 hash family, so the DuckDB oracle reproduces verdicts
# bit-for-bit.
# ---------------------------------------------------------------------------

_BLOOM_M, _BLOOM_K = 1 << 16, 5


def spark_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.bloom import bloom_build, bloom_member

    prefix = F.array_join(
        F.slice(F.filter(F.split("text", " "), lambda x: x != ""), 1, 8),
        " ",
    )
    d = _docs(spark, sf_dir).select("doc_id", F.md5(prefix).alias("h"))
    base = d.filter(F.col("doc_id") % 2 == 0)
    filt = bloom_build(base, "h", m=_BLOOM_M, k=_BLOOM_K)
    new = d.filter(F.col("doc_id") % 2 == 1)
    out = bloom_member(new, filt, "h", m=_BLOOM_M, k=_BLOOM_K)
    return out.select("doc_id", "maybe_seen").orderBy("doc_id")


_BLOOM_SQL = f"""
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         md5(array_to_string(list_slice(
           list_filter(string_split(text, ' '), x -> x <> ''), 1, 8), ' '))
           AS h
  FROM documents
), hp AS (
  SELECT ('0x' || substring(h, 1, 8))::BIGINT AS h1,
         ('0x' || substring(h, 9, 8))::BIGINT AS h2
  FROM d WHERE doc_id % 2 = 0
), pos AS (
  SELECT (h1 + u.i * (2 * h2 + 1)) % {_BLOOM_M} AS p
  FROM hp, UNNEST(range(0, {_BLOOM_K})) AS u(i)
), words AS (
  SELECT p // 64 AS widx,
         bit_or(1::HUGEINT << CAST(p % 64 AS INT)) AS word
  FROM pos GROUP BY 1
), np AS (
  SELECT doc_id,
         (('0x' || substring(h, 1, 8))::BIGINT
          + u.i * (2 * ('0x' || substring(h, 9, 8))::BIGINT + 1))
           % {_BLOOM_M} AS p
  FROM d, UNNEST(range(0, {_BLOOM_K})) AS u(i)
  WHERE doc_id % 2 = 1
)
SELECT np.doc_id,
       bool_and(COALESCE((w.word >> CAST(np.p % 64 AS INT)) & 1, 0) = 1)
         AS maybe_seen
FROM np LEFT JOIN words w ON w.widx = np.p // 64
GROUP BY 1
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# q_pack_sequences — sequence packing for pretraining batches (operators/
# packing.py): greedy first-fit-in-order within deterministic buckets
# (here doc_id % 4 so the DuckDB oracle can mirror the layout), budget 512
# whitespace tokens. The oracle replays the per-bucket greedy walk as a
# RECURSIVE CTE carrying (seq, cur_tokens, pos) — prefix-dependent state
# that plain SQL windows cannot express, which is exactly why the Spark
# side packs inside an Arrow kernel per bucket.
# ---------------------------------------------------------------------------

_PACK_BUDGET = 512


def spark_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.packing import pack_sequences

    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.size(toks).cast("bigint").alias("n_tokens"),
        (F.col("doc_id") % 4).cast("bigint").alias("bucket"),
    )
    out = pack_sequences(
        docs, budget_tokens=_PACK_BUDGET, bucket_col="bucket"
    )
    return out.select("doc_id", "n_tokens", "seq_id", "seq_pos")


_PACK_SQL = """
WITH RECURSIVE t AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens,
         CAST(doc_id % 4 AS BIGINT) AS bucket
  FROM documents
), ordered AS (
  SELECT doc_id, n_tokens, bucket,
         row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
  FROM t
), walk AS (
  SELECT bucket, rn, doc_id, n_tokens,
         CAST(0 AS BIGINT) AS seq, n_tokens AS cur, CAST(0 AS BIGINT) AS pos
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.bucket, o.rn, o.doc_id, o.n_tokens,
         CASE WHEN w.cur > 0 AND w.cur + o.n_tokens > {b}
              THEN w.seq + 1 ELSE w.seq END,
         CASE WHEN w.cur > 0 AND w.cur + o.n_tokens > {b}
              THEN o.n_tokens ELSE w.cur + o.n_tokens END,
         CASE WHEN w.cur > 0 AND w.cur + o.n_tokens > {b}
              THEN 0 ELSE w.pos + 1 END
  FROM walk w JOIN ordered o ON o.bucket = w.bucket AND o.rn = w.rn + 1
)
SELECT doc_id, n_tokens,
       CAST(bucket * 4294967296 + seq AS BIGINT) AS seq_id,
       pos AS seq_pos
FROM walk
""".format(b=_PACK_BUDGET)


# ---------------------------------------------------------------------------
# q_pii_scrub — typed PII redaction (operators/pii.py): emails, SSN-shaped
# ids, US phones, IPv4s -> placeholder tokens, per-type counts from the
# ORIGINAL text. The testdata carries no PII, so deterministic synthetic
# PII is injected per doc_id residue in BOTH engines (including a doc with
# several types at once); the scrubbed text is compared via md5.
# ---------------------------------------------------------------------------

def spark_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.pii import scrub_pii

    d = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.when(d % 7 == 0, F.concat(F.lit(" contact user"), (d % 5).cast("string"), F.lit("@example.com now")))
        .otherwise(F.lit("")),
        F.when(d % 11 == 0, F.lit(" ssn 123-45-6789 on file")).otherwise(F.lit("")),
        F.when(d % 13 == 0, F.concat(F.lit(" call 555-867-530"), (d % 10).cast("string"))).otherwise(F.lit("")),
        F.when(d % 17 == 0, F.concat(F.lit(" from 10.0."), (d % 255).cast("string"), F.lit(".1"))).otherwise(F.lit("")),
    )
    docs = _docs(spark, sf_dir).select(
        d.cast("bigint").alias("doc_id"), injected.alias("text")
    )
    out = scrub_pii(docs)
    return out.select(
        "doc_id",
        "n_email",
        "n_ssn",
        "n_phone",
        "n_ip",
        F.md5("text_scrubbed").alias("scrubbed_md5"),
    )


_PII_SQL = r"""
WITH t AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         text
         || (CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id % 5 AS VARCHAR) || '@example.com now' ELSE '' END)
         || (CASE WHEN doc_id % 11 = 0 THEN ' ssn 123-45-6789 on file' ELSE '' END)
         || (CASE WHEN doc_id % 13 = 0 THEN ' call 555-867-530' || CAST(doc_id % 10 AS VARCHAR) ELSE '' END)
         || (CASE WHEN doc_id % 17 = 0 THEN ' from 10.0.' || CAST(doc_id % 255 AS VARCHAR) || '.1' ELSE '' END)
         AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_ssn,
       CAST(len(regexp_extract_all(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT) AS n_phone,
       CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
       md5(regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
               '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')) AS scrubbed_md5
FROM t
"""


# ---------------------------------------------------------------------------
# q_gopher_quality — the Gopher quality heuristics (Rae et al. 2021 A1.1)
# as exact-integer map-only columns: word-count bounds, mean word length,
# symbol-to-word ratio (# + ellipsis), alphabetic-word fraction, and the
# stopword-presence test (operators/quality.py:gopher_quality_signals).
# ---------------------------------------------------------------------------

def spark_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.quality import gopher_quality_signals

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    return gopher_quality_signals(docs)


_GOPHER_QUALITY_SQL = """
WITH t AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
), s AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n,
         CAST(COALESCE(list_sum(list_transform(toks, x -> len(x))), 0) AS BIGINT) AS total_len,
         CAST(len(text) - len(replace(text, '#', ''))
              + (len(text) - len(replace(text, '...', ''))) // 3 AS BIGINT) AS n_symbols,
         CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
         CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
                              s -> list_contains(list_transform(toks, t -> lower(t)), s))) AS BIGINT) AS n_stop
  FROM t
), r AS (
  SELECT doc_id, n, n_stop,
         (total_len * 1000000) // GREATEST(n, 1) AS mean_len,
         (n_symbols * 1000000) // GREATEST(n, 1) AS sym_ratio,
         (n_alpha * 1000000) // GREATEST(n, 1) AS alpha_ratio
  FROM s
)
SELECT doc_id,
       n AS n_words,
       CAST(mean_len AS BIGINT) AS mean_word_len_micros,
       CAST(sym_ratio AS BIGINT) AS symbol_ratio_micros,
       CAST(alpha_ratio AS BIGINT) AS alpha_word_ratio_micros,
       n_stop AS n_gopher_stopwords,
       (n >= 50 AND n <= 100000
        AND mean_len >= 3000000 AND mean_len <= 10000000
        AND sym_ratio < 100000
        AND alpha_ratio >= 800000
        AND n_stop >= 2) AS gopher_pass
FROM r
"""


# ---------------------------------------------------------------------------
# q_repetition_stats — Gopher repetition filters: fraction of characters in
# the most frequent word-2-gram (tie-break count desc, gram asc) and in
# duplicated word-5-grams (operators/quality.py:ngram_repetition_stats).
# Scale shape: map-only JVM fold over each doc's sorted grams
# (operators/quality.py:repetition_exprs) — zero Exchange, no Python.
# ---------------------------------------------------------------------------

def spark_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.quality import ngram_repetition_stats

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    return ngram_repetition_stats(docs)


_REPETITION_SQL = """
WITH t AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
), g2 AS (
  SELECT doc_id, u.g
  FROM t, UNNEST(list_transform(range(1, len(toks)),
                 i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1])) AS u(g)
  WHERE len(toks) >= 2
), c2 AS (
  SELECT doc_id, g, count(*) AS n FROM g2 GROUP BY doc_id, g
), p2 AS (
  SELECT doc_id, total, hit FROM (
    SELECT doc_id,
           SUM(n * len(g)) OVER (PARTITION BY doc_id) AS total,
           n * len(g) AS hit,
           row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, g ASC) AS rn
    FROM c2
  ) WHERE rn = 1
), g5 AS (
  SELECT doc_id, u.g
  FROM t, UNNEST(list_transform(range(1, len(toks) - 3),
                 i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1] || ' ' ||
                      toks[CAST(i AS INT) + 2] || ' ' || toks[CAST(i AS INT) + 3] || ' ' ||
                      toks[CAST(i AS INT) + 4])) AS u(g)
  WHERE len(toks) >= 5
), c5 AS (
  SELECT doc_id, g, count(*) AS n FROM g5 GROUP BY doc_id, g
), p5 AS (
  SELECT doc_id,
         SUM(n * len(g)) AS total,
         SUM(CASE WHEN n >= 2 THEN n * len(g) ELSE 0 END) AS hit
  FROM c5 GROUP BY doc_id
), f AS (
  SELECT t.doc_id,
         CAST(COALESCE((p2.hit * 1000000) // GREATEST(p2.total, 1), 0) AS BIGINT) AS top2_frac_micros,
         CAST(COALESCE((p5.hit * 1000000) // GREATEST(p5.total, 1), 0) AS BIGINT) AS dup5_frac_micros
  FROM t LEFT JOIN p2 USING (doc_id) LEFT JOIN p5 USING (doc_id)
)
SELECT doc_id, top2_frac_micros, dup5_frac_micros,
       (top2_frac_micros <= 200000 AND dup5_frac_micros <= 150000) AS repetition_pass
FROM f
"""


# ---------------------------------------------------------------------------
# q_url_normalize — crawl-style URL canonicalization (functions/urls.py):
# lowercase scheme+host, strip fragment and default ports, drop tracking
# params preserving the rest's order, empty path -> '/'. The messy input
# URL is synthesized deterministically from doc_id in BOTH engines (the
# testdata carries no URLs), exercising every rule: upper-case scheme and
# host, default port 80/443 vs explicit :8080, empty paths, queries that
# are all-tracking, mixed, or tracking-free.
# ---------------------------------------------------------------------------

def spark_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.urls import host_col, normalize_url_col

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id")
    )
    d = F.col("doc_id")
    raw = F.concat(
        F.when(d % 2 == 0, F.lit("HTTP")).otherwise(F.lit("https")),
        F.lit("://Site"),
        (d % 7).cast("string"),
        F.lit(".Example.COM"),
        F.when(d % 4 == 0, F.lit(":80"))
        .when(d % 4 == 1, F.lit(":443"))
        .when(d % 4 == 2, F.lit(":8080"))
        .otherwise(F.lit("")),
        F.when(d % 3 == 0, F.lit("")).otherwise(
            F.concat(F.lit("/Docs/"), d.cast("string"))
        ),
        F.when(d % 5 == 0, F.lit("?utm_source=only"))
        .when(d % 2 == 0, F.concat(F.lit("?utm_source=feed&id="), (d % 5).cast("string"), F.lit("&gclid=x&page=2")))
        .otherwise(F.lit("?a=1&utm_campaign=z")),
        F.lit("#Sec"),
        (d % 3).cast("string"),
    )
    withu = docs.select("doc_id", raw.alias("url"))
    return withu.select(
        "doc_id",
        normalize_url_col(F.col("url")).alias("url_norm"),
        host_col(F.col("url")).alias("host"),
    )


_URL_NORMALIZE_SQL = r"""
WITH r AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END)
    || '://Site' || CAST(doc_id % 7 AS VARCHAR) || '.Example.COM'
    || (CASE WHEN doc_id % 4 = 0 THEN ':80' WHEN doc_id % 4 = 1 THEN ':443'
             WHEN doc_id % 4 = 2 THEN ':8080' ELSE '' END)
    || (CASE WHEN doc_id % 3 = 0 THEN '' ELSE '/Docs/' || CAST(doc_id AS VARCHAR) END)
    || (CASE WHEN doc_id % 5 = 0 THEN '?utm_source=only'
             WHEN doc_id % 2 = 0 THEN '?utm_source=feed&id=' || CAST(doc_id % 5 AS VARCHAR) || '&gclid=x&page=2'
             ELSE '?a=1&utm_campaign=z' END)
    || '#Sec' || CAST(doc_id % 3 AS VARCHAR) AS url
  FROM documents
), p AS (
  SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM r
), parts AS (
  SELECT doc_id,
         lower(regexp_extract(u, '^([^:/?#]+)://', 1)) AS scheme,
         lower(regexp_extract(regexp_replace(u, '^[^:/?#]+://', ''), '^([^/?#]*)', 1)) AS hostport,
         substring(regexp_replace(u, '^[^:/?#]+://', ''),
                   length(regexp_extract(regexp_replace(u, '^[^:/?#]+://', ''), '^([^/?#]*)', 1)) + 1) AS pathq
  FROM p
), parts2 AS (
  SELECT doc_id, scheme,
         CASE WHEN scheme = 'http' AND hostport LIKE '%:80'
                THEN substring(hostport, 1, length(hostport) - 3)
              WHEN scheme = 'https' AND hostport LIKE '%:443'
                THEN substring(hostport, 1, length(hostport) - 4)
              ELSE hostport END AS host,
         regexp_extract(pathq, '^([^?]*)', 1) AS path,
         regexp_extract(pathq, '\?(.*)$', 1) AS query,
         regexp_extract(hostport, '^([^:]*)', 1) AS bare_host
  FROM parts
), fin AS (
  SELECT doc_id, scheme, host, bare_host,
         CASE WHEN path = '' THEN '/' ELSE path END AS path,
         list_filter(string_split(query, '&'),
                     kv -> kv <> '' AND NOT regexp_matches(kv, '^(utm_[^=]*|gclid|fbclid)=')) AS params
  FROM parts2
)
SELECT doc_id,
       scheme || '://' || host || path
       || (CASE WHEN len(params) > 0 THEN '?' || array_to_string(params, '&') ELSE '' END) AS url_norm,
       bare_host AS host
FROM fin
"""


# ---------------------------------------------------------------------------
# q_passage_dedup — cross-document passage dedup (C4/RefinedWeb move: drop
# repeated passages, keep the docs): non-overlapping 15-token chunks, one
# survivor per chunk content corpus-wide = min (doc_id, chunk_idx), docs
# reassembled from surviving chunks (operators/dedup.py:passage_dedup —
# one window shuffle keyed by chunk hash + one reassembly groupBy).
# ---------------------------------------------------------------------------

def spark_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import passage_dedup

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    return passage_dedup(docs, chunk_tokens=15)


_PASSAGE_DEDUP_SQL = """
WITH t AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
), ch AS (
  SELECT doc_id, CAST(u.i AS BIGINT) AS chunk_idx,
         array_to_string(list_slice(toks, u.i * 15 + 1, u.i * 15 + 15), ' ') AS chunk
  FROM t, UNNEST(range(0, CAST(ceil(len(toks) / 15.0) AS BIGINT))) AS u(i)
  WHERE len(toks) > 0
), w AS (
  SELECT doc_id, chunk_idx, chunk,
         row_number() OVER (PARTITION BY md5(chunk) ORDER BY doc_id, chunk_idx) AS rn
  FROM ch
), p AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_chunks,
         CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         COALESCE(string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY chunk_idx), '') AS text_clean
  FROM w GROUP BY doc_id
)
SELECT t.doc_id,
       COALESCE(p.text_clean, '') AS text_clean,
       COALESCE(p.n_chunks, 0) AS n_chunks,
       COALESCE(p.n_kept, 0) AS n_kept
FROM t LEFT JOIN p USING (doc_id)
"""


# ---------------------------------------------------------------------------
# q_decontaminate — benchmark decontamination by 13-token-gram overlap (the
# GPT-3/PaLM protocol shape). The "evaluation set" is the deterministic
# doc_id % 97 == 0 slice of the corpus, so those docs (and any document
# sharing a 13-gram with them — e.g. their exact duplicates) must flag.
# Spark: broadcast semi-join of exploded overlapping gram hashes against
# the distinct benchmark gram set (operators/dedup.py:decontaminate).
# ---------------------------------------------------------------------------

def spark_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import decontaminate

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    bench = docs.filter(F.col("doc_id") % 97 == 0).select("doc_id", "text")
    return decontaminate(docs, bench, ngram=13)


_DECONTAMINATE_SQL = """
WITH t AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
), bg AS (
  SELECT DISTINCT md5(array_to_string(list_slice(toks, u.i, u.i + 12), ' ')) AS gram_hash
  FROM t, UNNEST(range(1, len(toks) - 11)) AS u(i)
  WHERE doc_id % 97 = 0 AND len(toks) >= 13
), dg AS (
  SELECT doc_id, md5(array_to_string(list_slice(toks, u.i, u.i + 12), ' ')) AS gram_hash
  FROM t, UNNEST(range(1, len(toks) - 11)) AS u(i)
  WHERE len(toks) >= 13
), hits AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n
  FROM dg WHERE gram_hash IN (SELECT gram_hash FROM bg)
  GROUP BY doc_id
)
SELECT t.doc_id,
       COALESCE(hits.n, 0) AS n_contaminated_grams,
       COALESCE(hits.n, 0) > 0 AS contaminated
FROM t LEFT JOIN hits USING (doc_id)
"""


# ---------------------------------------------------------------------------
# q_sample_mix — deterministic hash-threshold domain mixing (operators/
# sampling.py): doc kept iff md5-hash micros < its source's mixing rate.
# Rates here derive from the source index (srcN -> ((N*7) % 10) * 10%),
# covering 0% and 90% keys. Reproducible across engines/partitionings by
# construction — the whole point vs rand() sampling.
# ---------------------------------------------------------------------------

def spark_sample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import stratified_sample

    rates = {f"src{n}": ((n * 7) % 10) * 100_000 for n in range(20)}
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "source"
    )
    return stratified_sample(docs, rates)


# ---------------------------------------------------------------------------
# q_temperature_mix — temperature-scaled mixture sampling (operators/
# sampling.py:temperature_sample): per-source acceptance rates with
# share_i ∝ sqrt(mass_i) (alpha=1/2), EXACT integer square roots
# (double-seeded + correction) so both engines agree bit-for-bit, rates
# capped at 1e6, doc kept iff md5 micros < its source's rate.
# ---------------------------------------------------------------------------

def spark_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import temperature_sample

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "source"
    )
    out = temperature_sample(docs, alpha="1/2", target_total=200)
    return out.select("doc_id", "source", "rate_micros", "hash_micros", "sampled")


# shared by q_temperature_mix and q_training_layout (single source of
# truth for the exact-integer temperature-rate derivation)
_TEMPERATURE_CTE = r"""
WITH m AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS mass FROM documents GROUP BY source
), seed AS (
  SELECT source, mass,
         CAST(floor(sqrt(CAST(mass AS DOUBLE))) AS BIGINT) AS s
  FROM m
), w AS (
  SELECT source, mass,
         CASE WHEN s * s > mass THEN s - 1
              WHEN (s + 1) * (s + 1) <= mass THEN s + 1
              ELSE s END AS weight
  FROM seed
), t AS (
  SELECT CAST(SUM(weight) AS BIGINT) AS w_total FROM w
), r AS (
  SELECT source,
         LEAST(CAST(1000000 AS BIGINT),
               CAST((CAST(200 AS HUGEINT) * weight * 1000000)
                    // (CAST(w_total AS HUGEINT) * mass) AS BIGINT))
           AS rate_micros
  FROM w, t
)"""

_TEMPERATURE_MIX_SQL = _TEMPERATURE_CTE + r"""
SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.source, r.rate_micros,
       CAST(CAST(concat('0x', substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
            % 1000000 AS BIGINT) AS hash_micros,
       CAST(CAST(concat('0x', substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
            % 1000000 AS BIGINT) < r.rate_micros AS sampled
FROM documents d JOIN r USING (source)
"""


_SAMPLE_MIX_SQL = r"""
WITH t AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
         CAST(CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
              % 1000000 AS BIGINT) AS hash_micros,
         (CAST(regexp_extract(source, 'src(\d+)', 1) AS INT) * 7) % 10 * 100000 AS thr
  FROM documents
)
SELECT doc_id, source, hash_micros, hash_micros < thr AS sampled
FROM t
"""


# ---------------------------------------------------------------------------
# q_group_split — leakage-safe train/val/test split (operators/sampling.py:
# group_split): the split hash is over the GROUP key (source), so every
# document of a group lands in the same split — near-duplicates within a
# site can never straddle train/test. Map-only: one md5 + a CASE, zero
# shuffles. 80/10/10 cumulative intervals in micros.
# ---------------------------------------------------------------------------

_SPLIT_WIDTHS = {"train": 800_000, "val": 100_000, "test": 100_000}


def spark_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import group_split

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "source"
    )
    return group_split(docs, _SPLIT_WIDTHS)


_GROUP_SPLIT_SQL = r"""
WITH t AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
         CAST(CAST(concat('0x', substring(md5(source), 1, 8)) AS BIGINT)
              % 1000000 AS BIGINT) AS group_hash_micros
  FROM documents
)
SELECT doc_id, source, group_hash_micros,
       CASE WHEN group_hash_micros < 800000 THEN 'train'
            WHEN group_hash_micros < 900000 THEN 'val'
            ELSE 'test' END AS split
FROM t
"""


# ---------------------------------------------------------------------------
# q_token_budget_mix — token-budget corpus mixing (operators/sampling.py:
# budget_sample): per-source greedy prefix in deterministic hash-priority
# order until the source's token budget fills. Two-phase bucketed cumsum
# (bucket = hash_micros*16 // 1e6; offsets from the tiny per-bucket sums) —
# the oracle computes the SAME result with one plain window per source.
# ---------------------------------------------------------------------------

_BUDGETS = {"src0": 800, "src1": 0, "src2": 100_000}
_BUDGET_DEFAULT = 500


def spark_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import budget_sample

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "source", "text"
    )
    return budget_sample(
        docs, _BUDGETS, default_budget=_BUDGET_DEFAULT
    )


_TOKEN_BUDGET_SQL = r"""
WITH t AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens,
         CAST(CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
              % 1000000 AS BIGINT) AS hash_micros
  FROM documents
), c AS (
  SELECT *,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY hash_micros, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens,
         CASE WHEN source = 'src0' THEN 800
              WHEN source = 'src1' THEN 0
              WHEN source = 'src2' THEN 100000
              ELSE 500 END AS budget
  FROM t
)
SELECT doc_id, source, n_tokens, hash_micros,
       CAST(cum_tokens AS BIGINT) AS cum_tokens,
       cum_tokens <= budget AND budget > 0 AS kept
FROM c
"""


# ---------------------------------------------------------------------------
# q_epoch_mix — UPSAMPLING token-budget mixing (operators/sampling.py:
# epoch_budget_sample): budget > source token mass => full repeat epochs +
# a hash-priority prefix of the last one. At sf0.01 src0 (~1.4k tokens)
# upsamples to 2 full epochs + remainder under its 3.5k budget; at sf0.1
# the same budget is a sub-mass prefix — both regimes oracled by the one
# SQL below.
# ---------------------------------------------------------------------------

_EPOCH_BUDGETS = {"src0": 3500, "src1": 100}


def spark_epoch_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import epoch_budget_sample

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "source", "text"
    )
    return epoch_budget_sample(docs, _EPOCH_BUDGETS, default_budget=0)


_EPOCH_MIX_SQL = r"""
WITH t AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens,
         CAST(CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
              % 1000000 AS BIGINT) AS hash_micros
  FROM documents
), c AS (
  SELECT *,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY hash_micros, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
  FROM t
), tot AS (
  SELECT source, SUM(n_tokens) AS total FROM t GROUP BY source
), j AS (
  SELECT c.*, tot.total,
         CASE WHEN c.source = 'src0' THEN 3500
              WHEN c.source = 'src1' THEN 100
              ELSE 0 END AS budget
  FROM c JOIN tot USING (source)
), k AS (
  SELECT *,
         CASE WHEN total = 0 THEN 0 ELSE budget // total END AS n_full,
         budget - (CASE WHEN total = 0 THEN 0 ELSE budget // total END) * total AS rem
  FROM j
)
SELECT doc_id, source, CAST(u.epoch AS BIGINT) AS epoch,
       n_tokens, hash_micros, CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM k, UNNEST(range(CAST(0 AS BIGINT), CAST(n_full + 1 AS BIGINT))) AS u(epoch)
WHERE (u.epoch < n_full OR (cum_tokens <= rem AND rem > 0)) AND budget > 0
"""


# ---------------------------------------------------------------------------
# q_corpus_shuffle — deterministic global training-order shuffle
# (operators/sampling.py:corpus_shuffle): shuffle_rank = 0-based position
# in the seeded hash permutation ordered by (shuffle_key, doc_id), where
# shuffle_key is the 60-bit truncated-md5 BIGINT (sampling.shuffle_key_col
# — widened from hash_micros in r5 per VERDICT r4: the mod-1e6 key left
# ~10^4-doc id-sorted tie runs at 10^10 docs). Exact global rank with no
# corpus-wide window: two-phase bucketed rank (bucket = leading key bits,
# per-bucket count offsets over a bounded <= n_buckets-row window,
# within-bucket row_number partitioned by bucket). The oracle is the
# single-window form DuckDB can afford at sf scale.
# ---------------------------------------------------------------------------

_SHUFFLE_SALT = "r4"
# explicit bucket count: n_buckets=None would make the builder run an
# eager count() (sampling._auto_buckets); the permutation is
# bucket-count invariant (tests/test_corpus_shuffle.py), so outputs match
_SHUFFLE_BUCKETS = 1024


def spark_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import corpus_shuffle

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id")
    )
    return corpus_shuffle(
        docs, salt=_SHUFFLE_SALT, n_buckets=_SHUFFLE_BUCKETS
    ).select(
        "doc_id", "shuffle_rank"
    )


_CORPUS_SHUFFLE_SQL = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(row_number() OVER (
         ORDER BY ('0x' || substring(md5(CAST(CAST(doc_id AS BIGINT) AS VARCHAR)
                                        || '%s'), 1, 15))::BIGINT,
                  CAST(doc_id AS BIGINT)
       ) - 1 AS BIGINT) AS shuffle_rank
FROM documents
""" % _SHUFFLE_SALT


# ---------------------------------------------------------------------------
# q_training_layout — the composed terminal training-data layout:
# temperature-mix (alpha=1/2) -> seeded global shuffle -> fixed-doc-count
# shards. One contract query pins the INTEGRATION of the three stages the
# pipeline story ends with (each stage is also oracled alone:
# q_temperature_mix, q_corpus_shuffle, q_shard_assign); the oracle chains
# the shared temperature CTE, the single-window rank, and an integer div.
# ---------------------------------------------------------------------------

_LAYOUT_SHARD_DOCS = 32


def spark_training_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import corpus_shuffle, temperature_sample

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "source"
    )
    mixed = (
        temperature_sample(docs, alpha="1/2", target_total=200)
        .filter("sampled")
        .select("doc_id", "source")
    )
    laid = corpus_shuffle(
        mixed, salt=_SHUFFLE_SALT, n_buckets=_SHUFFLE_BUCKETS
    )
    return laid.select(
        "doc_id",
        "source",
        "shuffle_rank",
        F.expr(
            "CAST(shuffle_rank div %d AS BIGINT)" % _LAYOUT_SHARD_DOCS
        ).alias("shard_id"),
    )


_TRAINING_LAYOUT_SQL = _TEMPERATURE_CTE + r"""
, sampled_docs AS (
  SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.source
  FROM documents d JOIN r USING (source)
  WHERE CAST(concat('0x', substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        % 1000000 < r.rate_micros
), ranked AS (
  SELECT doc_id, source,
         row_number() OVER (
           ORDER BY ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '__SALT__'), 1, 15))::BIGINT,
                    doc_id
         ) - 1 AS shuffle_rank
  FROM sampled_docs
)
SELECT doc_id, source, CAST(shuffle_rank AS BIGINT) AS shuffle_rank,
       CAST(shuffle_rank // __SHARD__ AS BIGINT) AS shard_id
FROM ranked
""".replace("__SALT__", _SHUFFLE_SALT).replace(
    "__SHARD__", str(_LAYOUT_SHARD_DOCS)
)


# ---------------------------------------------------------------------------
# q_shard_assign / q_shard_manifest — deterministic fixed-token-mass shard
# layout (operators/sampling.py:shard_assign): every document assigned by
# its START offset in the canonical (hash_micros, doc_id) layout —
# shard_id = (cum_tokens - n_tokens) div 400 — via the same two-phase
# bucketed cumsum as the mixers; the manifest is the bounded per-shard
# audit (n_docs, actual token mass, hash range). Oracle = one plain
# window per source; start offsets are non-negative so `div` vs `//`
# rounding cannot diverge.
# ---------------------------------------------------------------------------

_SHARD_TOKENS = 400


def spark_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import shard_assign

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "source", "text"
    )
    return shard_assign(docs, _SHARD_TOKENS)


def spark_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import shard_assign, shard_manifest

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "source", "text"
    )
    return shard_manifest(shard_assign(docs, _SHARD_TOKENS))


_SHARD_BASE_SQL = r"""
WITH t AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens,
         CAST(CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
              % 1000000 AS BIGINT) AS hash_micros
  FROM documents
), c AS (
  SELECT *,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY hash_micros, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
  FROM t
)
SELECT doc_id, source, n_tokens, hash_micros,
       CAST(cum_tokens AS BIGINT) AS cum_tokens,
       CAST((cum_tokens - n_tokens) // 400 AS BIGINT) AS shard_id
FROM c
"""

_SHARD_SQL = _SHARD_BASE_SQL

_SHARD_MANIFEST_SQL = (
    "WITH a AS (" + _SHARD_BASE_SQL + ")\n"
    "SELECT source, shard_id, COUNT(*)::BIGINT AS n_docs,\n"
    "       SUM(n_tokens)::BIGINT AS shard_token_count,\n"
    "       MIN(hash_micros)::BIGINT AS min_hash_micros,\n"
    "       MAX(hash_micros)::BIGINT AS max_hash_micros\n"
    "FROM a GROUP BY source, shard_id"
)


# ---------------------------------------------------------------------------
# q_shuffled_shards / q_shuffled_shard_manifest — the fused terminal
# training layout (operators/sampling.py:shuffled_shard_assign): global
# 60-bit seeded shuffle + token-mass shards that are PREFIXES of the
# shuffled order, both computed off ONE bucketed reduction (curate_job's
# --shuffle-salt terminal stage; the shard_assign layout keeps per-source
# sampler order — correct for storage accounting, correlated as a
# training stream). Oracle: single-window rank + running sum in
# (shuffle_key, doc_id) order.
# ---------------------------------------------------------------------------

_SHUF_SHARD_TOKENS = 400


def spark_shuffled_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import shuffled_shard_assign

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    return shuffled_shard_assign(
        docs, _SHUF_SHARD_TOKENS, salt=_SHUFFLE_SALT,
        n_buckets=_SHUFFLE_BUCKETS,
    ).select("doc_id", "n_tokens", "shuffle_rank", "cum_tokens", "shard_id")


def spark_shuffled_shard_manifest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .operators.sampling import (
        shuffled_shard_assign,
        shuffled_shard_manifest,
    )

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    return shuffled_shard_manifest(
        shuffled_shard_assign(
            docs, _SHUF_SHARD_TOKENS, salt=_SHUFFLE_SALT,
            n_buckets=_SHUFFLE_BUCKETS,
        )
    )


_SHUF_SHARD_BASE_SQL = r"""
WITH st AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(COALESCE(len(list_filter(string_split(text, ' '), x -> x <> '')), 0) AS BIGINT) AS n_tokens,
         ('0x' || substring(md5(CAST(CAST(doc_id AS BIGINT) AS VARCHAR) || '__SALT__'), 1, 15))::BIGINT AS hk
  FROM documents
), sc AS (
  SELECT doc_id, n_tokens,
         CAST(row_number() OVER w - 1 AS BIGINT) AS shuffle_rank,
         CAST(SUM(n_tokens) OVER w AS BIGINT) AS cum_tokens
  FROM st
  WINDOW w AS (ORDER BY hk, doc_id)
)
SELECT doc_id, n_tokens, shuffle_rank, cum_tokens,
       CAST((cum_tokens - n_tokens) // __TOKENS__ AS BIGINT) AS shard_id
FROM sc
""".replace("__SALT__", _SHUFFLE_SALT).replace(
    "__TOKENS__", str(_SHUF_SHARD_TOKENS)
)

_SHUF_SHARDS_SQL = _SHUF_SHARD_BASE_SQL

_SHUF_SHARD_MANIFEST_SQL = (
    "WITH sa AS (" + _SHUF_SHARD_BASE_SQL + ")\n"
    "SELECT shard_id, COUNT(*)::BIGINT AS n_docs,\n"
    "       SUM(n_tokens)::BIGINT AS shard_token_count,\n"
    "       MIN(shuffle_rank)::BIGINT AS min_rank,\n"
    "       MAX(shuffle_rank)::BIGINT AS max_rank\n"
    "FROM sa GROUP BY shard_id"
)


# ---------------------------------------------------------------------------
# q_quality_funnel — the composed keep/reject decision a real pipeline
# makes: Gopher quality AND repetition AND language gates, with
# FIRST-FAILED-RULE attribution in fixed priority order (gopher →
# repetition → langid) so rejection counts decompose into a funnel.
# Reuses the three oracled rule families; the oracle nests their SQL as
# subqueries, so any drift in a family breaks this query too.
# ---------------------------------------------------------------------------

def spark_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three rule families stacked as columns on ONE scan — zero
    Exchange, no Python, no joins. Each
    family's expression builder is the same one its standalone oracled
    query uses, so parity on the families transfers to the funnel."""
    from .operators.quality import quality_funnel

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    return quality_funnel(docs, langid_stopwords=STOPWORDS)


def _funnel_sql() -> str:
    return """
WITH g AS (SELECT doc_id, gopher_pass FROM ({g})),
rep AS (SELECT doc_id, repetition_pass FROM ({r})),
lng AS (SELECT doc_id, (lang_guess = 'en') AS lang_en FROM ({q}))
SELECT g.doc_id, g.gopher_pass, rep.repetition_pass, lng.lang_en,
       (g.gopher_pass AND rep.repetition_pass AND lng.lang_en) AS keep,
       CASE WHEN NOT g.gopher_pass THEN 'gopher'
            WHEN NOT rep.repetition_pass THEN 'repetition'
            WHEN NOT lng.lang_en THEN 'langid'
            ELSE 'none' END AS first_failed_rule
FROM g JOIN rep ON g.doc_id = rep.doc_id JOIN lng ON g.doc_id = lng.doc_id
""".format(
        g=_GOPHER_QUALITY_SQL.strip(),
        r=_REPETITION_SQL.strip(),
        q=_QUALITY_SQL.strip(),
    )


# ---------------------------------------------------------------------------
# q_exact_dedup — exact duplicate grouping by content hash (training-data op)
# ---------------------------------------------------------------------------

def spark_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min(F.col("doc_id").cast("bigint")).alias("canonical_doc_id"),
        )
    )


_EXACT_DEDUP_SQL = """
SELECT md5(text) AS text_hash,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS canonical_doc_id
FROM documents
GROUP BY md5(text)
"""


# ---------------------------------------------------------------------------
# q_fingerprint — document fingerprint (lowercased, ws-collapsed content hash)
# ---------------------------------------------------------------------------

def spark_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    canon = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.md5(canon).alias("fingerprint"),
    )


_FINGERPRINT_SQL = r"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       md5(TRIM(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
FROM documents
"""


# ---------------------------------------------------------------------------
# q_minhash — MinHash over word 3-shingles, 4 permutations.
# One md5 digest per shingle; the 4 "permutations" are its 4 disjoint
# 8-hex-char slices (md5 bits are independent), so hashing cost — the
# dominant term at corpus scale — is 1x, not 4x.
# ---------------------------------------------------------------------------

_MINHASH_K = 4


def spark_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    tokens = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    df = _docs(spark, sf_dir).withColumn("tokens", tokens)
    df = df.filter(F.size("tokens") >= 3)
    n = F.size("tokens")
    shingles = F.transform(
        F.sequence(F.lit(1), n - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at("tokens", i),
            F.element_at("tokens", i + 1),
            F.element_at("tokens", i + 2),
        ),
    )
    df = df.withColumn("hashes", F.transform(shingles, lambda s: F.md5(s)))
    def _slice_min(k: int):
        # closure factory: the transform lambda must stay single-arg
        # (a 2-arg callable is treated by pyspark as an (element, index)
        # lambda and would receive the array index as its 2nd param)
        return F.array_min(
            F.transform("hashes", lambda h: F.substring(h, 1 + 8 * k, 8))
        )

    mins = [_slice_min(k).alias("minhash_%d" % k) for k in range(_MINHASH_K)]
    out = df.select(F.col("doc_id").cast("bigint").alias("doc_id"), *mins)
    return out.withColumn(
        "signature",
        F.md5(F.concat(*[F.col("minhash_%d" % k) for k in range(_MINHASH_K)])),
    )


_MINHASH_SQL = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS tokens
  FROM documents
), s AS (
  SELECT doc_id,
         list_transform(
           list_transform(range(1, len(tokens) - 1),
                          i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]),
           x -> md5(x)) AS hashes
  FROM t
  WHERE len(tokens) >= 3
), m AS (
  SELECT doc_id,
         {mins}
  FROM s
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       {mincols},
       md5({concat}) AS signature
FROM m
""".format(
    mins=",\n         ".join(
        "list_aggregate(list_transform(hashes, h -> substring(h, %d, 8)), 'min') AS minhash_%d"
        % (1 + 8 * k, k)
        for k in range(_MINHASH_K)
    ),
    mincols=", ".join("minhash_%d" % k for k in range(_MINHASH_K)),
    concat=" || ".join("minhash_%d" % k for k in range(_MINHASH_K)),
)


# ---------------------------------------------------------------------------
# q_minhash128 — PRODUCTION-width MinHash: 128 permutations via the
# 2-universal integer family over one base hash per shingle (operator:
# dedup.minhash_wide_minima). The oracle re-derives all 128 minima with the
# same exact BIGINT arithmetic, coefficients inlined as literals.
# ---------------------------------------------------------------------------

_MINHASH_WIDE_PERMS = 128
_MINHASH_WIDE_BANDS = 16


def spark_minhash128(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import minhash_wide_minima

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    g = minhash_wide_minima(docs, n_perms=_MINHASH_WIDE_PERMS)
    sig = F.md5(
        F.concat_ws(
            "-",
            *[
                F.col(f"_m{i}").cast("string")
                for i in range(_MINHASH_WIDE_PERMS)
            ],
        )
    )
    return g.select(
        "doc_id",
        F.col("_m0").alias("minhash_first"),
        F.col(f"_m{_MINHASH_WIDE_PERMS - 1}").alias("minhash_last"),
        sig.alias("signature"),
    )


def _minhash_wide_sql_cte(n_perms: int) -> str:
    """Shared DuckDB CTE chain computing the 128 per-doc minima (and the
    distinct shingle set) with the identical mod-2^31-1 arithmetic."""
    from .functions.hashing import MERSENNE_31, minhash_perm_coeffs

    coeffs = minhash_perm_coeffs(n_perms)
    mins = ",\n         ".join(
        "list_aggregate(list_transform(xs, v -> (%d * v + %d) %% %d), 'min') AS m_%d"
        % (a, b, MERSENNE_31, i)
        for i, (a, b) in enumerate(coeffs)
    )
    return """
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tokens
  FROM documents
), s AS (
  SELECT doc_id,
         list_transform(
           list_transform(range(1, len(tokens) - 1),
                          i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]),
           x -> md5(x)) AS hashes
  FROM t
  WHERE len(tokens) >= 3
), x AS (
  SELECT doc_id,
         list_transform(hashes,
                        h -> ('0x' || substring(h, 1, 8))::BIGINT % {p}) AS xs,
         list_distinct(hashes) AS sset
  FROM s
), m AS (
  SELECT doc_id, sset,
         {mins}
  FROM x
)""".format(p=MERSENNE_31, mins=mins)


def _minhash128_sql() -> str:
    # variadic concat_ws, not a || chain: DuckDB's binder caps expression
    # nesting at 128 and a 128-element chain blows past it
    concat = "concat_ws('-', %s)" % ", ".join(
        "m_%d::VARCHAR" % i for i in range(_MINHASH_WIDE_PERMS)
    )
    return _minhash_wide_sql_cte(_MINHASH_WIDE_PERMS) + """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       m_0 AS minhash_first,
       m_{last} AS minhash_last,
       md5({concat}) AS signature
FROM m
""".format(last=_MINHASH_WIDE_PERMS - 1, concat=concat)


_MINHASH128_SQL = _minhash128_sql()


def spark_minhash128_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.hashing import shingle_hashes_col, tokens_col
    from .operators.dedup import (
        jaccard_verify,
        minhash_wide_bands,
        minhash_wide_pairs,
    )

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    bands = minhash_wide_bands(
        docs, n_perms=_MINHASH_WIDE_PERMS, n_bands=_MINHASH_WIDE_BANDS
    )
    pairs = minhash_wide_pairs(bands, n_bands=_MINHASH_WIDE_BANDS)
    # exact-Jaccard verify tier: shingle sets recomputed from text for the
    # docs the candidate join touches (candidates << corpus at production
    # duplicate densities; at query scale the projection covers all docs)
    sets_df = docs.withColumn("_tokens", tokens_col("text")).filter(
        F.size("_tokens") >= 3
    ).select(
        "doc_id",
        shingle_hashes_col(F.col("_tokens"), 3).alias("shingle_hashes"),
    )
    return jaccard_verify(sets_df, pairs, threshold_micros=0).select(
        F.col("a").cast("bigint").alias("a"),
        F.col("b").cast("bigint").alias("b"),
        "jaccard_micros",
    )


def _minhash128_pairs_sql() -> str:
    band_rows = _MINHASH_WIDE_PERMS // _MINHASH_WIDE_BANDS
    band_exprs = ", ".join(
        "md5(concat_ws('-', %s))"
        % ", ".join(
            "m_%d::VARCHAR" % (k * band_rows + j) for j in range(band_rows)
        )
        for k in range(_MINHASH_WIDE_BANDS)
    )
    return _minhash_wide_sql_cte(_MINHASH_WIDE_PERMS) + """
, b AS (
  SELECT doc_id, sset, [{bands}] AS bands FROM m
), long AS (
  SELECT doc_id, sset, i.i AS band_idx, bands[i.i] AS band_value
  FROM b CROSS JOIN (SELECT unnest(range(1, {nb1})) AS i) i
), cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM long x JOIN long y
    ON x.band_idx = y.band_idx AND x.band_value = y.band_value
   AND x.doc_id < y.doc_id
)
SELECT CAST(c.a AS BIGINT) AS a,
       CAST(c.b AS BIGINT) AS b,
       CAST((CAST(len(list_intersect(sa.sset, sb.sset)) AS BIGINT) * 1000000)
            // (len(sa.sset) + len(sb.sset) - len(list_intersect(sa.sset, sb.sset)))
            AS BIGINT) AS jaccard_micros
FROM cand c
JOIN x sa ON sa.doc_id = c.a
JOIN x sb ON sb.doc_id = c.b
""".format(bands=band_exprs, nb1=_MINHASH_WIDE_BANDS + 1)


_MINHASH128_PAIRS_SQL = _minhash128_pairs_sql()


# ---------------------------------------------------------------------------
# q_simhash — 16-bit SimHash from token-hash nibble parity (near-dup sketch)
# ---------------------------------------------------------------------------

_ODD_NIBBLES = ["1", "3", "5", "7", "9", "b", "d", "f"]


def spark_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    tokens = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    ex = (
        _docs(spark, sf_dir)
        .select(F.col("doc_id").cast("bigint").alias("doc_id"), tokens.alias("tokens"))
        .select("doc_id", F.explode("tokens").alias("tok"))
        .withColumn("h", F.md5("tok"))
    )
    odd = F.array(*[F.lit(c) for c in _ODD_NIBBLES])
    aggs = [
        F.sum(
            F.when(F.array_contains(odd, F.substring("h", b + 1, 1)), 1).otherwise(-1)
        ).alias("s%d" % b)
        for b in range(16)
    ]
    g = ex.groupBy("doc_id").agg(*aggs)
    bits = F.concat(
        *[
            F.when(F.col("s%d" % b) > 0, F.lit("1")).otherwise(F.lit("0"))
            for b in range(16)
        ]
    )
    return g.select("doc_id", bits.alias("simhash_bits"))


_SIMHASH_SQL = """
WITH ex AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         md5(tok) AS h
  FROM documents,
       UNNEST(list_filter(string_split(text, ' '), x -> x <> '')) AS u(tok)
), g AS (
  SELECT doc_id, {aggs}
  FROM ex
  GROUP BY doc_id
)
SELECT doc_id, {bits} AS simhash_bits
FROM g
""".format(
    aggs=", ".join(
        "SUM(CASE WHEN substring(h, %d, 1) IN (%s) THEN 1 ELSE -1 END) AS s%d"
        % (b + 1, ", ".join("'%s'" % c for c in _ODD_NIBBLES), b)
        for b in range(16)
    ),
    bits=" || ".join(
        "CASE WHEN s%d > 0 THEN '1' ELSE '0' END" % b for b in range(16)
    ),
)


# ---------------------------------------------------------------------------
# q_ann_topk — brute-force cosine/dot top-k against the min(vec_id) query
# vector, integer-quantized so both engines agree bit-for-bit
# ---------------------------------------------------------------------------

_QSCALE = 1 << 20  # 1048576


def spark_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embeddings(spark, sf_dir)
    qvec = emb.orderBy("vec_id").limit(1).select(
        F.col("embedding").alias("qe")
    )
    joined = emb.crossJoin(F.broadcast(qvec))
    dot = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.size("embedding")),
            lambda i: F.floor(F.element_at("embedding", i).cast("double") * _QSCALE)
            * F.floor(F.element_at("qe", i).cast("double") * _QSCALE),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    scored = joined.select(
        F.col("vec_id").cast("bigint").alias("vec_id"), dot.alias("qdot")
    )
    return scored.orderBy(F.desc("qdot"), F.asc("vec_id")).limit(10)


_ANN_SQL = """
WITH q AS (
  SELECT embedding AS qe FROM embeddings ORDER BY vec_id LIMIT 1
)
SELECT CAST(e.vec_id AS BIGINT) AS vec_id,
       list_sum(list_transform(range(1, len(e.embedding) + 1),
                i -> CAST(FLOOR(CAST(e.embedding[i] AS DOUBLE) * 1048576) AS BIGINT)
                   * CAST(FLOOR(CAST(q.qe[i] AS DOUBLE) * 1048576) AS BIGINT)))::BIGINT AS qdot
FROM embeddings e, q
ORDER BY qdot DESC, vec_id ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# q_simhash_pairs — SimHash near-duplicate pairs: banded Hamming-distance
# join over the 16-bit sketches (operators/dedup.py:simhash_pairs — any pair
# within distance n_bands-1 shares a band slice, pigeonhole), exact Hamming
# verify on candidates only. The 16-bit demo sketch saturates on the shared
# synthetic vocabulary (most pairs sit within 6 bits), so the query uses
# max_hamming=0 — exact sketch collision, the selective tier (242 pairs at
# sf0.01); production 64-bit sketches use distance 3 with 16-bit bands.
# ---------------------------------------------------------------------------

def spark_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import simhash_pairs

    return simhash_pairs(
        spark_simhash(spark, sf_dir), n_bands=2, max_hamming=0
    )


_SIMHASH_PAIRS_SQL = """
WITH s AS ({simhash}),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
         x.simhash_bits AS abits, y.simhash_bits AS bbits
  FROM s x JOIN s y
    ON x.doc_id < y.doc_id
   AND (substring(x.simhash_bits, 1, 8) = substring(y.simhash_bits, 1, 8)
     OR substring(x.simhash_bits, 9, 8) = substring(y.simhash_bits, 9, 8))
)
SELECT a, b,
       CAST({hamming} AS BIGINT) AS hamming
FROM cand
WHERE {hamming} <= 0
""".format(
    simhash=_SIMHASH_SQL.strip(),
    hamming=" + ".join(
        "CASE WHEN substring(abits, %d, 1) <> substring(bbits, %d, 1) "
        "THEN 1 ELSE 0 END" % (i + 1, i + 1)
        for i in range(16)
    ),
)


# ---------------------------------------------------------------------------
# q_simhash64_pairs — PRODUCTION-width SimHash near-dup pairs: 64-bit
# sketches (functions/hashing.py:simhash_col — token-md5 bit parity), 4
# bands of 16 bits (2^16-cardinality band keys, the Manku WWW'07 shape),
# pairs within Hamming distance 3 via packed-word XOR+bit_count verify.
# The oracle computes the identical sketches in DuckDB but finds pairs by
# BRUTE-FORCE all-pairs comparison — a genuinely different plan, so
# agreement checks both the sketch math and the banded join's pigeonhole
# completeness. Bucket-cardinality behavior at 510k sketches is measured
# in BENCH/BASELINE.md (scripts/simhash_bench.py).
# ---------------------------------------------------------------------------

def spark_simhash64_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import simhash_pairs, simhash_sketches

    # explode+groupBy sketch build (whole-stage codegen) — the map-only
    # higher-order fold simhash_col computes identical bits but evaluates
    # interpretively (26.5 s vs ~2 s here at sf0.1, equality pinned by
    # tests/test_simhash64.py)
    sk = simhash_sketches(
        _docs(spark, sf_dir).select(
            F.col("doc_id").cast("bigint").alias("doc_id"), "text"
        ),
        n_bits=64,
    )
    return simhash_pairs(sk, n_bits=64, n_bands=4, max_hamming=3)


def _simhash64_sql() -> str:
    sums = []
    bits = []
    for b in range(64):
        nib, mask = b // 4, 8 >> (b % 4)
        chars = [c for c in "0123456789abcdef" if int(c, 16) & mask]
        sums.append(
            "SUM(CASE WHEN substring(h, %d, 1) IN (%s) THEN 1 ELSE -1 END) AS s%d"
            % (nib + 1, ", ".join("'%s'" % c for c in chars), b)
        )
        bits.append("CASE WHEN s%d > 0 THEN '1' ELSE '0' END" % b)
    ham = (
        "len(list_filter(range(1, 65), "
        "i -> substring(x.bits, CAST(i AS INT), 1) <> substring(y.bits, CAST(i AS INT), 1)))"
    )
    return """
WITH ex AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, md5(tok) AS h
  FROM documents,
       UNNEST(list_filter(string_split(text, ' '), x -> x <> '')) AS u(tok)
), g AS (
  SELECT doc_id, {sums} FROM ex GROUP BY doc_id
), s AS (
  SELECT doc_id, {bits} AS bits FROM g
)
SELECT x.doc_id AS a, y.doc_id AS b, CAST({ham} AS BIGINT) AS hamming
FROM s x JOIN s y ON x.doc_id < y.doc_id
WHERE {ham} <= 3
""".format(sums=", ".join(sums), bits=" || ".join(bits), ham=ham)


_SIMHASH64_PAIRS_SQL = _simhash64_sql()


# ---------------------------------------------------------------------------
# q_lsh_jaccard_pairs — near-dup scale path: banded LSH collisions verified
# with exact shingle-set Jaccard (integer-quantized). Band uses r=2 rows
# (concat of two minhash permutations → collision prob ~J^2): with r=1 the
# low-entropy synthetic vocabulary put most docs in one bucket (11,231
# candidate pairs at sf0.1 → quadratic verify, 13.6 s); r=2 yields 344
# candidates for the same corpus and stays proportional to true near-dup
# density at 100 TB.
# ---------------------------------------------------------------------------

def spark_lsh_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import jaccard_verify, lsh_candidate_pairs, minhash_signatures

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    sigs = minhash_signatures(docs, n_bands=1, band_rows=2)
    pairs = lsh_candidate_pairs(sigs, n_bands=1)
    return jaccard_verify(sigs, pairs, threshold_micros=0).select(
        F.col("a").cast("bigint").alias("a"),
        F.col("b").cast("bigint").alias("b"),
        "jaccard_micros",
    )


_LSH_PAIRS_SQL = """
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tokens
  FROM documents
), s AS (
  SELECT doc_id,
         list_transform(
           list_transform(range(1, len(tokens) - 1),
                          i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]),
           x -> md5(x)) AS hashes
  FROM t
  WHERE len(tokens) >= 3
), m AS (
  SELECT doc_id,
         list_aggregate(list_transform(hashes, h -> substring(h, 1, 8)), 'min')
           || list_aggregate(list_transform(hashes, h -> substring(h, 9, 8)), 'min') AS band_0,
         list_distinct(hashes) AS sset
  FROM s
)
SELECT CAST(x.doc_id AS BIGINT) AS a,
       CAST(y.doc_id AS BIGINT) AS b,
       CAST((CAST(len(list_intersect(x.sset, y.sset)) AS BIGINT) * 1000000)
            // (len(x.sset) + len(y.sset) - len(list_intersect(x.sset, y.sset)))
            AS BIGINT) AS jaccard_micros
FROM m x JOIN m y ON x.band_0 = y.band_0 AND x.doc_id < y.doc_id
"""


# ---------------------------------------------------------------------------
# q_ann_lsh_buckets — random-hyperplane LSH bucket histogram over embeddings
# (sign planes derived from md5, inlined as literals in both engines)
# ---------------------------------------------------------------------------

_LSH_PLANES = 8
_LSH_DIM = 64


def spark_ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import lsh_bucket_col

    emb = _embeddings(spark, sf_dir)
    return (
        emb.withColumn("bucket", lsh_bucket_col("embedding", _LSH_PLANES, _LSH_DIM))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            F.min(F.col("vec_id").cast("bigint")).alias("first_vec_id"),
        )
    )


def _lsh_bucket_sql_expr(n_planes: int = _LSH_PLANES) -> str:
    """DuckDB twin of operators/similarity.py:lsh_bucket_col (same md5-derived
    sign planes, inlined as literals)."""
    from .functions.hashing import lsh_plane_signs

    planes = lsh_plane_signs(n_planes, _LSH_DIM)
    bits = []
    for row in planes:
        lit = "[" + ", ".join(str(s) for s in row) + "]"
        bits.append(
            "CASE WHEN list_sum(list_transform(range(1, %d), "
            "i -> CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1048576) AS BIGINT) * (%s)[i])) > 0 "
            "THEN '1' ELSE '0' END" % (_LSH_DIM + 1, lit)
        )
    return " || ".join(bits)


def _ann_lsh_sql() -> str:
    bucket = _lsh_bucket_sql_expr()
    return """
WITH b AS (
  SELECT vec_id, {bucket} AS bucket FROM embeddings
)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(min(vec_id) AS BIGINT) AS first_vec_id
FROM b
GROUP BY bucket
""".format(bucket=bucket)


_ANN_LSH_SQL = _ann_lsh_sql()


# ---------------------------------------------------------------------------
# q_events_sessionize — lag/lead windowed sessionization (W1 analogue on the
# events stream table; 30-min inactivity gap)
# ---------------------------------------------------------------------------

def spark_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts is TIMESTAMP_NTZ in the parquet; session tz is pinned to UTC so the
    # NTZ->TZ cast is identity and unix_micros == DuckDB's naive epoch_us.
    ev = _events(spark, sf_dir).withColumn(
        "ts_us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap = F.col("ts_us") - F.lag("ts_us").over(w)
    flagged = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > SESSION_GAP_US), F.lit(1)).otherwise(F.lit(0)),
    )
    return (
        flagged.groupBy(F.col("user_id").cast("bigint").alias("user_id"))
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum("new_session").cast("bigint").alias("n_sessions"),
        )
    )


_SESSIONIZE_SQL = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
), f AS (
  SELECT user_id,
         CASE WHEN lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) IS NULL
                   OR ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) > {gap}
              THEN 1 ELSE 0 END AS new_session
  FROM e
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(new_session) AS BIGINT) AS n_sessions
FROM f
GROUP BY user_id
""".format(gap=SESSION_GAP_US)


# ---------------------------------------------------------------------------
# q_events_type_agg — grouped aggregation with quantized value sums
# ---------------------------------------------------------------------------

def spark_events_type_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.floor(F.col("value") * MICRO)).cast("bigint").alias("sum_value_micros"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )


_EVENTS_AGG_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(FLOOR(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_value_micros,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# q_events_topk — ranking window per group (O2 analogue: ORDER BY ... LIMIT
# per event_type, deterministic tie-break on event_id)
# ---------------------------------------------------------------------------

def spark_events_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).withColumn(
        "value_micros", F.floor(F.col("value") * MICRO).cast("bigint")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.desc("value_micros"), F.asc("event_id")
    )
    return (
        ev.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 5)
        .select(
            "event_type",
            F.col("event_id").cast("bigint").alias("event_id"),
            "value_micros",
            "rank",
        )
    )


_EVENTS_TOPK_SQL = """
WITH v AS (
  SELECT event_type, event_id,
         CAST(FLOOR(value * 1000000) AS BIGINT) AS value_micros,
         CAST(row_number() OVER (PARTITION BY event_type
                                 ORDER BY CAST(FLOOR(value * 1000000) AS BIGINT) DESC,
                                          event_id ASC) AS BIGINT) AS rank
  FROM events
)
SELECT event_type, CAST(event_id AS BIGINT) AS event_id, value_micros, rank
FROM v WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# q_docs_events_join — broadcast equi-join + grouped agg across tables
# ---------------------------------------------------------------------------

def spark_docs_events_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )
    e = _events(spark, sf_dir).select(
        F.col("user_id").cast("bigint").alias("doc_id"),
        F.col("event_id"),
        F.floor(F.col("value") * MICRO).cast("bigint").alias("value_micros"),
    )
    return (
        e.join(F.broadcast(d), on="doc_id", how="inner")
        .groupBy("doc_id", "n_chars")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum("value_micros").cast("bigint").alias("sum_value_micros"),
        )
    )


_DOCS_EVENTS_JOIN_SQL = """
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(d.n_chars AS BIGINT) AS n_chars,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(FLOOR(e.value * 1000000) AS BIGINT)) AS BIGINT) AS sum_value_micros
FROM events e JOIN documents d ON e.user_id = d.doc_id
GROUP BY d.doc_id, d.n_chars
"""


# ---------------------------------------------------------------------------
# q_code_assign — C1+C4: deterministic sequential base-25 codes by doc order
# ---------------------------------------------------------------------------

def spark_code_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two-phase allocation (operators/codes.py): range-partition by doc_id,
    # per-partition counts -> driver prefix-sum -> streaming local ranks.
    # Same deterministic output as a global `row_number() over (order by
    # doc_id)` (the oracle below) WITHOUT the single-reducer window that
    # funnels the whole corpus through one task at scale.
    from .operators.codes import assign_codes

    df = _docs(spark, sf_dir).select(F.col("doc_id").cast("bigint").alias("doc_id"))
    out = assign_codes(df, order_col="doc_id", start_index=0)
    return out.select("doc_id", F.col("code_index").cast("bigint").alias("code_index"), "unique_code")


_CODE_ASSIGN_SQL = """
WITH r AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS code_index
  FROM documents
)
SELECT doc_id, code_index,
       substring('{a}', CAST((code_index // 390625) % 25 AS INT) + 1, 1) ||
       substring('{a}', CAST((code_index // 15625) % 25 AS INT) + 1, 1) ||
       substring('{a}', CAST((code_index // 625) % 25 AS INT) + 1, 1) ||
       substring('{a}', CAST((code_index // 25) % 25 AS INT) + 1, 1) ||
       substring('{a}', CAST(code_index % 25 AS INT) + 1, 1) AS unique_code
FROM r
""".format(a=ALPHABET)


# ---------------------------------------------------------------------------
# q_source_stats — per-source corpus statistics (A6/A7 analogue)
# ---------------------------------------------------------------------------

def spark_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.col("n_chars").cast("bigint")).cast("bigint").alias("total_chars"),
            F.min(F.col("doc_id").cast("bigint")).alias("first_doc_id"),
        )
    )


_SOURCE_STATS_SQL = """
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(min(doc_id) AS BIGINT) AS first_doc_id
FROM documents
GROUP BY source
"""


# ---------------------------------------------------------------------------
# q_convert_pipeline — the full kernel pipeline over the flat table adapted
# to spans. Kernel semantics (yaml frontmatter + Python-re) are not
# re-expressible in SQL, so the oracle is a GOLDEN table: the identical
# sequential pure-Python execution (scripts/gen_goldens.py ->
# data/goldens/convert_sf0_01.parquet), inlined as VALUES. ``spans_hash``
# makes the driver's hash check enforce the north rule's span-sequence
# equality (kind, text, media_ref, order) per document.
# ---------------------------------------------------------------------------

def _spans_hash_col():
    """Canonical span-sequence serialization — must match
    scripts/gen_goldens.py:spans_hash byte-for-byte."""
    return F.md5(
        F.concat_ws(
            "\x1f",
            F.transform(
                F.col("spans"),
                lambda s: F.concat_ws(
                    "\x1e",
                    s["kind"],
                    s["text"],
                    s["media_ref"],
                    s["offset"].cast("string"),
                ),
            ),
        )
    )


def spark_convert_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import convert_documents
    from .sources import flat_to_spans

    df = flat_to_spans(_docs(spark, sf_dir))
    out = convert_documents(df.withColumn("source_file", F.concat("doc_id", F.lit(".txt"))))
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "document_type",
        F.floor(F.col("confidence") * 1_000_000).cast("bigint").alias("confidence_micros"),
        F.col("lines_removed").cast("bigint").alias("lines_removed"),
        F.col("headings_added").cast("bigint").alias("headings_added"),
        F.col("character_count").cast("bigint").alias("character_count"),
        "success",
        _spans_hash_col().alias("spans_hash"),
    )


# ---------------------------------------------------------------------------
# q_line_ops — F1/F2/A5 distributed line operations: noise-line delete then
# first-match-wins heading markup, with cleaning statistics. The testdata
# documents are single-line synthetic text, so lines are derived
# deterministically (8-token chunks) and the noise/heading rules are
# vocabulary-adapted; the reference's literal YAML rules (caselaw.yaml:386-431)
# run byte-exact inside the convert kernel (reference_semantics/cleanrules.py)
# and are covered by the span-equality tests. This query checks the
# *distributed shape*: array filter -> ordered CASE transform -> size deltas.
# ---------------------------------------------------------------------------

_LINES_EXPR = (
    "case when size(tokens) = 0 then array() else "
    "transform(sequence(0, cast(ceil(size(tokens)/{w}.0) as int) - 1), "
    "i -> array_join(slice(tokens, i*{w}+1, {w}), ' ')) end"
)

_NOISE_RE = "^(table|row)( |$)"
_H2_RE = "^(spark|window)( |$)"
_H3_RE = "^(sort|merge)( |$)"
_HEAD_RE = "^(spark|window|sort|merge)( |$)"


def spark_line_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _docs(spark, sf_dir).withColumn(
        "tokens", F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    )
    df = df.withColumn("lines", F.expr(_LINES_EXPR.format(w=8)))
    kept = F.expr("filter(lines, l -> not l rlike '%s')" % _NOISE_RE)
    df = df.withColumn("kept", kept)
    marked = F.expr(
        "transform(kept, l -> case when l rlike '{h2}' then concat('## ', l) "
        "when l rlike '{h3}' then concat('### ', l) else l end)".format(
            h2=_H2_RE, h3=_H3_RE
        )
    )
    return df.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        (F.size("lines") - F.size("kept")).cast("bigint").alias("lines_removed"),
        F.expr("size(filter(kept, l -> l rlike '%s'))" % _HEAD_RE)
        .cast("bigint")
        .alias("headings_added"),
        F.md5(F.array_join(marked, "<ln>")).alias("cleaned_hash"),
    )


_LINE_OPS_SQL = """
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tokens
  FROM documents
), l AS (
  SELECT doc_id,
         list_transform(range(0, CAST(ceil(len(tokens)/8.0) AS INT)),
                        i -> array_to_string(list_slice(tokens, i*8+1, i*8+8), ' ')) AS lines
  FROM t
), k AS (
  SELECT doc_id, lines,
         list_filter(lines, x -> NOT regexp_matches(x, '{noise}')) AS kept
  FROM l
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(lines) - len(kept) AS BIGINT) AS lines_removed,
       CAST(len(list_filter(kept, x -> regexp_matches(x, '{head}'))) AS BIGINT) AS headings_added,
       md5(coalesce(array_to_string(
         list_transform(kept, x -> CASE WHEN regexp_matches(x, '{h2}') THEN '## ' || x
                                        WHEN regexp_matches(x, '{h3}') THEN '### ' || x
                                        ELSE x END), '<ln>'), '')) AS cleaned_hash
FROM k
""".format(noise=_NOISE_RE, head=_HEAD_RE, h2=_H2_RE, h3=_H3_RE)


# ---------------------------------------------------------------------------
# q_running_tokens — F3/A4 within-document frequency boilerplate removal
# (Boilerpipe-style running-header heuristic, clean_txt.py:195-230): any unit
# repeating >= 3x inside one document is boilerplate and is removed,
# order-preserved. Distributed shape: posexplode -> count over
# Window(doc, unit) -> filter -> ordered re-assembly.
# ---------------------------------------------------------------------------

def spark_running_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.posexplode(F.filter(F.split(F.col("text"), " "), lambda x: x != "")).alias(
            "pos", "tok"
        ),
    )
    w = Window.partitionBy("doc_id", "tok")
    df = df.withColumn("cnt", F.count("*").over(w))
    kept_struct = F.when(
        F.col("cnt") < 3, F.struct(F.col("pos"), F.col("tok"))
    )  # null (dropped by collect_list) when the token is running boilerplate
    return df.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("cnt") >= 3, 1).otherwise(0))
        .cast("bigint")
        .alias("n_removed"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda s: s["tok"]
                ),
                " ",
            )
        ).alias("kept_hash"),
    )


_RUNNING_SQL = """
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tokens
  FROM documents
), ex AS (
  SELECT doc_id,
         unnest(range(1, len(tokens) + 1)) AS ord,
         unnest(tokens) AS tok
  FROM t
), c AS (
  SELECT doc_id, tok, ord,
         count(*) OVER (PARTITION BY doc_id, tok) AS cnt
  FROM ex
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN cnt >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       md5(coalesce(string_agg(tok, ' ' ORDER BY ord) FILTER (WHERE cnt < 3), '')) AS kept_hash
FROM c
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# q_multizone — S8/S9/S10: first-5 + last-2 page slices with an explicit
# "[DOCUMENT MIDDLE OMITTED: N pages]" marker (text_extractor.py:475-553) and
# the image-based-PDF probe (< 50 chars, text_extractor.py:560-588). Pages are
# 10-token chunks of the synthetic text. Pure array ops — no shuffle.
# ---------------------------------------------------------------------------

def spark_multizone(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _docs(spark, sf_dir).withColumn(
        "tokens", F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    )
    df = df.withColumn("pages", F.expr(_LINES_EXPR.format(w=10)))
    n_pages = F.size("pages")
    df = df.withColumn(
        "kept",
        F.expr(
            "case when size(pages) > 7 then concat(slice(pages, 1, 5), "
            "array(concat('...[DOCUMENT MIDDLE OMITTED: ', "
            "cast(size(pages) - 7 as string), ' pages]...')), "
            "slice(pages, -2, 2)) else pages end"
        ),
    )
    return df.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        n_pages.cast("bigint").alias("n_pages"),
        F.when(n_pages > 7, n_pages - 7).otherwise(0).cast("bigint").alias("n_omitted"),
        (F.col("n_chars") < 50).alias("is_image_like"),
        F.md5(F.array_join(F.col("kept"), "<pg>")).alias("multizone_hash"),
    )


_MULTIZONE_SQL = """
WITH t AS (
  SELECT doc_id, n_chars,
         list_filter(string_split(text, ' '), x -> x <> '') AS tokens
  FROM documents
), p AS (
  SELECT doc_id, n_chars,
         list_transform(range(0, CAST(ceil(len(tokens)/10.0) AS INT)),
                        i -> array_to_string(list_slice(tokens, i*10+1, i*10+10), ' ')) AS pages
  FROM t
), k AS (
  SELECT doc_id, n_chars, pages,
         CASE WHEN len(pages) > 7
              THEN list_concat(list_concat(
                     list_slice(pages, 1, 5),
                     ['...[DOCUMENT MIDDLE OMITTED: ' || CAST(len(pages) - 7 AS VARCHAR) || ' pages]...']),
                     list_slice(pages, len(pages) - 1, len(pages)))
              ELSE pages END AS kept
  FROM p
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(pages) AS BIGINT) AS n_pages,
       CAST(CASE WHEN len(pages) > 7 THEN len(pages) - 7 ELSE 0 END AS BIGINT) AS n_omitted,
       n_chars < 50 AS is_image_like,
       md5(array_to_string(kept, '<pg>')) AS multizone_hash
FROM k
"""


# ---------------------------------------------------------------------------
# q_filename_format — N9/N10/N11 formatter chains + C1/C6 pure-function code:
# field formatters (court: strip '.', ' '->'_'; case_name: '&'->and, keep
# [a-zA-Z0-9 -], ' '->'-', collapse/trim; citation: keep [a-zA-Z0-9_]),
# template render 'c.{court}__{year}__{case_name}__{citation}----{code}.ext',
# filesystem sanitize + 255 truncate (filename_formatter.py:91-365), and the
# base-25 no-W code derived as a pure function of doc_id — map-only, no
# window/shuffle (contrast q_code_assign's sequential row_number variant).
# ---------------------------------------------------------------------------

def _code_from(col, alphabet: str):
    digits = [
        F.substring(
            F.lit(alphabet),
            ((col / (25**p)).cast("bigint") % 25).cast("int") + 1,
            1,
        )
        for p in (4, 3, 2, 1, 0)
    ]
    return F.concat(*digits)


def spark_filename_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _docs(spark, sf_dir)
    court_raw = F.concat("source", F.lit(" "), F.upper("lang"), F.lit("."))
    court = F.regexp_replace(F.regexp_replace(court_raw, r"[.]", ""), r"\s+", "_")
    case_raw = F.expr(
        "array_join(slice(filter(split(text, ' '), x -> x != ''), 1, 3), ' ')"
    )
    case_name = F.regexp_replace(case_raw, "&", "and")
    case_name = F.regexp_replace(case_name, r"[^a-zA-Z0-9\s-]", "")
    case_name = F.regexp_replace(case_name, r"\s+", "-")
    case_name = F.regexp_replace(F.regexp_replace(case_name, r"-{2,}", "-"), r"^-+|-+$", "")
    cite_raw = F.concat(F.upper("lang"), F.lit(" "), "source")
    citation = F.regexp_replace(F.regexp_replace(cite_raw, r"[.]", ""), r"\s+", "_")
    citation = F.regexp_replace(citation, r"[^a-zA-Z0-9_]", "")
    citation = F.regexp_replace(F.regexp_replace(citation, r"_{2,}", "_"), r"^_+|_+$", "")
    year = F.coalesce(
        F.nullif(F.regexp_extract("source", "([0-9]+)", 1), F.lit("")), F.lit("XXXX")
    )
    code = _code_from(F.col("doc_id").cast("bigint"), ALPHABET)
    raw = F.concat(
        F.lit("c."), court, F.lit("__"), year, F.lit("__"), case_name,
        F.lit("__"), citation, F.lit("----"), code, F.lit(".txt"),
    )
    sanitized = F.regexp_replace(raw, r'[<>:"/\\|?*]', "")
    return df.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        court.alias("court"),
        year.alias("year"),
        case_name.alias("case_name"),
        citation.alias("citation"),
        code.alias("unique_code"),
        F.substring(sanitized, 1, 255).alias("filename"),
    )


_FILENAME_SQL = r"""
WITH f AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         regexp_replace(regexp_replace(source || ' ' || upper(lang) || '.', '[.]', '', 'g'), '\s+', '_', 'g') AS court,
         coalesce(nullif(regexp_extract(source, '([0-9]+)', 1), ''), 'XXXX') AS year,
         regexp_replace(regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 array_to_string(list_slice(list_filter(string_split(text, ' '), x -> x <> ''), 1, 3), ' '),
                 '&', 'and', 'g'),
               '[^a-zA-Z0-9\s-]', '', 'g'),
             '\s+', '-', 'g'),
           '-{2,}', '-', 'g'), '^-+|-+$', '', 'g') AS case_name,
         regexp_replace(regexp_replace(
           regexp_replace(
             regexp_replace(upper(lang) || ' ' || source, '[.]', '', 'g'),
             '\s+', '_', 'g'),
           '[^a-zA-Z0-9_]', '', 'g'),
           '_{2,}', '_', 'g') AS citation_pre,
         __CODE__ AS unique_code
  FROM documents
), g AS (
  SELECT doc_id, court, year, case_name,
         regexp_replace(citation_pre, '^_+|_+$', '', 'g') AS citation,
         unique_code
  FROM f
)
SELECT doc_id, court, year, case_name, citation, unique_code,
       substring(regexp_replace(
         'c.' || court || '__' || year || '__' || case_name || '__' || citation
              || '----' || unique_code || '.txt',
         '[<>:"/\\|?*]', '', 'g'), 1, 255) AS filename
FROM g
""".replace(
    "__CODE__",
    " || ".join(
        "substring('%s', CAST((doc_id // %d) %% 25 AS INT) + 1, 1)" % (ALPHABET, 25**p)
        for p in (4, 3, 2, 1, 0)
    ),
)


# ---------------------------------------------------------------------------
# q_heading_context — W1/W4 context-sensitive heading detection: lag/lead over
# (doc, line_no) — a line is a heading candidate only if it matches the
# heading regex AND its neighbourhood agrees (clean_txt.py:233-274 requires a
# blank adjacent line; here: document boundary or a preceding noise line).
# Level rule: '#' if len < 25 else '##' (clean_txt.py:262-265).
# ---------------------------------------------------------------------------

def spark_heading_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _docs(spark, sf_dir).withColumn(
        "tokens", F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    )
    df = df.withColumn("lines", F.expr(_LINES_EXPR.format(w=8)))
    ex = df.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.posexplode("lines").alias("line_no", "line"),
    )
    w = Window.partitionBy("doc_id").orderBy("line_no")
    prev = F.lag("line").over(w)
    nxt = F.lead("line").over(w)
    cand = F.col("line").rlike(_H2_RE) & (
        prev.isNull() | nxt.isNull() | prev.rlike("(table|row)$")
    )
    lvl1 = cand & (F.length("line") < 25)
    ex = ex.withColumn("cand", cand).withColumn("lvl1", lvl1)
    return ex.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.sum(F.when(F.col("cand"), 1).otherwise(0)).cast("bigint").alias("n_candidates"),
        F.sum(F.when(F.col("lvl1"), 1).otherwise(0)).cast("bigint").alias("n_h1"),
        F.coalesce(
            F.min(F.when(F.col("cand"), F.col("line_no"))), F.lit(-1)
        ).cast("bigint").alias("first_candidate_line"),
    )


_HEADING_CTX_SQL = """
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tokens
  FROM documents
), l AS (
  SELECT doc_id,
         list_transform(range(0, CAST(ceil(len(tokens)/8.0) AS INT)),
                        i -> array_to_string(list_slice(tokens, i*8+1, i*8+8), ' ')) AS lines
  FROM t
), ex AS (
  SELECT doc_id,
         unnest(range(0, len(lines))) AS line_no,
         unnest(lines) AS line
  FROM l
), wd AS (
  SELECT doc_id, line_no, line,
         lag(line) OVER (PARTITION BY doc_id ORDER BY line_no) AS prev,
         lead(line) OVER (PARTITION BY doc_id ORDER BY line_no) AS nxt
  FROM ex
), c AS (
  SELECT doc_id, line_no, line,
         regexp_matches(line, '{h2}')
           AND (prev IS NULL OR nxt IS NULL OR regexp_matches(prev, '(table|row)$')) AS cand
  FROM wd
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN cand THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
       CAST(sum(CASE WHEN cand AND length(line) < 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_h1,
       CAST(coalesce(min(CASE WHEN cand THEN line_no END), -1) AS BIGINT) AS first_candidate_line
FROM c
GROUP BY doc_id
""".format(h2=_H2_RE)


# ---------------------------------------------------------------------------
# q_embed_neardup — embedding-cosine near-duplicate pairs (training-data op):
# self-join blocked on the sign-LSH BUCKET (operators/similarity.py:
# lsh_bucket_col — 2^8 buckets whose cardinality scales with the corpus, so
# the quadratic term stays bounded at 100 TB), with label as a secondary
# equality predicate. Integer-quantized cosine^2 so both engines agree
# exactly. Threshold cos^2 >= 0.1. A first() Aggregate barrier materializes
# the computed bucket before the self-join so Catalyst cannot re-inline the
# 8-plane expression into join-key predicates (same 13x pathology measured
# on the minhash band join, operators/dedup.py).
# ---------------------------------------------------------------------------

_NEARDUP_SCALE = 128  # |v| < 1 → |q| <= 128; dot < 2^20, dot^2*1e6 < 2^60: no overflow
_NEARDUP_THR = 100_000  # cos^2 in micros
# 4 sign planes = 16 buckets: collision prob (1 - theta/pi)^4 keeps real
# near-dups (small theta) while bounding each bucket's quadratic term; more
# bands/multi-probe is the recall knob at scale (similarity.py docstring).
_NEARDUP_PLANES = 4


def spark_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import lsh_bucket_col

    qe = F.expr(
        "transform(embedding, v -> cast(floor(cast(v as double) * %d) as bigint))"
        % _NEARDUP_SCALE
    )
    emb = _embeddings(spark, sf_dir).select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("label"),
        qe.alias("qe"),
        lsh_bucket_col("embedding", _NEARDUP_PLANES, _LSH_DIM).alias("bucket"),
    )
    emb = emb.withColumn(
        "nrm",
        F.aggregate(
            F.zip_with("qe", "qe", lambda x, y: x * y),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ),
    )
    # Aggregate barrier on the unique key (see header comment)
    emb = emb.groupBy("vec_id").agg(
        F.first("label").alias("label"),
        F.first("qe").alias("qe"),
        F.first("bucket").alias("bucket"),
        F.first("nrm").alias("nrm"),
    )
    a, b = emb.alias("a"), emb.alias("b")
    j = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.label") == F.col("b.label"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    )
    dot = F.aggregate(
        F.zip_with(F.col("a.qe"), F.col("b.qe"), lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    j = j.select(
        F.col("a.vec_id").alias("a"),
        F.col("b.vec_id").alias("b"),
        dot.alias("dot"),
        (F.col("a.nrm") * F.col("b.nrm")).alias("nprod"),
    )
    return (
        j.filter(F.col("dot") > 0)
        .withColumn(
            "cos_sq_micros", F.expr("(dot * dot * 1000000) div nprod").cast("bigint")
        )
        .filter(F.col("cos_sq_micros") >= _NEARDUP_THR)
        .select("a", "b", "cos_sq_micros")
    )


def _neardup_sql() -> str:
    return """
WITH q AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id, label,
         list_transform(embedding, v -> CAST(FLOOR(CAST(v AS DOUBLE) * {s}) AS BIGINT)) AS qe,
         {bucket} AS bucket
  FROM embeddings
), n AS (
  SELECT vec_id, label, qe, bucket,
         list_sum(list_transform(qe, x -> x * x)) AS nrm
  FROM q
), p AS (
  SELECT a.vec_id AS a, b.vec_id AS b,
         CAST(list_sum(list_transform(range(1, len(a.qe) + 1), i -> a.qe[i] * b.qe[i])) AS BIGINT) AS dot,
         CAST(a.nrm * b.nrm AS BIGINT) AS nprod
  FROM n a JOIN n b ON a.bucket = b.bucket AND a.label = b.label AND a.vec_id < b.vec_id
)
SELECT a, b,
       CAST((dot * dot * 1000000) // nprod AS BIGINT) AS cos_sq_micros
FROM p
WHERE dot > 0 AND (dot * dot * 1000000) // nprod >= {thr}
""".format(s=_NEARDUP_SCALE, thr=_NEARDUP_THR, bucket=_lsh_bucket_sql_expr(_NEARDUP_PLANES))


_NEARDUP_SQL = _neardup_sql()


# ---------------------------------------------------------------------------
# q_metadata_extract — W3 priority-ordered first-match-wins extraction
# (caselaw.py:167-174/245-314: rules sorted by priority, first regex that
# matches wins) compiled to COALESCE(NULLIF(regexp_extract(...))) chains. The
# testdata vocabulary contains no legal captions, so a deterministic caption
# column is derived per doc (three caption shapes competing for the same
# chain, exercising priority order); the literal caselaw.yaml patterns run
# byte-exact in the rename kernel tests.
# ---------------------------------------------------------------------------

def spark_metadata_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _docs(spark, sf_dir).withColumn(
        "tokens", F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    )
    cap = F.expr(
        "concat(upper(substring(element_at(tokens, 1), 1, 1)), "
        "substring(element_at(tokens, 1), 2))"
    )
    cap2 = F.expr(
        "concat(upper(substring(element_at(tokens, 2), 1, 1)), "
        "substring(element_at(tokens, 2), 2))"
    )
    yy = F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0")
    caption = (
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.lit("In re "), cap))
        .when(F.col("doc_id") % 3 == 1, F.concat(cap, F.lit(" v. "), cap2))
        .otherwise(F.concat(F.lit("State vs. "), cap))
    )
    caption = F.concat(caption, F.lit(" (20"), yy, F.lit(")"))
    df = df.withColumn("caption", caption)
    case_name = F.coalesce(
        F.nullif(
            F.regexp_extract("caption", r"([A-Z][a-z]+\s+v\.\s+[A-Z][a-z]+)", 1),
            F.lit(""),
        ),
        F.nullif(F.regexp_extract("caption", r"In re\s+([A-Z][a-z]+)", 1), F.lit("")),
        F.nullif(
            F.regexp_extract("caption", r"State vs\.\s+([A-Z][a-z]+)", 1), F.lit("")
        ),
        F.lit("UNKNOWN"),
    )
    year = F.coalesce(
        F.nullif(F.regexp_extract("caption", r"\((20[0-9]{2})\)", 1), F.lit("")),
        F.lit("XXXX"),
    )
    return df.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("caption"),
        case_name.alias("case_name"),
        year.alias("year"),
    )


_METADATA_SQL = r"""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tokens
  FROM documents
), c AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 3 = 0
               THEN 'In re ' || upper(substring(tokens[1], 1, 1)) || substring(tokens[1], 2)
               WHEN doc_id % 3 = 1
               THEN upper(substring(tokens[1], 1, 1)) || substring(tokens[1], 2)
                    || ' v. ' || upper(substring(tokens[2], 1, 1)) || substring(tokens[2], 2)
               ELSE 'State vs. ' || upper(substring(tokens[1], 1, 1)) || substring(tokens[1], 2)
          END) || ' (20' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || ')' AS caption
  FROM t
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       caption,
       coalesce(
         nullif(regexp_extract(caption, '([A-Z][a-z]+\s+v\.\s+[A-Z][a-z]+)', 1), ''),
         nullif(regexp_extract(caption, 'In re\s+([A-Z][a-z]+)', 1), ''),
         nullif(regexp_extract(caption, 'State vs\.\s+([A-Z][a-z]+)', 1), ''),
         'UNKNOWN') AS case_name,
       coalesce(nullif(regexp_extract(caption, '\((20[0-9]{2})\)', 1), ''), 'XXXX') AS year
FROM c
"""


# ---------------------------------------------------------------------------
# q_court_lookup — J1 broadcast dimension join: the reference's literal
# state -> Bluebook fallback map (caselaw.py:362-391) as a broadcast dim,
# equi-joined on the lowercased state key. One source of truth (_STATE_DIM)
# feeds both engines.
# ---------------------------------------------------------------------------

_STATE_DIM = [
    ("georgia", "Ga.", "Ga"),
    ("utah", "Utah", "Utah"),
    ("california", "Cal.", "Cal"),
    ("texas", "Tex.", "Tex"),
    ("florida", "Fla.", "Fla"),
    ("ohio", "Ohio", "Ohio"),
    ("illinois", "Ill.", "Ill"),
    ("virginia", "Va.", "Va"),
    ("alabama", "Ala.", "Ala"),
    ("kansas", "Kan.", "Kan"),
]


def spark_court_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    dim = spark.createDataFrame(
        _STATE_DIM, ["state", "bluebook", "filename_code"]
    )
    docs = _docs(spark, sf_dir).withColumn(
        "state",
        F.element_at(
            F.array(*[F.lit(s) for s, _, _ in _STATE_DIM]),
            (F.col("doc_id") % len(_STATE_DIM)).cast("int") + 1,
        ),
    )
    joined = docs.join(F.broadcast(dim), on="state", how="left")
    return joined.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "state",
        "bluebook",
        "filename_code",
    )


_COURT_LOOKUP_SQL = """
WITH dim(state, bluebook, filename_code) AS (
  VALUES {vals}
), d AS (
  SELECT doc_id,
         {states}[CAST(doc_id % {n} AS INT) + 1] AS state
  FROM documents
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       d.state, dim.bluebook, dim.filename_code
FROM d LEFT JOIN dim ON d.state = dim.state
""".format(
    vals=", ".join("('%s', '%s', '%s')" % t for t in _STATE_DIM),
    states="[" + ", ".join("'%s'" % s for s, _, _ in _STATE_DIM) + "]",
    n=len(_STATE_DIM),
)


# ---------------------------------------------------------------------------
# q_markdown_strip — N6 markdown→plain-text strip chain (12 regexp_replace in
# the reference's exact order, functions/markdown.py). The testdata text has
# no markdown, so each row first renders a deterministic markdown document
# from its tokens (heading, bold, blockquote, list, link, inline code,
# hrule), then strips it; both the rendered and stripped forms are hashed.
# ---------------------------------------------------------------------------

def spark_markdown_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.markdown import strip_markdown

    df = _docs(spark, sf_dir).withColumn(
        "tokens", F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    )
    tok = lambda i: F.expr(f"element_at(tokens, {i})")  # noqa: E731
    rest = F.expr(
        "case when size(tokens) > 7 "
        "then array_join(slice(tokens, 8, size(tokens) - 7), ' ') else '' end"
    )
    nl = F.lit("\n")
    md = F.concat(
        F.lit("# "), tok(1), nl,
        F.lit("**"), tok(2), F.lit("** and *"), tok(3), F.lit("*"), nl,
        F.lit("> "), tok(4), nl,
        F.lit("- "), tok(5), nl,
        F.lit("1. ["), tok(6), F.lit("](http://example.com)"), nl,
        F.lit("`"), tok(7), F.lit("`"), nl,
        F.lit("---"), nl,
        rest,
    )
    df = df.withColumn("md", md)
    return df.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.md5("md").alias("md_hash"),
        F.md5(strip_markdown(F.col("md"))).alias("stripped_hash"),
        (F.length("md") - F.length(strip_markdown(F.col("md"))))
        .cast("bigint")
        .alias("chars_stripped"),
    )


def _markdown_sql() -> str:
    from .functions.markdown import MARKDOWN_STRIP_RULES

    expr = "md"
    for pat, rep in MARKDOWN_STRIP_RULES:
        # DuckDB single-quoted strings are escape-free: backslashes pass
        # through to RE2 verbatim; only quotes need doubling
        expr = "regexp_replace(%s, '%s', '%s', 'g')" % (
            expr,
            pat.replace("'", "''"),
            rep.replace("$1", r"\1"),
        )
    return r"""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tokens
  FROM documents
), m AS (
  SELECT doc_id,
         '# ' || tokens[1] || chr(10) ||
         '**' || tokens[2] || '** and *' || tokens[3] || '*' || chr(10) ||
         '> ' || tokens[4] || chr(10) ||
         '- ' || tokens[5] || chr(10) ||
         '1. [' || tokens[6] || '](http://example.com)' || chr(10) ||
         '`' || tokens[7] || '`' || chr(10) ||
         '---' || chr(10) ||
         (CASE WHEN len(tokens) > 7
               THEN array_to_string(list_slice(tokens, 8, len(tokens)), ' ')
               ELSE '' END) AS md
  FROM t
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       md5(md) AS md_hash,
       md5(__STRIP__) AS stripped_hash,
       CAST(length(md) - length(__STRIP__) AS BIGINT) AS chars_stripped
FROM m
""".replace("__STRIP__", expr)


_MARKDOWN_STRIP_SQL = _markdown_sql()


# ---------------------------------------------------------------------------
# q_frontmatter — N12/N13: YAML frontmatter render + final assembly. In
# practice the reference emits only type + source_file (convert_step.py:
# 152-160 calls with code=None, metadata={}), which plain string formatting
# renders byte-exactly; the full-metadata yaml.dump variant lives in the
# kernel. Output = frontmatter + '\n\n' + text hash (assembly N13).
# ---------------------------------------------------------------------------

def spark_frontmatter(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _docs(spark, sf_dir)
    doc_type = F.when(F.col("doc_id") % 2 == 0, F.lit("caselaw")).otherwise(
        F.lit("statute")
    )
    source_file = F.concat(F.lit("doc_"), F.col("doc_id").cast("string"), F.lit(".pdf"))
    fm = F.concat(
        F.lit("---\ntype: "), doc_type,
        F.lit("\nsource_file: "), source_file,
        F.lit("\n---"),
    )
    assembled = F.concat(fm, F.lit("\n\n"), F.col("text"))
    return df.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.md5(fm).alias("frontmatter_hash"),
        F.md5(assembled).alias("assembled_hash"),
        F.length(assembled).cast("bigint").alias("n_chars_out"),
    )


_FRONTMATTER_SQL = """
WITH f AS (
  SELECT doc_id, text,
         '---' || chr(10) || 'type: ' ||
         CASE WHEN doc_id % 2 = 0 THEN 'caselaw' ELSE 'statute' END ||
         chr(10) || 'source_file: doc_' || CAST(doc_id AS VARCHAR) || '.pdf' ||
         chr(10) || '---' AS fm
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       md5(fm) AS frontmatter_hash,
       md5(fm || chr(10) || chr(10) || text) AS assembled_hash,
       CAST(length(fm || chr(10) || chr(10) || text) AS BIGINT) AS n_chars_out
FROM f
"""


# ---------------------------------------------------------------------------
# q_code_discovery — C2/C3: find an embedded ----XXXXX code in the filename,
# validate (5 chars, A-Z minus W), preserve a valid found code, otherwise
# fall back to the generated one (code_generator.py:45,191-227,392-436 —
# discover-or-generate as coalesce). Filenames are synthesized per row so
# all three cases occur: valid code (preserved), invalid WWWWW (replaced),
# none (generated).
# ---------------------------------------------------------------------------

def spark_code_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _docs(spark, sf_dir)
    gen = _code_from(F.col("doc_id").cast("bigint"), ALPHABET)
    embedded = _code_from((F.col("doc_id") * 7 + 13).cast("bigint"), ALPHABET)
    filename = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("brief----"), embedded, F.lit(".pdf")),
        )
        .when(F.col("doc_id") % 3 == 1, F.lit("brief----WWWWW.pdf"))
        .otherwise(F.lit("brief.pdf"))
    )
    df = df.withColumn("filename_in", filename)
    found = F.regexp_extract("filename_in", r"----([A-VX-Z]{5})(?:\.|$)", 1)
    final = F.coalesce(F.nullif(found, F.lit("")), gen)
    return df.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("filename_in"),
        F.nullif(found, F.lit("")).alias("found_code"),
        final.alias("unique_code"),
        (F.nullif(found, F.lit("")).isNotNull()).alias("was_preserved"),
    )


_CODE_DISCOVERY_SQL = r"""
WITH f AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'brief----' || __EMB__ || '.pdf'
              WHEN doc_id % 3 = 1 THEN 'brief----WWWWW.pdf'
              ELSE 'brief.pdf' END AS filename_in,
         __GEN__ AS gen_code
  FROM documents
)
SELECT doc_id, filename_in,
       nullif(regexp_extract(filename_in, '----([A-VX-Z]{5})(\.|$)', 1), '') AS found_code,
       coalesce(nullif(regexp_extract(filename_in, '----([A-VX-Z]{5})(\.|$)', 1), ''), gen_code) AS unique_code,
       nullif(regexp_extract(filename_in, '----([A-VX-Z]{5})(\.|$)', 1), '') IS NOT NULL AS was_preserved
FROM f
""".replace(
    "__GEN__",
    " || ".join(
        "substring('%s', CAST((doc_id // %d) %% 25 AS INT) + 1, 1)" % (ALPHABET, 25**p)
        for p in (4, 3, 2, 1, 0)
    ),
).replace(
    "__EMB__",
    " || ".join(
        "substring('%s', CAST(((doc_id * 7 + 13) // %d) %% 25 AS INT) + 1, 1)"
        % (ALPHABET, 25**p)
        for p in (4, 3, 2, 1, 0)
    ),
)


# ---------------------------------------------------------------------------
# q_near_dedup — end-to-end near-duplicate canonicalization: codegen band
# builder for the whole corpus -> banded LSH candidates (r=2) -> exact
# shingle sets recomputed for candidate docs only -> Jaccard >= 0.5 verify
# -> canonical_doc_id = min(doc_id) of the connected component
# (operators/dedup.py:near_dedup, candidate_tier="bands"). The testdata
# plants true near-duplicates (23 pairs at J~0.99 at sf0.01), so merges
# really happen; the oracle computes a full recursive transitive closure.
# ---------------------------------------------------------------------------

def spark_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import near_dedup

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    out = near_dedup(docs, threshold_micros=500_000, n_bands=1, band_rows=2)
    return out.select(
        "doc_id",
        F.col("canonical_doc_id").cast("bigint").alias("canonical_doc_id"),
        "is_near_duplicate",
    )


_NEAR_DEDUP_SQL = """
WITH RECURSIVE t AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS tokens
  FROM documents
), s AS (
  SELECT doc_id,
         list_transform(
           list_transform(range(1, len(tokens) - 1),
                          i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]),
           x -> md5(x)) AS hashes
  FROM t WHERE len(tokens) >= 3
), m AS (
  SELECT doc_id,
         list_aggregate(list_transform(hashes, h -> substring(h, 1, 8)), 'min')
           || list_aggregate(list_transform(hashes, h -> substring(h, 9, 8)), 'min') AS band_0,
         list_distinct(hashes) AS sset
  FROM s
), v AS (
  SELECT x.doc_id AS a, y.doc_id AS b
  FROM m x JOIN m y ON x.band_0 = y.band_0 AND x.doc_id < y.doc_id
  WHERE (CAST(len(list_intersect(x.sset, y.sset)) AS BIGINT) * 1000000)
        // (len(x.sset) + len(y.sset) - len(list_intersect(x.sset, y.sset))) >= 500000
), e AS (
  SELECT a AS src, b AS dst FROM v
  UNION ALL
  SELECT b AS src, a AS dst FROM v
), reach(src, dst) AS (
  -- transitive closure of the verified-pair graph: connected components
  SELECT CAST(doc_id AS BIGINT), CAST(doc_id AS BIGINT) FROM documents
  UNION
  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src
)
SELECT src AS doc_id,
       CAST(min(dst) AS BIGINT) AS canonical_doc_id,
       min(dst) <> src AS is_near_duplicate
FROM reach
GROUP BY src
"""


# ---------------------------------------------------------------------------
# q_near_dedup_best — quality-aware representative selection over the same
# near-dup clusters: keep the highest-token-count member per cluster (ties
# -> min id) instead of the min-id canonical
# (operators/dedup.py:select_representatives). The oracle extends the
# recursive-closure CTE with a per-cluster argmax via row_number.
# ---------------------------------------------------------------------------


def spark_near_dedup_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import near_dedup, select_representatives

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    out = near_dedup(docs, threshold_micros=500_000, n_bands=1, band_rows=2)
    scored = out.withColumn("score", F.size(toks).cast("bigint"))
    reps = select_representatives(scored, "score")
    return reps.select(
        "doc_id",
        F.col("representative_doc_id").cast("bigint").alias(
            "representative_doc_id"
        ),
        "keep",
    )


# shares the band/verify/closure CTE chain with _NEAR_DEDUP_SQL; the tail
# swaps min(dst) canonicalization for the score-argmax representative
_NEAR_DEDUP_BEST_SQL = (
    _NEAR_DEDUP_SQL[: _NEAR_DEDUP_SQL.index("SELECT src AS doc_id")]
    + """, lab AS (
  SELECT src AS doc_id, CAST(min(dst) AS BIGINT) AS canon
  FROM reach GROUP BY src
), sc AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
              AS BIGINT) AS score
  FROM documents
), ranked AS (
  SELECT lab.doc_id, lab.canon, sc.score,
         row_number() OVER (
           PARTITION BY lab.canon ORDER BY sc.score DESC, lab.doc_id
         ) AS rn
  FROM lab JOIN sc ON sc.doc_id = lab.doc_id
), rep AS (
  SELECT canon, doc_id AS rep_id FROM ranked WHERE rn = 1
)
SELECT r.doc_id,
       CAST(p.rep_id AS BIGINT) AS representative_doc_id,
       r.doc_id = p.rep_id AS keep
FROM ranked r JOIN rep p ON p.canon = r.canon
"""
)


# ---------------------------------------------------------------------------
# q_near_dedup_wide — the same end-to-end canonicalization through the
# PRODUCTION-width candidate tier (near_dedup(candidate_tier="wide"): 128
# perms, 16x8 bands, bucket-local pairs). The oracle re-derives the wide
# bands with the identical integer family and computes the full recursive
# transitive closure over its verified pairs.
# ---------------------------------------------------------------------------


def spark_near_dedup_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import near_dedup

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    out = near_dedup(docs, threshold_micros=500_000, candidate_tier="wide")
    return out.select(
        "doc_id",
        F.col("canonical_doc_id").cast("bigint").alias("canonical_doc_id"),
        "is_near_duplicate",
    )


def _near_dedup_wide_sql() -> str:
    band_rows = _MINHASH_WIDE_PERMS // _MINHASH_WIDE_BANDS
    band_exprs = ", ".join(
        "md5(concat_ws('-', %s))"
        % ", ".join(
            "m_%d::VARCHAR" % (k * band_rows + j) for j in range(band_rows)
        )
        for k in range(_MINHASH_WIDE_BANDS)
    )
    cte = _minhash_wide_sql_cte(_MINHASH_WIDE_PERMS).replace(
        "WITH t AS", "WITH RECURSIVE t AS", 1
    )
    return cte + """
, b AS (
  SELECT doc_id, sset, [{bands}] AS bands FROM m
), long AS (
  SELECT doc_id, sset, i.i AS band_idx, bands[i.i] AS band_value
  FROM b CROSS JOIN (SELECT unnest(range(1, {nb1})) AS i) i
), cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM long x JOIN long y
    ON x.band_idx = y.band_idx AND x.band_value = y.band_value
   AND x.doc_id < y.doc_id
), v AS (
  SELECT c.a, c.b
  FROM cand c
  JOIN x sa ON sa.doc_id = c.a
  JOIN x sb ON sb.doc_id = c.b
  WHERE (CAST(len(list_intersect(sa.sset, sb.sset)) AS BIGINT) * 1000000)
        // (len(sa.sset) + len(sb.sset) - len(list_intersect(sa.sset, sb.sset)))
        >= 500000
), e AS (
  SELECT a AS src, b AS dst FROM v
  UNION ALL
  SELECT b AS src, a AS dst FROM v
), reach(src, dst) AS (
  SELECT CAST(doc_id AS BIGINT), CAST(doc_id AS BIGINT) FROM documents
  UNION
  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src
)
SELECT src AS doc_id,
       CAST(min(dst) AS BIGINT) AS canonical_doc_id,
       min(dst) <> src AS is_near_duplicate
FROM reach
GROUP BY src
""".format(bands=band_exprs, nb1=_MINHASH_WIDE_BANDS + 1)


_NEAR_DEDUP_WIDE_SQL = _near_dedup_wide_sql()


# ---------------------------------------------------------------------------
# q_near_dedup_chain — transitive-chain collapse at the ORACLE level: docs
# are grouped in threes with sliding 24-token windows (4-token shift), so
# within a group A~B and B~C clear the Jaccard threshold while A~C does NOT
# (shingle J: adjacent 18/26≈0.69 >= 0.6, ends 14/30≈0.47 < 0.6) — only
# CONNECTED-COMPONENT canonicalization puts all three in one group. Both
# engines compute identical bands (n_bands=2, r=2), so parity holds even
# where LSH misses an edge.
# ---------------------------------------------------------------------------

_CHAIN_THR = 600_000


def _chain_text_col():
    g = (F.col("doc_id") / 3).cast("bigint")
    m = F.col("doc_id") % 3
    start = m * 4
    toks = F.transform(
        F.sequence(start, start + 23),
        lambda k: F.concat(F.lit("g"), g.cast("string"), F.lit("w"), k.cast("string")),
    )
    return F.array_join(toks, " ")


def ann_family_fronts(
    spark: SparkSession, sf_dir: str
) -> list[DataFrame]:
    """Build the IVF (assigned, centroids) and PQ (encoded, codebook)
    artifacts ONCE with the exact parameters the q_ivf_topk / q_pq_topk /
    q_ivfpq_topk contract queries use, register them in the ANN front
    registry (the query functions then reuse them instead of re-running
    the eager Lloyd builds), and return the corpus-scale frames worth
    persisting — [assigned, encoded]. The caller owns persist/unpersist
    lifetime and MUST call :func:`clear_ann_fronts` when done (bench.py
    does both in its warm phase; the warm cost is reported, not hidden).
    Determinism makes registered-vs-fresh results bit-identical
    (tests/test_bench_fronts.py pins outputs and sameSemantics)."""
    from .operators.pq import pq_build
    from .operators.similarity import ivf_build

    emb = _embeddings(spark, sf_dir)
    assigned, centroids = ivf_build(
        emb,
        n_centroids=_IVF_K,
        lloyd_iterations=_IVF_LLOYD,
        lloyd_sample_mod=_IVF_SAMPLE_MOD,
    )
    encoded, codebook = pq_build(
        emb, m=_PQ_M, n_codes=_PQ_CODES, lloyd_iterations=_PQ_LLOYD
    )
    _ANN_FRONTS[_ann_key(spark, sf_dir, "ivf")] = (assigned, centroids)
    _ANN_FRONTS[_ann_key(spark, sf_dir, "pq")] = (encoded, codebook)
    return [assigned, encoded]


def clear_ann_fronts() -> None:
    """Drop every registered ANN front (bench teardown; frames already
    unpersisted by the caller). Safe to call when nothing is registered."""
    _ANN_FRONTS.clear()


def near_dedup_family_fronts(
    spark: SparkSession, sf_dir: str,
    sink: list | None = None,
) -> list[tuple[DataFrame, DataFrame]]:
    """The deterministic LSH -> verify front ends shared by the
    q_near_dedup family (q_near_dedup, its registered alias
    q_near_dedup_star, and q_near_dedup_best share the first;
    q_near_dedup_chain owns the second). Built with the exact same library calls the queries use, so
    persisting the returned ``verified`` frames lets Spark's CacheManager
    substitute the canonical-equal fragment inside every family query's
    plan — the bench warm-sharing protocol from VERDICT r3 item 5
    (semantics unchanged: it is the same deterministic frame, computed
    once instead of four times). Returns [(verified, pairs), ...]; the
    caller owns both lifetimes. Pass a caller-owned list as ``sink`` and
    each tuple is ALSO appended there as soon as it is constructed —
    near_dup_verified_pairs registers its ``pairs`` frame with the
    CacheManager at construction, so on a mid-build failure the sink
    still names every frame needing unpersist (ADVICE r4).

    Also returns the production-width (128-perm) front shared by
    q_minhash128 / q_minhash128_pairs / q_near_dedup_wide: the per-doc
    minima frame (q_minhash128's scan; the banding inside the other two
    reads it from cache) and the wide candidate-pair frame (identical
    construction in q_minhash128_pairs and near_dedup's wide tier —
    defaults 128/16 match the queries' explicit constants, pinned by
    tests/test_bench_fronts.py)."""
    from .operators.dedup import (
        minhash_wide_bands,
        minhash_wide_minima,
        minhash_wide_pairs,
        near_dup_verified_pairs,
    )

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    chain_docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        _chain_text_col().alias("text"),
    )
    out = sink if sink is not None else []
    out.append(
        near_dup_verified_pairs(
            docs, threshold_micros=500_000, n_bands=1, band_rows=2
        )
    )
    out.append(
        near_dup_verified_pairs(
            chain_docs, threshold_micros=_CHAIN_THR, n_bands=2, band_rows=2
        )
    )
    out.append((minhash_wide_minima(docs, n_perms=_MINHASH_WIDE_PERMS), None))
    out.append(
        (
            minhash_wide_pairs(
                minhash_wide_bands(docs), n_bands=_MINHASH_WIDE_BANDS
            ),
            None,
        )
    )
    return out


def spark_near_dedup_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import near_dedup

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        _chain_text_col().alias("text"),
    )
    out = near_dedup(
        docs, threshold_micros=_CHAIN_THR, n_bands=2, band_rows=2
    )
    return out.select(
        "doc_id",
        F.col("canonical_doc_id").cast("bigint").alias("canonical_doc_id"),
        "is_near_duplicate",
    )


_NEAR_DEDUP_CHAIN_SQL = """
WITH RECURSIVE t AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         list_transform(range(CAST((doc_id % 3) * 4 AS BIGINT),
                              CAST((doc_id % 3) * 4 + 24 AS BIGINT)),
                        k -> 'g' || CAST(doc_id // 3 AS VARCHAR) || 'w' || CAST(k AS VARCHAR)) AS tokens
  FROM documents
), s AS (
  SELECT doc_id,
         list_transform(
           list_transform(range(1, len(tokens) - 1),
                          i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]),
           x -> md5(x)) AS hashes
  FROM t WHERE len(tokens) >= 3
), m AS (
  SELECT doc_id,
         list_aggregate(list_transform(hashes, h -> substring(h, 1, 8)), 'min')
           || list_aggregate(list_transform(hashes, h -> substring(h, 9, 8)), 'min') AS band_0,
         list_aggregate(list_transform(hashes, h -> substring(h, 17, 8)), 'min')
           || list_aggregate(list_transform(hashes, h -> substring(h, 25, 8)), 'min') AS band_1,
         list_distinct(hashes) AS sset
  FROM s
), v AS (
  SELECT x.doc_id AS a, y.doc_id AS b
  FROM m x JOIN m y ON (x.band_0 = y.band_0 OR x.band_1 = y.band_1) AND x.doc_id < y.doc_id
  WHERE (CAST(len(list_intersect(x.sset, y.sset)) AS BIGINT) * 1000000)
        // (len(x.sset) + len(y.sset) - len(list_intersect(x.sset, y.sset))) >= {thr}
), e AS (
  SELECT a AS src, b AS dst FROM v
  UNION ALL
  SELECT b AS src, a AS dst FROM v
), reach(src, dst) AS (
  SELECT CAST(doc_id AS BIGINT), CAST(doc_id AS BIGINT) FROM documents
  UNION
  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src
)
SELECT src AS doc_id,
       CAST(min(dst) AS BIGINT) AS canonical_doc_id,
       min(dst) <> src AS is_near_duplicate
FROM reach
GROUP BY src
""".format(thr=_CHAIN_THR)


# ---------------------------------------------------------------------------
# q_ivf_topk — IVF (inverted-file) ANN scale path: deterministic seed
# centroids (16 lowest-id vectors) refined by 2 exact-integer Lloyd rounds
# (squared-Euclidean assignment — the corpus vectors are unit-norm, so
# Euclidean NN == cosine NN, and Lloyd means stay meaningful), probe the
# query's 8 nearest cells, exact integer-quantized dot rescoring inside
# them (operators/similarity.py:ivf_build/ivf_search). The oracle unrolls
# the two Lloyd rounds as CTE pairs with the identical integer arithmetic.
# Operating point from the measured recall/latency curve
# (scripts/ann_recall_bench.py, table in BENCH/BASELINE.md): K=16/probe=8
# gives recall@10 129/160 (80.6%) on this corpus; probe=2 was 72/160.
# ---------------------------------------------------------------------------

_IVF_K = 16
_IVF_PROBE = 8
_IVF_LLOYD = 2
# Lloyd refines over the deterministic 1/5 id-mod sample (the build-time
# economy at corpus scale; measured recall@10 66->72/160 on this corpus —
# sample noise regularizes the tiny-cell means)
_IVF_SAMPLE_MOD = 5


# --- shared ANN build artifacts (bench warm-sharing, VERDICT r4 item 4) ---
# q_ivf_topk / q_pq_topk / q_ivfpq_topk each rebuild the SAME deterministic
# codebooks/centroids (the Lloyd rounds run EAGERLY inside the builders —
# bounded collects — so CacheManager plan-substitution alone cannot dedupe
# them). ann_family_fronts() builds each artifact once and registers it
# here, keyed by (spark appId, sf_dir); the query functions consult the
# registry and fall back to a fresh build when nothing is registered
# (driver correctness runs, tests). Determinism makes the two paths
# bit-identical (pinned by tests/test_bench_fronts.py).

_ANN_FRONTS: dict[tuple, tuple] = {}


def _ann_key(spark: SparkSession, sf_dir: str, kind: str) -> tuple:
    return (spark.sparkContext.applicationId, sf_dir, kind)


def _ivf_artifacts(spark: SparkSession, sf_dir: str):
    got = _ANN_FRONTS.get(_ann_key(spark, sf_dir, "ivf"))
    if got is not None:
        return got
    from .operators.similarity import ivf_build

    return ivf_build(
        _embeddings(spark, sf_dir),
        n_centroids=_IVF_K,
        lloyd_iterations=_IVF_LLOYD,
        lloyd_sample_mod=_IVF_SAMPLE_MOD,
    )


def spark_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import ivf_search

    emb = _embeddings(spark, sf_dir)
    assigned, centroids = _ivf_artifacts(spark, sf_dir)
    q = emb.orderBy("vec_id").limit(1)
    out = ivf_search(assigned, centroids, q, k=10, n_probe=_IVF_PROBE)
    return out.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("qdot").cast("bigint").alias("qdot"),
        "rank",
    )


_SQD_SQL = (
    "list_sum(list_transform(range(1, 65), "
    "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
)


def _ivf_cells_prefix() -> tuple[str, str]:
    """Shared CTE fragment ``v, c1, <lloyd rounds>, sf, af`` assigning every
    embedding to its final k-means cell with the exact integer arithmetic of
    ``ivf_build`` (seeds = K lowest-id vectors, Lloyd over the 1/mod id-mod
    sample, floor-mean centroid updates). Returns (fragment, final-centroid
    CTE name). Used by both the IVF ANN oracle and the SemDeDup oracle —
    one source of truth for the cluster-assignment unroll."""
    sqd = _SQD_SQL
    rounds = []
    prev = "c1"
    for r in range(1, _IVF_LLOYD + 1):
        nxt = f"c{r + 1}"
        rounds.append(
            """s{r} AS (
  SELECT v.vec_id, v.qe, c.cell, {dist} AS cdist
  FROM v, {prev} c
  WHERE v.vec_id % {mod} = 0
), a{r} AS (
  SELECT vec_id, qe, cell FROM (
    SELECT vec_id, qe, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY cdist ASC, cell ASC) AS rn
    FROM s{r}
  ) WHERE rn = 1
), u{r} AS (
  SELECT cell, i AS pos, qe[i] AS val FROM a{r}, range(1, 65) t(i)
), m{r} AS (
  SELECT cell, pos,
         CAST(FLOOR(CAST(sum(val) AS DOUBLE) / count(*)) AS BIGINT) AS cv
  FROM u{r} GROUP BY cell, pos
), {nxt}p AS (
  SELECT cell, list(cv ORDER BY pos) AS cvec FROM m{r} GROUP BY cell
), {nxt} AS (
  SELECT {prev}.cell, COALESCE({nxt}p.cvec, {prev}.cvec) AS cvec
  FROM {prev} LEFT JOIN {nxt}p USING (cell)
)""".format(
                r=r,
                prev=prev,
                nxt=nxt,
                dist=sqd.format(a="v.qe", b="c.cvec"),
                mod=_IVF_SAMPLE_MOD,
            )
        )
        prev = nxt
    prefix = """v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS qe
  FROM embeddings
), c1 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) AS cell, qe AS cvec
  FROM (SELECT vec_id, qe FROM v ORDER BY vec_id LIMIT {k})
), {rounds}, sf AS (
  SELECT v.vec_id, v.qe, c.cell, {fdist} AS cdist
  FROM v, {fin} c
), af AS (
  SELECT vec_id, qe, cell FROM (
    SELECT vec_id, qe, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY cdist ASC, cell ASC) AS rn
    FROM sf
  ) WHERE rn = 1
)""".format(
        k=_IVF_K,
        rounds=", ".join(rounds),
        fin=prev,
        fdist=sqd.format(a="v.qe", b="c.cvec"),
    )
    return prefix, prev


def _ivf_sql() -> str:
    sqd = _SQD_SQL
    prefix, fin = _ivf_cells_prefix()
    return """
WITH {prefix}, qq AS (
  SELECT qe AS qv FROM v ORDER BY vec_id LIMIT 1
), probes AS (
  SELECT cell FROM (
    SELECT c.cell,
           row_number() OVER (ORDER BY {pdist} ASC, c.cell ASC) AS rn
    FROM {fin} c, qq
  ) WHERE rn <= {p}
), cand AS (
  SELECT af.vec_id,
         list_sum(list_transform(range(1, 65), i -> af.qe[i] * qq.qv[i])) AS qdot
  FROM af JOIN probes USING (cell), qq
)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(qdot AS BIGINT) AS qdot,
       CAST(row_number() OVER (ORDER BY qdot DESC, vec_id ASC) AS BIGINT) AS rank
FROM cand
ORDER BY qdot DESC, vec_id ASC
LIMIT 10
""".format(
        prefix=prefix,
        p=_IVF_PROBE,
        fin=fin,
        pdist=sqd.format(a="qq.qv", b="c.cvec"),
    )


_IVF_SQL = _ivf_sql()


# ---------------------------------------------------------------------------
# q_pq_topk — product quantization (Jégou et al., TPAMI 2011) in its
# production serving shape: per-subspace exact-integer codebooks (m=16
# subspaces x 64 codes over the 64-dim embeddings, 2 Lloyd rounds) rank
# the WHOLE corpus by ADC (m table lookups + adds per vector against the
# broadcast m x 64 distance table), then ONLY the 100-candidate shortlist
# per query joins back to full vectors for an exact rescore
# (operators/pq.py:pq_search_rerank). Measured recall@10 vs brute force at
# this operating point: 80/80 on the sf0.01 corpus (tests/test_pq.py;
# ADC-only is 50/80 — the rescore is what buys exactness at ~C vector
# touches per query instead of N). The oracle mirrors the
# seed/Lloyd/assign/ADC/rescore arithmetic exactly. Lloyd runs over the
# full corpus here (500-5000 vectors); at corpus scale pass sample_mod —
# the same build-time economy as IVF — and keep sample >> n_codes.
# ---------------------------------------------------------------------------

_PQ_M = 16
_PQ_CODES = 64
_PQ_LLOYD = 2
_PQ_SHORTLIST = 100


def _pq_artifacts(spark: SparkSession, sf_dir: str):
    got = _ANN_FRONTS.get(_ann_key(spark, sf_dir, "pq"))
    if got is not None:
        return got
    from .operators.pq import pq_build

    return pq_build(
        _embeddings(spark, sf_dir),
        m=_PQ_M,
        n_codes=_PQ_CODES,
        lloyd_iterations=_PQ_LLOYD,
    )


def spark_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.pq import pq_search_rerank

    emb = _embeddings(spark, sf_dir)
    encoded, codebook = _pq_artifacts(spark, sf_dir)
    q = emb.orderBy("vec_id").limit(1)
    out = pq_search_rerank(
        encoded, codebook, emb, q, k=10, shortlist=_PQ_SHORTLIST, m=_PQ_M
    )
    return out.select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("vec_id").cast("bigint").alias("vec_id"),
        "dist",
        "rank",
    )


def _pq_codes_ctes() -> tuple[str, str, str]:
    """Shared CTE fragment for the PQ codebook/encoding unroll, reading
    from an existing ``v(vec_id, qe)`` CTE. All names are p-prefixed so
    the fragment composes with the IVF cell prefix (q_ivfpq_topk).
    Returns (fragment, final-codebook CTE name, code-assignment CTE
    name) — the assignment CTE ``paf`` is (vec_id, sub, code)."""
    subdim = 64 // _PQ_M
    sqd = (
        "list_sum(list_transform(range(1, {n}), "
        "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
    ).format(n=subdim + 1, a="{a}", b="{b}")
    sub_dist = sqd.format(a="psv.sv", b="c.cvec")
    rounds = []
    prev = "pc1"
    for r in range(1, _PQ_LLOYD + 1):
        nxt = f"pc{r + 1}"
        rounds.append(
            """ps{r} AS (
  SELECT psv.vec_id, psv.sub, psv.sv, c.code, {dist} AS cdist
  FROM psv JOIN {prev} c USING (sub)
), pa{r} AS (
  SELECT vec_id, sub, sv, code FROM (
    SELECT vec_id, sub, sv, code,
           row_number() OVER (PARTITION BY vec_id, sub
                              ORDER BY cdist ASC, code ASC) AS rn
    FROM ps{r}
  ) WHERE rn = 1
), pu{r} AS (
  SELECT sub, code, i AS pos, sv[i] AS val FROM pa{r}, range(1, {sd1}) t(i)
), pm{r} AS (
  SELECT sub, code, pos,
         CAST(FLOOR(CAST(sum(val) AS DOUBLE) / count(*)) AS BIGINT) AS cv
  FROM pu{r} GROUP BY sub, code, pos
), {nxt}p AS (
  SELECT sub, code, list(cv ORDER BY pos) AS cvec FROM pm{r} GROUP BY sub, code
), {nxt} AS (
  SELECT {prev}.sub, {prev}.code, COALESCE({nxt}p.cvec, {prev}.cvec) AS cvec
  FROM {prev} LEFT JOIN {nxt}p USING (sub, code)
)""".format(r=r, prev=prev, nxt=nxt, dist=sub_dist, sd1=subdim + 1)
        )
        prev = nxt
    frag = """psv AS (
  SELECT vec_id, CAST(s AS INT) AS sub,
         list_transform(range(1, {sd1}), i -> qe[s * {sd} + i]) AS sv
  FROM v, range(0, {m}) t(s)
), pseeds AS (
  SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) AS INT) AS code
  FROM (SELECT vec_id FROM v ORDER BY vec_id LIMIT {k})
), pc1 AS (
  SELECT psv.sub, pseeds.code, psv.sv AS cvec
  FROM pseeds JOIN psv USING (vec_id)
), {rounds}, psfin AS (
  SELECT psv.vec_id, psv.sub, psv.sv, c.code, {d_fin} AS cdist
  FROM psv JOIN {fin} c USING (sub)
), paf AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, sub, code,
           row_number() OVER (PARTITION BY vec_id, sub
                              ORDER BY cdist ASC, code ASC) AS rn
    FROM psfin
  ) WHERE rn = 1
)""".format(
        m=_PQ_M,
        k=_PQ_CODES,
        sd=subdim,
        sd1=subdim + 1,
        rounds=", ".join(rounds),
        fin=prev,
        d_fin=sub_dist,
    )
    return frag, prev, "paf"


def _pq_sql() -> str:
    subdim = 64 // _PQ_M
    sqd = (
        "list_sum(list_transform(range(1, {n}), "
        "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
    ).format(n=subdim + 1, a="{a}", b="{b}")
    codes, fin, paf = _pq_codes_ctes()
    return """
WITH v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS qe
  FROM embeddings
), {codes}, qq AS (
  SELECT sub, sv FROM psv WHERE vec_id = (SELECT min(vec_id) FROM v)
), dt AS (
  SELECT c.sub, c.code, {d_qc} AS d
  FROM {fin} c JOIN qq q USING (sub)
), sc AS (
  SELECT {paf}.vec_id, CAST(sum(dt.d) AS BIGINT) AS adist
  FROM {paf} JOIN dt USING (sub, code)
  GROUP BY {paf}.vec_id
), short AS (
  SELECT vec_id FROM (
    SELECT vec_id,
           row_number() OVER (ORDER BY adist ASC, vec_id ASC) AS rn
    FROM sc
  ) WHERE rn <= {shortlist}
), qfull AS (
  SELECT qe AS qv FROM v ORDER BY vec_id LIMIT 1
), resc AS (
  SELECT v.vec_id,
         CAST(list_sum(list_transform(range(1, 65),
              i -> (v.qe[i] - qfull.qv[i]) * (v.qe[i] - qfull.qv[i]))) AS BIGINT) AS dist
  FROM short JOIN v USING (vec_id), qfull
)
SELECT CAST((SELECT min(vec_id) FROM v) AS BIGINT) AS query_id,
       CAST(vec_id AS BIGINT) AS vec_id, dist,
       CAST(row_number() OVER (ORDER BY dist ASC, vec_id ASC) AS BIGINT) AS rank
FROM resc
ORDER BY dist ASC, vec_id ASC
LIMIT 10
""".format(
        codes=codes,
        fin=fin,
        paf=paf,
        shortlist=_PQ_SHORTLIST,
        d_qc=sqd.format(a="q.sv", b="c.cvec"),
    )


_PQ_SQL = _pq_sql()


# ---------------------------------------------------------------------------
# q_ivfpq_topk — the composed trillion-scale ANN layout (FAISS IVFPQ
# shape): the IVF coarse quantizer restricts candidates to the query's 8
# nearest cells (~n_probe/K of the corpus), PQ codes rank those candidates
# by ADC (m lookups + adds each), and only the 50-candidate shortlist is
# exactly rescored (operators/pq.py:ivf_pq_search over
# similarity.ivf_build + pq.pq_build artifacts). The oracle composes the
# two proven unrolls — the IVF cell prefix (v, c*, af) and the p-prefixed
# PQ codebook fragment — plus probes/ADC/shortlist/rescore CTEs. Recall is
# ceilinged by the IVF probe tier (cells the probe misses are gone for
# good); the PQ tier inside probed cells is near-lossless with the
# rescore, so composed recall ~= the IVF curve at the same n_probe
# (BENCH/BASELINE.md table).
# ---------------------------------------------------------------------------

_IVFPQ_PROBE = 8
_IVFPQ_SHORTLIST = 50


def spark_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.pq import ivf_pq_search

    emb = _embeddings(spark, sf_dir)
    assigned, centroids = _ivf_artifacts(spark, sf_dir)
    encoded, codebook = _pq_artifacts(spark, sf_dir)
    q = emb.orderBy("vec_id").limit(1)
    out = ivf_pq_search(
        assigned, centroids, encoded, codebook, emb, q,
        k=10, n_probe=_IVFPQ_PROBE, shortlist=_IVFPQ_SHORTLIST, m=_PQ_M,
    )
    return out.select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("vec_id").cast("bigint").alias("vec_id"),
        "dist",
        "rank",
    )


def _ivfpq_sql() -> str:
    subdim = 64 // _PQ_M
    sqd64 = (
        "list_sum(list_transform(range(1, 65), "
        "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
    )
    sqd_sub = (
        "list_sum(list_transform(range(1, {n}), "
        "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
    ).format(n=subdim + 1, a="{a}", b="{b}")
    ivf_prefix, ivf_fin = _ivf_cells_prefix()
    pq_codes, pq_fin, paf = _pq_codes_ctes()
    return """
WITH {ivf_prefix}, {pq_codes}, fq AS (
  SELECT qe AS qv FROM v ORDER BY vec_id LIMIT 1
), probes AS (
  SELECT cell FROM (
    SELECT c.cell,
           row_number() OVER (ORDER BY {pdist} ASC, c.cell ASC) AS rn
    FROM {ivf_fin} c, fq
  ) WHERE rn <= {probe}
), cand AS (
  SELECT af.vec_id FROM af JOIN probes USING (cell)
), qs AS (
  SELECT psv.sub, psv.sv FROM psv WHERE vec_id = (SELECT min(vec_id) FROM v)
), dt AS (
  SELECT c.sub, c.code, {d_qc} AS d
  FROM {pq_fin} c JOIN qs q USING (sub)
), adc AS (
  SELECT {paf}.vec_id, CAST(sum(dt.d) AS BIGINT) AS adist
  FROM {paf} JOIN cand USING (vec_id) JOIN dt USING (sub, code)
  GROUP BY {paf}.vec_id
), short AS (
  SELECT vec_id FROM (
    SELECT vec_id,
           row_number() OVER (ORDER BY adist ASC, vec_id ASC) AS rn
    FROM adc
  ) WHERE rn <= {shortlist}
), resc AS (
  SELECT v.vec_id, CAST({d_full} AS BIGINT) AS dist
  FROM short JOIN v USING (vec_id), fq
)
SELECT CAST((SELECT min(vec_id) FROM v) AS BIGINT) AS query_id,
       CAST(vec_id AS BIGINT) AS vec_id, dist,
       CAST(row_number() OVER (ORDER BY dist ASC, vec_id ASC) AS BIGINT) AS rank
FROM resc
ORDER BY dist ASC, vec_id ASC
LIMIT 10
""".format(
        ivf_prefix=ivf_prefix,
        pq_codes=pq_codes,
        ivf_fin=ivf_fin,
        pq_fin=pq_fin,
        paf=paf,
        probe=_IVFPQ_PROBE,
        shortlist=_IVFPQ_SHORTLIST,
        pdist=sqd64.format(a="fq.qv", b="c.cvec"),
        d_qc=sqd_sub.format(a="q.sv", b="c.cvec"),
        d_full=sqd64.format(a="v.qe", b="fq.qv"),
    )


_IVFPQ_SQL = _ivfpq_sql()


# ---------------------------------------------------------------------------
# q_semantic_dedup — SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means
# cluster the embeddings (the same deterministic exact-integer Lloyd build as
# q_ivf_topk — one source of truth, _ivf_cells_prefix), then inside each
# cluster drop any member whose quantized cosine to an earlier-ranked member
# (farther from the centroid first — the paper keeps the lowest-centroid-
# similarity representative — ties toward the lower id) meets the threshold.
# The pairwise term is an equi-self-join on `cell`, never all-pairs; at
# corpus scale K grows with N so the per-cell quadratic stays bounded
# (operators/semdedup.py, with a max_cell_size guard + oversized_cells
# audit mirroring the LSH bucket cap).
# ---------------------------------------------------------------------------

# unit vectors quantized at 2^20 → dot ≈ cos * 2^40; 0.35 is below the
# corpus's top within-cell band (max ~0.51) so the drop path is exercised
# (~12% at sf0.01) while survivors dominate
_SEMDEDUP_THR = int(0.35 * (1 << 40))


def spark_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.semdedup import semantic_dedup

    emb = _embeddings(spark, sf_dir)
    out = semantic_dedup(
        emb,
        n_centroids=_IVF_K,
        threshold_q=_SEMDEDUP_THR,
        lloyd_iterations=_IVF_LLOYD,
        lloyd_sample_mod=_IVF_SAMPLE_MOD,
    )
    return out.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("cell").cast("int").alias("cell"),
        F.col("cdist").cast("bigint").alias("cdist"),
        "kept",
    )


def _semdedup_sql() -> str:
    prefix, fin = _ivf_cells_prefix()
    return """
WITH {prefix}, cd AS (
  SELECT af.vec_id, af.qe, af.cell, {cdist} AS cdist
  FROM af JOIN {fin} c USING (cell)
), drops AS (
  SELECT DISTINCT a.vec_id
  FROM cd a JOIN cd b USING (cell)
  WHERE (b.cdist > a.cdist OR (b.cdist = a.cdist AND b.vec_id < a.vec_id))
    AND list_sum(list_transform(range(1, 65), i -> a.qe[i] * b.qe[i])) >= {thr}
)
SELECT CAST(cd.vec_id AS BIGINT) AS vec_id,
       CAST(cd.cell AS INT) AS cell,
       CAST(cd.cdist AS BIGINT) AS cdist,
       d.vec_id IS NULL AS kept
FROM cd LEFT JOIN drops d ON cd.vec_id = d.vec_id
""".format(
        prefix=prefix,
        fin=fin,
        thr=_SEMDEDUP_THR,
        cdist=_SQD_SQL.format(a="af.qe", b="c.cvec"),
    )


_SEMDEDUP_SQL = _semdedup_sql()


# ---------------------------------------------------------------------------
# q_boilerplate — Boilerpipe-style block classification (north rule:
# "text-density + link-density block scoring"): deterministic blocks are
# derived from each doc's tokens (8-token chunks; a token is link-like by a
# position rule with per-block modulus 2+b%3, so densities 1/2, 2/3, 3/4
# exercise every branch of the WSDM-2010 decision tree), then
# operators/boilerplate.py:classify_blocks runs the REAL lag/lead
# tree — integer cross-multiplied link-density thresholds, so DuckDB
# reproduces it exactly.
# ---------------------------------------------------------------------------

def spark_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.boilerplate import classify_blocks

    df = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.posexplode(
            F.filter(F.split(F.col("text"), " "), lambda x: x != "")
        ).alias("pos", "token"),
    )
    b = F.floor(F.col("pos") / 8).cast("int")
    link = (
        (F.col("pos") + F.col("doc_id")) % (2 + b % 3) != 0
    ).cast("int")
    blocks = (
        df.withColumn("block_no", b)
        .withColumn("is_link", link)
        .groupBy("doc_id", "block_no")
        .agg(
            F.count("*").cast("int").alias("n_words"),
            F.sum("is_link").cast("int").alias("n_link_words"),
        )
    )
    classified = classify_blocks(blocks)
    return classified.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_blocks"),
        F.sum(F.col("is_content").cast("bigint")).alias("n_content_blocks"),
        F.sum(
            F.when(F.col("is_content"), F.col("n_words").cast("bigint")).otherwise(
                F.lit(0)
            )
        ).alias("content_words"),
    )


_BOILERPLATE_SQL = """
WITH t AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS tokens
  FROM documents
), e AS (
  SELECT doc_id, unnest(range(0, len(tokens))) AS pos FROM t
), f AS (
  SELECT doc_id,
         CAST(pos // 8 AS INT) AS block_no,
         CASE WHEN (pos + doc_id) % (2 + (pos // 8) % 3) <> 0 THEN 1 ELSE 0 END AS is_link
  FROM e
), blk AS (
  SELECT doc_id, block_no,
         CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(is_link) AS BIGINT) AS n_link_words
  FROM f GROUP BY doc_id, block_no
), ctx AS (
  SELECT doc_id, block_no, n_words, n_link_words,
         COALESCE(lag(n_words) OVER w, 0) AS prev_words,
         COALESCE(lag(n_link_words) OVER w, 0) AS prev_links,
         COALESCE(lead(n_words) OVER w, 0) AS next_words
  FROM blk
  WINDOW w AS (PARTITION BY doc_id ORDER BY block_no)
), c AS (
  SELECT doc_id, n_words,
         CASE WHEN n_link_words * 1000000 > n_words * 333333 THEN FALSE
              WHEN prev_links * 1000000 > prev_words * 555556
                THEN (n_words > 40 OR next_words > 17)
              ELSE (n_words > 16 OR next_words > 15 OR prev_words > 4)
         END AS is_content
  FROM ctx
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(sum(CASE WHEN is_content THEN 1 ELSE 0 END) AS BIGINT) AS n_content_blocks,
       CAST(sum(CASE WHEN is_content THEN n_words ELSE 0 END) AS BIGINT) AS content_words
FROM c
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# q_boilerplate_density — the TEXT-DENSITY variant (WSDM-2010 DensityRules):
# same derived blocks as q_boilerplate plus per-block char counts; text
# density = words per 80-column wrapped line, evaluated by integer
# cross-multiplication on both engines (operators/boilerplate.py:
# density_flag_col / wrapped_lines_col).
# ---------------------------------------------------------------------------

def spark_boilerplate_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.boilerplate import classify_blocks

    df = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.posexplode(
            F.filter(F.split(F.col("text"), " "), lambda x: x != "")
        ).alias("pos", "token"),
    )
    b = F.floor(F.col("pos") / 8).cast("int")
    link = ((F.col("pos") + F.col("doc_id")) % (2 + b % 3) != 0).cast("int")
    blocks = (
        df.withColumn("block_no", b)
        .withColumn("is_link", link)
        .groupBy("doc_id", "block_no")
        .agg(
            F.count("*").cast("int").alias("n_words"),
            F.sum("is_link").cast("int").alias("n_link_words"),
            # block chars = token lengths + single joining spaces
            (F.sum(F.length("token")) + F.count("*") - 1)
            .cast("int")
            .alias("n_chars"),
        )
    )
    classified = classify_blocks(blocks, classifier="density")
    return classified.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_blocks"),
        F.sum(F.col("is_content").cast("bigint")).alias("n_content_blocks"),
        F.sum(
            F.when(F.col("is_content"), F.col("n_words").cast("bigint")).otherwise(
                F.lit(0)
            )
        ).alias("content_words"),
    )


_BOILERPLATE_DENSITY_SQL = """
WITH t AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS tokens
  FROM documents
), e AS (
  SELECT doc_id,
         unnest(range(0, len(tokens))) AS pos,
         unnest(tokens) AS token
  FROM t
), f AS (
  SELECT doc_id, token,
         CAST(pos // 8 AS INT) AS block_no,
         CASE WHEN (pos + doc_id) % (2 + (pos // 8) % 3) <> 0 THEN 1 ELSE 0 END AS is_link
  FROM e
), blk AS (
  SELECT doc_id, block_no,
         CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(is_link) AS BIGINT) AS n_link_words,
         CAST(sum(length(token)) + count(*) - 1 AS BIGINT) AS n_chars
  FROM f GROUP BY doc_id, block_no
), ctx AS (
  SELECT doc_id, block_no, n_words, n_link_words,
         GREATEST(1, (n_chars + 79) // 80) AS lines,
         COALESCE(lag(n_words) OVER w, 0) AS prev_words,
         COALESCE(lag(n_link_words) OVER w, 0) AS prev_links,
         GREATEST(1, (COALESCE(lag(n_chars) OVER w, 0) + 79) // 80) AS prev_lines,
         COALESCE(lead(n_words) OVER w, 0) AS next_words,
         GREATEST(1, (COALESCE(lead(n_chars) OVER w, 0) + 79) // 80) AS next_lines
  FROM blk
  WINDOW w AS (PARTITION BY doc_id ORDER BY block_no)
), c AS (
  SELECT doc_id, n_words,
         CASE WHEN n_link_words * 1000000 > n_words * 333333 THEN FALSE
              WHEN prev_links * 1000000 > prev_words * 555556
                THEN next_words > 11 * next_lines
              WHEN n_words > 9 * lines THEN next_words > 0
              ELSE (next_words > 10 * next_lines OR prev_words > 4 * prev_lines)
         END AS is_content
  FROM ctx
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(sum(CASE WHEN is_content THEN 1 ELSE 0 END) AS BIGINT) AS n_content_blocks,
       CAST(sum(CASE WHEN is_content THEN n_words ELSE 0 END) AS BIGINT) AS content_words
FROM c
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# q_salted_host_agg — explicit skew salting (north rule: "explicit salting
# of skewed hosts"): a skewed host column is derived (60% of docs on one hot
# host), the hot key is split across 8 salts, and the aggregation runs in
# two phases (partial per key#salt, final per key —
# plans/salting.py:with_salted_key/salted_two_phase_agg). The oracle is the
# direct GROUP BY: two-phase must be semantically identical.
# ---------------------------------------------------------------------------

def spark_salted_host_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .plans.salting import salted_two_phase_agg, with_salted_key

    host = (
        F.when(F.col("doc_id") % 10 < 6, F.lit("hot.example.com"))
        .otherwise(F.concat(F.lit("cold"), (F.col("doc_id") % 7).cast("string")))
    )
    df = _docs(spark, sf_dir).withColumn("host", host)
    salted = with_salted_key(
        df, "host", n_salts=8, hot_keys=["hot.example.com"], id_col="doc_id"
    )
    out = salted_two_phase_agg(salted, "host")
    return out.select("host", "n_docs", "total_chars")


_SALTED_HOST_SQL = """
SELECT CASE WHEN doc_id % 10 < 6 THEN 'hot.example.com'
            ELSE 'cold' || CAST(doc_id % 7 AS VARCHAR) END AS host,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# q_events_hourly — tumbling event-time windows (batch twin of the
# streaming watermarked aggregation, streaming/windowed_stats.py): 1-hour
# window start == date_trunc('hour') for aligned tumbling windows, so the
# DuckDB oracle is exact. Timestamps compared as epoch microseconds (UTC
# session pinning makes NTZ casts identity).
# ---------------------------------------------------------------------------

def spark_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.windowed_stats import windowed_event_agg, with_event_time

    ev = with_event_time(_events(spark, sf_dir))
    agg = windowed_event_agg(ev, "1 hour")
    return agg.select(
        F.unix_micros("window_start").alias("window_start_us"),
        "event_type",
        "n_events",
        "sum_value_micros",
    )


_EVENTS_HOURLY_SQL = """
SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(FLOOR(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_value_micros
FROM events
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# q_rename_pipeline — the full rename flow (classify -> metadata -> code
# discovery/allocation -> registry-uniqueness resolution -> canonical
# filename). The testdata vocabulary contains no legal captions, so a
# deterministic caselaw header is derived for 3/4 of docs (same pattern as
# q_metadata_extract) and the filename mix plants duplicate ----ABXCD
# claimants, invalid ----WWWWW codes, and a preserved ----AAABA that
# collides with fresh sequential allocation — so the oracle exercises the
# whole registry state machine. Oracle = GOLDEN table from the sequential
# pure-Python execution (scripts/gen_goldens.py, rename_corpus_sequential).
# ---------------------------------------------------------------------------

_RENAME_COURT = "Court of Appeals of Georgia"


def rename_input_py(doc_id: int, text: str) -> tuple[str, str]:
    """(source_file, full_text) rename-pipeline input derivation — the
    pure-Python twin of :func:`_rename_input_cols` (golden generator)."""
    toks = [t for t in (text or "").split(" ") if t]
    if doc_id % 4 != 0 and len(toks) >= 2:
        cap = toks[0][:1].upper() + toks[0][1:]
        cap2 = toks[1][:1].upper() + toks[1][1:]
        header = (
            f"{cap} v. {cap2}\n{_RENAME_COURT}\n"
            f"July 3, {1900 + doc_id % 100}, Decided\n"
            f"{100 + doc_id % 800} Ga. App. {1 + doc_id % 900}"
        )
        full = header + "\n" + (text or "")
    else:
        full = text or ""
    if doc_id % 17 == 0:
        source_file = f"{doc_id}----ABXCD.pdf"
    elif doc_id % 23 == 1:
        source_file = f"{doc_id}----WWWWW.pdf"
    elif doc_id % 100 == 3:
        source_file = f"{doc_id}----AAABA.pdf"
    else:
        source_file = f"{doc_id}.pdf"
    return source_file, full


def _rename_input_cols(df: DataFrame) -> DataFrame:
    """Columnar twin of :func:`rename_input_py` (pure JVM expressions)."""
    did = F.col("doc_id").cast("bigint")
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    t1 = F.element_at(toks, 1)
    t2 = F.element_at(toks, 2)
    cap = F.concat(F.upper(F.substring(t1, 1, 1)), F.substring(t1, 2, 1 << 24))
    cap2 = F.concat(F.upper(F.substring(t2, 1, 1)), F.substring(t2, 2, 1 << 24))
    header = F.concat_ws(
        "\n",
        F.concat(cap, F.lit(" v. "), cap2),
        F.lit(_RENAME_COURT),
        F.format_string("July 3, %d, Decided", (did % 100) + 1900),
        F.format_string("%d Ga. App. %d", (did % 800) + 100, (did % 900) + 1),
    )
    use_header = ((did % 4) != 0) & (F.size(toks) >= 2)
    full = F.when(use_header, F.concat(header, F.lit("\n"), F.col("text"))).otherwise(
        F.col("text")
    )
    source_file = (
        F.when(did % 17 == 0, F.format_string("%d----ABXCD.pdf", did))
        .when(did % 23 == 1, F.format_string("%d----WWWWW.pdf", did))
        .when(did % 100 == 3, F.format_string("%d----AAABA.pdf", did))
        .otherwise(F.format_string("%d.pdf", did))
    )
    return df.withColumn("text", full).withColumn("source_file", source_file)


def spark_rename_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.rename import rename_documents
    from .sources import flat_to_spans

    df = flat_to_spans(_rename_input_cols(_docs(spark, sf_dir).select("doc_id", "text")))
    out = rename_documents(df)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "document_type",
        F.floor(F.col("confidence") * 1_000_000).cast("bigint").alias("confidence_micros"),
        "case_name",
        "year",
        "metadata_ok",
        F.col("code_index").cast("bigint").alias("code_index"),
        "unique_code",
        "new_filename",
        "rename_success",
        "error_message",
    )


def _golden_sql(filename: str) -> str:
    """Inline a committed golden parquet as a typed VALUES oracle.

    VALUES (not read_parquet) so the oracle runs on any DuckDB connection
    regardless of external-file access configuration.
    """
    import os

    import pyarrow.parquet as pq

    path = os.path.join(os.path.dirname(__file__), "data", "goldens", filename)
    if not os.path.exists(path):
        import glob

        have = sorted(
            os.path.basename(p)
            for p in glob.glob(
                os.path.join(os.path.dirname(__file__), "data", "goldens", "*.parquet")
            )
        )
        raise FileNotFoundError(
            f"no committed golden {filename!r}; available: {have}. "
            "Regenerate with scripts/gen_goldens.py for this scale factor."
        )
    t = pq.read_table(path)
    cols = t.column_names
    types = {
        "int64": "BIGINT",
        "bool": "BOOLEAN",
        "string": "VARCHAR",
        "large_string": "VARCHAR",
    }

    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, int):
            return str(v)
        return "'" + str(v).replace("'", "''") + "'"

    data = [c.to_pylist() for c in (t[c] for c in cols)]
    rows = ", ".join(
        "(" + ", ".join(lit(data[j][i]) for j in range(len(cols))) + ")"
        for i in range(t.num_rows)
    )
    casts = ", ".join(
        "CAST(%s AS %s) AS %s" % (c, types[str(t.schema.field(c).type)], c)
        for c in cols
    )
    return "SELECT %s FROM (VALUES %s) AS g(%s)" % (casts, rows, ", ".join(cols))


# ---------------------------------------------------------------------------
# q_article_metadata — AR1-AR6 articles-variant legacy extraction
# (zOld-Code/step1--Base_FILENAME--b-articles/src/): authors, title, year
# priority chain, journal/volume/issue/page, and the
# {year}_{AuthorLast}_{Short_Title} filename. The Spark side synthesizes a
# deterministic law-journal front-matter header per doc and runs the REAL
# Arrow kernel (operators/articles.py, differential-tested against the
# actual reference modules); the oracle derives the expected record in
# closed form from the same generative model — an INDEPENDENT derivation,
# so any kernel deviation breaks the hash. Layout per doc (7 lines):
#   0 journal, 1 volume (3 shapes), 2 year (4 shapes incl. none),
#   3 blank, 4 title, 5 author (all-caps + footnote marker), 6 blank.
# ---------------------------------------------------------------------------

def spark_article_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.articles import extract_article_metadata

    df = _docs(spark, sf_dir).withColumn(
        "tokens", F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    )
    did = F.col("doc_id").cast("bigint")

    def _word(pos: int, pad: str):
        raw = F.coalesce(F.element_at("tokens", pos), F.lit(""))
        return F.substring(
            F.concat(F.lower(F.regexp_replace(raw, "[^A-Za-z]", "")), F.lit(pad)),
            1,
            8,
        )

    w1, w2 = _word(1, "xyz"), _word(2, "uvw")
    a1c = F.concat(F.lit("K"), w1)  # 'Kalpha' — capitalized by construction
    a2c = F.concat(F.lit("K"), w2)
    vol = (did % 120 + 1).cast("int")
    iss = (did % 4 + 1).cast("int")
    pg = (did % 950 + 10).cast("int")
    yr = (did % 126 + 1900).cast("int")
    yr2 = (did % 100 + 1800).cast("int")
    yrf = (did % 200 + 1800).cast("int")

    journal_line = F.concat(
        F.upper(a1c),
        F.lit(" LAW "),
        F.when(did % 2 == 0, F.lit("REVIEW")).otherwise(F.lit("JOURNAL")),
    )
    vol_line = (
        F.when(did % 3 == 0, F.format_string("[Vol. %d:%d", vol, pg))
        .when(did % 3 == 1, F.format_string("Vol. %d No. %d", vol, iss))
        .otherwise(F.format_string("Volume %d Issue %d", vol, iss))
    )
    year_line = (
        F.when(did % 4 == 0, F.format_string("© %d February %d", yr, yr2))
        .when(did % 4 == 1, F.format_string("[%d]", yr))
        .when(did % 4 == 2, F.format_string("February %d", yr))
        .otherwise(F.lit("Filed under seal pending review"))
    )
    title_line = F.concat(F.lit("The "), a1c, F.lit(" of "), a2c, F.lit(" Doctrine"))
    author_line = F.concat(
        F.upper(a1c),
        F.lit(" "),
        F.upper(F.substring(w2, 1, 1)),
        F.lit(". "),
        F.upper(a2c),
        F.lit("*"),
    )
    header = F.concat_ws(
        "\n", journal_line, vol_line, year_line, F.lit(""), title_line, author_line, F.lit("")
    )
    fname = F.concat(a1c, F.lit("_Study_"), yrf.cast("string"), F.lit(".pdf"))

    inp = df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        header.alias("text"),
        fname.alias("source_file"),
    )
    out = extract_article_metadata(inp)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.element_at("authors", 1).alias("author"),
        "author_slug",
        "title",
        "journal_name",
        F.col("volume").cast("bigint").alias("volume"),
        F.col("issue").cast("bigint").alias("issue"),
        F.col("page_start").cast("bigint").alias("page_start"),
        F.col("year").cast("bigint").alias("year"),
        "year_source",
        "new_filename",
        "confidence",
    )


_ARTICLE_SQL = r"""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tokens
  FROM documents
), w AS (
  SELECT doc_id,
    substring(lower(regexp_replace(coalesce(tokens[1], ''), '[^A-Za-z]', '', 'g')) || 'xyz', 1, 8) AS w1,
    substring(lower(regexp_replace(coalesce(tokens[2], ''), '[^A-Za-z]', '', 'g')) || 'uvw', 1, 8) AS w2
  FROM t
), d AS (
  SELECT doc_id, w1, w2,
    'K' || w1 AS a1c, 'K' || w2 AS a2c,
    doc_id % 120 + 1 AS vol, doc_id % 4 + 1 AS iss, doc_id % 950 + 10 AS pg,
    doc_id % 126 + 1900 AS yr, doc_id % 200 + 1800 AS yrf
  FROM w
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  upper(a1c) || ' ' || upper(substring(w2, 1, 1)) || '. ' || upper(a2c) AS author,
  a2c AS author_slug,
  'The ' || a1c || ' of ' || a2c || ' Doctrine' AS title,
  upper(a1c) || ' LAW ' || CASE WHEN doc_id % 2 = 0 THEN 'REVIEW' ELSE 'JOURNAL' END AS journal_name,
  CAST(vol AS BIGINT) AS volume,
  CAST(CASE WHEN doc_id % 3 = 0 THEN NULL ELSE iss END AS BIGINT) AS issue,
  CAST(CASE WHEN doc_id % 3 = 0 THEN pg ELSE NULL END AS BIGINT) AS page_start,
  CAST(CASE WHEN doc_id % 4 < 3 THEN yr ELSE yrf END AS BIGINT) AS year,
  CASE WHEN doc_id % 4 < 3 THEN 'document' ELSE 'filename' END AS year_source,
  CAST(CASE WHEN doc_id % 4 < 3 THEN yr ELSE yrf END AS VARCHAR)
    || '_' || a2c || '_The_' || a1c || '_' || a2c || '_Doctrine.pdf' AS new_filename,
  CASE WHEN doc_id % 4 < 3 THEN 'HIGH' ELSE 'MEDIUM' END AS confidence
FROM d
"""


# ---------------------------------------------------------------------------
# q_filename_index — IX1 legacy step-2 filename indexer distributed
# (zOld-Code/step2--…/filename_indexer.py): columnar skip/tag
# classification, deepest-first + case-insensitive candidate ordering, and
# sequential ----CODE allocation via the frozen-bounds two-phase assign.
# Five deterministic path shapes per doc exercise depth ordering, the
# image-ext skip, and 5-letter tag recognition; the oracle enumerates
# candidates with a window ordered the same way and encodes base-25
# closed-form.
# ---------------------------------------------------------------------------

def spark_filename_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.indexer import index_filenames

    df = _docs(spark, sf_dir).withColumn(
        "tokens", F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    )
    did = F.col("doc_id").cast("bigint")
    w = F.substring(
        F.concat(
            F.lower(
                F.regexp_replace(
                    F.coalesce(F.element_at("tokens", 1), F.lit("")), "[^A-Za-z]", ""
                )
            ),
            F.lit("xyz"),
        ),
        1,
        8,
    )
    path = (
        F.when(did % 5 == 0, F.concat(F.lit("/corpus/"), w, F.format_string("/brief_%d.pdf", did)))
        .when(did % 5 == 1, F.format_string("/corpus/notes_%d.md", did))
        .when(did % 5 == 2, F.format_string("/corpus/old_%d----ABXCD.pdf", did))
        .when(did % 5 == 3, F.format_string("/corpus/img_%d.png", did))
        .otherwise(F.concat(F.lit("/corpus/"), w, F.format_string("/deep/memo_%d.txt", did)))
    )
    inp = df.select(
        did.alias("doc_id"), path.alias("path"), F.lit(False).alias("is_dir")
    )
    out = index_filenames(inp, start_index=0)
    return out.select(
        "doc_id",
        "path",
        "status",
        F.col("code_index").cast("bigint").alias("code_index"),
        "unique_code",
        "dest",
    )


_FILENAME_INDEX_SQL = """
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tokens
  FROM documents
), w AS (
  SELECT doc_id,
    substring(lower(regexp_replace(coalesce(tokens[1], ''), '[^A-Za-z]', '', 'g')) || 'xyz', 1, 8) AS w1
  FROM t
), p AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, w1,
    CASE CAST(doc_id % 5 AS INT)
      WHEN 0 THEN '/corpus/' || w1 || '/brief_' || doc_id || '.pdf'
      WHEN 1 THEN '/corpus/notes_' || doc_id || '.md'
      WHEN 2 THEN '/corpus/old_' || doc_id || '----ABXCD.pdf'
      WHEN 3 THEN '/corpus/img_' || doc_id || '.png'
      ELSE '/corpus/' || w1 || '/deep/memo_' || doc_id || '.txt'
    END AS path,
    CASE CAST(doc_id % 5 AS INT)
      WHEN 2 THEN 'already_tagged' WHEN 3 THEN 'skipped' ELSE 'renamed'
    END AS status,
    CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN 4 WHEN 4 THEN 5 ELSE 3 END AS depth
  FROM w
), r AS (
  SELECT doc_id, w1, path, status,
    CAST(row_number() OVER (ORDER BY depth DESC, lower(path)) - 1 AS BIGINT) AS code_index
  FROM p WHERE status = 'renamed'
), rc AS (
  SELECT doc_id, w1, path, status, code_index,
    substring('{a}', CAST((code_index // 390625) % 25 AS INT) + 1, 1) ||
    substring('{a}', CAST((code_index // 15625) % 25 AS INT) + 1, 1) ||
    substring('{a}', CAST((code_index // 625) % 25 AS INT) + 1, 1) ||
    substring('{a}', CAST((code_index // 25) % 25 AS INT) + 1, 1) ||
    substring('{a}', CAST(code_index % 25 AS INT) + 1, 1) AS unique_code
  FROM r
)
SELECT doc_id, path, status, code_index, unique_code,
  CASE CAST(doc_id % 5 AS INT)
    WHEN 0 THEN '/corpus/' || w1 || '/brief_' || doc_id || '----' || unique_code || '.pdf'
    WHEN 1 THEN '/corpus/notes_' || doc_id || '----' || unique_code || '.md'
    ELSE '/corpus/' || w1 || '/deep/memo_' || doc_id || '----' || unique_code || '.txt'
  END AS dest
FROM rc
UNION ALL
SELECT doc_id, path, status, CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
FROM p WHERE status <> 'renamed'
""".replace("{a}", ALPHABET)


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# q_source_percentiles — EXACT distributed quantiles per group via the
# nearest-rank definition: rank_P = ceil(P/100 * n) computed in integer
# arithmetic ((n*P + 99) // 100), value = the n_chars at that rank under a
# total (n_chars, doc_id) order. One window shuffle per group + a slim
# per-group count — no interpolation, so no float ulp drift between
# engines (Spark percentile()/DuckDB quantile_cont interpolate p*(n-1) in
# doubles and can differ in the last bit; nearest-rank is integer-exact).
#
# Scale note: per-group sort cost tracks group SIZE — correct when group
# cardinality scales with the corpus (sources/domains/shards). For a few
# giant groups at 100 TB the right tool is df.approxQuantile /
# percentile_approx (Greenwald-Khanna summaries, mergeable map-side) at a
# documented error bound; it is deliberately NOT oracled here because the
# sketch is not cross-engine deterministic.
# ---------------------------------------------------------------------------

_PCTS = [50, 90, 99]


def spark_source_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir).select(
        "source",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.col("doc_id").cast("bigint").alias("doc_id"),
    )
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = docs.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(Window.partitionBy("source"))
    )
    # ceil(p/100 * n) in pure integer arithmetic; max(when(...)) picks the
    # single ranked row per group — partial-aggregable, one slim exchange
    picks = [
        F.max(
            F.when(
                F.col("rn") == F.expr(f"(n * {p} + 99) div 100"),
                F.col("n_chars"),
            )
        ).alias(f"p{p}_n_chars")
        for p in _PCTS
    ]
    return ranked.groupBy("source").agg(
        F.max("n").alias("n_docs"), *picks
    )


_SOURCE_PCT_SQL = """
WITH ranked AS (
  SELECT source,
         CAST(n_chars AS BIGINT) AS n_chars,
         row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents
)
SELECT source,
       CAST(max(n) AS BIGINT) AS n_docs,
       {picks}
FROM ranked
GROUP BY source
""".format(
    picks=",\n       ".join(
        "max(CASE WHEN rn = (n * %d + 99) // 100 THEN n_chars END) AS p%d_n_chars"
        % (p, p)
        for p in _PCTS
    )
)


# ---------------------------------------------------------------------------
# q_filename_quality — the articles-variant filename-quality evaluator
# (reference_semantics/filename_quality.py; differential-tested against the
# ACTUAL zOld-Code filename_evaluator.py) as pure columns. Filenames are
# synthesized deterministically per doc (5 shape classes incl. garbage);
# both engines score with the same pattern lists.
# ---------------------------------------------------------------------------


def spark_filename_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    from .reference_semantics.filename_quality import (
        BAD_INDICATORS,
        GARBAGE_PATTERNS,
        GOOD_INDICATORS,
    )

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    t1 = F.coalesce(F.element_at(toks, 1), F.lit("x"))
    t2 = F.coalesce(F.element_at(toks, 2), F.lit("y"))
    cap = lambda c: F.concat(F.upper(F.substring(c, 1, 1)), F.lower(F.substring(c, 2, 100)))
    m = F.col("doc_id") % 5
    filename = (
        F.when(m == 0, F.concat(F.lit("download_"), F.col("doc_id").cast("string"), F.lit(".pdf")))
        .when(m == 1, F.concat(cap(t1), F.lit("_"), cap(t2), F.lit("_2019.pdf")))
        .when(m == 2, F.concat(t1, F.lit(" "), t2, F.lit(" (1).pdf")))
        .when(m == 3, F.concat((F.col("doc_id") * 7).cast("string"), F.lit(".pdf")))
        .otherwise(F.concat(F.substring("text", 1, 60), F.lit(".docx")))
    )
    df = docs.select("doc_id", filename.alias("filename"))
    stem = F.regexp_replace("filename", r"(?i)\.(pdf|docx?)$", "")
    df = df.withColumn("_stem", stem)
    garbage = reduce(
        lambda a, b: a | b,
        [F.col("_stem").rlike("(?i)" + p) for p in GARBAGE_PATTERNS],
    )
    bad = reduce(
        lambda a, b: a + b,
        [
            F.lit(pen)
            * F.size(F.regexp_extract_all("_stem", F.lit(p), F.lit(0)))
            for p, pen in BAD_INDICATORS
        ],
    )
    good = reduce(
        lambda a, b: a + b,
        [
            F.when(F.col("_stem").rlike(p), bonus).otherwise(0)
            for p, bonus in GOOD_INDICATORS
        ],
    )
    meaningful = F.size(
        F.filter(
            F.regexp_extract_all("_stem", F.lit("[A-Z][a-z]+"), F.lit(0)),
            lambda x: F.length(x) >= 3,
        )
    )
    word_adj = (
        F.when(meaningful >= 3, 1).when(meaningful <= 1, -1).otherwise(0)
    )
    ln = F.length("_stem")
    len_adj = F.when(ln < 10, -1).when((ln >= 15) & (ln <= 80), 1).otherwise(0)
    score = F.when(garbage, F.lit(-5)).otherwise(
        bad + good + word_adj + len_adj
    )
    df = df.withColumn("score", score.cast("bigint"))
    quality = (
        F.when(garbage, "LOW")
        .when(F.col("score") >= 3, "HIGH")
        .when(F.col("score") >= 1, "MEDIUM")
        .otherwise("LOW")
    )
    return df.select("doc_id", "filename", "score", quality.alias("quality"))


def _filename_quality_sql() -> str:
    from .reference_semantics.filename_quality import (
        BAD_INDICATORS,
        GARBAGE_PATTERNS,
        GOOD_INDICATORS,
    )

    def q(p):  # escape for a single-quoted DuckDB literal
        return p.replace("'", "''")

    garbage = " OR ".join(
        "regexp_matches(stem, '(?i)%s')" % q(p) for p in GARBAGE_PATTERNS
    )
    bad = " + ".join(
        "(%d) * len(regexp_extract_all(stem, '%s'))" % (pen, q(p))
        for p, pen in BAD_INDICATORS
    )
    good = " + ".join(
        "CASE WHEN regexp_matches(stem, '%s') THEN %d ELSE 0 END" % (q(p), b)
        for p, b in GOOD_INDICATORS
    )
    return """
WITH t AS (
  SELECT doc_id, text,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
), f AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CASE doc_id % 5
           WHEN 0 THEN 'download_' || CAST(doc_id AS VARCHAR) || '.pdf'
           WHEN 1 THEN upper(substring(COALESCE(toks[1], 'x'), 1, 1)) || lower(substring(COALESCE(toks[1], 'x'), 2, 100))
                    || '_' || upper(substring(COALESCE(toks[2], 'y'), 1, 1)) || lower(substring(COALESCE(toks[2], 'y'), 2, 100))
                    || '_2019.pdf'
           WHEN 2 THEN COALESCE(toks[1], 'x') || ' ' || COALESCE(toks[2], 'y') || ' (1).pdf'
           WHEN 3 THEN CAST(doc_id * 7 AS VARCHAR) || '.pdf'
           ELSE substring(text, 1, 60) || '.docx'
         END AS filename
  FROM t
), s AS (
  SELECT doc_id, filename,
         regexp_replace(filename, '(?i)\\.(pdf|docx?)$', '') AS stem
  FROM f
), sc AS (
  SELECT doc_id, filename,
         ({garbage}) AS garbage,
         ({bad}) + ({good})
           + (CASE WHEN len(list_filter(regexp_extract_all(stem, '[A-Z][a-z]+'), x -> length(x) >= 3)) >= 3 THEN 1
                   WHEN len(list_filter(regexp_extract_all(stem, '[A-Z][a-z]+'), x -> length(x) >= 3)) <= 1 THEN -1
                   ELSE 0 END)
           + (CASE WHEN length(stem) < 10 THEN -1
                   WHEN length(stem) BETWEEN 15 AND 80 THEN 1
                   ELSE 0 END) AS raw_score
  FROM s
)
SELECT doc_id, filename,
       CAST(CASE WHEN garbage THEN -5 ELSE raw_score END AS BIGINT) AS score,
       CASE WHEN garbage THEN 'LOW'
            WHEN (CASE WHEN garbage THEN -5 ELSE raw_score END) >= 3 THEN 'HIGH'
            WHEN (CASE WHEN garbage THEN -5 ELSE raw_score END) >= 1 THEN 'MEDIUM'
            ELSE 'LOW' END AS quality
FROM sc
""".format(garbage=garbage, bad=bad, good=good)


_FILENAME_QUALITY_SQL = _filename_quality_sql()


# ---------------------------------------------------------------------------
# q_events_asof — as-of join (funnel attribution): for every 'error' event,
# the latest 'click' by the same user at-or-before it. Spark side is the
# single-shuffle tagged-union window formulation (operators/asof.py); the
# oracle is DuckDB's NATIVE ASOF JOIN — a genuinely different algorithm, so
# parity checks the temporal semantics, not a shared plan.
# ---------------------------------------------------------------------------


def spark_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.asof import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    lefts = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("user_id").cast("bigint").alias("user_id"),
        "ts",
    )
    # dedupe clicks per (user, ts) so the tie policy is engine-independent
    rights = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(F.col("user_id").cast("bigint").alias("user_id"), "ts")
        .agg(F.max("event_id").cast("bigint").alias("click_id"))
        .withColumn("click_ts", F.col("ts"))
    )
    out = asof_join(lefts, rights, by="user_id")
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.coalesce("r_click_id", F.lit(-1)).alias("click_id"),
        F.coalesce(
            "r_click_ts", F.lit("1970-01-01 00:00:00").cast("timestamp")
        ).alias("click_ts"),
    )


_EVENTS_ASOF_SQL = """
WITH l AS (
  SELECT CAST(event_id AS BIGINT) AS event_id,
         CAST(user_id AS BIGINT) AS user_id, ts
  FROM events WHERE event_type = 'error'
), r AS (
  SELECT CAST(user_id AS BIGINT) AS user_id, ts,
         CAST(max(event_id) AS BIGINT) AS click_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
  GROUP BY user_id, ts
)
SELECT l.event_id, l.user_id, l.ts,
       COALESCE(r.click_id, -1) AS click_id,
       COALESCE(r.click_ts, TIMESTAMP '1970-01-01 00:00:00') AS click_ts
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
"""


# ---------------------------------------------------------------------------
# q_events_window_count — bounded-interval join via bucket binning
# (operators/asof.py:interval_count_join): per 'error' event, the number of
# 'click' events by the same user in the preceding 10 minutes. The oracle is
# DuckDB's plain inequality join — fine at oracle scale, the quadratic shape
# the binned plan exists to avoid at corpus scale.
# ---------------------------------------------------------------------------


def spark_events_window_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.asof import interval_count_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    lefts = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("user_id").cast("bigint").alias("user_id"),
        "ts",
    )
    rights = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    return interval_count_join(
        lefts, rights, by="user_id", window_seconds=600,
        count_alias="n_clicks_10m",
    )


_EVENTS_WINDOW_COUNT_SQL = """
WITH l AS (
  SELECT CAST(event_id AS BIGINT) AS event_id,
         CAST(user_id AS BIGINT) AS user_id, ts
  FROM events WHERE event_type = 'error'
), r AS (
  SELECT user_id, ts FROM events WHERE event_type = 'click'
)
SELECT l.event_id, l.user_id, l.ts,
       CAST(count(r.ts) AS BIGINT) AS n_clicks_10m
FROM l LEFT JOIN r
  ON l.user_id = r.user_id
 AND r.ts >= l.ts - INTERVAL 600 SECONDS
 AND r.ts < l.ts
GROUP BY l.event_id, l.user_id, l.ts
"""


# ---------------------------------------------------------------------------
# q_classifier_score — hashed linear quality-classifier scoring (feature-
# hashing trick; operators/quality.py:classifier_score). The learned-filter
# pipeline stage, with exact integer-micro weights both engines re-derive.
# ---------------------------------------------------------------------------


def spark_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.quality import classifier_score

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    return classifier_score(docs, bias_micros=250_000, threshold_micros=0)


_CLASSIFIER_SCORE_SQL = """
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tokens
  FROM documents
), s AS (
  SELECT doc_id,
         COALESCE(list_sum(list_transform(tokens,
             tok -> ('0x' || substring(md5(tok), 1, 8))::BIGINT % 1000001 - 500000)),
           0) + 250000 AS score,
         len(tokens) AS n
  FROM t
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(score AS BIGINT) AS score_micros,
       CAST(n AS BIGINT) AS n_tokens,
       score >= 0 AS keep
FROM s
"""


# ---------------------------------------------------------------------------
# q_caselaw_metadata — CM1-CM9 legacy caselaw DEEP-metadata extraction
# (zOld-Code/step1--Base_FILENAME--a-caselaw/src/extractors/
# metadata_extractor.py): disposition, opinion author/type, lower-court
# judge, appellate panel, separate-opinion votes (incl. the section-header
# double-filing bug), counsel of record, docket, decision date, the
# compact-reporter -> legal-citation formatter, and the weighted overall
# confidence. The Spark side synthesizes a deterministic court-opinion
# text per doc and runs the REAL Arrow kernel (operators/caselaw_meta.py,
# differential-tested against the actual reference module); the oracle
# derives every expected field in closed form from the same generative
# model — an INDEPENDENT derivation, so any kernel deviation breaks the
# hash. Even docs carry a [LAST_PAGES_SECTION] marker plus a PRE-marker
# decoy dissent that footer scoping must exclude; the vv=1 variant pins
# the lazy section-header pattern's double-filing of "concurring in part"
# under plain concurring too.
# ---------------------------------------------------------------------------

_CM_NAMES = [
    "Kalpha", "Kbravo", "Kdelta", "Kecho",
    "Kfoxtrot", "Kgolfer", "Khotelo", "Kindigo",
]


def spark_caselaw_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.caselaw_meta import extract_deep_metadata

    df = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("bigint")
    day = F.length("text") % 28 + 1
    arr = F.array(*[F.lit(n) for n in _CM_NAMES])

    def nm(k: int):
        return F.element_at(arr, ((did % 8 + k) % 8 + 1).cast("int"))

    n1, n2, n3, jn, an, vn, a1, a2 = [nm(k) for k in range(8)]
    cv = did % 4
    yv = did % 3
    rv = did % 5
    dk = (did + 1) % 3
    dt = (did + 1) % 4
    dv = (did + 2) % 4
    tv = (did + 2) % 3
    par = did % 2
    vv = F.floor(did / 3).cast("bigint") % 3
    av = F.floor(did / 2).cast("bigint") % 2
    a_ = (did % 90 + 10).cast("string")
    b_ = (did % 9000 + 1000).cast("string")
    v_ = (did % 900 + 100).cast("string")
    p_ = (did % 990 + 10).cast("string")
    b2 = (did % 90000 + 10000).cast("string")
    yd = (did % 100 + 1925).cast("string")

    court = F.element_at(
        F.array(
            F.lit(""), F.lit("Ga. Ct. App."), F.lit("Eleventh Circuit"), F.lit("ND Ill.")
        ),
        (cv + 1).cast("int"),
    )
    year_r = F.when(yv == 0, F.lit("")).otherwise((did % 50 + 1950).cast("string"))
    reporter = (
        F.when(rv == 0, F.lit(""))
        .when(rv == 1, F.lit("Unpub"))
        .when(rv == 2, F.concat(v_, F.lit("_GaApp_"), p_))
        .when(rv == 3, F.concat(F.lit("WL_"), b2))
        .otherwise(F.concat(v_, F.lit("_Zxq_"), p_))
    )

    ldk = F.when(dk == 0, F.concat(F.lit("No. "), a_, F.lit("-"), b_)).when(
        dk == 1, F.concat(F.lit("Case No. 1:"), a_, F.lit("-cv-"), b_)
    )
    dstr = day.cast("string")
    ldt = (
        F.when(dt == 0, F.concat(F.lit("Decided: January "), dstr, F.lit(", "), yd))
        .when(dt == 1, F.concat(F.lit("Argued: March "), dstr, F.lit(", "), yd))
        .when(
            dt == 2,
            F.concat(F.lit("September "), dstr, F.lit(", "), yd, F.lit(", in open court.")),
        )
    )
    ldv = (
        F.when(dv == 0, F.lit("The judgment is AFFIRMED."))
        .when(dv == 1, F.lit("We REVERSE in part."))
        .when(dv == 2, F.lit("Disposition: Granted."))
    )
    lau = F.when(tv == 0, F.lit("PER CURIAM")).when(
        tv == 1,
        F.concat(F.lit("Justice "), an, F.lit(" delivered the opinion of the Court.")),
    )
    lty = F.when(tv == 1, F.lit("PLURALITY OPINION"))
    lpj = F.when(
        par == 0, F.concat(F.lit("before District Judge "), jn, F.lit("."))
    ).otherwise(
        F.concat(
            F.lit("Before "), n1, F.lit(", "), n2, F.lit(", and "), n3,
            F.lit(", Circuit Judges."),
        )
    )
    lat = F.when(
        av == 0, F.concat(a1, F.lit(" "), a2, F.lit(", Atlanta, Georgia, for appellee."))
    )
    ldec = F.when(par == 0, F.lit("Kzulu, J., dissenting."))
    lmk = F.when(par == 0, F.lit("[LAST_PAGES_SECTION]"))
    lvv = F.when(vv == 0, F.concat(vn, F.lit(", J., dissenting."))).when(
        vv == 1, F.concat(vn, F.lit(", J., concurring in part."))
    )
    # concat_ws skips NULLs — absent variants contribute no line
    text = F.concat_ws("\n", ldk, ldt, ldv, lau, lty, lpj, lat, ldec, lmk, lvv)

    inp = df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        text.alias("text"),
        F.concat(n1, F.lit(" v. "), n2).alias("case_name"),
        court.alias("court"),
        year_r.alias("year"),
        reporter.alias("reporter"),
        F.concat(F.lit("case_"), did.cast("string"), F.lit(".pdf")).alias("source_file"),
    )
    out = extract_deep_metadata(inp)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "case_name",
        "court",
        F.col("year").alias("year_r"),
        "citation",
        "disposition",
        F.col("disposition_confidence").alias("dispo_conf"),
        F.col("opinion_author").alias("author"),
        F.col("opinion_author_confidence").alias("author_conf"),
        F.col("opinion_type").alias("op_type"),
        F.col("opinion_type_confidence").alias("type_conf"),
        F.col("lower_court_judge").alias("lower_judge"),
        F.concat_ws(",", "panel_members").alias("panel"),
        F.concat_ws(",", "concurring").alias("concurring"),
        F.concat_ws(",", "dissenting").alias("dissenting"),
        F.concat_ws(",", "concurring_in_part").alias("concur_part"),
        F.col("concurring_dissenting_confidence").alias("cd_conf"),
        F.concat_ws(",", "att_appellee").alias("att_appellee"),
        F.col("docket_number").alias("docket"),
        F.col("docket_number_confidence").alias("docket_conf"),
        "date_decided",
        F.col("date_decided_confidence").alias("date_conf"),
        F.col("extraction_confidence").alias("overall_conf"),
    )


_CASELAW_META_SQL = r"""
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS did, length(text) % 28 + 1 AS day
  FROM documents
), x AS (
  SELECT did, day,
    ['Kalpha','Kbravo','Kdelta','Kecho','Kfoxtrot','Kgolfer','Khotelo','Kindigo'] AS nms,
    did % 4 AS cv, did % 3 AS yv, did % 5 AS rv,
    (did + 1) % 3 AS dk, (did + 1) % 4 AS dt, (did + 2) % 4 AS dv,
    (did + 2) % 3 AS tv, did % 2 AS par,
    (did // 3) % 3 AS vv, (did // 2) % 2 AS av,
    CAST(did % 90 + 10 AS VARCHAR) AS a_, CAST(did % 9000 + 1000 AS VARCHAR) AS b_,
    CAST(did % 900 + 100 AS VARCHAR) AS v_, CAST(did % 990 + 10 AS VARCHAR) AS p_,
    CAST(did % 90000 + 10000 AS VARCHAR) AS b2, CAST(did % 100 + 1925 AS VARCHAR) AS yd
  FROM d
), y AS (
  SELECT *,
    nms[CAST((did % 8 + 0) % 8 + 1 AS INT)] AS n1,
    nms[CAST((did % 8 + 1) % 8 + 1 AS INT)] AS n2,
    nms[CAST((did % 8 + 2) % 8 + 1 AS INT)] AS n3,
    nms[CAST((did % 8 + 3) % 8 + 1 AS INT)] AS jn,
    nms[CAST((did % 8 + 4) % 8 + 1 AS INT)] AS an,
    nms[CAST((did % 8 + 5) % 8 + 1 AS INT)] AS vn,
    nms[CAST((did % 8 + 6) % 8 + 1 AS INT)] AS a1,
    nms[CAST((did % 8 + 7) % 8 + 1 AS INT)] AS a2,
    CASE WHEN did % 4 = 1 THEN 'Ga. Ct. App.'
         WHEN did % 4 = 2 THEN 'Eleventh Circuit'
         WHEN did % 4 = 3 THEN 'ND Ill.' ELSE '' END AS court,
    CASE WHEN did % 3 = 0 THEN '' ELSE CAST(did % 50 + 1950 AS VARCHAR) END AS year_r
  FROM x
), z AS (
  SELECT *,
    CASE WHEN rv = 2 THEN v_ || ' Ga. App. ' || p_
         WHEN rv = 3 THEN 'WL ' || b2
         WHEN rv = 4 THEN v_ || ' Zxq ' || p_ ELSE '' END AS citation,
    CASE WHEN dv = 0 THEN 'Affirmed' WHEN dv = 1 THEN 'Reverse in part'
         WHEN dv = 2 THEN 'Granted' ELSE '' END AS disposition,
    CASE WHEN dv = 0 OR dv = 2 THEN 'HIGH' WHEN dv = 1 THEN 'MEDIUM' ELSE '' END AS dispo_conf,
    CASE WHEN tv = 0 THEN 'Per Curiam' WHEN tv = 1 THEN an ELSE '' END AS author,
    CASE WHEN tv <= 1 THEN 'HIGH' ELSE '' END AS author_conf,
    CASE WHEN tv = 0 THEN 'Per Curiam' WHEN tv = 1 THEN 'Plurality' ELSE '' END AS op_type,
    CASE WHEN tv <= 1 THEN 'HIGH' ELSE '' END AS type_conf,
    CASE WHEN par = 0 THEN jn ELSE '' END AS lower_judge,
    CASE WHEN par = 1 THEN n1 || ',' || n2 || ',' || n3 ELSE '' END AS panel,
    CASE WHEN vv = 1 THEN vn ELSE '' END AS concurring,
    CASE WHEN vv = 0 THEN vn ELSE '' END AS dissenting,
    CASE WHEN vv = 1 THEN vn ELSE '' END AS concur_part,
    CASE WHEN vv <= 1 THEN 'MEDIUM' ELSE '' END AS cd_conf,
    CASE WHEN av = 0 THEN a1 || ' ' || a2 ELSE '' END AS att_appellee,
    CASE WHEN dk = 0 THEN a_ || '-' || b_
         WHEN dk = 1 THEN '1:' || a_ || '-cv-' || b_ ELSE '' END AS docket,
    CASE WHEN dk <= 1 THEN 'HIGH' ELSE '' END AS docket_conf,
    CASE WHEN dt = 0 THEN 'January ' || day || ', ' || yd
         WHEN dt = 1 THEN 'March ' || day || ', ' || yd
         WHEN dt = 2 THEN 'September ' || day || ', ' || yd ELSE '' END AS date_decided,
    CASE WHEN dt = 0 THEN 'HIGH' WHEN dt <= 2 THEN 'MEDIUM' ELSE '' END AS date_conf
  FROM y
)
SELECT did AS doc_id,
  n1 || ' v. ' || n2 AS case_name,
  court, year_r, citation, disposition, dispo_conf, author, author_conf,
  op_type, type_conf, lower_judge, panel, concurring, dissenting,
  concur_part, cd_conf, att_appellee, docket, docket_conf, date_decided,
  date_conf,
  CASE WHEN s >= 16 THEN 'HIGH' WHEN s >= 10 THEN 'MEDIUM' ELSE 'LOW' END AS overall_conf
FROM (
  SELECT *,
    3
    + CASE WHEN court <> '' THEN 3 ELSE 0 END
    + CASE WHEN year_r <> '' THEN 3 ELSE 0 END
    + CASE WHEN citation <> '' THEN 3 ELSE 0 END
    + CASE WHEN date_decided <> '' THEN 2 ELSE 0 END
    + CASE WHEN docket <> '' THEN 2 ELSE 0 END
    + CASE WHEN disposition <> '' THEN 2 ELSE 0 END
    + CASE WHEN author <> '' THEN 1 ELSE 0 END
    + CASE WHEN panel <> '' THEN 1 ELSE 0 END AS s
  FROM z
)
"""


# ---------------------------------------------------------------------------
# q_case_name_legacy — CN1-CN4 legacy case-name caption extraction +
# smart filename formatting (zOld-Code/step1--Base_FILENAME--a-caselaw/
# src/formatters/case_name_formatter.py + renamer.py:157-172). Four
# deterministic caption shapes per doc (own-line "v" with party-suffix
# cleanup, same-line caption, filename-parenthetical fallback, and a
# pattern-free stem that must land on 'Unknown' — the composition runs on
# the filename STEM like renamer.py:98) over a six-party pool covering
# every smart-selection branch
# (single word, first-word corporate, 3-word surname, geographic pair,
# corporate stop-list, U.S.-abbreviation expansion). The oracle derives
# the formatted name in closed form from the party index — independent of
# the kernel's regex walk.
# ---------------------------------------------------------------------------

_CN_PARTIES = [
    "Kmart",
    "Kmart Holdings",
    "John Henry Alden",
    "United States",
    "Alden Trading Corp",
    "U.S.",
]
_CN_FORMATTED = ["Kmart", "Kmart", "Alden", "United-States", "Alden", "United-States"]


def spark_case_name_legacy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.caselaw_meta import legacy_case_names

    df = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("bigint")
    sv = did % 4
    parr = F.array(*[F.lit(p) for p in _CN_PARTIES])
    left = F.element_at(parr, (did % 6 + 1).cast("int"))
    right = F.element_at(parr, ((did + 2) % 6 + 1).cast("int"))

    safe_text = F.lit("Syllabus\nOctober Term\nNo precedent cited.")
    text = (
        F.when(
            sv == 0,
            F.concat_ws(
                "\n",
                F.lit("Supreme Court of Testonia"),
                F.concat(left, F.lit(", Petitioner")),
                F.lit("v."),
                F.concat(right, F.lit(", Respondent")),
                F.lit("Decided in term."),
            ),
        )
        .when(
            sv == 1,
            F.concat_ws(
                "\n",
                F.concat(left, F.lit(" v. "), right),
                F.lit("October Term"),
                F.lit("Syllabus"),
            ),
        )
        .otherwise(safe_text)
    )
    fname = (
        F.when(
            sv == 2,
            F.concat(left, F.lit(" v "), right, F.lit(" (Testonia 2014).pdf")),
        )
        .when(sv == 3, F.concat(F.lit("Casedoc"), did.cast("string"), F.lit(".pdf")))
        .otherwise(F.lit("ignored.pdf"))
    )

    inp = df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        text.alias("text"),
        fname.alias("source_file"),
    )
    out = legacy_case_names(inp)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "case_name",
        F.col("case_name_source").alias("source"),
    )


_CASE_NAME_SQL = r"""
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS did FROM documents
), x AS (
  SELECT did, did % 4 AS sv,
    (['Kmart','Kmart','Alden','United-States','Alden','United-States'])[
      CAST(did % 6 + 1 AS INT)] AS fl,
    (['Kmart','Kmart','Alden','United-States','Alden','United-States'])[
      CAST((did + 2) % 6 + 1 AS INT)] AS fr
  FROM d
)
SELECT did AS doc_id,
  CASE WHEN sv <= 2 THEN fl || '-v-' || fr ELSE 'Unknown' END AS case_name,
  CASE WHEN sv <= 1 THEN 'document' ELSE 'filename' END AS source
FROM x
"""


# ---------------------------------------------------------------------------
# q_legacy_rename — DY1-DY3 legacy decision-year extraction + composed
# rename record (zOld-Code/step1--Base_FILENAME--a-caselaw/src/
# date_extractor.py + renamer.py:87-260). Four date shapes (colon-labeled,
# space-labeled, date-before-label, invalid-year → filename-paren
# fallback), caption-present/absent case names over the CN party pool,
# three court and two reporter injection states — exercising source-based
# confidence, the c.-template, and the reference's note strings. The
# oracle derives year/case/conf/filename/notes in closed form.
# ---------------------------------------------------------------------------


def spark_legacy_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.caselaw_meta import legacy_rename_records

    df = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("bigint")
    cn = did % 2
    dy = (did + 1) % 4
    cv = did % 3
    rv2 = (did + 1) % 2
    parr = F.array(*[F.lit(p) for p in _CN_PARTIES])
    left = F.element_at(parr, (did % 6 + 1).cast("int"))
    right = F.element_at(parr, ((did + 3) % 6 + 1).cast("int"))
    dstr = (did % 28 + 1).cast("string")
    y_doc = (did % 100 + 1910).cast("string")
    y_file = (did % 100 + 1920).cast("string")

    caption = F.when(cn == 0, F.concat(left, F.lit(" v. "), right))
    dateline = (
        F.when(dy == 0, F.concat(F.lit("Decided: March "), dstr, F.lit(", "), y_doc))
        .when(dy == 1, F.concat(F.lit("Filed October "), dstr, F.lit(", "), y_doc))
        .when(dy == 2, F.concat(F.lit("August "), dstr, F.lit(", "), y_doc, F.lit(", Decided")))
        .otherwise(F.lit("Decided: Foobar 3, 3025"))
    )
    text = F.concat_ws("\n", caption, dateline, F.lit("Syllabus"))
    fname = F.concat(
        left, F.lit(" v "), right, F.lit(" (Testonia "), y_file, F.lit(").pdf")
    )
    court = (
        F.when(cv == 1, F.lit("Ga_Ct_App"))
        .when(cv == 2, F.lit("Eleventh_Circuit"))
        .otherwise(F.lit(""))
    )
    court_source = (
        F.when(cv == 1, F.lit("document"))
        .when(cv == 2, F.lit("filename"))
        .otherwise(F.lit(""))
    )
    reporter = F.when(rv2 == 0, F.lit("743_FSupp2d_762")).otherwise(F.lit("Unpub"))
    reporter_source = F.when(rv2 == 0, F.lit("document")).otherwise(F.lit("fallback"))

    inp = df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        text.alias("text"),
        fname.alias("file_name"),
        court.alias("court"),
        court_source.alias("court_source"),
        reporter.alias("reporter"),
        reporter_source.alias("reporter_source"),
    )
    out = legacy_rename_records(inp)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "year",
        "year_source",
        "case_name",
        F.col("case_name_source").alias("case_source"),
        "confidence",
        "new_filename",
        F.concat_ws("|", "notes").alias("notes"),
    )


_LEGACY_RENAME_SQL = r"""
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS did FROM documents
), x AS (
  SELECT did, did % 2 AS cn, (did + 1) % 4 AS dy, did % 3 AS cv,
    (did + 1) % 2 AS rv2,
    (['Kmart','Kmart','Alden','United-States','Alden','United-States'])[
      CAST(did % 6 + 1 AS INT)] AS fl,
    (['Kmart','Kmart','Alden','United-States','Alden','United-States'])[
      CAST((did + 3) % 6 + 1 AS INT)] AS fr,
    CAST(did % 100 + 1910 AS VARCHAR) AS y_doc,
    CAST(did % 100 + 1920 AS VARCHAR) AS y_file
  FROM d
), y AS (
  SELECT *,
    CASE WHEN dy <= 2 THEN y_doc ELSE y_file END AS year,
    CASE WHEN dy <= 2 THEN 'document' ELSE 'filename' END AS year_source,
    fl || '-v-' || fr AS case_name,
    CASE WHEN cn = 0 THEN 'document' ELSE 'filename' END AS case_source,
    CASE WHEN cv = 1 THEN 'Ga_Ct_App' WHEN cv = 2 THEN 'Eleventh_Circuit'
         ELSE NULL END AS court,
    CASE WHEN rv2 = 0 THEN '743_FSupp2d_762' ELSE 'Unpub' END AS reporter,
    (CASE WHEN cv = 1 THEN 1 ELSE 0 END) + (CASE WHEN dy <= 2 THEN 1 ELSE 0 END)
      + (CASE WHEN cn = 0 THEN 1 ELSE 0 END) + (CASE WHEN rv2 = 0 THEN 1 ELSE 0 END)
      AS nsrc
  FROM x
)
SELECT did AS doc_id, year, year_source, case_name, case_source,
  CASE WHEN nsrc >= 3 THEN 'HIGH' WHEN nsrc >= 2 THEN 'MEDIUM' ELSE 'LOW' END
    AS confidence,
  CASE WHEN court IS NOT NULL
       THEN 'c.' || court || '__' || year || '__' || case_name || '__'
            || reporter || '.pdf'
       ELSE NULL END AS new_filename,
  COALESCE(array_to_string(list_filter([
    CASE WHEN cv = 2 THEN 'Court from filename (document extraction failed)' END,
    CASE WHEN dy = 3 THEN 'Year from filename (document extraction failed)' END,
    CASE WHEN rv2 = 1 THEN 'No reporter citation found - marked as Unpub' END,
    CASE WHEN cv = 0 THEN 'Could not generate filename - missing: court' END
  ], v -> v IS NOT NULL), '|'), '') AS notes
FROM y
"""


# ---------------------------------------------------------------------------
# q_lm_quality — LM-based quality filtering (the CCNet/RedPajama
# perplexity stage): a hashed bigram model self-trained on the corpus in
# one aggregation pyramid, each document scored by its integer code
# length (floor-log2 bit counts — exact in both engines; see
# operators/quality.py:bigram_lm_scores). Runs on the REAL documents
# text; the oracle rebuilds the identical model and scoring in SQL.
# ---------------------------------------------------------------------------


def spark_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.quality import bigram_lm_scores

    df = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    return bigram_lm_scores(df)


# ---------------------------------------------------------------------------
# q_dsir_select — DSIR data selection (Xie et al. 2023, arXiv:2302.03169):
# hashed-bigram models of the raw pool and of a target sample (here the
# lang='en' slice), each document scored by its exact-integer importance —
# code length under the raw model minus code length under the target model
# (operators/quality.py:dsir_importance). keep = target-leaning (>= 0
# micros per gram). The oracle derives the target model from the same
# per-doc gram counts restricted to the target slice — identical sums.
# Integer div semantics on NEGATIVE importance match by construction:
# Spark `div` and DuckDB `//` both truncate toward zero.
# ---------------------------------------------------------------------------


def spark_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.quality import dsir_importance

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "lang", "text"
    )
    target = docs.filter(F.col("lang") == "en").select("doc_id", "text")
    return dsir_importance(docs.select("doc_id", "text"), target)


_DSIR_SQL = r"""
WITH t AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
), g AS (
  SELECT doc_id,
    ('0x' || substring(md5(p.w1), 1, 8))::BIGINT % 1048576 AS h1,
    ('0x' || substring(md5(p.w1 || chr(31) || p.w2), 1, 8))::BIGINT % 1048576 AS h12
  FROM t, UNNEST(list_transform(list_slice(toks, 1, greatest(len(toks) - 1, 0)),
                 (x, i) -> {'w1': x, 'w2': toks[i + 1]})) AS u(p)
), dg AS (
  SELECT doc_id, h1, h12, COUNT(*)::BIGINT AS m FROM g GROUP BY 1, 2, 3
), r12 AS (
  SELECT h12, SUM(m)::BIGINT AS c12_r FROM dg GROUP BY 1
), r1 AS (
  SELECT h1, SUM(m)::BIGINT AS c1_r FROM dg GROUP BY 1
), tdg AS (
  SELECT dg.* FROM dg JOIN t USING (doc_id) WHERE t.lang = 'en'
), t12 AS (
  SELECT h12, SUM(m)::BIGINT AS c12_t FROM tdg GROUP BY 1
), t1 AS (
  SELECT h1, SUM(m)::BIGINT AS c1_t FROM tdg GROUP BY 1
), sc AS (
  SELECT dg.doc_id,
    SUM(m)::BIGINT AS n_bigrams,
    SUM(m * (((length(printf('%b', c1_r + 256)) - 1)
            - (length(printf('%b', c12_r + 1)) - 1))
           - ((length(printf('%b', COALESCE(c1_t, 0) + 256)) - 1)
            - (length(printf('%b', COALESCE(c12_t, 0) + 1)) - 1))))::BIGINT AS bits
  FROM dg JOIN r12 USING (h12) JOIN r1 USING (h1)
          LEFT JOIN t12 USING (h12) LEFT JOIN t1 USING (h1)
  GROUP BY 1
)
SELECT t.doc_id,
  COALESCE(sc.bits, 0) AS importance_bits,
  COALESCE(sc.n_bigrams, 0) AS n_bigrams,
  COALESCE(sc.bits * 1000000 // sc.n_bigrams, 0) AS importance_per_gram_micros,
  COALESCE(sc.n_bigrams > 0
           AND (sc.bits * 1000000 // sc.n_bigrams) >= 0,
           FALSE) AS keep
FROM t LEFT JOIN sc USING (doc_id)
"""


_LM_QUALITY_SQL = r"""
WITH t AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
), g AS (
  SELECT doc_id,
    ('0x' || substring(md5(p.w1), 1, 8))::BIGINT % 1048576 AS h1,
    ('0x' || substring(md5(p.w1 || chr(31) || p.w2), 1, 8))::BIGINT % 1048576 AS h12
  FROM t, UNNEST(list_transform(list_slice(toks, 1, greatest(len(toks) - 1, 0)),
                 (x, i) -> {'w1': x, 'w2': toks[i + 1]})) AS u(p)
), dg AS (
  SELECT doc_id, h1, h12, COUNT(*)::BIGINT AS m FROM g GROUP BY 1, 2, 3
), m12 AS (
  SELECT h12, SUM(m)::BIGINT AS c12 FROM dg GROUP BY 1
), m1 AS (
  SELECT h1, SUM(m)::BIGINT AS c1 FROM dg GROUP BY 1
), sc AS (
  SELECT dg.doc_id,
    SUM(m)::BIGINT AS n_bigrams,
    SUM(m * ((length(printf('%b', c1 + 256)) - 1)
           - (length(printf('%b', c12 + 1)) - 1)))::BIGINT AS bits
  FROM dg JOIN m12 USING (h12) JOIN m1 USING (h1)
  GROUP BY 1
)
SELECT t.doc_id,
  COALESCE(sc.bits, 0) AS bits,
  COALESCE(sc.n_bigrams, 0) AS n_bigrams,
  COALESCE(sc.bits * 1000000 // sc.n_bigrams, 0) AS bits_per_gram_micros,
  COALESCE(sc.n_bigrams > 0
           AND (sc.bits * 1000000 // sc.n_bigrams) <= 9000000,
           FALSE) AS keep
FROM t LEFT JOIN sc USING (doc_id)
"""


# ---------------------------------------------------------------------------
# q_interleave_stats — interleaved text+media span statistics (the
# input_hint payload shape: spans array<struct<kind,text,media_ref,
# offset>>). Builds a deterministic interleaved span array per doc (text
# line spans, a media span after every line where (line+did) % 4 == 0,
# ref 'media://{doc}/{line}') and computes per-doc media counts, ratio,
# kind alternations, and first-media position ENTIRELY with JVM array
# expressions — zero Python, zero shuffle (map-only; the plan audit
# enforces both). The oracle rebuilds the array walk with DuckDB list
# lambdas — a different array engine over the same generative rule.
# ---------------------------------------------------------------------------


def spark_interleave_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # derived from the single shared generator (_interleaved below) so
    # the interleave rule exists exactly once on the Spark side
    spans = F.col("spans")
    kinds = F.transform(spans, lambda s: s["kind"])
    n_spans = F.size(spans).cast("bigint")
    n_media = F.size(F.filter(spans, lambda s: s["kind"] != "text")).cast("bigint")
    alternations = F.size(
        F.filter(
            F.zip_with(
                F.slice(kinds, 1, F.size(kinds) - 1),
                F.slice(kinds, 2, F.size(kinds) - 1),
                lambda a, b: a != b,
            ),
            lambda x: x,
        )
    ).cast("bigint")
    first_media_pos = F.coalesce(
        F.array_position(kinds, "image").cast("bigint"), F.lit(0)
    )
    base = _interleaved(spark, sf_dir).select(
        "doc_id",
        n_spans.alias("n_spans"),
        n_media.alias("n_media"),
        alternations.alias("alternations"),
        first_media_pos.alias("first_media_pos"),
    )
    return base.withColumn(
        "media_ratio_micros",
        F.expr("n_media * 1000000 div greatest(n_spans, 1)").cast("bigint"),
    )


_INTERLEAVE_SQL = r"""
WITH t AS (
  SELECT CAST(doc_id AS BIGINT) AS did, string_split(text, chr(10)) AS lines
  FROM documents
), s AS (
  SELECT did,
    flatten(list_transform(lines, (ln, j) ->
      CASE WHEN (j - 1 + did) % 4 = 0
           THEN ['text', 'image']
           ELSE ['text'] END)) AS kinds
  FROM t
), m AS (
  SELECT did,
    len(kinds)::BIGINT AS n_spans,
    len(list_filter(kinds, k -> k <> 'text'))::BIGINT AS n_media,
    len(list_filter(
      list_transform(list_slice(kinds, 1, len(kinds) - 1),
                     (a, i) -> a <> kinds[i + 1]),
      x -> x))::BIGINT AS alternations,
    COALESCE(list_position(kinds, 'image'), 0)::BIGINT AS first_media_pos
  FROM s
)
SELECT did AS doc_id, n_spans, n_media, alternations, first_media_pos,
  (n_media * 1000000 // greatest(n_spans, 1))::BIGINT AS media_ratio_micros
FROM m
"""


# ---------------------------------------------------------------------------
# q_cms_topk / q_hll_distinct — mergeable sketches (operators/sketches.py):
# count-min frequency estimates for a bounded candidate set (tokens of
# docs 0-2) with the exact count and the provable estimate >= exact flag
# alongside; HyperLogLog per-source distinct-token registers + the
# cardinality estimate in EXACT integer arithmetic (alpha folded into an
# integral numerator, harmonic sum scaled by 2^27). The oracles rebuild
# the same md5-derived hash walks in SQL.
# ---------------------------------------------------------------------------


def spark_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sketches import cms_build, cms_estimate

    df = _docs(spark, sf_dir)
    toks = df.select(
        F.col("doc_id").cast("bigint").alias("did"),
        F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("item"),
    )
    sketch = cms_build(toks, "item")
    cands = toks.filter(F.col("did") < 3).select("item").distinct()
    est = cms_estimate(sketch, cands, "item")
    exact = (
        toks.join(F.broadcast(cands), on="item")
        .groupBy("item")
        .agg(F.count("*").cast("bigint").alias("exact_count"))
    )
    return est.join(exact, on="item").select(
        "item",
        "cms_estimate",
        "exact_count",
        (F.col("cms_estimate") >= F.col("exact_count")).alias("is_overestimate"),
    )


_CMS_SQL = r"""
WITH toks AS (
  SELECT CAST(doc_id AS BIGINT) AS did, u.item
  FROM documents, UNNEST(list_filter(string_split(text, ' '), x -> x <> '')) AS u(item)
), cells AS (
  SELECT r.row,
    ('0x' || substring(md5(CAST(r.row AS VARCHAR) || item), 1, 8))::BIGINT % 1024 AS bucket,
    COUNT(*)::BIGINT AS cnt
  FROM toks, (SELECT unnest([0, 1, 2, 3]) AS row) r
  GROUP BY 1, 2
), cands AS (
  SELECT DISTINCT item FROM toks WHERE did < 3
), probes AS (
  SELECT item, r.row,
    ('0x' || substring(md5(CAST(r.row AS VARCHAR) || item), 1, 8))::BIGINT % 1024 AS bucket
  FROM cands, (SELECT unnest([0, 1, 2, 3]) AS row) r
), est AS (
  SELECT item, MIN(COALESCE(cnt, 0))::BIGINT AS cms_estimate
  FROM probes LEFT JOIN cells USING (row, bucket)
  GROUP BY 1
), exact AS (
  SELECT item, COUNT(*)::BIGINT AS exact_count
  FROM toks JOIN cands USING (item)
  GROUP BY 1
)
SELECT item, cms_estimate, exact_count,
       cms_estimate >= exact_count AS is_overestimate
FROM est JOIN exact USING (item)
"""


def spark_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sketches import hll_register_table

    df = _docs(spark, sf_dir)
    toks = df.select(
        "source",
        F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("item"),
    )
    hll = hll_register_table(toks, "item", group_col="source")
    exact = toks.groupBy("source").agg(
        F.countDistinct("item").cast("bigint").alias("exact_distinct")
    )
    return hll.join(exact, on="source").select(
        "source", "n_buckets_used", "registers_sum", "estimate_micros", "exact_distinct"
    )


_HLL_SQL = r"""
WITH toks AS (
  SELECT source, u.item
  FROM documents, UNNEST(list_filter(string_split(text, ' '), x -> x <> '')) AS u(item)
), hashed AS (
  SELECT source, item,
    ('0x' || substring(md5(item), 1, 8))::BIGINT AS h32
  FROM toks
), ranked AS (
  SELECT source,
    (h32 % 64)::INT AS bucket,
    CASE WHEN h32 // 64 > 0
         THEN 27 - length(printf('%b', h32 // 64))
         ELSE 27 END AS rank
  FROM hashed
), regs AS (
  SELECT source, bucket, MAX(rank)::BIGINT AS register
  FROM ranked GROUP BY 1, 2
), agg AS (
  SELECT source,
    SUM(1::BIGINT << CAST(27 - register AS INT))::BIGINT AS sum_present,
    COUNT(*)::BIGINT AS n_buckets_used,
    SUM(register)::BIGINT AS registers_sum
  FROM regs GROUP BY 1
), exact AS (
  SELECT source, COUNT(DISTINCT item)::BIGINT AS exact_distinct
  FROM toks GROUP BY 1
)
SELECT source, n_buckets_used, registers_sum,
  389776872046592000 // (sum_present + (64 - n_buckets_used) * 134217728)
    AS estimate_micros,
  exact_distinct
FROM agg JOIN exact USING (source)
"""


# ---------------------------------------------------------------------------
# q_inverted_index — token -> (doc frequency, capped posting list) via the
# skew-safe exact two-phase top-K (operators/inverted_index.py): salted
# partial top-K bounds every task at stopword-class tokens, the global
# pass sees <= n_salts*K survivors per token. The oracle computes the
# SINGLE-window form in DuckDB — parity proves the two-phase plan exact.
# ---------------------------------------------------------------------------


def spark_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.inverted_index import build_inverted_index

    return build_inverted_index(_docs(spark, sf_dir))


_INVERTED_SQL = r"""
WITH toks AS (
  SELECT CAST(doc_id AS BIGINT) AS did, u.token
  FROM documents, UNNEST(list_filter(string_split(text, ' '), x -> x <> '')) AS u(token)
), postings AS (
  SELECT token, did, COUNT(*)::BIGINT AS tf FROM toks GROUP BY 1, 2
), ranked AS (
  SELECT token, did,
    ROW_NUMBER() OVER (PARTITION BY token ORDER BY tf DESC, did ASC) AS r
  FROM postings
), top AS (
  SELECT token,
    string_agg(CAST(did AS VARCHAR), ',' ORDER BY r) AS top_docs
  FROM ranked WHERE r <= 5 GROUP BY 1
), dfreq AS (
  SELECT token, COUNT(*)::BIGINT AS doc_frequency FROM postings GROUP BY 1
)
SELECT token, doc_frequency, top_docs
FROM dfreq JOIN top USING (token)
"""


# ---------------------------------------------------------------------------
# q_bm25_search — integer-exact BM25 ranking (operators/search.py) for a
# fixed 4-term query mixing common and rare corpus tokens; k1=6/5, b=3/4
# cleared to one integer division per term, floor-log2 idf proxy. The
# oracle rebuilds scoring in SQL from the same corpus stats.
# ---------------------------------------------------------------------------

_BM25_TERMS = ["dup", "hash", "merge", "vector"]


def spark_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.search import bm25_rank

    return bm25_rank(
        _docs(spark, sf_dir).select(
            F.col("doc_id").cast("bigint").alias("doc_id"), "text"
        ),
        _BM25_TERMS,
        top_k=20,
    )


_BM25_SQL = r"""
WITH toks AS (
  SELECT CAST(doc_id AS BIGINT) AS did, u.token
  FROM documents, UNNEST(list_filter(string_split(text, ' '), x -> x <> '')) AS u(token)
), lens AS (
  SELECT did, COUNT(*)::BIGINT AS dl FROM toks GROUP BY 1
), stats0 AS (
  SELECT SUM(dl)::BIGINT AS T, COUNT(*)::BIGINT AS N FROM lens
), sh AS (
  -- the ratio-preserving overflow shift from operators/search.py:
  -- s = max(0, bit_length(T) - 31); T >>= s; N = max(N >> s, 1)
  SELECT greatest(0, length(printf('%b', T)) - 31) AS s FROM stats0
), stats AS (
  SELECT stats0.T >> sh.s AS ts, greatest(stats0.N >> sh.s, 1) AS ns,
         stats0.N AS n_raw
  FROM stats0, sh
), terms AS (
  SELECT unnest(['dup', 'hash', 'merge', 'vector']) AS token
), tf AS (
  SELECT did, token, COUNT(*)::BIGINT AS tf
  FROM toks JOIN terms USING (token)
  GROUP BY 1, 2
), dfreq AS (
  SELECT token, COUNT(*)::BIGINT AS df FROM tf GROUP BY 1
), idf AS (
  -- idf keeps the UNSCALED doc count (it is a pure df/N ratio, no
  -- product with corpus-scale terms)
  SELECT token,
    (length(printf('%b',
       (2 * ((SELECT n_raw FROM stats) - df) + 1) * 1048576 // (2 * df + 1)
     )) - 1)::BIGINT AS idf
  FROM dfreq
), scored AS (
  -- tf clamped at 2^20, dl at 2^24 (the saturation clamps from
  -- operators/search.py) keep every product below 2^63
  SELECT did,
    idf * 44 * least(tf, 1048576) * (SELECT ts FROM stats)
      // (20 * least(tf, 1048576) * (SELECT ts FROM stats)
          + 6 * (SELECT ts FROM stats)
          + 18 * least(dl, 16777216) * (SELECT ns FROM stats)) AS term_score
  FROM tf JOIN idf USING (token) JOIN lens USING (did)
), per_doc AS (
  SELECT did, SUM(term_score)::BIGINT AS score, COUNT(*)::BIGINT AS n_hit_terms
  FROM scored GROUP BY 1
)
SELECT did AS doc_id, score, n_hit_terms
FROM per_doc ORDER BY score DESC, did ASC LIMIT 20
"""


# ---------------------------------------------------------------------------
# q_span_reflow / q_caption_pairs / q_media_dedup — structural operators
# over the interleaved span payload (operators/span_ops.py). The span
# arrays are built with the same deterministic generative rule as
# q_interleave_stats (media span after every line where (line+did) % 4
# == 0, ref 'media://{doc}/{line}'); both engines rebuild the rule
# independently, so parity checks the OPERATOR, not the generator.
#
#   reflow    merge adjacent text-span runs ('\n'-join), media spans kept,
#             offsets renumbered densely — relational (posexplode + per-doc
#             windows), linear in spans, never an O(n^2) array fold.
#   captions  media span -> following text span, fallback preceding
#             (lead/lag sharing one per-doc window sort).
#   media     corpus-level media dedup by CONTENT key (synthetic payload
#             hash with planted cross-doc collisions: (did*7+line) % 64);
#             one partial-aggregated groupBy, output = distinct assets.
# ---------------------------------------------------------------------------


def _interleaved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents adapted to (doc_id bigint, spans) with the deterministic
    interleave rule shared by the span-op queries and their oracles."""
    df = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("bigint")
    lines = F.split(F.col("text"), "\n")

    def _text_span(ln, j):
        return F.struct(
            F.lit("text").alias("kind"),
            ln.alias("text"),
            F.lit("").alias("media_ref"),
            j.cast("int").alias("offset"),
        )

    def _media_span(j):
        return F.struct(
            F.lit("image").alias("kind"),
            F.lit("").alias("text"),
            F.concat(
                F.lit("media://"), did.cast("string"), F.lit("/"), j.cast("string")
            ).alias("media_ref"),
            j.cast("int").alias("offset"),
        )

    spans = F.flatten(
        F.transform(
            lines,
            lambda ln, j: F.when(
                (j.cast("bigint") + did) % 4 == 0,
                F.array(_text_span(ln, j), _media_span(j)),
            ).otherwise(F.array(_text_span(ln, j))),
        )
    )
    return df.select(did.alias("doc_id"), spans.alias("spans"))


# the shared generative CTE: interleaved spans as (did, pos, kind, stext,
# media_ref, off) rows — DuckDB's 1-based list indices mapped to the same
# 0-based line offsets the Spark side emits
_INTERLEAVE_EX_CTE = r"""
WITH t AS (
  SELECT CAST(doc_id AS BIGINT) AS did, string_split(text, chr(10)) AS lines
  FROM documents
), s AS (
  SELECT did,
    flatten(list_transform(lines, (ln, j) ->
      CASE WHEN (j - 1 + did) % 4 = 0
           THEN [{'kind': 'text', 'stext': ln, 'media_ref': '', 'off': j - 1},
                 {'kind': 'image', 'stext': '',
                  'media_ref': 'media://' || did::VARCHAR || '/' || (j - 1)::VARCHAR,
                  'off': j - 1}]
           ELSE [{'kind': 'text', 'stext': ln, 'media_ref': '', 'off': j - 1}]
      END)) AS sp
  FROM t
), ex AS (
  SELECT did, i AS pos, sp[i].kind AS kind, sp[i].stext AS stext,
         sp[i].media_ref AS media_ref, sp[i].off AS off
  FROM s, UNNEST(range(1, len(sp) + 1)) AS u(i)
)
"""


def spark_span_reflow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.span_ops import reflow_spans

    return reflow_spans(_interleaved(spark, sf_dir))


_SPAN_REFLOW_SQL = (
    _INTERLEAVE_EX_CTE
    + r""", g AS (
  SELECT *, SUM(CASE WHEN kind <> 'text' THEN 1 ELSE 0 END)
              OVER (PARTITION BY did ORDER BY pos) AS grp
  FROM ex
), m AS (
  SELECT did, grp, kind,
    string_agg(stext, chr(10) ORDER BY pos) AS mtext,
    MAX(media_ref) AS mref, MIN(pos) AS min_pos, COUNT(*)::BIGINT AS n_merged
  FROM g GROUP BY 1, 2, 3
)
SELECT did AS doc_id,
  (ROW_NUMBER() OVER (PARTITION BY did ORDER BY min_pos) - 1)::BIGINT AS offset,
  kind,
  CASE WHEN kind = 'text' THEN mtext ELSE '' END AS text,
  CASE WHEN kind = 'text' THEN '' ELSE mref END AS media_ref,
  n_merged
FROM m
"""
)


def spark_caption_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.span_ops import caption_pairs

    return caption_pairs(_interleaved(spark, sf_dir))


_CAPTION_PAIRS_SQL = (
    _INTERLEAVE_EX_CTE
    + r""", w AS (
  SELECT did, kind, media_ref, off,
    LEAD(kind) OVER w2 AS nk, LEAD(stext) OVER w2 AS nt,
    LAG(kind) OVER w2 AS pk, LAG(stext) OVER w2 AS pt
  FROM ex WINDOW w2 AS (PARTITION BY did ORDER BY pos)
)
SELECT did AS doc_id, media_ref, off::BIGINT AS media_line,
  CASE WHEN nk = 'text' THEN nt WHEN pk = 'text' THEN pt ELSE '' END AS caption,
  CASE WHEN nk = 'text' THEN 'after' WHEN pk = 'text' THEN 'before'
       ELSE 'none' END AS caption_src
FROM w WHERE kind <> 'text'
"""
)


def spark_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.span_ops import media_dedup

    df = _docs(spark, sf_dir)
    media = (
        df.select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.posexplode(F.split("text", "\n")).alias("line", "_ln"),
        )
        .filter((F.col("line") + F.col("doc_id")) % 4 == 0)
        .select(
            "doc_id",
            F.concat(
                F.lit("media://"),
                F.col("doc_id").cast("string"),
                F.lit("/"),
                F.col("line").cast("string"),
            ).alias("media_ref"),
            F.md5(
                F.concat(
                    F.lit("blob-"),
                    ((F.col("doc_id") * 7 + F.col("line")) % 64).cast("string"),
                )
            ).alias("content_key"),
        )
    )
    return media_dedup(media)


_MEDIA_DEDUP_SQL = r"""
WITH t AS (
  SELECT CAST(doc_id AS BIGINT) AS did, string_split(text, chr(10)) AS lines
  FROM documents
), m AS (
  SELECT did, j - 1 AS line
  FROM t, UNNEST(range(1, len(lines) + 1)) AS u(j)
  WHERE (j - 1 + did) % 4 = 0
), media AS (
  SELECT did,
    'media://' || did::VARCHAR || '/' || line::VARCHAR AS media_ref,
    md5('blob-' || ((did * 7 + line) % 64)::VARCHAR) AS content_key
  FROM m
)
SELECT content_key, MIN(media_ref) AS canonical_ref,
       COUNT(*)::BIGINT AS n_refs, COUNT(DISTINCT did)::BIGINT AS n_docs
FROM media GROUP BY 1
"""


# ---------------------------------------------------------------------------
# q_chunk_overlap — sliding-window chunking with overlap
# (operators/chunking.py): 16-token chunks, 4-token overlap over the
# token stream; one projection + one explode, zero shuffles. The oracle
# rebuilds the arithmetic chunk starts with DuckDB range() + list_slice.
# ---------------------------------------------------------------------------


def spark_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.chunking import chunk_documents

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    return chunk_documents(docs, chunk_tokens=16, overlap=4)


_CHUNK_OVERLAP_SQL = r"""
WITH t AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
), c AS (
  -- starts capped at len - overlap - 1: a tail start closer than
  -- `overlap` to the end adds zero new tokens (operators/chunking.py)
  SELECT doc_id,
    u.i // 12 AS chunk_idx,
    least(len(toks) - u.i, 16)::BIGINT AS n_tokens,
    array_to_string(list_slice(toks, u.i + 1, u.i + 16), ' ') AS chunk_text
  FROM t, UNNEST(range(0, greatest(len(toks) - 5, 0) + 1, 12)) AS u(i)
  WHERE len(toks) > 0
)
SELECT doc_id, chunk_idx::BIGINT AS chunk_idx, n_tokens, chunk_text FROM c
"""


# ---------------------------------------------------------------------------
# q_log_histogram — HDR-style log2 histogram + nearest-rank quantile
# lower bounds over n_chars per source (operators/sketches.py): 64 cells
# of mergeable state per group vs the full-shuffle exact counterpart
# (q_source_percentiles). The oracle rebuilds the bucket walk and the
# ceil-rank cumulative scan in SQL.
# ---------------------------------------------------------------------------


def spark_log_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sketches import histogram_quantiles, log2_histogram

    hist = log2_histogram(_docs(spark, sf_dir), "n_chars", group_col="source")
    return histogram_quantiles(hist, group_col="source")


_LOG_HISTOGRAM_SQL = r"""
WITH h AS (
  SELECT source,
    CASE WHEN CAST(n_chars AS BIGINT) <= 0 THEN 0
         ELSE length(printf('%b', CAST(n_chars AS BIGINT))) END AS bucket,
    COUNT(*)::BIGINT AS cnt
  FROM documents GROUP BY 1, 2
), c AS (
  SELECT source, bucket, cnt,
    SUM(cnt) OVER (PARTITION BY source ORDER BY bucket) AS cum,
    SUM(cnt) OVER (PARTITION BY source) AS total
  FROM h
)
SELECT source, MAX(total)::BIGINT AS n,
  MIN(CASE WHEN cum >= (total * 500000 + 999999) // 1000000 THEN
    CASE WHEN bucket <= 0 THEN 0 ELSE 1::BIGINT << (bucket - 1) END END)::BIGINT AS p50_lb,
  MIN(CASE WHEN cum >= (total * 900000 + 999999) // 1000000 THEN
    CASE WHEN bucket <= 0 THEN 0 ELSE 1::BIGINT << (bucket - 1) END END)::BIGINT AS p90_lb,
  MIN(CASE WHEN cum >= (total * 990000 + 999999) // 1000000 THEN
    CASE WHEN bucket <= 0 THEN 0 ELSE 1::BIGINT << (bucket - 1) END END)::BIGINT AS p99_lb
FROM c GROUP BY 1
"""


# ---------------------------------------------------------------------------
# q_group_sample — fixed-size deterministic per-group sampling
# (operators/sampling.py:group_sample): bottom-3 by md5(doc_id) per
# source — the mergeable min-k sketch, skew-safe via the exact two-phase
# salted pattern. The oracle computes the single-window form, so parity
# doubles as the two-phase exactness proof (same argument as
# q_inverted_index).
# ---------------------------------------------------------------------------


def spark_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import group_sample

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "source"
    )
    return group_sample(docs, "source", "doc_id", k=3)


_GROUP_SAMPLE_SQL = r"""
WITH t AS (
  SELECT source, CAST(doc_id AS BIGINT) AS doc_id,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
), r AS (
  SELECT source, doc_id,
    ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS sample_rank
  FROM t
)
SELECT source, doc_id, sample_rank::BIGINT AS sample_rank
FROM r WHERE sample_rank <= 3
"""


# ---------------------------------------------------------------------------
# q_repeated_ngrams — sliding-window repeated-substring exposure
# (operators/dedup.py:repeated_ngram_stats): the alignment-free
# complement to q_passage_dedup. A token 8-gram is duplicated when its
# 60-bit truncated-md5 key occurs >1 times corpus-wide; per-doc output is
# the duplicated-gram fraction. The oracle rebuilds the same sliding
# windows with DuckDB list lambdas (1-based list_slice mapped to the
# same windows) and the identical truncated key.
# ---------------------------------------------------------------------------


def spark_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import repeated_ngram_stats

    return repeated_ngram_stats(_docs(spark, sf_dir))


_REPEATED_NGRAMS_SQL = r"""
WITH t AS (
  SELECT CAST(doc_id AS BIGINT) AS did,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
), g AS (
  SELECT did,
    CASE WHEN len(toks) >= 8
         THEN list_transform(range(1, len(toks) - 8 + 2),
                i -> ('0x' || substring(md5(
                    array_to_string(list_slice(toks, i, i + 7), ' ')
                  ), 1, 15))::BIGINT)
         ELSE [] END AS grams
  FROM t
), e AS (
  SELECT did, u.gram FROM g, UNNEST(grams) AS u(gram)
), c AS (
  SELECT gram, COUNT(*)::BIGINT AS cnt FROM e GROUP BY 1
), d AS (
  SELECT did,
    COUNT(*)::BIGINT AS n_grams,
    SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_grams
  FROM e JOIN c USING (gram) GROUP BY 1
)
SELECT did AS doc_id, n_grams, n_dup_grams,
       (n_dup_grams * 1000000 // n_grams)::BIGINT AS dup_fraction_micros
FROM d
"""


# ---------------------------------------------------------------------------
# q_substr_removal — duplicated-SPAN excision (ExactSubstr, Lee et al.
# 2022, arXiv:2107.06499, over sliding token 20-grams instead of a suffix
# array; operators/dedup.py:exact_substring_removal). Where
# q_repeated_ngrams measures exposure, this CUTS the duplicated runs out
# of the text, keeping exactly the global first (min (doc_id, pos))
# occurrence of each duplicated gram. The oracle recomputes winner +
# coverage relationally: a token is removed iff some non-winner duplicate
# gram occurrence in the same doc covers its position.
# ---------------------------------------------------------------------------


def spark_substr_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import exact_substring_removal

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    return exact_substring_removal(docs, n=20)


_SUBSTR_REMOVAL_SQL = r"""
WITH t AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
), g AS (
  SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
         ('0x' || substring(md5(
             array_to_string(list_slice(toks, u.i, u.i + 19), ' ')
           ), 1, 15))::BIGINT AS gram
  FROM t, UNNEST(range(1, len(toks) - 18)) AS u(i)
  WHERE len(toks) >= 20
), w AS (
  SELECT doc_id, pos,
         COUNT(*) OVER (PARTITION BY gram) AS cnt,
         row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
  FROM g
), d AS (
  SELECT doc_id, pos FROM w WHERE cnt > 1 AND rn > 1
), tok AS (
  SELECT doc_id, CAST(u.i AS BIGINT) AS pos, toks[CAST(u.i AS INT)] AS tok
  FROM t, UNNEST(range(1, len(toks) + 1)) AS u(i)
), r AS (
  SELECT DISTINCT tok.doc_id, tok.pos
  FROM tok JOIN d ON tok.doc_id = d.doc_id
               AND tok.pos BETWEEN d.pos AND d.pos + 19
), p AS (
  SELECT tok.doc_id,
         COUNT(*)::BIGINT AS n_tokens,
         SUM(CASE WHEN r.pos IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_removed,
         COALESCE(string_agg(CASE WHEN r.pos IS NULL THEN tok.tok END,
                             ' ' ORDER BY tok.pos), '') AS text_clean
  FROM tok LEFT JOIN r ON tok.doc_id = r.doc_id AND tok.pos = r.pos
  GROUP BY tok.doc_id
)
SELECT t.doc_id,
       COALESCE(p.n_tokens, 0) AS n_tokens,
       COALESCE(p.n_removed, 0) AS n_removed,
       COALESCE(p.text_clean, '') AS text_clean
FROM t LEFT JOIN p USING (doc_id)
"""


import os as _os

_ORACLE_SF_TAG = _os.environ.get("SPARK_GRAFT_ORACLE_SF", "0.01").replace(".", "_")


# ---------------------------------------------------------------------------
# q_line_dedup — corpus-wide repeated-line removal (RefinedWeb line-wise
# dedup, Penedo et al. 2023 arXiv:2306.01116 §3.3; operators/dedup.py:
# line_dedup). The synthetic corpus has no newlines, so the query's
# segmentation policy is fixed 6-token chunks (the operator takes caller
# lines); a line is struck everywhere when its 60-bit key occurs >= 3
# times corpus-wide, and a document keeping < 70% of its lines is
# flagged for drop. The oracle rebuilds chunks, counts, and the strike
# set with identical integer key math.
# ---------------------------------------------------------------------------

_LINE_W, _LINE_MIN_COUNT = 6, 3


def spark_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import line_dedup

    toks = F.filter(F.split("text", " "), lambda x: x != "")
    w = F.lit(_LINE_W)
    lines = F.when(
        F.size("_toks") > 0,
        F.transform(
            F.sequence(
                F.lit(0),
                F.floor((F.size("_toks") + w - 1) / w).cast("int") - 1,
            ),
            lambda i: F.array_join(F.slice("_toks", i * w + 1, w), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    docs = (
        _docs(spark, sf_dir)
        .select(F.col("doc_id").cast("bigint").alias("doc_id"), "text")
        .withColumn("_toks", toks)
        .select("doc_id", lines.alias("lines"))
    )
    return line_dedup(docs, min_count=_LINE_MIN_COUNT).orderBy("doc_id")


_LINE_DEDUP_SQL = f"""
WITH t AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
), c AS (
  SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
         array_to_string(list_slice(
           toks, CAST(u.i * {_LINE_W} + 1 AS INT),
           CAST(u.i * {_LINE_W} + {_LINE_W} AS INT)), ' ') AS line
  FROM t, UNNEST(range(0, (len(toks) + {_LINE_W} - 1) // {_LINE_W})) AS u(i)
), k AS (
  SELECT doc_id, pos,
         ('0x' || substring(md5(line), 1, 15))::BIGINT AS key, line
  FROM c
), d AS (
  SELECT key FROM k GROUP BY key HAVING COUNT(*) >= {_LINE_MIN_COUNT}
), r AS (
  SELECT k.doc_id, k.pos FROM k JOIN d ON k.key = d.key
), agg AS (
  SELECT k.doc_id,
         COUNT(*)::BIGINT AS n_lines,
         SUM(CASE WHEN r.pos IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
           AS n_removed,
         COALESCE(string_agg(CASE WHEN r.pos IS NULL THEN k.line END,
                             chr(10) ORDER BY k.pos), '') AS text_clean
  FROM k LEFT JOIN r ON k.doc_id = r.doc_id AND k.pos = r.pos
  GROUP BY k.doc_id
)
SELECT t.doc_id,
       COALESCE(agg.n_lines, 0) AS n_lines,
       COALESCE(agg.n_removed, 0) AS n_removed,
       COALESCE(agg.text_clean, '') AS text_clean,
       COALESCE(agg.n_removed, 0) * 1000000
         <= 300000 * COALESCE(agg.n_lines, 0) AS keep_doc
FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id
ORDER BY t.doc_id
"""


# ---------------------------------------------------------------------------
# q_blocklist — bad-word / bad-phrase screening (the C4 blocklist stage,
# Raffel et al. 2020 arXiv:1910.10683 §2.2; operators/quality.py:
# blocklist_filter). Whole-token terms + space-joined phrases, both
# case-insensitive, map-only codegen (the blocklist is a parameter, not
# data — it lives in the plan as a literal array; zero shuffles).
# ---------------------------------------------------------------------------

_BLOCK_TERMS = ("dup", "slow", "stale")
_BLOCK_PHRASES = ("join order", "batch batch")


def spark_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.quality import blocklist_filter

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    return blocklist_filter(
        docs, terms=_BLOCK_TERMS, phrases=_BLOCK_PHRASES
    ).orderBy("doc_id")


_BLOCKLIST_SQL = """
WITH t AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
)
SELECT doc_id,
       len(list_filter(toks,
           t -> list_contains(['dup', 'slow', 'stale'], t)))::BIGINT
         AS n_term_hits,
       len(list_filter(['dup', 'slow', 'stale'],
           t -> list_contains(toks, t)))::BIGINT AS n_terms_matched,
       len(list_filter(['join order', 'batch batch'],
           p -> contains(' ' || array_to_string(toks, ' ') || ' ',
                         ' ' || p || ' ')))::BIGINT AS n_phrases_matched,
       len(list_filter(toks,
           t -> list_contains(['dup', 'slow', 'stale'], t))) > 0
         OR len(list_filter(['join order', 'batch batch'],
           p -> contains(' ' || array_to_string(toks, ' ') || ' ',
                         ' ' || p || ' '))) > 0 AS flagged
FROM t
ORDER BY doc_id
"""



# ---------------------------------------------------------------------------
# q_unigram_seed — unigram-LM tokenizer seed-vocabulary counts
# (operators/unigram.py, Kudo 2018 arXiv:1804.10959): every substring of
# length 2..6 of every distinct word, occurrence-weighted by corpus word
# frequency — the bounded-table round that seeds hard-EM training (the
# EM rounds themselves are differential-tested against the sequential
# twin, like BPE's merge sequence). Top 50 by (count desc, piece asc) —
# a total order, so LIMIT is deterministic in both engines.
# ---------------------------------------------------------------------------


def spark_unigram_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.bpe import word_frequencies
    from .operators.unigram import seed_piece_counts

    docs = _docs(spark, sf_dir).select("text")
    wf = word_frequencies(docs)
    return (
        seed_piece_counts(wf, max_piece_len=6)
        .filter(F.length("piece") >= 2)
        .select("piece", F.col("count").alias("piece_count"))
        .orderBy(F.col("piece_count").desc(), "piece")
        .limit(50)
    )


_UNIGRAM_SEED_SQL = """
WITH w AS (
  SELECT word, COUNT(*)::BIGINT AS freq FROM (
    SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
      AS word
    FROM documents
  ) GROUP BY word
), p AS (
  SELECT substring(word, CAST(i.i AS INT), CAST(l.l AS INT)) AS piece,
         freq
  FROM w,
       UNNEST(range(1, len(word) + 1)) AS i(i),
       UNNEST(range(1, least(6, len(word) - i.i + 1) + 1)) AS l(l)
)
SELECT piece, SUM(freq)::BIGINT AS piece_count
FROM p WHERE length(piece) >= 2
GROUP BY piece
ORDER BY piece_count DESC, piece
LIMIT 50
"""



# ---------------------------------------------------------------------------
# q_kcenter — greedy k-center diversity coreset over the embeddings table
# (operators/coreset.py, Gonzalez 1985 farthest-first): the "keep what
# spans the space" selector complementing SemDeDup's "drop what's too
# close". k=4 rounds; integer-quantized squared distances; seed = min
# vec_id; ties (dist desc, id asc). The oracle unrolls the identical
# rounds relationally — selection is a pure function of the corpus.
# ---------------------------------------------------------------------------


def spark_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.coreset import kcenter_select

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    return kcenter_select(emb, k=4).orderBy("round")


_KCENTER_DIST = (
    "list_sum(list_transform(range(1, len({a}.qe) + 1), "
    "i -> ({a}.qe[i] - {b}.qe[i]) * ({a}.qe[i] - {b}.qe[i])))::BIGINT"
)

_KCENTER_SQL = f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS qe
  FROM embeddings
), c0 AS (
  SELECT vec_id, qe FROM e ORDER BY vec_id LIMIT 1
), d1 AS (
  SELECT e.vec_id, e.qe, {_KCENTER_DIST.format(a='e', b='c')} AS d
  FROM e, c0 c
), c1 AS (
  SELECT vec_id, qe, d FROM d1
  WHERE vec_id NOT IN (SELECT vec_id FROM c0)
  ORDER BY d DESC, vec_id LIMIT 1
), d2 AS (
  SELECT e.vec_id, e.qe,
         least(e.d, {_KCENTER_DIST.format(a='e', b='c')}) AS d
  FROM d1 e, c1 c
), c2 AS (
  SELECT vec_id, qe, d FROM d2
  WHERE vec_id NOT IN (SELECT vec_id FROM c0 UNION ALL
                       SELECT vec_id FROM c1)
  ORDER BY d DESC, vec_id LIMIT 1
), d3 AS (
  SELECT e.vec_id, e.qe,
         least(e.d, {_KCENTER_DIST.format(a='e', b='c')}) AS d
  FROM d2 e, c2 c
), c3 AS (
  SELECT vec_id, qe, d FROM d3
  WHERE vec_id NOT IN (SELECT vec_id FROM c0 UNION ALL
                       SELECT vec_id FROM c1 UNION ALL
                       SELECT vec_id FROM c2)
  ORDER BY d DESC, vec_id LIMIT 1
)
SELECT 0::BIGINT AS round, vec_id, 0::BIGINT AS qdist FROM c0
UNION ALL SELECT 1, vec_id, d FROM c1
UNION ALL SELECT 2, vec_id, d FROM c2
UNION ALL SELECT 3, vec_id, d FROM c3
ORDER BY round
"""



# ---------------------------------------------------------------------------
# q_perceptron — distributed training of the linear quality classifier
# (operators/quality.py:perceptron_train, full-batch perceptron): labels
# are the learnable planted rule "document mentions 'spark'"; two
# training epochs; output = top-50 learned weights. The oracle unrolls
# both epochs relationally (epoch 1 from zero weights makes every doc a
# mistake; epoch 2 re-scores under w1) with identical integer-micro
# arithmetic. The bounded result re-materializes driver-side so the
# query leaks no cached frames.
# ---------------------------------------------------------------------------


def spark_perceptron(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.quality import perceptron_train

    toks = F.filter(F.split("text", " "), lambda x: x != "")
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "text",
        F.when(F.array_contains(toks, "spark"), 1)
        .otherwise(-1)
        .alias("label"),
    )
    weights, _bias, _hist = perceptron_train(docs, epochs=2)
    top = weights.orderBy(
        F.desc("weight_micros"), "token"
    ).limit(50).collect()
    weights.unpersist()
    return spark.createDataFrame(
        [(r["token"], r["weight_micros"]) for r in top],
        "token: string, weight_micros: bigint",
    )


_PERCEPTRON_SQL = """
WITH t AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
), lab AS (
  SELECT doc_id,
         CASE WHEN list_contains(toks, 'spark') THEN 1 ELSE -1 END AS y
  FROM t
), tf AS (
  SELECT doc_id, tok, COUNT(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
  GROUP BY doc_id, tok
), w1 AS (
  -- epoch 1: zero weights + zero bias -> margin 0 for every doc -> all
  -- docs are mistakes; w1 = lr * sum(y * tf), zero weights pruned
  SELECT tf.tok, 1000000 * SUM(lab.y * tf.tf)::BIGINT AS w
  FROM tf JOIN lab USING (doc_id)
  GROUP BY tf.tok
  HAVING SUM(lab.y * tf.tf) <> 0
), b1 AS (
  SELECT 1000000 * SUM(y)::BIGINT AS b FROM lab
), s2 AS (
  SELECT tf.doc_id, SUM(tf.tf * COALESCE(w1.w, 0))::BIGINT AS score
  FROM tf LEFT JOIN w1 ON tf.tok = w1.tok
  GROUP BY tf.doc_id
), m2 AS (
  SELECT lab.doc_id, lab.y
  FROM lab LEFT JOIN s2 USING (doc_id), b1
  WHERE lab.y * (COALESCE(s2.score, 0) + b1.b) <= 0
), g2 AS (
  SELECT tf.tok, 1000000 * SUM(m2.y * tf.tf)::BIGINT AS delta
  FROM tf JOIN m2 USING (doc_id)
  GROUP BY tf.tok
), w2 AS (
  SELECT COALESCE(w1.tok, g2.tok) AS tok,
         COALESCE(w1.w, 0) + COALESCE(g2.delta, 0) AS w
  FROM w1 FULL OUTER JOIN g2 ON w1.tok = g2.tok
)
SELECT tok AS token, w::BIGINT AS weight_micros
FROM w2 WHERE w <> 0
ORDER BY weight_micros DESC, token
LIMIT 50
"""


# ---------------------------------------------------------------------------
# Link-graph family (operators/graph.py): exact-integer PageRank, degree /
# reciprocity stats, and anchor-text rollup. The synthetic corpus has no
# hyperlinks, so the contract queries derive a deterministic pseudo-link
# graph from doc_id arithmetic — the same documented stand-in pattern as the
# synthetic host column in q_salted_host_agg: 3 modular out-links per doc
# plus a hub edge (every 10th doc links to node 0) so the in-degree skew
# path is exercised. Both engines state the identical derivation.
# ---------------------------------------------------------------------------

_LINK_EDGE_PARAMS = ((17, 3), (29, 11), (43, 7))

_LINK_EDGES_CTES = """
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
e0 AS (
  SELECT CAST(doc_id AS BIGINT) AS src,
         (CAST(doc_id AS BIGINT) * 17 + 3) % (SELECT n FROM n) AS dst
  FROM documents
  UNION ALL
  SELECT CAST(doc_id AS BIGINT),
         (CAST(doc_id AS BIGINT) * 29 + 11) % (SELECT n FROM n)
  FROM documents
  UNION ALL
  SELECT CAST(doc_id AS BIGINT),
         (CAST(doc_id AS BIGINT) * 43 + 7) % (SELECT n FROM n)
  FROM documents
  UNION ALL
  SELECT CAST(doc_id AS BIGINT), CAST(0 AS BIGINT)
  FROM documents WHERE doc_id % 10 = 0
),
edges AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst)
"""


def _link_graph(spark: SparkSession, sf_dir: str):
    """(nodes, edges) for the contract link graph. The corpus count is one
    bounded driver scalar (mirrors the oracle's scalar subquery)."""
    docs = _docs(spark, sf_dir).select(F.col("doc_id").cast("bigint").alias("doc_id"))
    n = docs.count()
    parts = [
        docs.select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") * mult + off) % n).cast("bigint").alias("dst"),
        )
        for mult, off in _LINK_EDGE_PARAMS
    ]
    hub = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("src"), F.lit(0).cast("bigint").alias("dst")
    )
    edges = parts[0].union(parts[1]).union(parts[2]).union(hub)
    nodes = docs.select(F.col("doc_id").alias("node"))
    return nodes, edges.filter(F.col("src") != F.col("dst")).distinct()


def spark_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import pagerank

    nodes, edges = _link_graph(spark, sf_dir)
    return pagerank(nodes, edges, n_iter=3, damping_micros=850_000)


_PAGERANK_SQL = f"""
WITH {_LINK_EDGES_CTES},
nodes AS (SELECT CAST(doc_id AS BIGINT) AS node FROM documents),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM edges GROUP BY src),
ed AS (SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d USING (src)),
r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
c1 AS (SELECT ed.dst, CAST(SUM(r0.r // ed.outdeg) AS BIGINT) AS c
       FROM ed JOIN r0 ON ed.src = r0.node GROUP BY ed.dst),
r1 AS (SELECT n.node,
              CAST(150000 + (850000 * COALESCE(c1.c, 0)) // 1000000 AS BIGINT) AS r
       FROM nodes n LEFT JOIN c1 ON n.node = c1.dst),
c2 AS (SELECT ed.dst, CAST(SUM(r1.r // ed.outdeg) AS BIGINT) AS c
       FROM ed JOIN r1 ON ed.src = r1.node GROUP BY ed.dst),
r2 AS (SELECT n.node,
              CAST(150000 + (850000 * COALESCE(c2.c, 0)) // 1000000 AS BIGINT) AS r
       FROM nodes n LEFT JOIN c2 ON n.node = c2.dst),
c3 AS (SELECT ed.dst, CAST(SUM(r2.r // ed.outdeg) AS BIGINT) AS c
       FROM ed JOIN r2 ON ed.src = r2.node GROUP BY ed.dst),
r3 AS (SELECT n.node,
              CAST(150000 + (850000 * COALESCE(c3.c, 0)) // 1000000 AS BIGINT) AS r
       FROM nodes n LEFT JOIN c3 ON n.node = c3.dst)
SELECT node, r AS rank_micros FROM r3
"""


def spark_link_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import degree_stats

    _nodes, edges = _link_graph(spark, sf_dir)
    return degree_stats(edges)


_LINK_DEGREES_SQL = f"""
WITH {_LINK_EDGES_CTES},
nodes AS (SELECT DISTINCT node FROM
          (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
od AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS c FROM edges GROUP BY src),
ind AS (SELECT dst, CAST(COUNT(*) AS BIGINT) AS c FROM edges GROUP BY dst),
rc AS (SELECT e.src, CAST(COUNT(*) AS BIGINT) AS c FROM edges e
       WHERE EXISTS (SELECT 1 FROM edges r
                     WHERE r.src = e.dst AND r.dst = e.src)
       GROUP BY e.src)
SELECT n.node,
       COALESCE(od.c, 0) AS outdeg,
       COALESCE(ind.c, 0) AS indeg,
       COALESCE(rc.c, 0) AS n_reciprocal
FROM nodes n
LEFT JOIN od ON n.node = od.src
LEFT JOIN ind ON n.node = ind.dst
LEFT JOIN rc ON n.node = rc.src
"""


def spark_anchor_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import anchor_rollup

    _nodes, edges = _link_graph(spark, sf_dir)
    anchors = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("src"),
        F.substring_index("text", " ", 1).alias("anchor"),
    )
    return anchor_rollup(edges.join(anchors, "src"))


_ANCHOR_TEXT_SQL = f"""
WITH {_LINK_EDGES_CTES},
anch AS (SELECT CAST(doc_id AS BIGINT) AS src,
                split_part(text, ' ', 1) AS anchor
         FROM documents),
ea AS (SELECT e.src, e.dst, a.anchor FROM edges e JOIN anch a USING (src)),
pa AS (SELECT dst, anchor, CAST(COUNT(*) AS BIGINT) AS cnt
       FROM ea GROUP BY dst, anchor),
tot AS (SELECT dst, CAST(SUM(cnt) AS BIGINT) AS n_inlinks,
               CAST(COUNT(*) AS BIGINT) AS n_anchors
        FROM pa GROUP BY dst),
top AS (SELECT dst, anchor, cnt,
               row_number() OVER (PARTITION BY dst
                                  ORDER BY cnt DESC, anchor DESC) AS rn
        FROM pa)
SELECT t.dst, t.n_inlinks, t.n_anchors,
       p.anchor AS top_anchor, p.cnt AS top_anchor_count
FROM tot t JOIN top p ON t.dst = p.dst AND p.rn = 1
"""


# ---------------------------------------------------------------------------
# q_snapshot_diff — cross-snapshot CDC (operators/diff.py): classify every
# doc id across two corpus snapshots as added/removed/changed/unchanged via
# one full-outer join of slim (id, length-prefixed md5 content hash)
# projections. The two snapshots are derived deterministically from the
# documents table (old drops doc_id%97==3 and carries a ' v1' text suffix
# for doc_id%89==7; new drops doc_id%101==5), so added/removed/changed rows
# all exist and both engines state the identical derivation.
# ---------------------------------------------------------------------------

def spark_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.diff import snapshot_diff

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text", "lang"
    )
    old = docs.filter(F.col("doc_id") % 97 != 3).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 89 == 7, F.concat("text", F.lit(" v1"))
        ).otherwise(F.col("text")),
    )
    new = docs.filter(F.col("doc_id") % 101 != 5)
    return snapshot_diff(old, new, compare_cols=["text", "lang"])


_SNAPSHOT_DIFF_SQL = """
WITH o AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         md5(concat_ws('|',
             COALESCE(CAST(len(t) AS VARCHAR) || ':' || t, chr(0)),
             COALESCE(CAST(len(lang) AS VARCHAR) || ':' || lang, chr(0)))) AS old_hash
  FROM (SELECT doc_id,
               CASE WHEN doc_id % 89 = 7 THEN text || ' v1' ELSE text END AS t,
               lang
        FROM documents WHERE doc_id % 97 <> 3)
), n AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         md5(concat_ws('|',
             COALESCE(CAST(len(text) AS VARCHAR) || ':' || text, chr(0)),
             COALESCE(CAST(len(lang) AS VARCHAR) || ':' || lang, chr(0)))) AS new_hash
  FROM documents WHERE doc_id % 101 <> 5
)
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.old_hash IS NULL THEN 'added'
            WHEN n.new_hash IS NULL THEN 'removed'
            WHEN o.old_hash <> n.new_hash THEN 'changed'
            ELSE 'unchanged' END AS change_type,
       o.old_hash, n.new_hash
FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
"""


# ---------------------------------------------------------------------------
# q_corpus_audit — one-pass corpus health audit (operators/audit.py): all
# the standard health metrics per source in ONE aggregate over ONE scan.
# At 100 TB the metric count is free; the scan count is the bill.


def spark_corpus_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.audit import corpus_audit

    return corpus_audit(_docs(spark, sf_dir), group_col="source")


_CORPUS_AUDIT_SQL = """
WITH pre AS (
  SELECT source,
         (text IS NULL OR trim(text) = '') AS is_empty,
         CAST(coalesce(length(text), 0) AS BIGINT) AS chars,
         CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
              ELSE len(list_filter(string_split(text, ' '), x -> x <> ''))
              END AS BIGINT) AS toks,
         md5(coalesce(text, '')) AS h
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN is_empty THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
       CAST(count(DISTINCT h) AS BIGINT) AS n_distinct_texts,
       CAST(((count(*) - count(DISTINCT h)) * 1000000) // count(*) AS BIGINT)
         AS dup_rate_micros,
       CAST(sum(chars) AS BIGINT) AS total_chars,
       CAST(min(chars) AS BIGINT) AS min_chars,
       CAST(max(chars) AS BIGINT) AS max_chars,
       CAST((sum(chars) * 1000000) // count(*) AS BIGINT) AS mean_chars_micros,
       CAST(sum(toks) AS BIGINT) AS total_tokens,
       CAST((sum(toks) * 1000000) // count(*) AS BIGINT) AS mean_tokens_micros
FROM pre
GROUP BY source
"""


# ---------------------------------------------------------------------------
# q_tfidf_vectors — hashed TF-IDF document vectors (operators/vectorize.py):
# the model-free text->vector bridge into the ANN/clustering stack. TF is
# computed inside the row (map-only), DF is one bounded dim-row reduce, IDF
# re-enters as a driver-computed literal array — the corpus never shuffles.


def spark_tfidf_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.vectorize import tfidf_vectors

    out = tfidf_vectors(_docs(spark, sf_dir), dim=64)
    # Contract-schema rule: every SPARK_QUERIES output column is a SCALAR
    # (the driver canonicalizes via pandas sort_values, which cannot hash
    # list cells — the one red row of round 3). Serialize the vector with
    # the same concat_ws convention q_caselaw_metadata uses for its
    # panel/votes arrays; the operator itself still returns the real
    # array<bigint> column for the ANN/clustering consumers.
    return out.select(
        "doc_id",
        F.concat_ws("_", F.transform("vec", lambda x: x.cast("string"))).alias("vec"),
    )


_TFIDF_VECTORS_SQL = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS tokens
  FROM documents
), tfs AS (
  SELECT doc_id,
         list_transform(range(0, 64),
           i -> CAST(len(list_filter(tokens,
                t -> ('0x'||substring(md5(t),1,8))::BIGINT % 64 = i)) AS BIGINT)) AS tf
  FROM t
), buckets AS (
  SELECT unnest(range(0, 64)) AS bucket
), dfreq AS (
  SELECT b.bucket,
         (SELECT count(*) FROM tfs WHERE tf[CAST(b.bucket AS INT) + 1] > 0) AS dfc
  FROM buckets b
), n AS (SELECT count(*) AS nd FROM tfs),
idf AS (
  SELECT list(1024 * CAST(floor(log2(greatest((nd + 1) // (dfc + 1), 1))) AS BIGINT) ORDER BY bucket) AS w
  FROM dfreq, n
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       array_to_string(list_transform(range(1, 65),
                                      k -> CAST(tf[k] * w[k] AS VARCHAR)), '_') AS vec
FROM tfs, idf
"""


# ---------------------------------------------------------------------------
# q_topic_clusters — integer-exact k-means topic clustering over the hashed
# TF-IDF vectors (operators/topics.py): the no-encoder cluster-based
# curation loop. Seeds = 8 lowest-id docs' vectors, 2 Lloyd rounds with
# bigint floor-mean centroid updates; assignment is map-only (centroids
# re-enter as literals — zero corpus shuffle). Output is the bounded
# per-cell digest a mix policy consumes: doc count, dominant hashed term
# bucket, centroid mass. The oracle unrolls both rounds as CTE pairs with
# the identical integer arithmetic on the same TF-IDF CTE as
# q_tfidf_vectors.
# ---------------------------------------------------------------------------

_TOPIC_K = 8
_TOPIC_LLOYD = 2


def spark_topic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.topics import topic_clusters, topic_summary

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    assigned, cents = topic_clusters(
        docs, n_topics=_TOPIC_K, dim=64, lloyd_iterations=_TOPIC_LLOYD
    )
    return topic_summary(assigned, cents).orderBy("cell")


def _topic_clusters_sql() -> str:
    dist = (
        "list_sum(list_transform(range(1, 65), "
        "i -> (v.vec[i] - c.cvec[i]) * (v.vec[i] - c.cvec[i])))"
    )
    rounds = []
    prev = "c1"
    for r in range(1, _TOPIC_LLOYD + 1):
        nxt = f"c{r + 1}"
        rounds.append(
            """s{r} AS (
  SELECT v.doc_id, v.vec, c.cell, {dist} AS cdist
  FROM v, {prev} c
), a{r} AS (
  SELECT doc_id, vec, cell FROM (
    SELECT doc_id, vec, cell,
           row_number() OVER (PARTITION BY doc_id ORDER BY cdist ASC, cell ASC) AS rn
    FROM s{r}
  ) WHERE rn = 1
), u{r} AS (
  SELECT cell, i AS pos, vec[i] AS val FROM a{r}, range(1, 65) r{r}(i)
), m{r} AS (
  SELECT cell, pos, CAST(sum(val) AS BIGINT) // count(*) AS cv
  FROM u{r} GROUP BY cell, pos
), {nxt}p AS (
  SELECT cell, list(cv ORDER BY pos) AS cvec FROM m{r} GROUP BY cell
), {nxt} AS (
  SELECT {prev}.cell, COALESCE({nxt}p.cvec, {prev}.cvec) AS cvec
  FROM {prev} LEFT JOIN {nxt}p USING (cell)
)""".format(r=r, prev=prev, nxt=nxt, dist=dist)
        )
        prev = nxt
    return """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS tokens
  FROM documents
), tfs AS (
  SELECT doc_id,
         list_transform(range(0, 64),
           i -> CAST(len(list_filter(tokens,
                t -> ('0x'||substring(md5(t),1,8))::BIGINT % 64 = i)) AS BIGINT)) AS tf
  FROM t
), buckets AS (
  SELECT unnest(range(0, 64)) AS bucket
), dfreq AS (
  SELECT b.bucket,
         (SELECT count(*) FROM tfs WHERE tf[CAST(b.bucket AS INT) + 1] > 0) AS dfc
  FROM buckets b
), n AS (SELECT count(*) AS nd FROM tfs),
idf AS (
  SELECT list(1024 * CAST(floor(log2(greatest((nd + 1) // (dfc + 1), 1))) AS BIGINT) ORDER BY bucket) AS w
  FROM dfreq, n
), v AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         list_transform(range(1, 65), k -> least(tf[k] * w[k], 16777216)) AS vec
  FROM tfs, idf
), c1 AS (
  SELECT CAST(row_number() OVER (ORDER BY doc_id) AS INT) AS cell, vec AS cvec
  FROM (SELECT doc_id, vec FROM v ORDER BY doc_id LIMIT {k})
), {rounds}, sfin AS (
  SELECT v.doc_id, c.cell, {fdist} AS cdist
  FROM v, {fin} c
), af AS (
  SELECT doc_id, cell FROM (
    SELECT doc_id, cell,
           row_number() OVER (PARTITION BY doc_id ORDER BY cdist ASC, cell ASC) AS rn
    FROM sfin
  ) WHERE rn = 1
), cm AS (
  SELECT cell, i - 1 AS bucket, cvec[i] AS wv FROM {fin}, range(1, 65) rf(i)
), topb AS (
  SELECT cell, bucket AS top_bucket FROM (
    SELECT cell, bucket,
           row_number() OVER (PARTITION BY cell ORDER BY wv DESC, bucket ASC) AS rn
    FROM cm
  ) WHERE rn = 1
), mass AS (
  SELECT cell, CAST(sum(wv) AS BIGINT) AS cmass FROM cm GROUP BY cell
), cnt AS (
  SELECT cell, count(*) AS n_docs FROM af GROUP BY cell
)
SELECT CAST(cnt.cell AS BIGINT) AS cell,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(top_bucket AS BIGINT) AS top_bucket,
       CAST(cmass AS BIGINT) AS cmass
FROM cnt JOIN topb USING (cell) JOIN mass USING (cell)
ORDER BY cell
""".format(
        k=_TOPIC_K,
        rounds=", ".join(rounds),
        fin=prev,
        fdist=dist,
    )


_TOPIC_CLUSTERS_SQL = _topic_clusters_sql()


# ---------------------------------------------------------------------------
# q_cdc_chunks — content-defined chunking duplicate stats
# (operators/chunking.py:cdc_dup_stats): rsync/LBFS rolling boundaries
# (60-bit md5 of the last 4 tokens ≡ 0 mod 16 ends a chunk), so shifted
# near-copies re-synchronize and share chunks where fixed-offset passage/
# gram dedup loses alignment. The oracle replicates the window-lag gram,
# the running boundary sum, and the string_agg chunk reassembly 1:1.
# ---------------------------------------------------------------------------


def spark_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.chunking import cdc_dup_stats

    return cdc_dup_stats(_docs(spark, sf_dir), window=4, divisor=16)


_CDC_CHUNKS_SQL = """
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
), tok AS (
  SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos, unnest(toks) AS tok
  FROM t
), flg AS (
  SELECT doc_id, pos, tok,
         CASE WHEN pos >= 3 AND
              ('0x' || substring(md5(
                 lag(tok, 3) OVER w || chr(31) || lag(tok, 2) OVER w || chr(31) ||
                 lag(tok, 1) OVER w || chr(31) || tok), 1, 15))::BIGINT % 16 = 0
         THEN 1 ELSE 0 END AS flag
  FROM tok
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), cids AS (
  SELECT doc_id, pos, tok,
         COALESCE(sum(flag) OVER wp, 0) AS cid,
         COALESCE(max(CASE WHEN flag = 1 THEN pos END) OVER wp, -1) + 1 AS cstart
  FROM flg
  WINDOW wp AS (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), chunks AS (
  SELECT doc_id, cid,
         concat(
           CAST(sum(('0x' || substring(md5(
             CAST(pos - cstart AS VARCHAR) || chr(31) || tok), 1, 10))::BIGINT)
             AS VARCHAR),
           '_', CAST(count(*) AS VARCHAR)) AS chunk_hash
  FROM cids GROUP BY doc_id, cid
), freq AS (
  SELECT chunk_hash, count(*) AS n FROM chunks GROUP BY chunk_hash
), per_doc AS (
  SELECT c.doc_id, count(*) AS n_chunks,
         sum(CASE WHEN f.n >= 2 THEN 1 ELSE 0 END) AS dup_chunks
  FROM chunks c JOIN freq f USING (chunk_hash) GROUP BY c.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(p.n_chunks, 0) AS BIGINT) AS n_chunks,
       CAST(COALESCE(p.dup_chunks, 0) AS BIGINT) AS dup_chunks,
       CAST(COALESCE(1000000 * p.dup_chunks // p.n_chunks, 0) AS BIGINT) AS dup_micros
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


# ---------------------------------------------------------------------------
# q_fix_mojibake — UTF-8-decoded-as-cp1252 repair (functions/mojibake.py):
# the table-driven common-case form of the ftfy fix, one literal-replace
# chain (map-only codegen). The synthetic corpus is clean ASCII, so the
# query plants damage deterministically: every doc gets the same
# codec-computed mojibake suffix appended, and the repair must recover it
# exactly — repaired_chars counts the characters the fix removed (one per
# repaired 2-byte char, two per 3-byte char). The oracle applies the
# IDENTICAL chain (both engines' chains are generated from the same
# mojibake_pairs() table at import).
# ---------------------------------------------------------------------------

_MOJI_CLEAN_TAIL = " café — “naïve” … 3€"


def spark_fix_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.mojibake import _mojibake_of, fix_mojibake_col

    suffix = _mojibake_of(_MOJI_CLEAN_TAIL)
    corrupted = F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(suffix))
    df = _docs(spark, sf_dir).select("doc_id", corrupted.alias("_corrupted"))
    fixed = fix_mojibake_col(F.col("_corrupted"))
    return df.select(
        "doc_id",
        F.md5(fixed).alias("fixed_md5"),
        (F.length("_corrupted") - F.length(fixed))
        .cast("bigint")
        .alias("repaired_chars"),
    )


def _fix_mojibake_sql() -> str:
    from .functions.mojibake import _mojibake_of, mojibake_pairs

    def esc(s: str) -> str:
        return s.replace("'", "''")

    suffix = esc(_mojibake_of(_MOJI_CLEAN_TAIL))
    chain = "corrupted"
    for moji, fixed in mojibake_pairs():
        chain = "replace(%s, '%s', '%s')" % (chain, esc(moji), esc(fixed))
    return """
WITH c AS (
  SELECT doc_id, concat(coalesce(text, ''), '{suffix}') AS corrupted
  FROM documents
), f AS (
  SELECT doc_id, corrupted, {chain} AS fixed FROM c
)
SELECT doc_id,
       md5(fixed) AS fixed_md5,
       CAST(length(corrupted) - length(fixed) AS BIGINT) AS repaired_chars
FROM f
""".format(suffix=suffix, chain=chain)


_FIX_MOJIBAKE_SQL = _fix_mojibake_sql()


# ---------------------------------------------------------------------------
# q_dup_source_matrix — cross-source exact-duplicate matrix
# (operators/dedup.py:cross_source_dup_matrix): which sources duplicate
# into which. Skew-safe: the corpus collapses to one slim row per
# (text-hash, source) BEFORE the per-group self-join, so a universal
# boilerplate text fans out n_sources^2 rows, not group_size^2. Output
# bounded by n_sources^2.
# ---------------------------------------------------------------------------


def spark_dup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import cross_source_dup_matrix

    # the contract corpus has no exact full-text cross-source dups, so
    # the query clusters on a 20-char text prefix — deterministic planted
    # collisions (24 matrix rows at sf0.01) that exercise the grouping,
    # pair arithmetic, and both join sides instead of gating on 0 rows
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.substring(F.coalesce("text", F.lit("")), 1, 20).alias("text"),
        "source",
    )
    return cross_source_dup_matrix(docs)


_DUP_SOURCE_MATRIX_SQL = """
WITH per_src AS (
  SELECT md5(substring(coalesce(text, ''), 1, 20)) AS h,
         coalesce(source, '(null)') AS src, count(*) AS cnt
  FROM documents GROUP BY 1, 2
), j AS (
  SELECT a.src AS source_a, b.src AS source_b,
         CASE WHEN a.src = b.src THEN (a.cnt * (a.cnt - 1)) // 2
              ELSE a.cnt * b.cnt END AS pairs
  FROM per_src a JOIN per_src b USING (h)
  WHERE a.src <= b.src
)
SELECT source_a, source_b,
       CAST(count(*) AS BIGINT) AS dup_groups,
       CAST(sum(pairs) AS BIGINT) AS dup_pairs
FROM j WHERE pairs > 0
GROUP BY source_a, source_b
"""


# ---------------------------------------------------------------------------
# q_split_leakage — cross-split near-dup leakage audit: the QA pass behind
# group_split's existence. Verified near-dup pairs (the q_lsh_jaccard_pairs
# front end at >= 0.5 Jaccard) are joined to TWO split policies — 'row'
# (hash the doc id: the naive random split) and 'group' (hash the source:
# the contamination control) — and counted per (policy, split-pair).
# Cross-split rows under 'row' are exactly the train/test leakage a
# row-level split causes; 'group' rows demonstrate what the group policy
# prevents (within-source near-dups can never straddle splits). Output
# bounded: 2 policies x <= 6 split combinations.
# ---------------------------------------------------------------------------


def spark_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import (
        jaccard_verify,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from .operators.sampling import group_split

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text", "source"
    )
    sigs = minhash_signatures(docs, n_bands=1, band_rows=2)
    pairs = lsh_candidate_pairs(sigs, n_bands=1)
    # both policy branches join against the same verified pairs — persist
    # the slim (a, b) set so the LSH front end runs once, not per policy
    # (measured 8.6 -> 7.2 s at sf0.1; GC-managed lifetime, the queries()
    # convention)
    verified = (
        jaccard_verify(sigs, pairs, threshold_micros=500_000)
        .select("a", "b")
        .persist()
    )
    res = None
    for policy, gcol in (("row", "doc_id"), ("group", "source")):
        sp = group_split(docs, dict(_SPLIT_WIDTHS), group_col=gcol).select(
            "doc_id", "split"
        )
        j = verified.join(
            sp.select(F.col("doc_id").alias("a"), F.col("split").alias("sa")),
            "a",
        ).join(
            sp.select(F.col("doc_id").alias("b"), F.col("split").alias("sb")),
            "b",
        )
        agg = (
            j.select(
                F.least("sa", "sb").alias("split_a"),
                F.greatest("sa", "sb").alias("split_b"),
            )
            .groupBy("split_a", "split_b")
            .agg(F.count("*").cast("bigint").alias("pairs"))
            .withColumn("policy", F.lit(policy))
        )
        res = agg if res is None else res.unionByName(agg)
    return res.select("policy", "split_a", "split_b", "pairs")


_SPLIT_LEAKAGE_SQL = """
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tokens
  FROM documents
), s AS (
  SELECT doc_id,
         list_transform(
           list_transform(range(1, len(tokens) - 1),
                          i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]),
           x -> md5(x)) AS hashes
  FROM t
  WHERE len(tokens) >= 3
), m AS (
  SELECT doc_id,
         list_aggregate(list_transform(hashes, h -> substring(h, 1, 8)), 'min')
           || list_aggregate(list_transform(hashes, h -> substring(h, 9, 8)), 'min') AS band_0,
         list_distinct(hashes) AS sset
  FROM s
), vpairs AS (
  SELECT CAST(x.doc_id AS BIGINT) AS a, CAST(y.doc_id AS BIGINT) AS b
  FROM m x JOIN m y ON x.band_0 = y.band_0 AND x.doc_id < y.doc_id
  WHERE (CAST(len(list_intersect(x.sset, y.sset)) AS BIGINT) * 1000000)
        // (len(x.sset) + len(y.sset) - len(list_intersect(x.sset, y.sset)))
        >= 500000
), sp AS (
  SELECT CAST(doc_id AS BIGINT) AS id, policy,
         CASE WHEN hm < 800000 THEN 'train'
              WHEN hm < 900000 THEN 'val'
              ELSE 'test' END AS split
  FROM (
    SELECT doc_id, 'row' AS policy,
           ('0x' || substring(md5(CAST(CAST(doc_id AS BIGINT) AS VARCHAR)), 1, 8))::BIGINT
             % 1000000 AS hm
    FROM documents
    UNION ALL
    SELECT doc_id, 'group',
           ('0x' || substring(md5(source), 1, 8))::BIGINT % 1000000
    FROM documents
  )
)
SELECT sa.policy,
       least(sa.split, sb.split) AS split_a,
       greatest(sa.split, sb.split) AS split_b,
       CAST(count(*) AS BIGINT) AS pairs
FROM vpairs p
JOIN sp sa ON sa.id = p.a
JOIN sp sb ON sb.id = p.b AND sb.policy = sa.policy
GROUP BY 1, 2, 3
"""


SPARK_QUERIES = {
    "q_split_leakage": spark_split_leakage,
    "q_dup_source_matrix": spark_dup_source_matrix,
    "q_fix_mojibake": spark_fix_mojibake,
    "q_cdc_chunks": spark_cdc_chunks,
    "q_topic_clusters": spark_topic_clusters,
    "q_tfidf_vectors": spark_tfidf_vectors,
    "q_corpus_audit": spark_corpus_audit,
    "q_classify_scores": spark_classify_scores,
    "q_normalize_chain": spark_normalize_chain,
    "q_token_stats": spark_token_stats,
    "q_quality_langid": spark_quality_langid,
    "q_token_bpe": spark_token_bpe,
    "q_bpe_pair_counts": spark_bpe_pair_counts,
    "q_bloom_dedup": spark_bloom_dedup,
    "q_pack_sequences": spark_pack_sequences,
    "q_pii_scrub": spark_pii_scrub,
    "q_quality_funnel": spark_quality_funnel,
    "q_gopher_quality": spark_gopher_quality,
    "q_classifier_score": spark_classifier_score,
    "q_repetition_stats": spark_repetition_stats,
    "q_url_normalize": spark_url_normalize,
    "q_langid_ngram": spark_langid_ngram,
    "q_exact_dedup": spark_exact_dedup,
    "q_passage_dedup": spark_passage_dedup,
    "q_sample_mix": spark_sample_mix,
    "q_temperature_mix": spark_temperature_mix,
    "q_group_split": spark_group_split,
    "q_token_budget_mix": spark_token_budget_mix,
    "q_corpus_shuffle": spark_corpus_shuffle,
    "q_training_layout": spark_training_layout,
    "q_shard_assign": spark_shard_assign,
    "q_shuffled_shards": spark_shuffled_shards,
    "q_shuffled_shard_manifest": spark_shuffled_shard_manifest,
    "q_shard_manifest": spark_shard_manifest,
    "q_epoch_mix": spark_epoch_mix,
    "q_decontaminate": spark_decontaminate,
    "q_fingerprint": spark_fingerprint,
    "q_minhash": spark_minhash,
    "q_minhash128": spark_minhash128,
    "q_minhash128_pairs": spark_minhash128_pairs,
    "q_simhash": spark_simhash,
    "q_simhash_pairs": spark_simhash_pairs,
    "q_simhash64_pairs": spark_simhash64_pairs,
    "q_lsh_jaccard_pairs": spark_lsh_jaccard_pairs,
    "q_ann_lsh_buckets": spark_ann_lsh_buckets,
    "q_ann_topk": spark_ann_topk,
    "q_events_asof": spark_events_asof,
    "q_events_window_count": spark_events_window_count,
    "q_events_sessionize": spark_events_sessionize,
    "q_events_type_agg": spark_events_type_agg,
    "q_events_topk": spark_events_topk,
    "q_docs_events_join": spark_docs_events_join,
    "q_code_assign": spark_code_assign,
    "q_source_stats": spark_source_stats,
    "q_source_percentiles": spark_source_percentiles,
    "q_convert_pipeline": spark_convert_pipeline,
    "q_line_ops": spark_line_ops,
    "q_running_tokens": spark_running_tokens,
    "q_multizone": spark_multizone,
    "q_filename_format": spark_filename_format,
    "q_filename_quality": spark_filename_quality,
    "q_heading_context": spark_heading_context,
    "q_embed_neardup": spark_embed_neardup,
    "q_metadata_extract": spark_metadata_extract,
    "q_court_lookup": spark_court_lookup,
    "q_markdown_strip": spark_markdown_strip,
    "q_frontmatter": spark_frontmatter,
    "q_code_discovery": spark_code_discovery,
    "q_rename_pipeline": spark_rename_pipeline,
    "q_near_dedup": spark_near_dedup,
    "q_near_dedup_star": spark_near_dedup,
    "q_near_dedup_best": spark_near_dedup_best,
    "q_near_dedup_wide": spark_near_dedup_wide,
    "q_near_dedup_chain": spark_near_dedup_chain,
    "q_ivf_topk": spark_ivf_topk,
    "q_semantic_dedup": spark_semantic_dedup,
    "q_salted_host_agg": spark_salted_host_agg,
    "q_events_hourly": spark_events_hourly,
    "q_boilerplate": spark_boilerplate,
    "q_boilerplate_density": spark_boilerplate_density,
    "q_article_metadata": spark_article_metadata,
    "q_filename_index": spark_filename_index,
    "q_caselaw_metadata": spark_caselaw_metadata,
    "q_case_name_legacy": spark_case_name_legacy,
    "q_legacy_rename": spark_legacy_rename,
    "q_lm_quality": spark_lm_quality,
    "q_dsir_select": spark_dsir_select,
    "q_interleave_stats": spark_interleave_stats,
    "q_cms_topk": spark_cms_topk,
    "q_hll_distinct": spark_hll_distinct,
    "q_inverted_index": spark_inverted_index,
    "q_bm25_search": spark_bm25_search,
    "q_span_reflow": spark_span_reflow,
    "q_caption_pairs": spark_caption_pairs,
    "q_media_dedup": spark_media_dedup,
    "q_repeated_ngrams": spark_repeated_ngrams,
    "q_substr_removal": spark_substr_removal,
    "q_group_sample": spark_group_sample,
    "q_log_histogram": spark_log_histogram,
    "q_chunk_overlap": spark_chunk_overlap,
    "q_line_dedup": spark_line_dedup,
    "q_blocklist": spark_blocklist,
    "q_unigram_seed": spark_unigram_seed,
    "q_kcenter": spark_kcenter,
    "q_perceptron": spark_perceptron,
    "q_pq_topk": spark_pq_topk,
    "q_snapshot_diff": spark_snapshot_diff,
    "q_ivfpq_topk": spark_ivfpq_topk,
    "q_pagerank": spark_pagerank,
    "q_link_degrees": spark_link_degrees,
    "q_anchor_text": spark_anchor_text,
}

ORACLE_SQL = {
    "q_tfidf_vectors": _TFIDF_VECTORS_SQL,
    "q_topic_clusters": _TOPIC_CLUSTERS_SQL,
    "q_cdc_chunks": _CDC_CHUNKS_SQL,
    "q_fix_mojibake": _FIX_MOJIBAKE_SQL,
    "q_dup_source_matrix": _DUP_SOURCE_MATRIX_SQL,
    "q_split_leakage": _SPLIT_LEAKAGE_SQL,
    "q_corpus_audit": _CORPUS_AUDIT_SQL,
    "q_classify_scores": _CLASSIFY_SQL,
    "q_normalize_chain": _NORMALIZE_SQL,
    "q_token_stats": _TOKEN_STATS_SQL,
    "q_quality_langid": _QUALITY_SQL,
    "q_token_bpe": _TOKEN_BPE_SQL,
    "q_bpe_pair_counts": _BPE_PAIR_COUNTS_SQL,
    "q_bloom_dedup": _BLOOM_SQL,
    "q_pack_sequences": _PACK_SQL,
    "q_pii_scrub": _PII_SQL,
    "q_quality_funnel": _funnel_sql(),
    "q_gopher_quality": _GOPHER_QUALITY_SQL,
    "q_classifier_score": _CLASSIFIER_SCORE_SQL,
    "q_repetition_stats": _REPETITION_SQL,
    "q_url_normalize": _URL_NORMALIZE_SQL,
    "q_langid_ngram": _LANGID_SQL,
    "q_exact_dedup": _EXACT_DEDUP_SQL,
    "q_passage_dedup": _PASSAGE_DEDUP_SQL,
    "q_sample_mix": _SAMPLE_MIX_SQL,
    "q_temperature_mix": _TEMPERATURE_MIX_SQL,
    "q_group_split": _GROUP_SPLIT_SQL,
    "q_token_budget_mix": _TOKEN_BUDGET_SQL,
    "q_corpus_shuffle": _CORPUS_SHUFFLE_SQL,
    "q_training_layout": _TRAINING_LAYOUT_SQL,
    "q_shard_assign": _SHARD_SQL,
    "q_shuffled_shards": _SHUF_SHARDS_SQL,
    "q_shuffled_shard_manifest": _SHUF_SHARD_MANIFEST_SQL,
    "q_shard_manifest": _SHARD_MANIFEST_SQL,
    "q_epoch_mix": _EPOCH_MIX_SQL,
    "q_decontaminate": _DECONTAMINATE_SQL,
    "q_fingerprint": _FINGERPRINT_SQL,
    "q_minhash": _MINHASH_SQL,
    "q_minhash128": _MINHASH128_SQL,
    "q_minhash128_pairs": _MINHASH128_PAIRS_SQL,
    "q_simhash": _SIMHASH_SQL,
    "q_simhash_pairs": _SIMHASH_PAIRS_SQL,
    "q_simhash64_pairs": _SIMHASH64_PAIRS_SQL,
    "q_lsh_jaccard_pairs": _LSH_PAIRS_SQL,
    "q_ann_lsh_buckets": _ANN_LSH_SQL,
    "q_ann_topk": _ANN_SQL,
    "q_events_asof": _EVENTS_ASOF_SQL,
    "q_events_window_count": _EVENTS_WINDOW_COUNT_SQL,
    "q_events_sessionize": _SESSIONIZE_SQL,
    "q_events_type_agg": _EVENTS_AGG_SQL,
    "q_events_topk": _EVENTS_TOPK_SQL,
    "q_docs_events_join": _DOCS_EVENTS_JOIN_SQL,
    "q_code_assign": _CODE_ASSIGN_SQL,
    "q_source_stats": _SOURCE_STATS_SQL,
    "q_source_percentiles": _SOURCE_PCT_SQL,
    # golden oracles: sequential pure-Python execution of the same kernels,
    # committed as parquet (scripts/gen_goldens.py). The driver compares at
    # sf=0.01 (the default); evaluating the pair at another committed scale
    # factor selects its golden via SPARK_GRAFT_ORACLE_SF (e.g. "0.001") —
    # read at import because oracle_sql() is a static string contract.
    "q_convert_pipeline": _golden_sql("convert_sf%s.parquet" % _ORACLE_SF_TAG),
    "q_rename_pipeline": _golden_sql("rename_sf%s.parquet" % _ORACLE_SF_TAG),
    "q_line_ops": _LINE_OPS_SQL,
    "q_running_tokens": _RUNNING_SQL,
    "q_multizone": _MULTIZONE_SQL,
    "q_filename_format": _FILENAME_SQL,
    "q_filename_quality": _FILENAME_QUALITY_SQL,
    "q_heading_context": _HEADING_CTX_SQL,
    "q_embed_neardup": _NEARDUP_SQL,
    "q_metadata_extract": _METADATA_SQL,
    "q_court_lookup": _COURT_LOOKUP_SQL,
    "q_markdown_strip": _MARKDOWN_STRIP_SQL,
    "q_frontmatter": _FRONTMATTER_SQL,
    "q_code_discovery": _CODE_DISCOVERY_SQL,
    "q_near_dedup": _NEAR_DEDUP_SQL,
    "q_near_dedup_star": _NEAR_DEDUP_SQL,
    "q_near_dedup_best": _NEAR_DEDUP_BEST_SQL,
    "q_near_dedup_wide": _NEAR_DEDUP_WIDE_SQL,
    "q_near_dedup_chain": _NEAR_DEDUP_CHAIN_SQL,
    "q_ivf_topk": _IVF_SQL,
    "q_semantic_dedup": _SEMDEDUP_SQL,
    "q_salted_host_agg": _SALTED_HOST_SQL,
    "q_events_hourly": _EVENTS_HOURLY_SQL,
    "q_boilerplate": _BOILERPLATE_SQL,
    "q_boilerplate_density": _BOILERPLATE_DENSITY_SQL,
    "q_article_metadata": _ARTICLE_SQL,
    "q_filename_index": _FILENAME_INDEX_SQL,
    "q_caselaw_metadata": _CASELAW_META_SQL,
    "q_case_name_legacy": _CASE_NAME_SQL,
    "q_legacy_rename": _LEGACY_RENAME_SQL,
    "q_lm_quality": _LM_QUALITY_SQL,
    "q_dsir_select": _DSIR_SQL,
    "q_interleave_stats": _INTERLEAVE_SQL,
    "q_cms_topk": _CMS_SQL,
    "q_hll_distinct": _HLL_SQL,
    "q_inverted_index": _INVERTED_SQL,
    "q_bm25_search": _BM25_SQL,
    "q_span_reflow": _SPAN_REFLOW_SQL,
    "q_caption_pairs": _CAPTION_PAIRS_SQL,
    "q_media_dedup": _MEDIA_DEDUP_SQL,
    "q_repeated_ngrams": _REPEATED_NGRAMS_SQL,
    "q_substr_removal": _SUBSTR_REMOVAL_SQL,
    "q_group_sample": _GROUP_SAMPLE_SQL,
    "q_log_histogram": _LOG_HISTOGRAM_SQL,
    "q_chunk_overlap": _CHUNK_OVERLAP_SQL,
    "q_line_dedup": _LINE_DEDUP_SQL,
    "q_blocklist": _BLOCKLIST_SQL,
    "q_unigram_seed": _UNIGRAM_SEED_SQL,
    "q_kcenter": _KCENTER_SQL,
    "q_perceptron": _PERCEPTRON_SQL,
    "q_pq_topk": _PQ_SQL,
    "q_snapshot_diff": _SNAPSHOT_DIFF_SQL,
    "q_ivfpq_topk": _IVFPQ_SQL,
    "q_pagerank": _PAGERANK_SQL,
    "q_link_degrees": _LINK_DEGREES_SQL,
    "q_anchor_text": _ANCHOR_TEXT_SQL,
}
