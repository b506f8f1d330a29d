"""Hand-computed goldens for the Gopher quality/repetition filters and URL
canonicalization (operators/quality.py, functions/urls.py) — semantics
pinned independently of the DuckDB oracle parity tests."""

from pyspark.sql import functions as F

from modern_document_converter_for_ai_library_spark.functions.urls import (
    host_col,
    normalize_url_col,
)
from modern_document_converter_for_ai_library_spark.operators.quality import (
    gopher_quality_signals,
    ngram_repetition_stats,
)


def _rows(df):
    return {r[0]: r.asDict() for r in df.collect()}


def test_gopher_signals_hand_computed(spark):
    passing = " ".join(["the", "of"] + ["word"] * 58)  # 60 words, mean 3.93
    short = "the of tiny"
    symbols = " ".join(["##word"] * 60 + ["the", "of"])  # 2 hashes per token
    numeric = " ".join(["123"] * 58 + ["the", "of"])  # only 2/60 alpha words
    df = spark.createDataFrame(
        [(1, passing), (2, short), (3, symbols), (4, numeric)], ["doc_id", "text"]
    )
    out = _rows(gopher_quality_signals(df))

    assert out[1]["n_words"] == 60
    # (3+2+58*4)*1e6 // 60 = 3_950_000
    assert out[1]["mean_word_len_micros"] == 3_950_000
    assert out[1]["n_gopher_stopwords"] == 2
    assert out[1]["gopher_pass"] is True

    assert out[2]["n_words"] == 3 and out[2]["gopher_pass"] is False

    # 120 hashes over 62 words = 1.935../word >= 0.1 -> fail
    assert out[3]["symbol_ratio_micros"] == (120 * 1_000_000) // 62
    assert out[3]["gopher_pass"] is False

    assert out[4]["alpha_word_ratio_micros"] == (2 * 1_000_000) // 60
    assert out[4]["gopher_pass"] is False


def test_repetition_hand_computed(spark):
    # tokens [a b a b a b]: 2-grams 'a b'x3 + 'b a'x2, each len 3 ->
    # top = 9/15 chars; 5-grams 'a b a b a', 'b a b a b' once each -> dup 0
    rep = "a b a b a b"
    plain = "one two three four five six"
    single = "lonely"
    df = spark.createDataFrame(
        [(1, rep), (2, plain), (3, single)], ["doc_id", "text"]
    )
    out = _rows(ngram_repetition_stats(df))

    assert out[1]["top2_frac_micros"] == (9 * 1_000_000) // 15
    assert out[1]["dup5_frac_micros"] == 0
    assert out[1]["repetition_pass"] is False  # 600000 > 200000

    # all 2-grams distinct: top = max gram chars / total
    assert out[2]["dup5_frac_micros"] == 0
    assert out[2]["repetition_pass"] is True

    # too short for any gram -> zero fractions, passes
    assert out[3]["top2_frac_micros"] == 0
    assert out[3]["repetition_pass"] is True


def test_repetition_tie_break_lexicographic(spark):
    # 'b b' and 'a a' both occur twice ('b b' from the triple b run);
    # tie at count 2 -> lexicographically first gram 'a a' wins; both len 3
    # so the fraction is identical either way — use different-length tokens
    # to make the choice observable: 'zz zz' (5 chars) vs 'a a' (3 chars),
    # both count 2 -> 'a a' chosen -> hit = 2*3 = 6
    text = "a a a zz zz zz"
    # 2-grams: 'a a'x2, 'a zz', 'zz zz'x2 -> counts: a a=2, zz zz=2, a zz=1
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    out = _rows(ngram_repetition_stats(df))
    total = 2 * 3 + 2 * 5 + 1 * 4  # 20
    assert out[1]["top2_frac_micros"] == (6 * 1_000_000) // total


def _python_stage_free(df):
    """The executed plan has no Exchange and no Python evaluation node."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    for node in ("Exchange", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, node


def test_repetition_matches_oracle_sql(spark):
    """The JVM fold equals the DuckDB oracle (queries._REPETITION_SQL) row
    for row — gram-less docs, exact top-2 tie-breaks between grams of
    different lengths, unicode tokens, runs of spaces, empty/whitespace
    and null texts, repeated-run docs — and plans map-only, no Python."""
    import random

    import duckdb

    from modern_document_converter_for_ai_library_spark.queries import (
        _REPETITION_SQL,
    )

    rng = random.Random(7)
    vocab = ["a", "bb", "ccc", "zz", "the", "of", "x", "é", "日本", "👍🏽", "Zz"]
    rows = [
        (0, None),
        (1, ""),
        (2, "   "),
        (3, "lonely"),
        (4, "a b a b a b"),
        (5, "a a a zz zz zz"),  # tie 'a a' (3 chars) vs 'zz zz' (5)
        (6, "日本 日本 日本 é é é"),  # tie 'é é' vs '日本 日本'
        (7, "  zz   zz  zz a  a a   "),  # runs of spaces around a tie
    ]
    for i in range(8, 80):
        n = rng.randrange(0, 60)
        toks = [rng.choice(vocab) for _ in range(n)]
        if rng.random() < 0.5 and n >= 5:  # plant a repeated 5-gram run
            run = toks[:5]
            toks = run + toks + run
        sep = " " * rng.choice([1, 1, 2, 3])
        rows.append((i, sep.join(toks)))
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = sorted(tuple(r) for r in ngram_repetition_stats(df).collect())

    con = duckdb.connect()
    con.register("documents", df.toPandas())
    want = sorted(con.execute(_REPETITION_SQL).fetchall())
    con.close()
    assert got == want

    _python_stage_free(ngram_repetition_stats(df))


def test_url_normalize_hand_cases(spark):
    cases = [
        # (raw, expected_norm, expected_host)
        ("HTTP://WWW.Example.COM:80/Path/One?utm_source=x&q=1#frag",
         "http://www.example.com/Path/One?q=1", "www.example.com"),
        ("https://Site.Org:443?utm_campaign=z&gclid=1&fbclid=2",
         "https://site.org/", "site.org"),
        ("https://site.org:8080/keep?a=1&b=2",
         "https://site.org:8080/keep?a=1&b=2", "site.org"),
        ("http://host.net/",
         "http://host.net/", "host.net"),
        ("http://host.net:443/x",  # 443 NOT default for http -> kept
         "http://host.net:443/x", "host.net"),
        ("https://h.io/p?utm_a=1&keep=2&utm_b=3&z=9",
         "https://h.io/p?keep=2&z=9", "h.io"),
    ]
    df = spark.createDataFrame(
        [(i, c[0]) for i, c in enumerate(cases)], ["i", "url"]
    )
    out = {
        r["i"]: (r["norm"], r["host"])
        for r in df.select(
            "i",
            normalize_url_col(F.col("url")).alias("norm"),
            host_col(F.col("url")).alias("host"),
        ).collect()
    }
    for i, (_, want_norm, want_host) in enumerate(cases):
        assert out[i] == (want_norm, want_host), (i, out[i])


def test_stratified_sample_properties(spark):
    from modern_document_converter_for_ai_library_spark.operators.sampling import (
        stratified_sample,
    )

    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(400)],
        ["doc_id", "source"],
    )

    def kept(rates, salt=""):
        out = stratified_sample(df, rates, salt=salt)
        return {r["doc_id"] for r in out.filter("sampled").collect()}

    k10 = kept({"a": 100_000, "b": 0})
    k30 = kept({"a": 300_000, "b": 0})
    # monotone: raising a rate only ADDS documents
    assert k10 <= k30
    # rate 0 keys contribute nothing
    assert all(d % 2 == 0 for d in k30)
    # roughly proportional (hash uniformity; 200 'a' docs, wide tolerance)
    assert 5 <= len(k10) <= 45 and 35 <= len(k30) <= 90
    # salt decorrelates: same rates, different salt -> different sample
    assert kept({"a": 300_000, "b": 0}, salt="s2") != k30
    # absent key falls back to default_micros
    out = stratified_sample(df, {"a": 0}, default_micros=1_000_000)
    bs = {r["doc_id"] for r in out.filter("sampled").collect()}
    assert bs == {i for i in range(400) if i % 2 == 1}


def test_stratified_sample_rejects_bad_rate(spark):
    import pytest as _pytest

    from modern_document_converter_for_ai_library_spark.operators.sampling import (
        stratified_sample,
    )

    df = spark.createDataFrame([(1, "a")], ["doc_id", "source"])
    with _pytest.raises(ValueError):
        stratified_sample(df, {"a": 2_000_000})


def test_scrub_pii_hand_cases(spark):
    from modern_document_converter_for_ai_library_spark.operators.pii import (
        scrub_pii,
    )

    cases = [
        (0, "mail me at jane.doe+x@sub.example.org today",
         "mail me at <EMAIL> today", dict(n_email=1)),
        (1, "ssn 123-45-6789 phone 555-123-4567 ip 192.168.0.1",
         "ssn <SSN> phone <PHONE> ip <IP>",
         dict(n_ssn=1, n_phone=1, n_ip=1)),
        # ordering: the SSN shape must NOT be half-eaten by the phone rule
        (2, "id 111-22-3333 and 999.888.7777x",
         "id <SSN> and 999.888.7777x", dict(n_ssn=1, n_phone=0)),
        (3, "version 1.2.3.4 of the spec", "version <IP> of the spec",
         dict(n_ip=1)),  # known overreach of the bare IPv4 shape
        (4, "nothing sensitive here", "nothing sensitive here", {}),
    ]
    df = spark.createDataFrame([(i, t) for i, t, *_ in cases], ["doc_id", "text"])
    out = {r["doc_id"]: r.asDict() for r in scrub_pii(df).collect()}
    for i, _, want_text, want_counts in cases:
        assert out[i]["text_scrubbed"] == want_text, out[i]["text_scrubbed"]
        for k, v in want_counts.items():
            assert out[i][k] == v, (i, k, out[i][k])


def test_classifier_score_vocab_and_hashing(spark):
    import hashlib

    from modern_document_converter_for_ai_library_spark.operators.quality import (
        classifier_score,
    )

    docs = spark.createDataFrame(
        [
            (1, "good good prose here"),
            (2, "spam spam spam"),
            (3, ""),  # zero tokens -> score == bias
        ],
        ["doc_id", "text"],
    )
    vocab = spark.createDataFrame(
        [("good", 300_000), ("spam", -400_000), ("prose", 100_000)],
        ["token", "weight_micros"],
    )
    out = {
        r["doc_id"]: r
        for r in classifier_score(
            docs, weights=vocab, bias_micros=50_000, threshold_micros=0
        ).collect()
    }
    # 2*good + prose + here(OOV=0) + bias = 600k+100k+0+50k
    assert out[1]["score_micros"] == 750_000 and out[1]["keep"]
    assert out[2]["score_micros"] == 3 * -400_000 + 50_000 and not out[2]["keep"]
    assert out[3]["score_micros"] == 50_000 and out[3]["n_tokens"] == 0

    # hashing-trick path equals an independent pure-Python evaluation
    def w(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % 1000001 - 500000

    hashed = {
        r["doc_id"]: r for r in classifier_score(docs).collect()
    }
    assert hashed[1]["score_micros"] == sum(
        w(t) for t in "good good prose here".split()
    )
    assert hashed[3]["score_micros"] == 0


def test_classifier_score_duplicate_vocab_rows(spark):
    from modern_document_converter_for_ai_library_spark.operators.quality import (
        classifier_score,
    )

    docs = spark.createDataFrame([(1, "good day")], ["doc_id", "text"])
    vocab = spark.createDataFrame(
        [("good", 100_000), ("good", 50_000)], ["token", "weight_micros"]
    )
    out = classifier_score(docs, weights=vocab).collect()[0]
    # duplicate rows SUM (linear-model composition); the join must not
    # fan out the token row, so n_tokens stays the true count
    assert out["score_micros"] == 150_000
    assert out["n_tokens"] == 2


def test_quality_funnel_streams_with_batch_parity(spark):
    """The fused funnel is stateless map-only columns, so it composes
    directly onto a file stream — micro-batch output must equal the batch
    funnel on the same rows (the shape a continuously-ingested corpus
    quality gate runs at)."""
    import os
    import shutil
    import tempfile

    from modern_document_converter_for_ai_library_spark.operators.quality import (
        quality_funnel,
    )
    from modern_document_converter_for_ai_library_spark.queries import STOPWORDS

    rows = [
        (1, " ".join(["the", "of"] + ["word"] * 58)),
        (2, "the of tiny"),
        (3, "a b a b a b"),
        (4, None),
    ]
    src = tempfile.mkdtemp(prefix="qfstream_src_")
    out = tempfile.mkdtemp(prefix="qfstream_out_")
    ckpt = tempfile.mkdtemp(prefix="qfstream_ckpt_")
    try:
        batch_df = spark.createDataFrame(rows, "doc_id bigint, text string")
        batch_df.coalesce(1).write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema("doc_id bigint, text string").parquet(src)
        q = (
            quality_funnel(stream, langid_stopwords=STOPWORDS)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(
            spark.read.parquet(out).collect(), key=lambda r: r["doc_id"]
        )
        want = sorted(
            quality_funnel(batch_df, langid_stopwords=STOPWORDS).collect(),
            key=lambda r: r["doc_id"],
        )
        assert got == want
        # doc 1's 58 repeated 'word' tokens fail the repetition gate
        # (top 2-gram 'word word' dominates); the rest fail gopher first
        assert [r["first_failed_rule"] for r in got] == [
            "repetition",
            "gopher",
            "gopher",
            "gopher",
        ]
    finally:
        for d in (src, out, ckpt):
            shutil.rmtree(d, ignore_errors=True)


def test_budget_sample_properties(spark):
    from pyspark.sql import Window
    from modern_document_converter_for_ai_library_spark.operators.sampling import (
        budget_sample,
        hash_micros_col,
    )

    rows = [
        (i, "a" if i % 2 == 0 else "b", " ".join(["w"] * (5 + i % 17)))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])

    def kept(budgets, **kw):
        out = budget_sample(df, budgets, **kw)
        return {r["doc_id"] for r in out.filter("kept").collect()}

    # two-phase bucketed cumsum == the naive single global window per source
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    w = (
        Window.partitionBy("source")
        .orderBy("hash_micros", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    naive = (
        df.select(
            "doc_id",
            "source",
            F.size(toks).cast("bigint").alias("n_tokens"),
            hash_micros_col().alias("hash_micros"),
        )
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .withColumn("kept", F.col("cum_tokens") <= F.lit(300))
    )
    got = (
        budget_sample(df, {"a": 300, "b": 300})
        .select(naive.columns)
        .orderBy("doc_id")
        .collect()
    )
    want = naive.orderBy("doc_id").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]

    # n_buckets does not change the result (only the partitioning)
    assert kept({"a": 300, "b": 150}, n_buckets=1) == kept(
        {"a": 300, "b": 150}, n_buckets=64
    )

    # monotone in the budget: raising it only ADDS documents
    k_small = kept({"a": 300}, default_budget=0)
    k_big = kept({"a": 900}, default_budget=0)
    assert k_small <= k_big and len(k_big) > len(k_small)

    # zero budget keeps nothing; absent key falls back to default_budget
    assert kept({"a": 0, "b": 0}) == set()
    assert kept({}, default_budget=10**9) == {i for i in range(200)}

    # prefix semantics: the first doc past the budget is dropped and no
    # later (smaller) doc backfills — every kept doc's cum_tokens <= budget
    # and the kept set is exactly a prefix of the hash order
    out = budget_sample(df, {"a": 777, "b": 0}).collect()
    a_rows = sorted(
        (r for r in out if r["source"] == "a"),
        key=lambda r: (r["hash_micros"], r["doc_id"]),
    )
    flags = [r["kept"] for r in a_rows]
    assert flags == sorted(flags, reverse=True)  # True...True False...False
    assert all(r["cum_tokens"] <= 777 for r in a_rows if r["kept"])

    import pytest as _pytest

    with _pytest.raises(ValueError):
        budget_sample(df, {"a": -1})


def test_epoch_budget_sample_properties(spark):
    from modern_document_converter_for_ai_library_spark.operators.sampling import (
        budget_sample,
        epoch_budget_sample,
    )

    rows = [
        (i, "a" if i % 2 == 0 else "b", " ".join(["w"] * (5 + i % 17)))
        for i in range(100)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    mass = {
        r["source"]: r["t"]
        for r in df.groupBy("source")
        .agg(
            F.sum(F.size(F.split("text", " "))).alias("t")
        )
        .collect()
    }

    # sub-mass budget: degenerates to budget_sample's kept set, all epoch 0
    out = epoch_budget_sample(df, {"a": 300}, default_budget=0).collect()
    assert all(r["epoch"] == 0 for r in out)
    base = {
        r["doc_id"]
        for r in budget_sample(df, {"a": 300}, default_budget=0)
        .filter("kept")
        .collect()
    }
    assert {r["doc_id"] for r in out} == base

    # super-mass budget: n_full full epochs of EVERY source-a doc plus a
    # prefix remainder; emitted token mass never exceeds the budget and
    # the first dropped document would overflow it
    budget = mass["a"] * 2 + 137
    out = epoch_budget_sample(df, {"a": budget}, default_budget=0).collect()
    a_docs = [r for r in rows if r[1] == "a"]
    for ep in (0, 1):
        assert sum(1 for r in out if r["epoch"] == ep) == len(a_docs)
    emitted = sum(r["n_tokens"] for r in out)
    assert emitted <= budget
    last_epoch = [r for r in out if r["epoch"] == 2]
    assert last_epoch  # the remainder prefix is non-empty (137 > min doc)
    dropped_cums = sorted(
        r["cum_tokens"]
        for r in epoch_budget_sample(df, {"a": budget}).collect()
        if r["epoch"] == 2
    )
    # every emitted remainder doc fits inside the remainder budget
    assert all(c <= 137 for c in dropped_cums)


def test_group_split_properties(spark):
    import pytest as _pytest

    from modern_document_converter_for_ai_library_spark.operators.sampling import (
        group_split,
    )

    rows = [(i, f"host{i % 37}") for i in range(600)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    widths = {"train": 800_000, "val": 100_000, "test": 100_000}
    out = group_split(df, widths).collect()

    # leakage safety: every group lands wholly in ONE split
    by_group = {}
    for r in out:
        by_group.setdefault(r["source"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_group.values())
    assert {r["split"] for r in out} <= {"train", "val", "test"}

    # deterministic across materializations / partitionings
    again = group_split(df.repartition(7), widths).collect()
    assert {(r["doc_id"], r["split"]) for r in again} == {
        (r["doc_id"], r["split"]) for r in out
    }

    # re-proportioning a LATER interval never moves anything out of train:
    # growing test at val's expense keeps every train group in train
    moved = group_split(
        df, {"train": 800_000, "val": 50_000, "test": 150_000}
    ).collect()
    train_before = {r["doc_id"] for r in out if r["split"] == "train"}
    train_after = {r["doc_id"] for r in moved if r["split"] == "train"}
    assert train_before == train_after

    # contract: widths must cover [0, 1e6) exactly
    with _pytest.raises(ValueError):
        group_split(df, {"train": 500_000})

    # map-only: zero Exchange in the executed plan
    plan = (
        group_split(df, widths)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_shard_assign_properties(spark):
    import hashlib

    from modern_document_converter_for_ai_library_spark.operators.sampling import (
        shard_assign,
        shard_manifest,
    )

    rows = [
        (i, "a" if i % 2 == 0 else "b", " ".join(["w"] * (5 + i % 17)))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    width = 60
    got = {
        r["doc_id"]: r for r in shard_assign(df, width).collect()
    }

    # pure-Python twin: lay out per source in (hash_micros, id) order and
    # assign by start offset
    def hm(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 1_000_000

    docs = [(i, s, len(t.split())) for i, s, t in rows]
    for src in ("a", "b"):
        cum = 0
        for i, s, n in sorted(
            (d for d in docs if d[1] == src), key=lambda d: (hm(d[0]), d[0])
        ):
            assert got[i]["shard_id"] == cum // width, i
            cum += n
            assert got[i]["cum_tokens"] == cum, i

    # pure function of row values: identical under any partitioning and
    # a different bucket count (two-phase == two-phase with 1 bucket ==
    # the naive single window)
    a = sorted(map(tuple, shard_assign(df, width).collect()))
    b = sorted(map(tuple, shard_assign(df.repartition(7), width).collect()))
    c = sorted(map(tuple, shard_assign(df, width, n_buckets=1).collect()))
    assert a == b == c

    # manifest: masses sum to the corpus total; every shard's actual mass
    # is bounded by width + max_doc_tokens - 1 (start-offset semantics)
    man = shard_manifest(shard_assign(df, width)).collect()
    total = sum(n for _, _, n in docs)
    assert sum(r["shard_token_count"] for r in man) == total
    max_doc = max(n for _, _, n in docs)
    for r in man:
        assert r["shard_token_count"] < width + max_doc, r
    assert shard_assign(df, width).count() == len(rows)


def test_shard_assign_oversize_doc_skips_ids(spark):
    from modern_document_converter_for_ai_library_spark.operators.sampling import (
        shard_assign,
    )
    import pytest as _pytest

    # one document wider than several shards: it owns the shard its start
    # falls in, and later documents resume at start-offset ids — ids skip,
    # stay monotone in layout order, and the doc is never split
    rows = [
        (1, "a", " ".join(["w"] * 10)),
        (2, "a", " ".join(["w"] * 95)),
        (3, "a", " ".join(["w"] * 10)),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = sorted(
        shard_assign(df, 20).collect(), key=lambda r: r["cum_tokens"]
    )
    starts = [r["cum_tokens"] - r["n_tokens"] for r in out]
    assert [r["shard_id"] for r in out] == [s // 20 for s in starts]
    ids = [r["shard_id"] for r in out]
    assert ids == sorted(ids)
    # each doc appears exactly once
    assert len({r["doc_id"] for r in out}) == 3

    with _pytest.raises(ValueError):
        shard_assign(df, 0)


def test_null_text_counts_zero_tokens_in_sampling(spark):
    """Under ANSI, size(NULL) is NULL: a null-text document still counts 0
    tokens, gets a shard id and a boolean budget verdict, and takes its
    copies in every epoch."""
    from modern_document_converter_for_ai_library_spark.operators.sampling import (
        budget_sample,
        epoch_budget_sample,
        shard_assign,
    )
    import collections

    rows = [(1, "a", "w w"), (2, "a", None), (3, "a", "x x x")]
    df = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    shards = {r["doc_id"]: r for r in shard_assign(df, 2).collect()}
    assert shards[2]["n_tokens"] == 0
    assert all(
        r["cum_tokens"] is not None and r["shard_id"] is not None
        for r in shards.values()
    )
    mixed = {r["doc_id"]: r for r in budget_sample(df, {"a": 100}).collect()}
    assert mixed[2]["n_tokens"] == 0
    assert mixed[2]["kept"] is True
    # token mass 5, budget 10: exactly two full epochs of every document
    epochs = epoch_budget_sample(df, {"a": 10}, default_budget=0).collect()
    assert collections.Counter(r["doc_id"] for r in epochs) == {1: 2, 2: 2, 3: 2}


def test_epoch_budget_exact_multiple_no_zero_token_extra_copy(spark):
    # budget == exact multiple of the source's token mass: remainder is
    # 0, so NO partial epoch may be emitted — a leading zero-token doc
    # (inclusive cum_tokens = 0) must not pick up an extra copy via
    # 0 <= 0 (mirrors budget_sample's thr > 0 guard)
    from modern_document_converter_for_ai_library_spark.operators.sampling import (
        epoch_budget_sample,
    )
    import collections

    rows = [(1, "a", ""), (2, "a", "w w w"), (3, "a", "x x")]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    mass = 5  # 0 + 3 + 2 tokens
    for n_epochs in (1, 2):
        out = epoch_budget_sample(
            df, {"a": mass * n_epochs}, default_budget=0
        ).collect()
        per_doc = collections.Counter(r["doc_id"] for r in out)
        assert per_doc == {1: n_epochs, 2: n_epochs, 3: n_epochs}
        assert {r["epoch"] for r in out} == set(range(n_epochs))


def test_quality_funnel_carry_is_map_only(spark):
    """carry= passes input columns through the one-scan funnel so
    survivor selection needs no join-back Exchange; verdict values are
    identical with and without carry."""
    from modern_document_converter_for_ai_library_spark.operators.quality import (
        quality_funnel,
    )
    from modern_document_converter_for_ai_library_spark.queries import STOPWORDS

    rows = [
        (1, "a", "the quick brown fox of the barn and some to words in here "
                 "the quick brown fox of the barn and some to words in here"),
        (2, "b", "@@ ##"),
        (3, "c", ""),  # zero tokens: null stopword ratio, not a crash
        (4, "d", "   "),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    plain = {
        r["doc_id"]: (r["keep"], r["first_failed_rule"])
        for r in quality_funnel(df, STOPWORDS).collect()
    }
    carried = quality_funnel(df, STOPWORDS, carry=["source", "text"])
    got = carried.collect()
    assert {r["doc_id"]: (r["keep"], r["first_failed_rule"]) for r in got} == plain
    assert {r["doc_id"]: r["source"] for r in got} == {
        1: "a", 2: "b", 3: "c", 4: "d"
    }
    assert plain[3] == plain[4] == (False, "gopher")
    # map-only, no Python: no Exchange anywhere in the survivor-selection
    # plan and no Python evaluation node
    survivors = carried.filter("keep").select("doc_id", "source", "text")
    _python_stage_free(survivors)
    # carry=[id_col] duplicates nothing
    assert quality_funnel(df, STOPWORDS, carry=["doc_id"]).columns.count("doc_id") == 1


def test_quality_langid_zero_token_docs_match_oracle(spark, tmp_path):
    """Empty and whitespace-only documents have zero tokens: the stopword
    ratio is null (DuckDB's ``x // 0``) and the language 'unknown' —
    under ANSI mode a ``% 0`` would fail the whole query instead."""
    import duckdb

    from modern_document_converter_for_ai_library_spark.queries import (
        _QUALITY_SQL,
        spark_quality_langid,
    )

    rows = [
        (1, "the cat and the dog of the house sat with them " * 3),
        (2, "lorem ipsum"),
        (3, ""),
        (4, "   "),
        (5, None),
    ]
    spark.createDataFrame(rows, "doc_id bigint, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    got = sorted(
        tuple(r) for r in spark_quality_langid(spark, str(tmp_path)).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet('%s/*.parquet')"
        % (tmp_path / "documents.parquet")
    )
    want = sorted(con.execute(_QUALITY_SQL).fetchall())
    con.close()
    assert got == want
    by_id = {r[0]: r for r in got}
    assert by_id[3][3] is None and by_id[3][4] == "unknown"
    assert by_id[4][3] is None and by_id[4][4] == "unknown"
