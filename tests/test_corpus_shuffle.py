"""Deterministic global training-order shuffle
(operators/sampling.py:corpus_shuffle): exact 0-based rank in the seeded
(shuffle_key, id) permutation — 60-bit truncated-md5 key (VERDICT r4:
the old mod-1e6 hash_micros key degenerated into id-sorted tie runs at
corpus scale) — via the two-phase bucketed form: python twin, permutation
validity, partitioning invariance, salt independence, tie-run scatter,
and the no-global-window plan shape."""

import hashlib

import pytest
from pyspark.sql import functions as F

from modern_document_converter_for_ai_library_spark.operators.sampling import (
    corpus_shuffle,
)

N = 500


def _hm(doc_id, salt=""):
    """The OLD mod-1e6 rank key (still the samplers' threshold key)."""
    h = hashlib.md5((str(doc_id) + salt).encode()).hexdigest()
    return int(h[:8], 16) % 1_000_000


def _hk60(doc_id, salt=""):
    """The shuffle's 60-bit rank key (sampling.shuffle_key_col)."""
    h = hashlib.md5((str(doc_id) + salt).encode()).hexdigest()
    return int(h[:15], 16)


def _expected_ranks(ids, salt=""):
    order = sorted(ids, key=lambda i: (_hk60(i, salt), i))
    return {i: r for r, i in enumerate(order)}


@pytest.fixture(scope="module")
def docs(spark):
    return spark.range(N).select(F.col("id").alias("doc_id"))


def test_matches_python_twin(spark, docs):
    got = {
        r["doc_id"]: r["shuffle_rank"]
        for r in corpus_shuffle(docs, salt="s1").collect()
    }
    assert got == _expected_ranks(range(N), "s1")


def test_is_a_permutation(spark, docs):
    ranks = [r["shuffle_rank"] for r in corpus_shuffle(docs).collect()]
    assert sorted(ranks) == list(range(N))


def test_partitioning_invariance(spark, docs):
    a = {
        r["doc_id"]: r["shuffle_rank"]
        for r in corpus_shuffle(docs.repartition(7), salt="x").collect()
    }
    b = {
        r["doc_id"]: r["shuffle_rank"]
        for r in corpus_shuffle(docs.repartition(2), salt="x").collect()
    }
    assert a == b


def test_bucket_count_does_not_change_permutation(spark, docs):
    a = {
        r["doc_id"]: r["shuffle_rank"]
        for r in corpus_shuffle(docs, salt="x", n_buckets=8).collect()
    }
    b = {
        r["doc_id"]: r["shuffle_rank"]
        for r in corpus_shuffle(docs, salt="x", n_buckets=512).collect()
    }
    assert a == b


def test_salt_changes_permutation(spark, docs):
    a = [r["shuffle_rank"] for r in corpus_shuffle(docs, salt="a").orderBy("doc_id").collect()]
    b = [r["shuffle_rank"] for r in corpus_shuffle(docs, salt="b").orderBy("doc_id").collect()]
    assert a != b  # both are permutations of 0..N-1, but different ones


def test_invalid_buckets_raise(spark, docs):
    with pytest.raises(ValueError, match="n_buckets"):
        corpus_shuffle(docs, n_buckets=0)


def test_micro_key_tie_runs_scatter(spark):
    """The VERDICT r4 regression pin: plant id-adjacent docs that COLLIDE
    under the old mod-1e6 key (forced ties — at corpus scale every micro
    value carries ~n/1e6 such docs) and assert the shuffle scatters them
    instead of emitting them as consecutive id-sorted runs."""
    pool = 6000
    by_micro: dict[int, list[int]] = {}
    for i in range(pool):
        by_micro.setdefault(_hm(i, "tie"), []).append(i)
    groups = [g for g in by_micro.values() if len(g) >= 2]
    assert len(groups) >= 5  # birthday bound: ~18 expected collisions
    docs = spark.range(pool).select(F.col("id").alias("doc_id"))
    ranks = {
        r["doc_id"]: r["shuffle_rank"]
        for r in corpus_shuffle(docs, salt="tie").collect()
    }
    assert ranks == _expected_ranks(range(pool), "tie")
    # under the old key every group occupied consecutive ranks in id
    # order; under the 60-bit key each member lands at an independent
    # position — no group may sit in one contiguous id-ordered run
    contiguous_id_runs = sum(
        1
        for g in groups
        if max(ranks[i] for i in g) - min(ranks[i] for i in g)
        == len(g) - 1
        and [ranks[i] for i in sorted(g)]
        == sorted(ranks[i] for i in g)
    )
    assert contiguous_id_runs == 0
    # and the typical group spans a macroscopic slice of the permutation
    spreads = [
        max(ranks[i] for i in g) - min(ranks[i] for i in g) for g in groups
    ]
    assert max(spreads) > pool // 4


def test_auto_bucket_sizing(spark, docs):
    """n_buckets=None derives ceil(n / 4e6) clamped to [32, 2^20] from a
    corpus count; the permutation is identical to any explicit choice."""
    from modern_document_converter_for_ai_library_spark.operators import (
        sampling as S,
    )

    assert max(32, min(1 << 20, -(-10**12 // S._SHUFFLE_ROWS_PER_BUCKET))) == 250000
    auto = {
        r["doc_id"]: r["shuffle_rank"]
        for r in corpus_shuffle(docs, salt="x").collect()
    }
    explicit = {
        r["doc_id"]: r["shuffle_rank"]
        for r in corpus_shuffle(docs, salt="x", n_buckets=512).collect()
    }
    assert auto == explicit


def _twin_shuffled_shards(rows, shard_tokens, salt=""):
    """Python twin of shuffled_shard_assign: rows = [(doc_id, text)]."""
    order = sorted(rows, key=lambda r: (_hk60(r[0], salt), r[0]))
    out, cum = {}, 0
    for rank, (i, text) in enumerate(order):
        n = len([t for t in (text or "").split(" ") if t])
        cum += n
        out[i] = (n, rank, cum, (cum - n) // shard_tokens)
    return out


@pytest.fixture(scope="module")
def token_docs(spark):
    rows = [(i, " ".join(f"w{i}_{j}" for j in range(1 + i % 7))) for i in range(N)]
    # a null text counts 0 tokens; it must not null its cum_tokens/shard_id
    rows[5] = (5, None)
    return rows, spark.createDataFrame(rows, "doc_id bigint, text string")


def test_shuffled_shards_match_python_twin(spark, token_docs):
    from modern_document_converter_for_ai_library_spark.operators.sampling import (
        shuffled_shard_assign,
    )

    rows, df = token_docs
    got = {
        r["doc_id"]: (
            r["n_tokens"],
            r["shuffle_rank"],
            r["cum_tokens"],
            r["shard_id"],
        )
        for r in shuffled_shard_assign(df, 40, salt="s").collect()
    }
    assert got == _twin_shuffled_shards(rows, 40, "s")


def test_shuffled_shards_compose_corpus_shuffle(spark, token_docs):
    """shuffle_rank from the fused pass IS corpus_shuffle's rank, and
    shards are rank-contiguous prefixes of the shuffled order."""
    from modern_document_converter_for_ai_library_spark.operators.sampling import (
        shuffled_shard_assign,
        shuffled_shard_manifest,
    )

    rows, df = token_docs
    fused = shuffled_shard_assign(df, 40, salt="s", n_buckets=16)
    ranks = {
        r["doc_id"]: r["shuffle_rank"] for r in fused.collect()
    }
    standalone = {
        r["doc_id"]: r["shuffle_rank"]
        for r in corpus_shuffle(
            df.select("doc_id"), salt="s", n_buckets=64
        ).collect()
    }
    assert ranks == standalone
    man = shuffled_shard_manifest(fused).collect()
    for r in man:
        assert r["max_rank"] - r["min_rank"] + 1 == r["n_docs"]
    spans = sorted((r["min_rank"], r["max_rank"]) for r in man)
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert lo == hi + 1  # shards tile the permutation


def test_shuffled_shards_partitioning_invariance(spark, token_docs):
    from modern_document_converter_for_ai_library_spark.operators.sampling import (
        shuffled_shard_assign,
    )

    rows, df = token_docs
    a = {
        tuple(r)
        for r in shuffled_shard_assign(
            df.repartition(7), 40, salt="s", n_buckets=8
        ).collect()
    }
    b = {
        tuple(r)
        for r in shuffled_shard_assign(
            df.repartition(3), 40, salt="s", n_buckets=128
        ).collect()
    }
    assert a == b


def test_shuffled_shards_invalid_args(spark, token_docs):
    from modern_document_converter_for_ai_library_spark.operators.sampling import (
        shuffled_shard_assign,
    )

    _, df = token_docs
    with pytest.raises(ValueError, match="shard_tokens"):
        shuffled_shard_assign(df, 0)
    with pytest.raises(ValueError, match="n_buckets"):
        shuffled_shard_assign(df, 40, n_buckets=-1)


def test_shuffled_shards_plan_shape(spark, token_docs):
    """Same no-corpus-wide-window contract as corpus_shuffle: the only
    unpartitioned window is the bounded per-bucket offsets prefix sum."""
    from test_plan_audit import _unpartitioned_windows

    from modern_document_converter_for_ai_library_spark.operators.sampling import (
        shuffled_shard_assign,
    )

    _, df = token_docs
    out = shuffled_shard_assign(df, 40, n_buckets=16)
    phys = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in phys
    bad = _unpartitioned_windows(out)
    assert len(bad) == 1
    assert "_bucket" in bad[0]


def test_plan_has_no_corpus_wide_window(spark, docs):
    # the ONLY unpartitioned window is the bucket-offset prefix sum over
    # the bounded per-bucket aggregate (<= n_buckets rows); the
    # corpus-side rank window is partitioned by bucket and no Python
    # appears anywhere
    from test_plan_audit import _unpartitioned_windows

    out = corpus_shuffle(docs)
    phys = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in phys
    bad = _unpartitioned_windows(out)
    assert len(bad) == 1  # exactly the bounded offsets window
    assert "_bucket" in bad[0] and "_n" in bad[0].replace("#", " ")


def test_n_rows_hint_equivalent_to_auto(spark, docs):
    """The caller-knows-the-count shortcut changes only bucket sizing,
    never the permutation (and an upper bound is acceptable)."""
    auto = {
        r["doc_id"]: r["shuffle_rank"]
        for r in corpus_shuffle(docs, salt="x").collect()
    }
    hinted = {
        r["doc_id"]: r["shuffle_rank"]
        for r in corpus_shuffle(docs, salt="x", n_rows=N).collect()
    }
    upper = {
        r["doc_id"]: r["shuffle_rank"]
        for r in corpus_shuffle(docs, salt="x", n_rows=10**9).collect()
    }
    assert auto == hinted == upper
