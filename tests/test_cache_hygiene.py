"""Cache-lifetime ownership, reliable checkpointing, convergence guards, and
resume error propagation (VERDICT r2 #6/#8 + ADVICE r2 items 1/3/4)."""

import pytest
from pyspark.sql import functions as F

from modern_document_converter_for_ai_library_spark.plans.caching import CacheScope
from modern_document_converter_for_ai_library_spark.sources import (
    DOCS_SCHEMA,
    synth_documents_pandas,
)


def _cached_rdd_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _settled_ids(spark, before, want_leaked, timeout=20.0):
    """Persistent-RDD set once async unpersists settle.

    ``DataFrame.unpersist()`` is non-blocking by default, so the JVM's
    persistent-RDD registry can briefly still list frames an operator
    already released (observed only under full-suite load). Poll until
    exactly ``want_leaked`` new entries remain (or timeout) before
    asserting — the assertion itself stays exact.
    """
    import time

    deadline = time.monotonic() + timeout
    leaked = _cached_rdd_ids(spark) - before
    while len(leaked) != want_leaked and time.monotonic() < deadline:
        time.sleep(0.2)
        leaked = _cached_rdd_ids(spark) - before
    return leaked


# ---------------------------------------------------------------------------
# CacheScope ownership: no leaked caches after job completion
# ---------------------------------------------------------------------------


def test_rename_documents_cache_scope_releases(spark):
    from modern_document_converter_for_ai_library_spark.operators.rename import (
        rename_documents,
    )

    before = _cached_rdd_ids(spark)
    df = spark.createDataFrame(synth_documents_pandas(40, seed=9), schema=DOCS_SCHEMA)
    with CacheScope() as scope:
        out = rename_documents(df, cache_scope=scope)
        rows = out.collect()
        assert len(rows) == 40
        # inside the scope the kernel output IS cached
        assert _cached_rdd_ids(spark) - before
    assert _settled_ids(spark, before, want_leaked=0) == set()  # released on exit


def test_ivf_build_cache_scope_releases(spark):
    from modern_document_converter_for_ai_library_spark.operators.similarity import (
        ivf_build,
    )

    before = _cached_rdd_ids(spark)
    vecs = spark.range(0, 64).select(
        F.col("id").cast("string").alias("vec_id"),
        F.array(
            (F.col("id") % 7).cast("double"),
            (F.col("id") % 5).cast("double"),
            (F.col("id") % 3).cast("double"),
        ).alias("embedding"),
    )
    with CacheScope() as scope:
        assigned, centroids = ivf_build(
            vecs, n_centroids=4, lloyd_iterations=1, cache_scope=scope
        )
        assert assigned.count() == 64
        assert _cached_rdd_ids(spark) - before
    assert _settled_ids(spark, before, want_leaked=0) == set()


# ---------------------------------------------------------------------------
# connected components: reliable checkpoint flag + non-convergence guard
# ---------------------------------------------------------------------------


def _pairs_df(spark, pairs):
    return spark.createDataFrame(pairs, ["a", "b"])


def test_connected_canonical_reliable_checkpoint(spark, tmp_path):
    from modern_document_converter_for_ai_library_spark.operators.dedup import (
        connected_canonical,
    )

    verified = _pairs_df(spark, [("b", "c"), ("a", "b"), ("x", "y")])
    local = {
        r["node"]: r["canonical"] for r in connected_canonical(verified).collect()
    }
    reliable = {
        r["node"]: r["canonical"]
        for r in connected_canonical(
            verified, checkpoint_dir=str(tmp_path / "ckpt")
        ).collect()
    }
    assert local == reliable == {
        "a": "a",
        "b": "a",
        "c": "a",
        "x": "x",
        "y": "x",
    }
    # the reliable variant actually wrote checkpoint data to stable storage
    assert any((tmp_path / "ckpt").rglob("*"))


def test_connected_canonical_nonconvergence_raises(spark):
    from modern_document_converter_for_ai_library_spark.operators.dedup import (
        connected_canonical,
    )

    # a path graph of diameter 9 needs more than 2 large-star/small-star
    # rounds (the last round only confirms the fixpoint)
    chain = [("n%02d" % i, "n%02d" % (i + 1)) for i in range(9)]
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_canonical(_pairs_df(spark, chain), max_iter=2)
    # and does converge (silently-wrong labels are never returned)
    labels = {
        r["node"]: r["canonical"]
        for r in connected_canonical(_pairs_df(spark, chain), max_iter=25).collect()
    }
    assert set(labels.values()) == {"n00"}


# ---------------------------------------------------------------------------
# resume_pending: only missing-target means "everything pending"
# ---------------------------------------------------------------------------


def test_resume_pending_missing_path_means_all_pending(spark, tmp_path):
    from modern_document_converter_for_ai_library_spark.operators.manifest import (
        resume_pending,
        with_input_hash,
    )

    df = with_input_hash(
        spark.createDataFrame(synth_documents_pandas(5, seed=1), schema=DOCS_SCHEMA)
    )
    out = resume_pending(df, str(tmp_path / "never_written"))
    assert out.count() == 5


def test_resume_pending_propagates_catalog_misconfiguration(spark):
    from modern_document_converter_for_ai_library_spark.operators.manifest import (
        resume_pending,
        with_input_hash,
    )

    df = with_input_hash(
        spark.createDataFrame(synth_documents_pandas(3, seed=1), schema=DOCS_SCHEMA)
    )
    # Iceberg identifier target without a runtime: the adapter raises
    # RuntimeError; swallowing it would append duplicate rows on re-run
    with pytest.raises(RuntimeError, match="Iceberg"):
        resume_pending(df, "cat.db.some_table").count()


def test_resume_pending_propagates_corrupt_output(spark, tmp_path):
    from modern_document_converter_for_ai_library_spark.operators.manifest import (
        resume_pending,
        with_input_hash,
    )

    df = with_input_hash(
        spark.createDataFrame(synth_documents_pandas(3, seed=1), schema=DOCS_SCHEMA)
    )
    # an existing-but-unreadable output is NOT "no output yet"
    bad = tmp_path / "out"
    bad.mkdir()
    (bad / "part-0000.parquet").write_bytes(b"this is not parquet")
    with pytest.raises(Exception):
        resume_pending(df, str(bad)).count()


# ---------------------------------------------------------------------------
# round-3 additions: iterative trainers / selectors release their frames
# ---------------------------------------------------------------------------


def test_kcenter_releases_all_caches(spark):
    from modern_document_converter_for_ai_library_spark.operators.coreset import (
        kcenter_select,
    )

    before = _cached_rdd_ids(spark)
    df = spark.createDataFrame(
        [(i, [float(i), float(i % 3)]) for i in range(20)],
        "vec_id: bigint, embedding: array<float>",
    )
    out = kcenter_select(df, k=3)
    assert out.count() == 3
    assert _settled_ids(spark, before, want_leaked=0) == set()


def test_unigram_train_releases_all_caches(spark):
    from modern_document_converter_for_ai_library_spark.operators.unigram import (
        unigram_train,
    )

    before = _cached_rdd_ids(spark)
    df = spark.createDataFrame(
        [("a", "low lower lowest low low")], ["doc_id", "text"]
    )
    vocab = unigram_train(df, vocab_size=10, rounds=1)
    assert vocab
    assert _settled_ids(spark, before, want_leaked=0) == set()


def test_perceptron_train_caller_owns_only_the_weights(spark):
    from modern_document_converter_for_ai_library_spark.operators.quality import (
        perceptron_train,
    )

    before = _cached_rdd_ids(spark)
    df = spark.createDataFrame(
        [(1, "spark good", 1), (2, "spam bad", -1)],
        "doc_id: bigint, text: string, label: int",
    )
    weights, _bias, _hist = perceptron_train(df, epochs=3)
    # exactly one cached frame remains: the returned weights table
    # (documented caller-owned — classifier_score consumes it repeatedly)
    leaked = _settled_ids(spark, before, want_leaked=1)
    assert len(leaked) == 1
    weights.unpersist()
    assert _settled_ids(spark, before, want_leaked=0) == set()
