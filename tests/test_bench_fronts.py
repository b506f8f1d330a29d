"""Pins the bench warm-sharing contract (VERDICT r3 item 5): the frames
``near_dedup_family_fronts`` persists must stay CANONICAL-PLAN-EQUAL to
the fragments the family queries build internally — that equality is what
makes Spark's CacheManager substitute the cached data automatically. If a
query's construction drifts (different args, different column prep), the
warm becomes a silent no-op; ``sameSemantics`` catches the drift at plan
level without running anything."""

from pyspark.sql import functions as F

from modern_document_converter_for_ai_library_spark.queries import (
    _CHAIN_THR,
    _MINHASH_WIDE_BANDS,
    _MINHASH_WIDE_PERMS,
    _chain_text_col,
    _docs,
    near_dedup_family_fronts,
)

SF_DIR = "/root/testdata/sf0.01"


def _family_docs(spark):
    return _docs(spark, SF_DIR).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )


def test_narrow_fronts_match_family_query_construction(spark):
    from modern_document_converter_for_ai_library_spark.operators.dedup import (
        near_dup_verified_pairs,
    )

    fronts = near_dedup_family_fronts(spark, SF_DIR)
    (v_narrow, p_narrow), (v_chain, p_chain) = fronts[0], fronts[1]
    try:
        # exactly how spark_near_dedup (q_near_dedup, q_near_dedup_star)
        # and spark_near_dedup_best build their front
        docs = _family_docs(spark)
        v_q, p_q = near_dup_verified_pairs(
            docs, threshold_micros=500_000, n_bands=1, band_rows=2
        )
        assert v_narrow.sameSemantics(v_q)
        # exactly how spark_near_dedup_chain builds its front
        chain_docs = _docs(spark, SF_DIR).select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            _chain_text_col().alias("text"),
        )
        v_cq, p_cq = near_dup_verified_pairs(
            chain_docs, threshold_micros=_CHAIN_THR, n_bands=2, band_rows=2
        )
        assert v_chain.sameSemantics(v_cq)
        for p in (p_q, p_cq):
            p.unpersist()
    finally:
        for _v, p in fronts[:2]:
            if p is not None:
                p.unpersist()


def test_wide_fronts_match_minhash128_and_near_dedup_wide(spark):
    from modern_document_converter_for_ai_library_spark.operators.dedup import (
        minhash_wide_bands,
        minhash_wide_minima,
        minhash_wide_pairs,
    )

    fronts = near_dedup_family_fronts(spark, SF_DIR)
    try:
        minima, _ = fronts[2]
        wide_pairs, _ = fronts[3]
        docs = _family_docs(spark)
        # q_minhash128's minima frame
        assert minima.sameSemantics(
            minhash_wide_minima(docs, n_perms=_MINHASH_WIDE_PERMS)
        )
        # q_minhash128_pairs' candidate-pair frame (explicit constants)
        q_pairs = minhash_wide_pairs(
            minhash_wide_bands(
                docs, n_perms=_MINHASH_WIDE_PERMS, n_bands=_MINHASH_WIDE_BANDS
            ),
            n_bands=_MINHASH_WIDE_BANDS,
        )
        assert wide_pairs.sameSemantics(q_pairs)
        # near_dedup(candidate_tier="wide")'s internal pair frame
        # (default args path)
        nd_pairs = minhash_wide_pairs(
            minhash_wide_bands(docs, "text", "doc_id", shingle_width=3),
            "doc_id",
            max_bucket_size=None,
        )
        assert wide_pairs.sameSemantics(nd_pairs)
    finally:
        for _v, p in fronts[:2]:
            if p is not None:
                p.unpersist()


def test_sink_tracks_fronts_incrementally(spark):
    """ADVICE r4: a caller-owned sink names every front (and therefore
    every internally-persisted pairs frame) as it is constructed, so a
    mid-build failure still leaves cleanup a complete list."""
    sink: list = []
    out = near_dedup_family_fronts(spark, SF_DIR, sink=sink)
    try:
        assert out is sink and len(sink) == 4
        assert all(isinstance(t, tuple) and len(t) == 2 for t in sink)
    finally:
        for _v, p in sink:
            if p is not None:
                p.unpersist()


def test_ann_fronts_registered_and_bit_identical(spark):
    """The ANN warm-share contract (VERDICT r4 item 4): registered
    artifacts make the family queries return BIT-IDENTICAL results to
    fresh builds, and the registered frames are sameSemantics-equal to
    what a fresh query-side build constructs."""
    from modern_document_converter_for_ai_library_spark.queries import (
        _ANN_FRONTS,
        ann_family_fronts,
        clear_ann_fronts,
        spark_ivf_topk,
        spark_ivfpq_topk,
        spark_pq_topk,
    )

    clear_ann_fronts()
    fresh = {
        name: fn(spark, SF_DIR).collect()
        for name, fn in [
            ("ivf", spark_ivf_topk),
            ("pq", spark_pq_topk),
            ("ivfpq", spark_ivfpq_topk),
        ]
    }
    assert not _ANN_FRONTS  # fresh path must not populate the registry

    frames = ann_family_fronts(spark, SF_DIR)
    try:
        assert len(_ANN_FRONTS) == 2
        for f in frames:
            f.persist().count()
        warmed = {
            "ivf": spark_ivf_topk(spark, SF_DIR).collect(),
            "pq": spark_pq_topk(spark, SF_DIR).collect(),
            "ivfpq": spark_ivfpq_topk(spark, SF_DIR).collect(),
        }
        assert warmed == fresh
        # Sharing works by OBJECT identity through the registry (the
        # builders materialize centroids/codebooks driver-side, so two
        # builds are separate createDataFrame plans — never
        # sameSemantics; CacheManager substitution can't dedupe the
        # eager Lloyd collects either, which is why the registry exists).
        # Pin (a) registry hits return the registered frames themselves
        # — the persisted data serves every family query...
        from modern_document_converter_for_ai_library_spark.queries import (
            _ivf_artifacts,
            _pq_artifacts,
        )

        hit_assigned, hit_centroids = _ivf_artifacts(spark, SF_DIR)
        hit_encoded, hit_codebook = _pq_artifacts(spark, SF_DIR)
        assert hit_assigned is frames[0] and hit_encoded is frames[1]
        # ...and (b) the builds are deterministic: a fresh build's
        # centroid/codebook CONTENT matches the registered one's, so
        # registered-vs-fresh can never diverge silently.
        clear_ann_fronts()
        _fa, fresh_centroids = _ivf_artifacts(spark, SF_DIR)
        _fe, fresh_codebook = _pq_artifacts(spark, SF_DIR)
        assert sorted(map(tuple, fresh_centroids.collect())) == sorted(
            map(tuple, hit_centroids.collect())
        )
        assert sorted(map(tuple, fresh_codebook.collect())) == sorted(
            map(tuple, hit_codebook.collect())
        )
    finally:
        for f in frames:
            f.unpersist()
        clear_ann_fronts()
