"""Dedup + similarity operators on planted data."""

import hashlib

import pytest
from pyspark.sql import functions as F

from modern_document_converter_for_ai_library_spark.operators.dedup import (
    exact_dedup,
    jaccard_verify,
    lsh_candidate_pairs,
    minhash_bands,
    near_dedup,
    near_dup_verified_pairs,
    oversized_buckets,
)
from modern_document_converter_for_ai_library_spark.operators.similarity import (
    brute_force_topk,
    ivf_build,
    ivf_search,
    lsh_bucketed_ann,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the court reviews "
    "the motion for summary judgment in the underlying case record"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),  # exact duplicate of 1
        (3, BASE + " with a tiny suffix appended"),  # near-dup of 1
        (4, "completely different content about gardening and recipes for bread"),
        (5, "another unrelated text mentioning sailing ships and harbor towns"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(spark, docs):
    out = {r["doc_id"]: r for r in exact_dedup(docs).collect()}
    assert out[1]["canonical_doc_id"] == 1 and not out[1]["is_duplicate"]
    assert out[2]["canonical_doc_id"] == 1 and out[2]["is_duplicate"]
    assert not out[3]["is_duplicate"]
    assert not out[4]["is_duplicate"]


def test_lsh_finds_planted_near_dup(spark, docs):
    bands = minhash_bands(docs)
    pairs = {(r["a"], r["b"]) for r in lsh_candidate_pairs(bands).collect()}
    assert (1, 2) in pairs  # identical docs always collide
    assert (1, 3) in pairs or (2, 3) in pairs  # near-dup shares most shingles
    assert (4, 5) not in pairs  # unrelated docs must not pair


def test_jaccard_verify_scores(spark, docs):
    pairs = lsh_candidate_pairs(minhash_bands(docs))
    verified = {(r["a"], r["b"]): r["jaccard_micros"] for r in
                jaccard_verify(docs, pairs, threshold_micros=0).collect()}
    assert verified[(1, 2)] == 1_000_000  # identical -> jaccard 1.0
    if (1, 3) in verified:
        assert 500_000 < verified[(1, 3)] < 1_000_000


def test_banded_rows_still_finds_dups_and_prunes(spark, docs):
    # r=2 banding: identical docs still collide (J=1 -> J^2=1); the band
    # value is the concat of two 8-hex minhash slices
    bands = minhash_bands(docs, n_bands=2, band_rows=2)
    row = bands.filter(F.col("doc_id") == 1).collect()[0]
    assert len(row["band_0"]) == 16 and len(row["band_1"]) == 16
    pairs = {(r["a"], r["b"]) for r in lsh_candidate_pairs(bands, n_bands=2).collect()}
    assert (1, 2) in pairs
    assert (4, 5) not in pairs
    with pytest.raises(ValueError):
        minhash_bands(docs, n_bands=4, band_rows=2)  # slice budget


def test_bucket_size_cap_drops_degenerate_bucket(spark, docs):
    bands = minhash_bands(docs, n_bands=1)
    # docs 1,2 share band_0 (bucket of 2) -> cap=1 drops that bucket
    capped = {
        (r["a"], r["b"])
        for r in lsh_candidate_pairs(bands, n_bands=1, max_bucket_size=1).collect()
    }
    assert (1, 2) not in capped
    audit = oversized_buckets(bands, n_bands=1, max_bucket_size=1).collect()
    assert len(audit) >= 1 and all(r["n_docs"] > 1 for r in audit)
    # without the cap the pairs are present
    uncapped = {
        (r["a"], r["b"]) for r in lsh_candidate_pairs(bands, n_bands=1).collect()
    }
    assert (1, 2) in uncapped


def test_near_dedup_end_to_end(spark, docs):
    out = {r["doc_id"]: r for r in near_dedup(docs, threshold_micros=500_000).collect()}
    assert out[1]["canonical_doc_id"] == 1
    assert out[2]["canonical_doc_id"] == 1 and out[2]["is_near_duplicate"]
    assert out[3]["canonical_doc_id"] == 1 and out[3]["is_near_duplicate"]
    assert out[4]["canonical_doc_id"] == 4 and not out[4]["is_near_duplicate"]
    assert out[5]["canonical_doc_id"] == 5


def test_near_dedup_transitive_chain_collapses(spark):
    """A~B and B~C verified but A~C below threshold: connected-components
    canonicalization must still put all three in ONE group (the round-1
    single-pass min-neighbor split them)."""
    # B overlaps heavily with both A and C; A and C share less than half
    # their shingles with each other.
    words_a = [f"w{i}" for i in range(0, 30)]
    words_b = [f"w{i}" for i in range(8, 38)]
    words_c = [f"w{i}" for i in range(16, 46)]
    far = ["zebra", "quartz", "ox", "jazz", "vex", "glyph", "crwth", "pyx"] * 4
    rows = [
        (1, " ".join(words_a)),
        (2, " ".join(words_b)),
        (3, " ".join(words_c)),
        (4, " ".join(far)),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in near_dedup(df, threshold_micros=400_000, n_bands=4).collect()
    }
    # sanity: the chain is genuinely transitive (A-C direct Jaccard below
    # the 0.4 threshold: |A∩C| = 14 shingles-ish of ~28 each)
    assert out[1]["canonical_doc_id"] == 1
    assert out[2]["canonical_doc_id"] == 1 and out[2]["is_near_duplicate"]
    assert out[3]["canonical_doc_id"] == 1 and out[3]["is_near_duplicate"]
    assert out[4]["canonical_doc_id"] == 4 and not out[4]["is_near_duplicate"]


def test_chain_query_exhibits_transitive_collapse(spark):
    """q_near_dedup_chain's derived corpus plants 3-doc chains (A~B, B~C,
    A!~C by construction); assert genuinely TRANSITIVE collapses happen:
    some member-2 doc shares its group's canonical even though its direct
    Jaccard to member 0 is below the threshold."""
    from modern_document_converter_for_ai_library_spark.queries import (
        spark_near_dedup_chain,
    )

    out = spark_near_dedup_chain(spark, "/root/testdata/sf0.01").collect()
    by_id = {r["doc_id"]: r["canonical_doc_id"] for r in out}
    transitive = [
        d
        for d, canon in by_id.items()
        if d % 3 == 2 and canon == d - 2  # member 2 collapsed onto member 0
    ]
    assert transitive, "no transitive chain collapsed — LSH/thresholds broken"
    # construction invariant: A-C shingle Jaccard 14/30 < 0.6 (the direct
    # edge never verifies), so every such collapse went THROUGH member 1
    assert 14 * 1_000_000 // 30 < 600_000


def test_connected_canonical_long_chain(spark):
    from modern_document_converter_for_ai_library_spark.operators.dedup import (
        connected_canonical,
    )

    # 0-1-2-...-7 path plus an isolated 100-101 pair
    edges = [(i, i + 1) for i in range(7)] + [(100, 101)]
    verified = spark.createDataFrame(edges, ["a", "b"])
    labels = {r["node"]: r["canonical"] for r in connected_canonical(verified).collect()}
    assert all(labels[i] == 0 for i in range(8))
    assert labels[100] == 100 and labels[101] == 100  # separate component


@pytest.fixture(scope="module")
def vectors(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randn(64).astype("float32")
    rows = [(0, [float(x) for x in base])]
    # 1..3: tiny perturbations of base (should be its top neighbors)
    for i in range(1, 4):
        rows.append((i, [float(x) for x in base + rng.randn(64).astype("float32") * 0.01]))
    # 4..20: random vectors
    for i in range(4, 21):
        rows.append((i, [float(x) for x in rng.randn(64).astype("float32")]))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_ivf_lloyd_improves_recall(spark):
    """Two exact-integer Lloyd rounds must beat the id-seed baseline on
    recall@10 for queries that are NOT the seed vectors themselves (seed
    vectors trivially own their cells, which is why the comparison uses
    vec_ids 100..115; measured 49/160 -> 66/160 at n_probe=2, sf0.01)."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qs = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 116))
    truth = brute_force_topk(emb, qs, k=10)
    tset = {(r["query_id"], r["vec_id"]) for r in truth.collect()}

    def recall(lloyd):
        assigned, cents = ivf_build(emb, n_centroids=16, lloyd_iterations=lloyd)
        got = ivf_search(assigned, cents, qs, k=10, n_probe=2)
        gset = {(r["query_id"], r["vec_id"]) for r in got.collect()}
        return len(gset & tset)

    base, refined = recall(0), recall(2)
    assert refined > base, (base, refined)


def test_brute_force_topk(spark, vectors):
    q = vectors.filter(F.col("vec_id") == 0)
    out = brute_force_topk(vectors, q, k=4).collect()
    ids = {r["vec_id"] for r in out}
    # dot product: self and its tiny perturbations form the top-4 (a
    # perturbed copy may legitimately outscore self, so order-free check)
    assert ids == {0, 1, 2, 3}


def test_lsh_ann_recalls_planted_neighbors(spark, vectors):
    q = vectors.filter(F.col("vec_id") == 0)
    out = lsh_bucketed_ann(vectors, q, k=4).collect()
    ids = {r["vec_id"] for r in out}
    # near-identical vectors share the sign bucket with the query
    assert {0, 1, 2, 3} <= ids


def test_lsh_ann_multi_probe_improves_recall(spark):
    """Hamming-1 multi-probe must strictly widen the candidate set and
    raise recall@10 on the real testdata corpus (measured 19->32/160 at
    n_planes=8, 34->72/160 at n_planes=4 — scripts/ann_recall_bench.py)."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qs = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 116))
    truth = brute_force_topk(emb, qs, k=10)
    tset = {(r["query_id"], r["vec_id"]) for r in truth.collect()}

    def recall(mp):
        got = lsh_bucketed_ann(emb, qs, k=10, n_planes=8, multi_probe=mp)
        return len({(r["query_id"], r["vec_id"]) for r in got.collect()} & tset)

    base, probed = recall(0), recall(1)
    assert probed > base, (base, probed)


def test_lsh_ann_multi_probe_no_duplicate_candidates(spark, vectors):
    """Probe buckets are distinct and each corpus vector lives in one
    bucket, so a (query, vec) pair appears at most once pre-ranking."""
    q = vectors.filter(F.col("vec_id") == 0)
    out = lsh_bucketed_ann(vectors, q, k=1000, multi_probe=1).collect()
    pairs = [(r["query_id"], r["vec_id"]) for r in out]
    assert len(pairs) == len(set(pairs))


def test_ivf_recalls_planted_neighbors(spark):
    import numpy as np

    # DIVERSE seed centroids (ids 0..3 random) — seeding them with
    # near-identical vectors makes cell membership tie-break noise. The
    # planted cluster lives at ids 10..13.
    rng = np.random.RandomState(11)
    rows = [(i, [float(x) for x in rng.randn(64)]) for i in range(4)]
    base = rng.randn(64)
    for j, i in enumerate([10, 11, 12, 13]):
        rows.append((i, [float(x) for x in base + rng.randn(64) * 0.01]))
    for i in range(14, 30):
        rows.append((i, [float(x) for x in rng.randn(64)]))
    vectors = spark.createDataFrame(rows, ["vec_id", "embedding"])

    assigned, centroids = ivf_build(vectors, n_centroids=4)
    arows = assigned.collect()
    assert len(arows) == len(rows)  # every vector lands in exactly one cell
    assert {r["cell"] for r in arows} <= {1, 2, 3, 4}
    # the tiny perturbations of vec 10 share its cell (continuity)
    cells = {r["vec_id"]: r["cell"] for r in arows}
    assert cells[11] == cells[10] and cells[12] == cells[10] and cells[13] == cells[10]
    q = vectors.filter(F.col("vec_id") == 10)
    out = ivf_search(assigned, centroids, q, k=4, n_probe=1).collect()
    ids = {r["vec_id"] for r in out}
    assert {10, 11, 12, 13} <= ids


def test_ivf_full_probe_equals_exact(spark, vectors):
    assigned, centroids = ivf_build(vectors, n_centroids=4)
    q = vectors.filter(F.col("vec_id") == 0)
    exact = {(r["vec_id"], r["qdot"]) for r in brute_force_topk(vectors, q, k=21).collect()}
    full = {
        (r["vec_id"], r["qdot"])
        for r in ivf_search(assigned, centroids, q, k=21, n_probe=4).collect()
    }
    assert full == exact  # probing every cell degenerates to exact search


def test_lsh_ann_subset_of_exact(spark, vectors):
    q = vectors.filter(F.col("vec_id") == 0)
    exact = {(r["vec_id"], r["qdot"]) for r in brute_force_topk(vectors, q, k=21).collect()}
    approx = {(r["vec_id"], r["qdot"]) for r in lsh_bucketed_ann(vectors, q, k=21).collect()}
    assert approx <= exact  # same scores, candidate set restricted by bucket


def test_simhash_pairs_pigeonhole_and_hamming(spark):
    from modern_document_converter_for_ai_library_spark.operators.dedup import (
        simhash_pairs,
    )

    rows = [
        (1, "1010101010101010"),
        (2, "1010101010101011"),  # hamming 1 to doc 1
        (3, "1010101010101101"),  # hamming 3 to doc 1, 2 to doc 2
        (4, "0101010101010101"),  # hamming 16 to doc 1 (no shared band)
        (5, "1010010101011010"),  # shares band 1 with doc 1 but hamming 8
    ]
    df = spark.createDataFrame(rows, ["doc_id", "simhash_bits"])
    out = {(r["a"], r["b"]): r["hamming"] for r in simhash_pairs(df).collect()}
    # exact expectation: all (and only) pairs with hamming <= 3
    def ham(x, y):
        return sum(a != b for a, b in zip(x, y))

    sketches = dict(rows)
    expected = {
        (i, j): ham(sketches[i], sketches[j])
        for i in sketches
        for j in sketches
        if i < j and ham(sketches[i], sketches[j]) <= 3
    }
    assert out == expected
    assert out[(1, 2)] == 1 and out[(1, 3)] == 3 and out[(2, 3)] == 2
    with pytest.raises(ValueError):
        simhash_pairs(df, n_bands=4, max_hamming=4)  # guarantee violated


def test_langid_ngram_recovers_planted_language(spark):
    """The trigram-profile classifier must recover the planted template
    language for the vast majority of docs (the synthetic English-ish body
    can outvote a single template repetition — that tail is the realistic
    failure mode of a shallow profile)."""
    from modern_document_converter_for_ai_library_spark.queries import (
        spark_langid_ngram,
    )

    rows = spark_langid_ngram(spark, "/root/testdata/sf0.01").collect()
    langs = ["en", "fr", "de", "es"]
    correct = sum(1 for r in rows if r["lang_guess"] == langs[r["doc_id"] % 4])
    assert correct / len(rows) >= 0.95, correct


def test_passage_dedup_planted(spark):
    from modern_document_converter_for_ai_library_spark.operators.dedup import (
        passage_dedup,
    )

    shared = " ".join(f"w{i}" for i in range(15))  # one full shared chunk
    uniq_a = " ".join(f"a{i}" for i in range(15))
    uniq_b = " ".join(f"b{i}" for i in range(7))  # partial tail chunk
    rows = [
        (1, shared + " " + uniq_a),     # chunks: [shared, uniq_a]
        (2, shared + " " + uniq_b),     # chunks: [shared(dup), uniq_b]
        (3, shared),                    # exactly the shared chunk, nothing else
    ]
    out = {
        r["doc_id"]: r.asDict()
        for r in passage_dedup(
            spark.createDataFrame(rows, ["doc_id", "text"]), chunk_tokens=15
        ).collect()
    }
    # doc 1 wins the shared chunk (min doc_id) and keeps everything
    assert out[1]["n_chunks"] == 2 and out[1]["n_kept"] == 2
    assert out[1]["text_clean"] == shared + " " + uniq_a
    # doc 2 loses the shared chunk, keeps its tail
    assert out[2]["n_chunks"] == 2 and out[2]["n_kept"] == 1
    assert out[2]["text_clean"] == uniq_b
    # doc 3 is fully covered by doc 1's copy -> empty survivor text
    assert out[3]["n_kept"] == 0 and out[3]["text_clean"] == ""


def test_decontaminate_planted(spark):
    from modern_document_converter_for_ai_library_spark.operators.dedup import (
        decontaminate,
    )

    eval_text = " ".join(f"e{i}" for i in range(20))  # 8 overlapping 13-grams
    overlap = " ".join(f"e{i}" for i in range(13)) + " tail tail tail"
    clean = " ".join(f"c{i}" for i in range(30))
    short = "too short for any gram"
    docs = spark.createDataFrame(
        [(1, overlap), (2, clean), (3, short)], ["doc_id", "text"]
    )
    bench = spark.createDataFrame([(99, eval_text)], ["doc_id", "text"])
    out = {
        r["doc_id"]: r.asDict() for r in decontaminate(docs, bench).collect()
    }
    assert out[1]["contaminated"] is True
    assert out[1]["n_contaminated_grams"] == 1  # exactly e0..e12
    assert out[2]["contaminated"] is False
    assert out[3]["n_contaminated_grams"] == 0


def _hashlib_bands(text, n_bands, band_rows, width=3):
    """Reference MinHash bands: band k is the concat over j of the min of
    8-hex slice k*r+j of md5(shingle), over the word 3-shingles."""
    toks = [t for t in (text or "").split(" ") if t != ""]
    if len(toks) < width:
        return None
    digests = [
        hashlib.md5(" ".join(toks[i:i + width]).encode()).hexdigest()
        for i in range(len(toks) - width + 1)
    ]
    return tuple(
        "".join(
            min(d[8 * (k * band_rows + j):8 * (k * band_rows + j) + 8]
                for d in digests)
            for j in range(band_rows)
        )
        for k in range(n_bands)
    )


def test_minhash_bands_match_hashlib_reference(spark):
    """minhash_bands equals a plain-hashlib MinHash on every sf0.01 doc,
    for every (n_bands, band_rows) the queries and jobs use."""
    df = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").select(
        "doc_id", "text"
    )
    rows = df.collect()
    for n_bands, band_rows in ((4, 1), (2, 2), (1, 2)):
        want = {}
        for r in rows:
            ref = _hashlib_bands(r["text"], n_bands, band_rows)
            if ref is not None:
                want[r["doc_id"]] = ref
        cols = [f"band_{k}" for k in range(n_bands)]
        got = {
            r["doc_id"]: tuple(r[c] for c in cols)
            for r in minhash_bands(
                df, n_bands=n_bands, band_rows=band_rows
            ).collect()
        }
        assert got == want and len(got) > 0


def _union_find_canonical(ids, pairs):
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def test_near_dedup_tiers_identical(spark):
    """The bands path under a bucket-size cap marks each doc with the min
    id of its component in the verified-pair graph (checked against a
    driver-side union-find over the same front's verified pairs), does
    not leak its candidate-pair cache, and rejects an unknown tier."""
    df = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").select(
        "doc_id", "text"
    )
    kw = dict(threshold_micros=500_000, n_bands=2, band_rows=2,
              max_bucket_size=50)
    cols = ["doc_id", "canonical_doc_id", "is_near_duplicate"]
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    marks = {r["doc_id"]: (r["canonical_doc_id"], r["is_near_duplicate"])
             for r in near_dedup(df, candidate_tier="bands", **kw)
             .select(*cols).collect()}
    # the pairs cache and every superseded CC-iteration checkpoint are
    # released inside the call; only the final component-labels checkpoint
    # (which the returned frame reads lazily) may outlive it
    assert jsc.getPersistentRDDs().size() - before <= 1
    verified, pairs = near_dup_verified_pairs(df, **kw)
    try:
        edges = [(r["a"], r["b"]) for r in verified.collect()]
    finally:
        pairs.unpersist()
    truth = _union_find_canonical(list(marks), edges)
    assert marks == {i: (c, i != c) for i, c in truth.items()}
    assert len(marks) > 0
    assert any(v[1] for v in marks.values())  # corpus has planted near-dups
    with pytest.raises(ValueError):
        near_dedup(df, candidate_tier="fused", **kw)


# ---------------------------------------------------------------------------
# select_representatives — quality-aware cluster representative selection
# ---------------------------------------------------------------------------


def _rep_frame(spark, rows):
    from modern_document_converter_for_ai_library_spark.operators.dedup import (
        select_representatives,
    )

    df = spark.createDataFrame(
        rows, ["doc_id", "canonical_doc_id", "score"]
    )
    return {
        r["doc_id"]: (r["representative_doc_id"], r["keep"])
        for r in select_representatives(df, "score").collect()
    }


def test_select_representatives_argmax_and_singletons(spark):
    rows = [
        # cluster {1,2,3}: doc 2 has the best score -> everyone points at 2
        (1, 1, 10),
        (2, 1, 99),
        (3, 1, 50),
        # singleton: always keeps itself, untouched by the aggregation
        (4, 4, 1),
        # cluster {5,6}: tie on score -> min id 5 wins deterministically
        (5, 5, 7),
        (6, 5, 7),
    ]
    got = _rep_frame(spark, rows)
    assert got == {
        1: (2, False),
        2: (2, True),
        3: (2, False),
        4: (4, True),
        5: (5, True),
        6: (5, False),
    }
    # exactly one keeper per cluster
    assert sum(1 for v in got.values() if v[1]) == 3


def test_select_representatives_uniform_scores_degenerate_to_canonical(
    spark,
):
    rows = [(i, 1 if i <= 3 else i, 5) for i in range(1, 6)]
    got = _rep_frame(spark, rows)
    assert all(rep == (1 if d <= 3 else d) for d, (rep, _) in got.items())


def test_select_representatives_partitioning_invariant(spark):
    from modern_document_converter_for_ai_library_spark.operators.dedup import (
        select_representatives,
    )

    rows = [
        (i, i % 7, (i * 37) % 11 - 5)  # negative scores exercised too
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "canonical_doc_id", "score"])
    outs = []
    for parts in (1, 13):
        outs.append(
            {
                r["doc_id"]: (r["representative_doc_id"], r["keep"])
                for r in select_representatives(
                    df.repartition(parts), "score"
                ).collect()
            }
        )
    assert outs[0] == outs[1]
    # python twin: argmax score, ties -> min id, per cluster
    import collections

    by_c = collections.defaultdict(list)
    for d, c, s in rows:
        by_c[c].append((d, s))
    for c, members in by_c.items():
        want = min(members, key=lambda t: (-t[1], t[0]))[0]
        for d, _ in members:
            assert outs[0][d] == (want, d == want), (c, d)


def test_select_representatives_composes_with_near_dedup(spark, docs):
    from modern_document_converter_for_ai_library_spark.operators.dedup import (
        select_representatives,
    )

    out = near_dedup(docs, threshold_micros=500_000)
    # score by token count: doc 3 (BASE + suffix) outscores docs 1/2 in
    # the {1,2,3} cluster, so the representative moves off the min id
    scored = out.withColumn(
        "score",
        F.size(F.filter(F.split("text", " "), lambda x: x != "")).cast(
            "bigint"
        ),
    )
    got = {
        r["doc_id"]: (r["representative_doc_id"], r["keep"])
        for r in select_representatives(scored, "score").collect()
    }
    assert got[1] == (3, False)
    assert got[2] == (3, False)
    assert got[3] == (3, True)
    assert got[4] == (4, True) and got[5] == (5, True)
