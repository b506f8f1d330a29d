"""Deduplication operators for training-data pipelines.

The building blocks, cheapest to richest (all engine-deterministic, see
functions/hashing.py):

  exact_dedup          md5 content grouping; one shuffle on the hash
  minhash_bands        codegen band builder (explode -> md5 -> partial-MIN
                       aggregate) — the corpus-scale candidate tier; no
                       per-doc shingle arrays ever materialize
  minhash_wide_bands   PRODUCTION-width variant: 128 permutations via a
                       2-universal integer family over one base hash,
                       banded 16x8 (the steep S-curve real dedup recipes
                       use); same codegen explode+MIN plan shape
  lsh_candidate_pairs  bucket-local banded pairs: docs colliding on ANY
                       band — the 100 TB scale path (fan-out is per-band
                       bucket, never all-pairs)
  jaccard_verify       exact shingle-set Jaccard on the candidates only;
                       builds the shingle sets itself, for candidate docs

``near_dedup`` composes them: codegen bands for everyone -> candidate
pairs -> exact shingle sets recomputed for candidate docs only -> verified
pairs -> canonical = min(doc_id) of the connected component
(large-star/small-star to fixpoint over the verified-pair edge list).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import shingle_hashes_col, tokens_col
from ..plans.caching import CacheScope, scoped_persist

MICRO = 1_000_000


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Adds ``canonical_doc_id`` + ``is_duplicate`` via content-hash grouping.

    Implemented as ``min(id) over (partition by md5(text))`` — ONE shuffle,
    no join. The earlier groupBy+join formulation shuffled twice AND made
    Catalyst infer ``isnotnull(md5(text))`` on the join key, re-evaluating
    the full-text hash inside the scan filter (same pathology as the LSH
    band join, see lsh_candidate_pairs); window partition keys get neither.
    """
    from pyspark.sql import Window

    hashed = df.withColumn("_text_hash", F.md5(F.col(text_col)))
    w = Window.partitionBy("_text_hash")
    return (
        hashed.withColumn("canonical_doc_id", F.min(id_col).over(w))
        .withColumn("is_duplicate", F.col(id_col) != F.col("canonical_doc_id"))
        .drop("_text_hash")
    )


def _bucket_local_pairs(
    long: DataFrame,
    id_col: str,
    max_bucket_size: int | None,
    flag_col: str | None = None,
) -> DataFrame:
    """The ONE bucket-local candidate-pair kernel shared by every LSH
    band tier (``lsh_candidate_pairs``, ``minhash_wide_pairs``,
    ``near_dedup_incremental``) — a skew-cap or orientation fix lands
    here once instead of drifting across three inlined copies.

    Input: a long ``(id, band_idx, band_value[, flag])`` frame. Steps:

    1. Skew cap BEFORE collect_list: filtering on the collected list's
       size afterwards would still materialize the degenerate bucket's
       whole id list in one aggregation buffer (the exact OOM the cap
       exists to prevent — a boilerplate-heavy corpus can put ~the whole
       corpus in one band bucket). The count window shuffles on the SAME
       key the aggregation needs, and window buffers spill; collect_list
       buffers don't.
    2. Per-bucket member lists, buckets with >= 2 members only.
    3. Within-bucket n^2 combination build (bounded by the cap), a < b
       on the VALUES so pair orientation is deterministic regardless of
       collect_list's arrival order. With ``flag_col``, a pair is
       emitted only when >= 1 member is flagged (the incremental tier's
       new-vs-all restriction — flag-False x flag-False buckets emit
       nothing).
    4. ``distinct`` across bands.
    """
    if max_bucket_size is not None:
        from pyspark.sql import Window

        wcap = Window.partitionBy("band_idx", "band_value")
        long = (
            long.withColumn("_n", F.count("*").over(wcap))
            .filter(F.col("_n") <= max_bucket_size)
            .drop("_n")
        )
    if flag_col is None:
        buckets = (
            long.groupBy("band_idx", "band_value")
            .agg(F.collect_list(id_col).alias("_ids"))
            .filter(F.size("_ids") >= 2)
        )
        combos = F.filter(
            F.flatten(
                F.transform(
                    "_ids",
                    lambda x: F.transform(
                        "_ids",
                        lambda y: F.struct(x.alias("a"), y.alias("b")),
                    ),
                )
            ),
            lambda s: s["a"] < s["b"],
        )
    else:
        buckets = (
            long.groupBy("band_idx", "band_value")
            .agg(
                F.collect_list(
                    F.struct(
                        F.col(id_col).alias("i"), F.col(flag_col).alias("f")
                    )
                ).alias("_m")
            )
            .filter(F.size("_m") >= 2)
        )
        combos = F.filter(
            F.flatten(
                F.transform(
                    "_m",
                    lambda x: F.transform(
                        "_m",
                        lambda y: F.struct(
                            x["i"].alias("a"),
                            y["i"].alias("b"),
                            (x["f"] | y["f"]).alias("n"),
                        ),
                    ),
                )
            ),
            lambda s: (s["a"] < s["b"]) & s["n"],
        )
    return (
        buckets.select(F.explode(combos).alias("_p"))
        .select(F.col("_p.a").alias("a"), F.col("_p.b").alias("b"))
        .distinct()
    )


def lsh_candidate_pairs(
    bands: DataFrame,
    id_col: str = "doc_id",
    n_bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Distinct (a, b) pairs (a < b) sharing at least one band value.

    Bucket-local generation: exploded (band_idx, band_value) rows
    aggregate into per-bucket id lists and pairs are emitted within each
    bucket — at scale the shuffle is keyed by band value, so cost tracks
    bucket sizes, not the quadratic all-pairs space.

    Precondition: the ``band_0..band_{n_bands-1}`` columns of ``bands``
    sit behind an Aggregate node, as ``minhash_bands``' groupBy-MIN output
    does. Over computed band columns Catalyst infers ``isnotnull(band_k)``
    predicates and inlines the whole shingle/md5 expression tree into them
    and into the parquet scan's DataFilters, re-evaluating it several
    times per row (measured 13x slower at sf0.1); an Aggregate is a
    barrier predicates cannot be pushed through.

    ``max_bucket_size`` is the skew guard for the quadratic term: buckets
    larger than the cap are dropped from candidate generation (a bucket of
    size s yields s*(s-1)/2 pairs, so one degenerate value — empty docs,
    boilerplate-only docs — can dominate the whole job). Capped buckets are
    NOT silently lost semantics: a dropped bucket means those docs are only
    compared through their other bands. Callers wanting an audit trail can
    count them via ``oversized_buckets``.
    """
    band_cols = [f"band_{k}" for k in range(n_bands)]
    # bucket-local pair generation (same shape as minhash_wide_pairs, and
    # for the same reasons): one posexplode to (band_idx, band_value) rows,
    # skew cap as a count window on the SAME key, per-bucket id lists,
    # within-bucket combinations, distinct. The earlier per-band join union
    # re-executed the slim subtree up to 2*n_bands times and (with the cap)
    # added two count-filter joins per band — measured 65.4 s vs 19.1 s
    # for the wide tier's bucket-local plan on the 200k candidate-dilution
    # corpus (BENCH/BASELINE.md, "Narrow vs production-width MinHash tier
    # A/B"); this rewrite closes that gap with identical output (pinned by
    # the tier-equality and parity tests).
    long = bands.select(
        F.col(id_col),
        F.posexplode(F.array(*[F.col(c) for c in band_cols])).alias(
            "band_idx", "band_value"
        ),
    )
    return _bucket_local_pairs(long, id_col, max_bucket_size)


def oversized_buckets(
    bands: DataFrame, n_bands: int, max_bucket_size: int
) -> DataFrame:
    """(band_idx, band_value, n_docs) for buckets the cap would drop —
    the audit/metrics companion to ``lsh_candidate_pairs(max_bucket_size=)``."""
    out = None
    for k in range(n_bands):
        g = (
            bands.groupBy(F.col(f"band_{k}").alias("band_value"))
            .agg(F.count("*").alias("n_docs"))
            .filter(F.col("n_docs") > max_bucket_size)
            .withColumn("band_idx", F.lit(k))
            .select("band_idx", "band_value", "n_docs")
        )
        out = g if out is None else out.unionByName(g)
    return out


def jaccard_verify(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_micros: int = 500_000,
    shingle_width: int = 3,
) -> DataFrame:
    """Exact shingle-set Jaccard on candidate pairs; integer-quantized.

    ``docs`` is the (id, text) corpus the ``pairs`` ids come from. The
    shingle-hash sets are built here, only for the docs that appear in a
    pair (a leftsemi on the candidate node set), so candidates << corpus
    keeps the per-doc array materialization off the full corpus. Docs
    shorter than ``shingle_width`` tokens have no shingles and drop out.

    ``pairs`` is read twice (node set + verify join): callers persist it.

    intersection/union computed over DISTINCT shingle hashes via the
    hash-based array_intersect (O(n+m); the naive filter+contains variant is
    O(n*m) and dominated the bench at corpus scale). DuckDB's list_intersect
    has the same distinct-count semantics (verified in the parity test).
    """
    nodes = (
        pairs.select(F.col("a").alias(id_col))
        .unionByName(pairs.select(F.col("b").alias(id_col)))
        .distinct()
    )
    sets_df = (
        docs.join(nodes, on=id_col, how="leftsemi")
        .withColumn("_tokens", tokens_col(text_col))
        .filter(F.size("_tokens") >= shingle_width)
        .select(
            F.col(id_col).alias("_sid"),
            F.array_distinct(
                shingle_hashes_col(F.col("_tokens"), shingle_width)
            ).alias("_sset"),
        )
    )
    a = pairs.join(sets_df.withColumnRenamed("_sid", "a").withColumnRenamed("_sset", "set_a"), on="a")
    ab = a.join(sets_df.withColumnRenamed("_sid", "b").withColumnRenamed("_sset", "set_b"), on="b")
    inter = F.size(F.array_intersect("set_a", "set_b")).cast("bigint")
    union = (F.size("set_a") + F.size("set_b")).cast("bigint") - inter
    out = ab.select(
        "a",
        "b",
        ((inter * MICRO) / union).cast("bigint").alias("jaccard_micros"),
    )
    return out.filter(F.col("jaccard_micros") >= threshold_micros)


def simhash_pairs(
    sketches: DataFrame,
    id_col: str = "doc_id",
    bits_col: str = "simhash_bits",
    n_bits: int = 16,
    n_bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """(a, b, hamming) pairs with Hamming distance <= ``max_hamming`` over
    SimHash bit-strings, via the banded pigeonhole trick: split the sketch
    into ``n_bands`` equal slices — any pair within distance n_bands-1 must
    agree on at least one slice, so candidates come from per-band equi-joins
    (shuffle keyed by band value, never all-pairs) and only candidates pay
    the exact Hamming check. Requires ``max_hamming < n_bands`` for the
    recall guarantee. The 16-bit/4-band defaults match the cross-engine
    q_simhash sketch; production sketches are 64-bit with 16-bit bands —
    same plan shape, bucket cardinality 2^16 per band.
    """
    if max_hamming >= n_bands:
        raise ValueError("pigeonhole guarantee needs max_hamming < n_bands")
    w = n_bits // n_bands
    # Aggregate barrier: when the sketch is a computed column (the 64-bit
    # fold over token hashes), joining on substrings of it lets Catalyst
    # inline the WHOLE sketch expression into band keys and isnotnull
    # predicates — the same re-inlining pathology as lsh_candidate_pairs
    # (measured 37.8 s -> 2.5 s on q_simhash64_pairs at sf0.1). One slim
    # (id, bits) row per doc of shuffle buys expression materialization.
    slim = (
        sketches.select(F.col(id_col), F.col(bits_col))
        .groupBy(id_col)
        .agg(F.first(bits_col).alias(bits_col))
    )
    left = slim.select(F.col(id_col).alias("a"), F.col(bits_col).alias("abits"))
    right = slim.select(F.col(id_col).alias("b"), F.col(bits_col).alias("bbits"))
    if max_hamming == 0:
        # exact-collision tier: a distance-0 pair matches on the FULL
        # sketch, so one equi-join replaces the banded union+distinct
        # (measured 7.0 s -> sub-second at sf0.1: saturated demo sketches
        # make the 4/8-bit band buckets enormous)
        return (
            left.join(
                right,
                (F.col("abits") == F.col("bbits")) & (F.col("a") < F.col("b")),
            )
            .select("a", "b", F.lit(0).cast("bigint").alias("hamming"))
        )
    # pack the bit-string into 32-bit words once per side: the exact
    # Hamming check on candidates is then XOR + bit_count per word instead
    # of n_bits per-character comparisons (measured 84.6 s -> see
    # BENCH/BASELINE.md on 510k 64-bit sketches)
    def _pack(bits_col: str, prefix: str):
        return [
            F.conv(F.substring(bits_col, w0 + 1, min(32, n_bits - w0)), 2, 10)
            .cast("bigint")
            .alias(f"{prefix}{w0 // 32}")
            for w0 in range(0, n_bits, 32)
        ]

    n_words = (n_bits + 31) // 32
    # ONE self-join on exploded (band_idx, band_value) instead of a union
    # of n_bands separate joins: the union form re-executes the (possibly
    # expensive) sketch-building subtree once per band per side — up to
    # 2*n_bands recomputations; the exploded form computes each side once
    # and shuffles (id, band_idx, band_value, packed words) rows keyed by
    # the composite band key (measured 26.5 s -> 4.7 s on q_simhash64_pairs
    # at sf0.1, on top of the barrier fix).
    bands_long = slim.select(
        F.col(id_col),
        *_pack(bits_col, "w"),
        F.posexplode(
            F.array(
                *[F.substring(bits_col, 1 + k * w, w) for k in range(n_bands)]
            )
        ).alias("band_idx", "band_value"),
    )
    wcols = [f"w{i}" for i in range(n_words)]
    left = bands_long.select(
        F.col(id_col).alias("a"),
        "band_idx",
        "band_value",
        *[F.col(c).alias(f"a{c}") for c in wcols],
    )
    right = bands_long.select(
        F.col(id_col).alias("b"),
        "band_idx",
        "band_value",
        *[F.col(c).alias(f"b{c}") for c in wcols],
    )
    word_cols = [f"aw{i}" for i in range(n_words)] + [f"bw{i}" for i in range(n_words)]
    cand = (
        left.join(right, on=["band_idx", "band_value"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", *word_cols)
        .distinct()
    )
    hamming = None
    for i in range(n_words):
        term = F.bit_count(F.col(f"aw{i}").bitwiseXOR(F.col(f"bw{i}")))
        hamming = term if hamming is None else hamming + term
    return (
        cand.withColumn("hamming", hamming.cast("bigint"))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def _lineage_tools(verified: DataFrame, checkpoint_dir: str | None):
    """(ckpt, blocks, release) lineage helpers for ``connected_canonical``.

    ``ckpt`` truncates lineage per round — RELIABLE ``checkpoint()`` into
    ``checkpoint_dir`` when given (survives executor loss on a cluster),
    else ``localCheckpoint`` (fine in local mode). ``blocks``/``release``
    bound executor storage across rounds: each round's checkpoint
    supersedes the previous one, whose blocks are freed immediately.
    """

    def _blocks(df: DataFrame):
        # handle on the checkpointed internal RDD (the analyzed plan is a
        # LogicalRDD immediately after checkpoint); unpersist on it frees
        # the executor blocks. Reliable-checkpoint RDDs are not persisted
        # in the block manager, so release degrades to a no-op there.
        try:
            return df._jdf.queryExecution().analyzed().rdd()
        except Exception:
            return None

    def _release(handle) -> None:
        if handle is not None:
            try:
                handle.unpersist(False)
            except Exception:
                pass

    if checkpoint_dir is not None:
        verified.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

        def _ckpt(df: DataFrame, eager: bool = True) -> DataFrame:
            return df.checkpoint(eager=eager)

    else:

        def _ckpt(df: DataFrame, eager: bool = True) -> DataFrame:
            return df.localCheckpoint(eager=eager)

    return _ckpt, _blocks, _release


def connected_canonical(
    verified: DataFrame,
    max_iter: int = 40,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(node, canonical) for every node appearing in verified pairs, where
    canonical = min doc_id of the node's CONNECTED COMPONENT (transitive:
    A~B, B~C => one component even when A~C was never verified).

    Alternating large-star / small-star rounds (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014): **O(log n) rounds
    regardless of component diameter**, so an adversarial 10,000-link
    duplicate chain (boilerplate-mutated mirror farms at 100 TB) converges
    in about a dozen rounds.

    large-star(u): connect every neighbor v > u to m = min(N(u) ∪ {u}).
    small-star(u): over larger→smaller edges, connect u and all its
    neighbors except the minimum to that minimum. Fixpoint = forest of
    stars, every node directly attached to its component min.

    Each round is two groupBy-min + join passes over the edge list only
    (never the corpus); edges point larger→smaller and never outnumber the
    input pairs, so per-round shuffle volume is bounded by the verified-pair
    set. A round costs ONE eager checkpoint action: the fixpoint test is a
    full outer join of the round's edges against the previous round's,
    whose one-sided rows are counted through ``DataFrame.observe`` while
    the checkpoint materializes — exact, so a non-converged exit raises
    instead of silently returning partial labels (the DuckDB oracle
    computes a full closure, so partial labels would be wrong).

    Lineage is truncated per round. With ``checkpoint_dir`` set the
    truncation uses RELIABLE ``checkpoint()`` into that directory
    (HDFS/object store on a cluster) so an executor loss mid-iteration
    recovers from stable storage; the default ``localCheckpoint`` keeps
    blocks on executors — fine for the small node set in local mode.
    Each round's checkpoint supersedes the previous one, whose blocks are
    released immediately; only the final edge list outlives the call (the
    caller's join still reads it lazily).
    """
    from pyspark.sql import Observation

    _ckpt, _blocks, _release = _lineage_tools(verified, checkpoint_dir)

    # larger→smaller orientation. Self-pairs (x, x) ride through every
    # round unchanged, so a node seen only in one still gets its label
    edges = _ckpt(
        verified.select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        ).distinct()
    )
    edges_blocks = _blocks(edges)
    converged = False
    for _ in range(max_iter):
        links = edges.filter(F.col("u") != F.col("v"))
        # large-star over the bidirected neighborhood
        bid = links.unionByName(
            links.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m_of = (
            bid.groupBy("u")
            .agg(F.min("v").alias("_mn"))
            .select("u", F.least("_mn", F.col("u")).alias("m"))
        )
        large = (
            bid.join(m_of, on="u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star over the larger→smaller output
        sm = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(sm, on="u")
            .select(F.col("v").alias("n"), "m")
            .unionByName(sm.select(F.col("u").alias("n"), "m"))
            .filter(F.col("n") != F.col("m"))
            .select(F.col("n").alias("u"), F.col("m").alias("v"))
            .distinct()
            .unionByName(edges.filter(F.col("u") == F.col("v")))
        )
        # fixpoint test rides the checkpoint job: an edge present on only
        # one side of the full outer join means the round changed the graph
        diff = Observation()
        new_edges = _ckpt(
            small.withColumn("_new", F.lit(True))
            .join(edges.withColumn("_old", F.lit(True)), ["u", "v"], "full")
            .observe(
                diff,
                F.count(
                    F.when(F.col("_new").isNull() | F.col("_old").isNull(), 1)
                ).alias("changed"),
            )
            .filter(F.col("_new").isNotNull())
            .select("u", "v")
        )
        changed = diff.get["changed"]
        _release(edges_blocks)
        edges, edges_blocks = new_edges, _blocks(new_edges)
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            "connected_canonical did not converge within max_iter=%d "
            "rounds (expected O(log n)); the edge set is still changing"
            % max_iter
        )
    # star fixpoint: every non-root has exactly one link, to its component
    # min; roots appear only on the smaller side and label themselves. A
    # self-pair row only offers a node its own id, which never beats the
    # component min, and labels a self-pair-only node as itself
    return (
        edges.unionByName(edges.select(F.col("v").alias("u"), "v"))
        .groupBy(F.col("u").alias("node"))
        .agg(F.min("v").alias("canonical"))
    )


def near_dup_verified_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_micros: int = 500_000,
    n_bands: int = 4,
    band_rows: int = 1,
    max_bucket_size: int | None = None,
    shingle_width: int = 3,
    candidate_tier: str = "bands",
) -> tuple[DataFrame, DataFrame]:
    """The shared LSH -> exact-Jaccard VERIFY front end of ``near_dedup``:
    returns ``(verified, pairs)`` where ``verified`` is the (a, b,
    jaccard_micros) frame of pairs passing the threshold and ``pairs`` is
    the persisted candidate-pair frame backing it (``jaccard_verify``
    reads it twice). The caller owns the ``pairs`` lifetime — unpersist
    it once every consumer of ``verified`` has run.

    Factored out so consumers that only need the verified-pair graph
    (bench warm-sharing across the q_near_dedup family — VERDICT r3
    item 5 — the q_lsh_jaccard_pairs / q_minhash128_pairs /
    q_split_leakage queries, custom CC variants) build the EXACT same
    logical plan ``near_dedup`` builds internally: persisting this frame
    lets Spark's CacheManager substitute the canonical-equal fragment
    inside every downstream family query automatically.

    ``candidate_tier`` picks the LSH curve; both are corpus-scale paths
    (pair candidates stay bucket-local, the skew guard bounds degenerate
    buckets) and share the verify tail:

      "bands" (default): ``minhash_bands`` (``n_bands`` x ``band_rows``
        md5 slices, collision probability 1-(1-J^r)^b) +
        ``lsh_candidate_pairs``.
      "wide": PRODUCTION-width candidates — ``minhash_wide_bands`` (128
        permutations, 16x8 banding; ``n_bands``/``band_rows`` are ignored
        in favor of the wide defaults) + ``minhash_wide_pairs``. Higher
        precision at high-J thresholds (the steep 1-(1-J^8)^16 S-curve)
        at the cost of the 128-aggregate shuffle.

    Any other value raises."""
    if candidate_tier == "wide":
        wide_bands = minhash_wide_bands(
            df, text_col, id_col, shingle_width=shingle_width
        )
        pairs = minhash_wide_pairs(
            wide_bands, id_col, max_bucket_size=max_bucket_size
        ).persist()
    elif candidate_tier == "bands":
        bands = minhash_bands(
            df, text_col, id_col,
            n_bands=n_bands, shingle_width=shingle_width,
            band_rows=band_rows,
        )
        pairs = lsh_candidate_pairs(
            bands, id_col, n_bands=n_bands, max_bucket_size=max_bucket_size,
        ).persist()
    else:
        raise ValueError(
            f"candidate_tier must be 'bands' or 'wide' — got {candidate_tier!r}"
        )
    verified = jaccard_verify(
        df, pairs, text_col, id_col, threshold_micros, shingle_width
    )
    return verified, pairs


def near_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_micros: int = 500_000,
    n_bands: int = 4,
    band_rows: int = 1,
    max_bucket_size: int | None = None,
    shingle_width: int = 3,
    candidate_tier: str = "bands",
) -> DataFrame:
    """End-to-end near-dup marking: docs keep ``canonical_doc_id`` =
    min(doc_id) of their connected component in the verified near-duplicate
    graph (transitive chains collapse to ONE canonical id).

    The component computation runs only over docs that have at least one
    verified neighbor; everyone else is their own canonical via coalesce —
    so the corpus-wide cost is one equi-join against the (small) label
    table, broadcastable by AQE at scale.

    The verified pairs come from ``near_dup_verified_pairs`` (see there for
    the ``candidate_tier`` curves): bands for everyone, then exact shingle
    SETS recomputed only for docs that actually appear in a candidate pair
    — candidates << corpus at production duplicate densities, so the
    expensive array materialization never touches the full corpus. The
    candidate-pair frame is persisted across its two consumers (node set +
    verify join) and unpersisted once ``connected_canonical`` has eagerly
    truncated all upstream lineage.
    """
    verified, pairs = near_dup_verified_pairs(
        df,
        text_col=text_col,
        id_col=id_col,
        threshold_micros=threshold_micros,
        n_bands=n_bands,
        band_rows=band_rows,
        max_bucket_size=max_bucket_size,
        shingle_width=shingle_width,
        candidate_tier=candidate_tier,
    )
    try:
        # connected_canonical checkpoints its input eagerly and iterates
        # to a fixpoint, so by the time it returns every job reading
        # `pairs` has run and its lineage is truncated
        labels = connected_canonical(verified).withColumnRenamed("node", id_col)
    finally:
        pairs.unpersist()
    return (
        df.join(labels, on=id_col, how="left")
        .withColumn("canonical_doc_id", F.coalesce("canonical", F.col(id_col)))
        .drop("canonical")
        .withColumn(
            "is_near_duplicate", F.col(id_col) != F.col("canonical_doc_id")
        )
    )


def select_representatives(
    df: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    canonical_col: str = "canonical_doc_id",
    cache_scope: "CacheScope | None" = None,
) -> DataFrame:
    """Quality-aware representative selection over near-dedup clusters:
    instead of keeping the min-id canonical, keep the HIGHEST-``score_col``
    member of every duplicate cluster (ties broken by min id, so the
    selection is deterministic and degenerates to the canonical choice on
    uniform scores). This is the standard curation move — when a cluster
    mixes a clean page with its boilerplate-laden mirrors, min-id keeps an
    arbitrary one; score-argmax keeps the best.

    Input: ``near_dedup(...)`` output (or anything carrying a cluster
    label in ``canonical_col``) plus a numeric per-doc quality score.
    Output: the input plus ``representative_doc_id`` and ``keep``
    (``keep`` = this row IS its cluster's representative; exactly one per
    cluster, singletons always keep).

    100 TB plan shape: the argmax aggregation runs ONLY over docs in
    multi-member clusters — found via the (small) set of canonical ids
    that own at least one non-root member, so the corpus at large is
    touched by two broadcastable joins (leftsemi cluster filter, left rep
    lookup) over a 3-column slim projection, never shuffled whole. At
    production duplicate densities clustered docs << corpus, mirroring
    ``near_dedup``'s candidate-only shingle recompute.

    The input is consumed three times (cluster-id set, argmax scan,
    final width-preserving join). Measured A/B at 500k docs over a
    parquet corpus (BENCH/BASELINE.md, "Operator suite", the
    representative-selection paragraph):
    the three-consumer plan lands WITHIN RUN NOISE of the plain
    near_dedup job — the extra consumers are column-pruned scans over a
    checkpoint-truncated lineage — while force-persisting the slim
    projection measured ~+25% (cache write cost) and would charge
    corpus-scale executor storage at 10^12 rows. So nothing is persisted
    by default; pass ``cache_scope`` (plans/caching.py) to persist the
    slim projection when the input lineage is expensive and NOT already
    materialized (e.g. piped from an un-checkpointed upstream).
    """
    slim = df.select(canonical_col, id_col, score_col)
    if cache_scope is not None:
        slim = scoped_persist(slim, cache_scope)
    # clusters with >1 member = canonicals that appear as someone's label
    # with a differing id (non-roots); bounded by the verified-dup count
    clusters = (
        slim.filter(F.col(id_col) != F.col(canonical_col))
        .select(canonical_col)
        .distinct()
    )
    clustered = slim.join(clusters, on=canonical_col, how="leftsemi")
    # argmax score, ties -> min id: min_by over the (-score, id) struct
    reps = clustered.groupBy(canonical_col).agg(
        F.min_by(
            F.col(id_col),
            F.struct(
                (-F.col(score_col)).alias("s"), F.col(id_col).alias("i")
            ),
        ).alias("_rep")
    )
    return (
        df.join(reps, on=canonical_col, how="left")
        .withColumn(
            "representative_doc_id", F.coalesce("_rep", F.col(id_col))
        )
        .drop("_rep")
        .withColumn(
            "keep", F.col(id_col) == F.col("representative_doc_id")
        )
    )


def passage_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 15,
) -> DataFrame:
    """Cross-document passage-level dedup (the C4/RefinedWeb move: drop
    REPEATED PASSAGES — boilerplate licenses, headers, quoted blocks —
    while keeping the documents that contain them).

    Documents are chunked into non-overlapping ``chunk_tokens``-token
    windows; for every chunk content (md5) exactly ONE occurrence
    corpus-wide survives — the one with the smallest (doc_id, chunk_idx).
    Output: (id, text_clean, n_chunks, n_kept) with text_clean = the
    surviving chunks rejoined in order (empty string if nothing survives).

    Plan shape: explode -> ONE window shuffle keyed by chunk hash (same
    single-shuffle formulation as exact_dedup; the min is computed over a
    (doc_id, chunk_idx) struct) -> groupBy(id) reassembly. Key cardinality
    is O(total tokens / chunk_tokens); a degenerate passage repeated k
    times corpus-wide costs a k-row hash partition, not a join fan-out.
    """
    from pyspark.sql import Window

    toks = tokens_col(text_col)
    n_chunks = F.ceil(F.size("_toks") / chunk_tokens).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda c: F.concat_ws(
            " ", F.slice("_toks", c * chunk_tokens + 1, chunk_tokens)
        ),
    )
    ex = (
        df.withColumn("_toks", toks)
        .filter(F.size("_toks") > 0)  # sequence(0,-1) would descend
        .select(
            F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "chunk")
        )
    )
    w = Window.partitionBy(F.md5("chunk"))
    winner = F.min(F.struct(F.col(id_col), F.col("chunk_idx"))).over(w)
    kept = ex.withColumn(
        "_keep",
        (winner[id_col] == F.col(id_col))
        & (winner["chunk_idx"] == F.col("chunk_idx")),
    )
    per_doc = kept.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_chunks"),
        F.sum(F.when(F.col("_keep"), 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_keep"), F.struct("chunk_idx", "chunk"))
                    )
                ),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("text_clean"),
    )
    # docs with no tokens re-enter with zero chunks
    return (
        df.select(F.col(id_col))
        .join(per_doc, on=id_col, how="left")
        .fillna({"n_chunks": 0, "n_kept": 0, "text_clean": ""})
    )


def repeated_ngram_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Per-document repeated-substring exposure via SLIDING token
    n-grams — the alignment-free complement to :func:`passage_dedup`
    (whose non-overlapping chunks miss a repeated passage that starts
    mid-chunk; a sliding window catches a repeat at ANY token offset,
    the property the suffix-array substring-dedup literature targets).

    A gram is "duplicated" when its content key (60-bit truncated md5 of
    the space-joined window, same engine-reproducible key as
    :func:`exact_substring_removal`) occurs more than once corpus-wide —
    including twice within one document. Output: (id, n_grams,
    n_dup_grams, dup_fraction_micros) for every document with at least
    one full window; docs shorter than ``n`` tokens carry no signal and
    are excluded.

    Plan shape: the explode is ~tokens-per-doc rows, built as a position
    explode + flat gram projection so the md5 stays in whole-stage
    codegen (not an interpreted higher-order lambda); the gram-count
    groupBy and the count-back join both shuffle on the 8-byte gram key
    with map-side partial aggregation (a boilerplate gram repeated k
    times is one k-count cell, never a fan-out); the final per-doc
    rollup shuffles on the id. No windows, no driver state.
    """
    toks = tokens_col(text_col)
    size = F.size("_toks")
    ex = (
        df.withColumn("_toks", toks)
        .filter(size >= n)
        .select(
            F.col(id_col),
            "_toks",
            F.explode(F.sequence(F.lit(1), size - n + 1)).alias("_p"),
        )
        .select(
            id_col,
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            " ", F.slice("_toks", F.col("_p"), F.lit(n))
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            )
            .cast("bigint")
            .alias("gram"),
        )
    )
    counts = ex.groupBy("gram").agg(F.count("*").cast("bigint").alias("_cnt"))
    return (
        ex.join(counts, on="gram")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.sum(F.when(F.col("_cnt") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_grams"),
        )
        .withColumn(
            "dup_fraction_micros",
            F.expr("n_dup_grams * 1000000 div n_grams").cast("bigint"),
        )
    )


def exact_substring_removal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 20,
    prefilter_bits: int | None = None,
    prefilter_k: int = 5,
    cache_scope: "CacheScope | None" = None,
) -> DataFrame:
    """Cross-document duplicated-SPAN excision — the "ExactSubstr" dedup
    of Lee et al. 2022 (Deduplicating Training Data Makes Language Models
    Better, arXiv:2107.06499) re-expressed over sliding token ``n``-grams
    instead of a suffix array: where :func:`repeated_ngram_stats` only
    MEASURES repeated-substring exposure and :func:`passage_dedup` drops
    aligned fixed chunks, this cuts the duplicated token runs themselves
    out of the documents at any alignment, keeping exactly one copy
    corpus-wide.

    Semantics (engine-deterministic, mirrored verbatim by the DuckDB
    oracle): an n-gram occurrence ``(doc, pos)`` is a *duplicate* when its
    content key occurs more than once corpus-wide and the occurrence is
    not the global first — the minimal ``(doc_id, pos)``. The key is the
    first 15 hex chars of the window's md5 as a BIGINT (60 bits): an
    8-byte radix-sortable shuffle key instead of a 32-char string —
    measured 147.6 -> 130.9 s at 6 cores on the 250k-page
    dense-duplicate corpus, and it removed the 2.2x bimodal run-to-run
    variance the string key showed at 24 cores (196/197/87 s -> a
    stable 111/96/98 s) — still reproducible bit-for-bit in any engine
    with md5 (DuckDB: ``('0x' || substring(md5(w), 1, 15))::BIGINT``).
    Key collisions falsely mark a span duplicated with probability
    ~g^2/2^61 for g corpus grams — at a TRILLION grams that is ~0.04%
    of one percent of spans, below any curation significance.  Every token covered by any duplicate occurrence's
    ``[pos, pos+n-1]`` window is removed; the rest reassemble in order.
    Docs shorter than ``n`` tokens carry no gram and pass through intact.
    Output: ``(id, n_tokens, n_removed, text_clean)`` for every input row.

    Plan shape (100 TB): the gram explode is ~tokens-per-doc rows.
    Corpus count + global first occurrence come from a PARTIAL-AGGREGATED
    groupBy on the gram hash — deliberately NOT a window: a window puts a
    boilerplate gram repeated 10^9 times into ONE unsorted partition cell
    with no map-side combine (straggler/OOM at scale), whereas the
    groupBy combines hot grams inside every map task and ships one
    (cnt, min) cell per distinct gram. The aggregate, filtered to
    duplicated grams only, joins back to the exploded occurrences — the
    single full-scale shuffle in the plan, AQE-skew-splittable, and its
    output is exactly the duplicate occurrences the operator needs.
    Duplicate starts then roll up per doc (slim shuffle on id) and fold
    into merged removal intervals INSIDE an array expression, so the
    final token-coverage test is O(tokens x intervals) per row in
    codegen — no per-token join, no Python. The intervals join back to
    the corpus on the id; documents containing no duplicate span skip
    the fold via the left join's null arm.
    """
    toks = tokens_col(text_col)
    size = F.size("_toks")
    # positions explode FIRST, the gram key is then a flat projection —
    # whole-stage-codegen territory. Building the gram array inside an
    # F.transform lambda instead leaves every md5 in INTERPRETED
    # higher-order evaluation (the same trap the simhash sketch builder
    # measured at 8x; see BENCH/BASELINE.md round-3 notes).
    ex = (
        df.withColumn("_toks", toks)
        .filter(size >= n)
        .select(
            F.col(id_col),
            "_toks",
            F.explode(F.sequence(F.lit(1), size - n + 1)).alias("_p"),
        )
        .select(
            id_col,
            F.col("_p").cast("bigint").alias("pos"),
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            " ", F.slice("_toks", F.col("_p"), F.lit(n))
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            )
            .cast("bigint")
            .alias("gram"),
        )
    )
    dup_grams = (
        ex.groupBy("gram")
        .agg(
            F.count("*").alias("_cnt"),
            F.min(F.struct(F.col(id_col), F.col("pos"))).alias("_first"),
        )
        .filter(F.col("_cnt") > 1)
        .select("gram", "_first")
    )
    occ = ex
    if prefilter_bits:
        # Bloom prefilter on the occurrence side of the dup join
        # (operators/bloom.py): broadcast a bounded m-bit sketch of the
        # duplicated gram keys and drop non-candidate occurrences
        # MAP-SIDE, before they reach the join exchange. Exact semantics
        # are untouched — false positives still fail the inner join; the
        # bloom has no false negatives. At realistic duplicate density
        # (~5% of occurrences duplicated) this removes ~95% of the
        # join's shuffle volume; at adversarial density (everything
        # duplicated) it degrades gracefully to the plain plan plus two
        # short-string md5 probes per occurrence. The sketch is bounded
        # by construction (m bits, never by corpus size); when the
        # duplicated-gram cardinality overwhelms m the FP rate drifts
        # toward 1 and the plan smoothly becomes the unfiltered one.
        #
        # Lineage discipline (the part that makes this a win instead of
        # a 3x regression): dup_grams feeds the sketch AND the verify
        # join, so it must be persisted or the gram aggregate's
        # corpus-scale shuffle re-executes per consumer. The sketch
        # DataFrame is persisted too (n_shards rows of m/64 longs —
        # bounded by parameters, never by data), staying entirely
        # JVM-side: its rebuild-from-cache lineage is one bounded
        # aggregate over the cached dup_grams.
        from .bloom import bloom_build, bloom_member

        dup_grams = scoped_persist(dup_grams, cache_scope)
        filt = scoped_persist(
            bloom_build(dup_grams, "gram", m=prefilter_bits, k=prefilter_k),
            cache_scope,
        )
        occ = (
            bloom_member(
                ex, filt, "gram",
                m=prefilter_bits, k=prefilter_k, out_col="_bf_hit",
            )
            .filter(F.col("_bf_hit"))
            .drop("_bf_hit")
        )
    dup = (
        occ.join(dup_grams, on="gram")
        .filter(
            ~(
                (F.col("_first")[id_col] == F.col(id_col))
                & (F.col("_first")["pos"] == F.col("pos"))
            )
        )
        .select(id_col, "pos")
    )
    # sorted duplicate starts -> merged [s, e] intervals, folded in one
    # array expression (starts are sorted asc, so append-or-extend-last)
    iv_t = "array<struct<s: bigint, e: bigint>>"
    spans = dup.groupBy(id_col).agg(
        F.aggregate(
            F.array_sort(F.collect_list("pos")),
            F.expr(f"CAST(array() AS {iv_t})"),
            lambda acc, p: F.when(
                (F.size(acc) > 0)
                & (p <= F.element_at(acc, -1)["e"] + 1),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(
                        F.struct(
                            F.element_at(acc, -1)["s"].alias("s"),
                            F.greatest(
                                F.element_at(acc, -1)["e"], p + n - 1
                            ).alias("e"),
                        )
                    ),
                ),
            ).otherwise(
                F.concat(
                    acc,
                    F.array(F.struct(p.alias("s"), (p + n - 1).alias("e"))),
                )
            ),
        ).alias("_iv")
    )
    base = df.withColumn("_toks", toks).select(F.col(id_col), "_toks")
    joined = base.join(spans, on=id_col, how="left").withColumn(
        "_iv", F.coalesce("_iv", F.expr(f"CAST(array() AS {iv_t})"))
    )
    kept = F.filter(
        "_toks",
        lambda t, i: ~F.exists(
            "_iv",
            lambda s: ((i + 1) >= s["s"]) & ((i + 1) <= s["e"]),
        ),
    )
    return joined.select(
        F.col(id_col),
        F.size("_toks").cast("bigint").alias("n_tokens"),
        (F.size("_toks") - F.size(kept)).cast("bigint").alias("n_removed"),
        F.array_join(kept, " ").alias("text_clean"),
    )


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 13,
) -> DataFrame:
    """Benchmark decontamination by ``ngram``-token overlap (the published
    GPT-3/PaLM protocol shape: a training document is contaminated if it
    shares any length-n token window with an evaluation set).

    Returns (id, n_contaminated_grams, contaminated). The benchmark gram
    set is DISTINCT hashes only — small by construction (eval suites are
    thousands of docs, not billions) — so the membership test is a
    broadcast semi-join against the corpus's exploded overlapping grams;
    no shuffle touches corpus-scale data beyond the per-doc count agg.
    """

    def _overlapping_grams(frame: DataFrame, keep_id: bool) -> DataFrame:
        toks = tokens_col(text_col)
        grams = F.transform(
            F.sequence(F.lit(1), F.size("_toks") - (ngram - 1)),
            lambda i: F.md5(
                F.concat_ws(
                    " ", *[F.element_at("_toks", i + j) for j in range(ngram)]
                )
            ),
        )
        base = frame.withColumn("_toks", toks).filter(F.size("_toks") >= ngram)
        cols = [F.col(id_col)] if keep_id else []
        return base.select(*cols, F.explode(grams).alias("gram_hash"))

    bench_grams = _overlapping_grams(benchmark, keep_id=False).distinct()
    doc_grams = _overlapping_grams(df, keep_id=True)
    hits = doc_grams.join(
        F.broadcast(bench_grams), on="gram_hash", how="left_semi"
    ).groupBy(id_col).agg(F.count("*").cast("bigint").alias("n_contaminated_grams"))
    return (
        df.select(F.col(id_col))
        .join(hits, on=id_col, how="left")
        .fillna({"n_contaminated_grams": 0})
        .withColumn("contaminated", F.col("n_contaminated_grams") > 0)
    )


def simhash_sketches(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 64,
) -> DataFrame:
    """(id, simhash_bits): production-width SimHash via explode + groupBy,
    the only SimHash builder.

    Classic Charikar sketch: bit b is the sign of the sum over tokens of
    (+1 if bit b of md5(token) else -1), bit b read from hex nibble b//4
    with mask 8 >> b%4. Exploded token rows + 64 SUM(CASE) aggregates,
    all of which whole-stage-codegen; a map-only higher-order fold over
    the token array computes the same bits but Spark evaluates it
    interpretively (measured 26.5 s vs ~2 s at sf0.1).
    Costs one shuffle of (id, 64 ints) partial aggregates — map-side
    combine keeps the exchange slim. A document with no token gets no
    row. Pinned against a pure-Python twin by test."""
    if not 1 <= n_bits <= 128:
        raise ValueError("md5 provides at most 128 bits")
    toks = tokens_col(text_col)
    ex = (
        df.select(F.col(id_col), toks.alias("_toks"))
        .filter(F.size("_toks") > 0)
        .select(F.col(id_col), F.explode("_toks").alias("_tok"))
        .withColumn("_h", F.md5("_tok"))
    )
    # one F.expr per bit aggregate: the composed sum(when(isin(...)))
    # Column form cost ~8 py4j round trips per bit x 64 bits of
    # driver-side build latency (measured ~5 s under load)
    aggs = []
    for b in range(n_bits):
        nib, mask = b // 4, 8 >> (b % 4)
        chars = ",".join(
            "'%s'" % c for c in "0123456789abcdef" if int(c, 16) & mask
        )
        aggs.append(
            F.expr(
                "sum(CASE WHEN substring(_h, %d, 1) IN (%s) "
                "THEN 1 ELSE -1 END)" % (nib + 1, chars)
            ).alias(f"_s{b}")
        )
    g = ex.groupBy(id_col).agg(*aggs)
    bits = F.concat(
        *[
            F.when(F.col(f"_s{b}") > 0, F.lit("1")).otherwise(F.lit("0"))
            for b in range(n_bits)
        ]
    )
    return g.select(F.col(id_col), bits.alias("simhash_bits"))


def _exploded_shingles(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_width: int,
) -> DataFrame:
    """(id, _sh) — one row per word shingle, shingle STRINGS built
    map-side by a cheap concat transform then exploded. Shared by the
    narrow (minhash_bands) and wide (minhash_wide_minima) candidate tiers
    so their tokenization/shingle semantics cannot diverge."""
    base = df.withColumn("_toks", tokens_col(text_col)).filter(
        F.size("_toks") >= shingle_width
    )
    n = F.size("_toks")
    shingles = F.transform(
        F.sequence(F.lit(1), n - (shingle_width - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at("_toks", i + j) for j in range(shingle_width)]
        ),
    )
    return base.select(F.col(id_col), F.explode(shingles).alias("_sh"))


def minhash_bands(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bands: int = 4,
    shingle_width: int = 3,
    band_rows: int = 1,
) -> DataFrame:
    """(id, band_0..band_{k-1}) for docs with >= ``shingle_width`` tokens.

    One md5 per word shingle; permutation i is the i-th disjoint 8-hex
    slice of the digests (md5 bits are independent), so band k is the
    concat over j < ``band_rows`` of the min of slice ``k*band_rows + j``.
    ``band_rows`` is the classic LSH ``r``: two docs collide on a band
    with probability ~J^r. r=1 maximizes recall but degenerates on
    low-entropy corpora (everything sharing the globally-smallest shingle
    lands in one bucket); r=2 keeps buckets proportional to true
    near-duplicate density. Requires ``n_bands * band_rows <= 4``.

    The md5 + min work runs on exploded rows aggregated by codegen MIN
    rather than in per-shingle higher-order folds (which Spark evaluates
    interpretively): shingle STRINGS are built map-side by a cheap concat
    transform, then explode -> md5 (whole-stage codegen) -> groupBy(id)
    with map-side partial MIN combine, so the only shuffle carries one
    slim (id, minima) row per doc per partition. No ``shingle_hashes``
    array: this is the CANDIDATE-GENERATION tier for corpus scale —
    ``jaccard_verify`` recomputes exact shingle sets only for the docs
    that appear in candidate pairs. The output sits behind the Aggregate
    ``lsh_candidate_pairs`` requires. Values are pinned against a
    hashlib reference by test.
    """
    if n_bands * band_rows > 4:
        raise ValueError("n_bands * band_rows must be <= 4 (md5 slice budget)")
    ex = _exploded_shingles(df, text_col, id_col, shingle_width)
    hashed = ex.select(F.col(id_col), F.md5("_sh").alias("_h"))
    aggs = []
    for k in range(n_bands):
        for j in range(band_rows):
            aggs.append(
                F.min(
                    F.substring("_h", 1 + 8 * (k * band_rows + j), 8)
                ).alias(f"_m_{k}_{j}")
            )
    g = hashed.groupBy(id_col).agg(*aggs)
    bands = [
        F.concat(*[F.col(f"_m_{k}_{j}") for j in range(band_rows)]).alias(
            f"band_{k}"
        )
        for k in range(n_bands)
    ]
    return g.select(F.col(id_col), *bands)


def minhash_wide_bands(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perms: int = 128,
    n_bands: int = 16,
    shingle_width: int = 3,
) -> DataFrame:
    """(id, band_0..band_{n_bands-1}) — PRODUCTION-width MinHash banding.

    The 4-slice md5 budget of ``minhash_bands`` caps the S-curve at
    (b<=4, r<=4); real corpus dedup (Broder '97; datasketch's defaults;
    the SlimPajama/FineWeb recipes) uses 128 permutations banded 16x8 so
    the collision curve 1-(1-J^r)^b is steep around J~0.8. This builder
    gets 128 permutations for 1x md5 per shingle: base x = first 32 bits
    of the shingle digest reduced mod p = 2^31-1, fanned out through the
    2-universal family h_i(x) = (a_i*x + b_i) mod p
    (functions/hashing.py:minhash_perm_coeffs — exact BIGINT arithmetic,
    engine-portable; a*x < 2^62 by construction so nothing overflows).

    Plan shape is the proven codegen tier: shingle strings built map-side,
    explode -> md5 -> one cheap base-int column -> groupBy(id) with 128
    partial-MIN aggregates (map-side combine; the shuffle carries one slim
    (id, 128 bigints) row per doc per partition), then band k =
    md5(concat of its r minima) — banding happens AFTER the Aggregate so
    the band expressions sit behind a barrier and can't be re-inlined
    into join predicates (the lsh_candidate_pairs pathology).
    """
    if n_perms % n_bands != 0:
        raise ValueError("n_perms must be divisible by n_bands")
    band_rows = n_perms // n_bands
    g = minhash_wide_minima(
        df,
        text_col=text_col,
        id_col=id_col,
        n_perms=n_perms,
        shingle_width=shingle_width,
    )
    bands = [
        F.md5(
            F.concat_ws(
                "-",
                *[
                    F.col(f"_m{k * band_rows + j}").cast("string")
                    for j in range(band_rows)
                ],
            )
        ).alias(f"band_{k}")
        for k in range(n_bands)
    ]
    return g.select(F.col(id_col), *bands)


def minhash_wide_minima(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perms: int = 128,
    shingle_width: int = 3,
) -> DataFrame:
    """(id, _m0.._m{n_perms-1}) per-permutation minima — the raw wide
    signature ``minhash_wide_bands`` folds into band digests. Exposed
    separately so signature-level consumers (cross-engine oracle queries,
    similarity estimation between known pairs) share the exact plan."""
    from ..functions.hashing import MERSENNE_31, minhash_perm_coeffs

    coeffs = minhash_perm_coeffs(n_perms)
    p = F.lit(MERSENNE_31)
    ex = _exploded_shingles(df, text_col, id_col, shingle_width)
    hashed = ex.select(
        F.col(id_col),
        (
            F.conv(F.substring(F.md5("_sh"), 1, 8), 16, 10).cast("bigint") % p
        ).alias("_x"),
    )
    # one F.expr per aggregate (1 py4j call each) instead of composed
    # Column arithmetic (~6 calls each x 128 perms of driver-side latency)
    aggs = [
        F.expr(
            "min((%d * _x + %d) %% %d)" % (a, b, MERSENNE_31)
        ).alias(f"_m{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def minhash_wide_pairs(
    bands_df: DataFrame,
    id_col: str = "doc_id",
    n_bands: int = 16,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Distinct (a, b) candidate pairs colliding on >=1 of the wide bands.

    Bucket-local pair generation, not a self-join: exploded
    (band_idx, band_value) rows aggregate ONCE into per-bucket doc-id
    lists, and pairs are emitted from within each bucket. A band self-join
    would execute the 128-aggregate band-building subtree twice (Spark
    does not ReuseExchange across the join's two sides here — measured:
    4 scans / 6 aggregates in the join plan vs 2/3 in this one); the
    bucket aggregation runs it once and shuffles slim
    (band_idx, band_value, id) rows keyed by the band key, whose
    cardinality scales with the corpus — never all-pairs.

    ``max_bucket_size`` caps the quadratic term per band bucket (one
    degenerate bucket of size s is s^2/2 pairs at 100 TB); it also bounds
    the collected per-bucket id list, so memory per group is
    cap * id-width. Dropped buckets mirror lsh_candidate_pairs'
    oversized-bucket audit semantics.
    """
    band_cols = [f"band_{k}" for k in range(n_bands)]
    long = bands_df.select(
        F.col(id_col),
        F.posexplode(F.array(*[F.col(c) for c in band_cols])).alias(
            "band_idx", "band_value"
        ),
    )
    return _bucket_local_pairs(long, id_col, max_bucket_size)


def band_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The at-rest LSH index of an ingested corpus: one slim
    ``(id, band_0..band_15)`` row per doc (production-width
    ``minhash_wide_bands``), meant to be WRITTEN at ingest time and read
    back by every later ``near_dedup_incremental`` batch instead of
    re-shingling the base corpus' text. Per-doc rows, so the index of a
    growing corpus is maintained by appending each batch's rows — no
    rebuild, no read-modify-write (law pinned by test):

        index(base ∪ batch) == index(base) ∪ index(batch)

    At 10^12 docs the index is ~16 digests/doc regardless of document
    size — the difference between an ingest batch costing O(batch +
    touched-base-text) and re-hashing 100 TB of corpus text per batch.
    ``jobs/dedup_job.py --band-index`` wires the read/append cycle.
    """
    return minhash_wide_bands(df, text_col, id_col)


def band_index_long(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_len: int = 2,
) -> DataFrame:
    """The LONG band-index layout: one ``(id, band_idx, band_value,
    band_prefix)`` row per (doc, band), meant to be written PARTITIONED by
    ``(band_idx, band_prefix)`` — the 10^12-row endgame for ingest batches
    too large to broadcast their band keys. A batch touches a bounded set
    of (band_idx, prefix) partitions (≤ n_bands x 16^prefix_len cells
    regardless of batch size), so ``read_band_index_pruned`` turns the
    batch's key set into partition-column predicates and the corpus-scale
    index prunes FILES at scan time — no broadcast, no index shuffle,
    no full scan. Maintenance stays a pure append of survivor rows (the
    same union law as the wide ``band_index``).

        band_index_long(base).write.partitionBy("band_idx", "band_prefix")
            .parquet(path)   # or write_documents(..., partition_by=[...])
    """
    wide = minhash_wide_bands(df, text_col, id_col)
    long = wide.select(
        F.col(id_col),
        F.posexplode(
            F.array(*[F.col(f"band_{k}") for k in range(16)])
        ).alias("band_idx", "band_value"),
    )
    return long.withColumn(
        "band_prefix", F.substring("band_value", 1, prefix_len)
    )


def read_band_index_pruned(
    target_df: DataFrame,
    batch_bands: DataFrame,
    id_col: str = "doc_id",
    prefix_len: int = 2,
    n_bands: int = 16,
) -> DataFrame:
    """Partition-pruned read of a ``band_index_long`` table: the batch's
    touched ``(band_idx, band_prefix)`` set (a bounded driver collect —
    ≤ n_bands x 16^prefix_len cells no matter how large the batch is)
    becomes literal predicates on the PARTITION columns, so Catalyst
    prunes untouched files from the scan. Returns the pruned long frame
    ``(id, band_idx, band_value)`` ready for
    ``incremental_candidate_pairs(..., bb_long=...)``.

    Guards the silent-mismatch mode: a reader whose ``prefix_len``
    differs from the writer's would generate predicates that match no
    partition and return zero candidates — the prefix width of the
    stored table is checked against ``prefix_len`` and a mismatch
    raises."""
    from functools import reduce

    head = target_df.select("band_prefix").head(1)
    if head and len(head[0][0]) != prefix_len:
        raise ValueError(
            f"stored band_prefix width {len(head[0][0])} != requested "
            f"prefix_len {prefix_len}; re-read with the writer's width"
        )
    touched_rows = (
        batch_bands.select(
            F.posexplode(
                F.array(*[F.col(f"band_{k}") for k in range(n_bands)])
            ).alias("band_idx", "band_value")
        )
        .select(
            "band_idx",
            F.substring("band_value", 1, prefix_len).alias("band_prefix"),
        )
        .distinct()
        .collect()
    )
    by_idx: dict[int, list[str]] = {}
    for r in touched_rows:
        by_idx.setdefault(r["band_idx"], []).append(r["band_prefix"])
    if not by_idx:
        return target_df.filter(F.lit(False)).select(
            id_col, "band_idx", "band_value"
        )
    pred = reduce(
        lambda a, b: a | b,
        [
            (F.col("band_idx") == i) & F.col("band_prefix").isin(ps)
            for i, ps in by_idx.items()
        ],
    )
    return target_df.filter(pred).select(id_col, "band_idx", "band_value")


def incremental_candidate_pairs(
    nb: DataFrame,
    bb: DataFrame | None,
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
    prune: str = "broadcast",
    n_bands: int = 16,
    bb_long: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Batch-vs-corpus candidate pairs from two wide band frames (each
    ``(id, band_0..band_{n_bands-1}, _is_new)``; ``nb`` flagged True,
    ``bb`` False). Returns ``(pairs, nb_long)`` — the candidate kernel of
    ``near_dedup_incremental``, whose ingest cost against a full
    recompute is recorded in BENCH/BASELINE.md ("Incremental ingest
    dedup vs full recompute A/B"). ``nb_long`` (the persisted batch banding
    subtree — it feeds both the prune key set and the union) is returned
    for the CALLER to release only after the pairs' consumers have
    materialized (releasing before the first action would silently
    recompute the batch banding — the assign_codes recompute hazard
    class, VERDICT r2).

    Candidate generation is O(batch + touched-base), not O(corpus): only
    base rows in buckets the BATCH touches can ever reach a qualifying
    pair (a bucket with no new member emits nothing), so the base side
    is pruned by a leftsemi on the batch's distinct band keys BEFORE the
    bucket aggregation. The semi-join keeps WHOLE buckets, so the skew
    cap still sees true bucket sizes. ``prune`` picks the join strategy:

    - ``"broadcast"`` (default): the batch's ~n_bands x batch band keys
      ship to every scan task and the base index is scanned but NEVER
      shuffled — the right plan while the key set fits a broadcast
      (~<= 10^6-doc batches). At 10^12-row corpora this is the whole
      game: zero corpus exchange.
    - ``"shuffle"``: both sides hash-partition on the band key; the base
      index shuffles ONCE and the bucket aggregation reuses that
      exchange — never worse than the unpruned plan, for batches too
      large to broadcast.

    (The 10^12-row endgame for huge batches is the band-prefix-partitioned
    LONG index — ``band_index_long`` + ``read_band_index_pruned`` — whose
    touched partitions prune FILES at scan time: pass the pruned frame as
    ``bb_long`` (``bb`` then unused, may be None); the broadcast semi-join
    is still applied on top to shrink touched-partition rows to touched
    BUCKETS before the aggregation.)
    """
    if prune not in ("broadcast", "shuffle"):
        raise ValueError(f"unknown prune strategy: {prune!r}")
    band_cols = [f"band_{k}" for k in range(n_bands)]

    def _long(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col),
            "_is_new",
            F.posexplode(F.array(*[F.col(c) for c in band_cols])).alias(
                "band_idx", "band_value"
            ),
        )

    nb_long = _long(nb).persist()
    if bb_long is not None:
        bb_long = bb_long.select(
            F.col(id_col), F.lit(False).alias("_is_new"),
            "band_idx", "band_value",
        )
    else:
        bb_long = _long(bb)
    touched = nb_long.select("band_idx", "band_value").distinct()
    if prune == "broadcast":
        touched = F.broadcast(touched)
    bb_long = bb_long.join(touched, ["band_idx", "band_value"], "leftsemi")
    pairs = _bucket_local_pairs(
        nb_long.unionByName(bb_long), id_col, max_bucket_size,
        flag_col="_is_new",
    )
    return pairs, nb_long


def near_dedup_incremental(
    new_df: DataFrame,
    base_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_micros: int = 500_000,
    max_bucket_size: int | None = None,
    base_bands: DataFrame | None = None,
    prune: str = "broadcast",
    base_bands_long: DataFrame | None = None,
) -> DataFrame:
    """Near-dedup an INGEST BATCH against an existing corpus plus itself —
    the continuously-ingested-corpus pattern: base-vs-base comparisons are
    never generated (the base was deduped when it was ingested), so each
    batch costs O(batch + touched-base), not O(corpus^2).

    Candidate pairs use the production-width band tier restricted to
    pairs with >= 1 new doc: the within-bucket combination filter simply
    requires a new member, so a bucket holding only base docs emits
    nothing. In production the base band table is computed ONCE at ingest
    time and stored (``band_index`` — a slim (id, 16 digests) table) and
    passed as ``base_bands``: the base corpus' TEXT is then touched only
    for candidate docs (the verify join is leftsemi on the candidate node
    set), never re-shingled. Without ``base_bands`` the index is derived
    from ``base_df`` for self-containment — the plan under the bands is
    identical either way (pinned by test). For batches too large to
    broadcast their band keys, pass ``base_bands_long`` instead: the
    partition-PRUNED frame from ``read_band_index_pruned`` over a
    ``band_index_long`` table, where the touched-bucket restriction
    already happened at file-scan level (outputs pinned identical to the
    wide path by test).

    Verified pairs (exact shingle Jaccard, candidates only) feed the same
    connected-component canonicalization as ``near_dedup``: a new doc
    matching two different base docs legitimately links them through
    itself. Output: ``new_df`` rows + ``canonical_doc_id`` (min id of the
    component, which is a base id whenever any base doc participates) +
    ``is_near_duplicate``.

    Equality property (pinned by test): when the base has no internal
    near-dups, the new docs' assignments equal running full ``near_dedup``
    (wide tier) over base ∪ new.
    """
    n_bands_expected = 16
    if base_bands is not None and base_bands_long is not None:
        raise ValueError("pass base_bands OR base_bands_long, not both")
    nb = minhash_wide_bands(new_df, text_col, id_col).withColumn(
        "_is_new", F.lit(True)
    )
    bb = None
    if base_bands_long is not None:
        missing = {id_col, "band_idx", "band_value"} - set(
            base_bands_long.columns
        )
        if missing:
            raise ValueError(
                f"base_bands_long is missing columns {sorted(missing)}; "
                "expected the read_band_index_pruned() layout"
            )
    elif base_bands is not None:
        missing = {
            c
            for c in [id_col] + [f"band_{k}" for k in range(n_bands_expected)]
            if c not in base_bands.columns
        }
        if missing:
            raise ValueError(
                f"base_bands is missing columns {sorted(missing)}; "
                "expected the band_index() layout"
            )
        bb = base_bands.select(
            F.col(id_col), *[f"band_{k}" for k in range(n_bands_expected)]
        ).withColumn("_is_new", F.lit(False))
    else:
        bb = minhash_wide_bands(base_df, text_col, id_col).withColumn(
            "_is_new", F.lit(False)
        )
    pairs, nb_long = incremental_candidate_pairs(
        nb, bb, id_col=id_col, max_bucket_size=max_bucket_size, prune=prune,
        bb_long=base_bands_long,
    )
    pairs = pairs.persist()
    try:
        corpus = new_df.select(F.col(id_col), F.col(text_col)).unionByName(
            base_df.select(F.col(id_col), F.col(text_col))
        )
        verified = jaccard_verify(
            corpus, pairs, text_col, id_col, threshold_micros
        )
        labels = connected_canonical(verified).withColumnRenamed(
            "node", id_col
        )
    finally:
        pairs.unpersist()
        nb_long.unpersist()
    return (
        new_df.join(labels, on=id_col, how="left")
        .withColumn(
            "canonical_doc_id", F.coalesce("canonical", F.col(id_col))
        )
        .drop("canonical")
        .withColumn(
            "is_near_duplicate", F.col(id_col) != F.col("canonical_doc_id")
        )
    )


def line_dedup(
    df: DataFrame,
    lines_col: str = "lines",
    id_col: str = "doc_id",
    min_count: int = 3,
    max_removed_frac_micros: int = 300_000,
    sep: str = "\n",
) -> DataFrame:
    """Corpus-wide repeated-LINE removal — the line-wise dedup stage of
    RefinedWeb (Penedo et al. 2023, arXiv:2306.01116 §3.3, after the
    MassiveText precedent): lines whose exact content recurs across the
    corpus are boilerplate (navigation chrome, cookie banners, share
    widgets) and are struck from every document; documents that lose too
    much of their body are dropped wholesale.

    Input is ``(id, array<string> lines)`` — segmentation is the CALLER's
    policy (newline split for real pages; any deterministic chunking for
    line-less text). An occurrence counts toward the corpus tally even
    when the repeats sit inside one document.

    Semantics (engine-deterministic): a line is removed iff its content
    key — 60-bit truncated md5, the shared radix-sortable BIGINT gram key
    of :func:`exact_substring_removal` — occurs ``>= min_count`` times
    corpus-wide. ``keep_doc`` is false when removed lines exceed
    ``max_removed_frac_micros`` of the document's lines (integer
    cross-multiplied; no floats). Output: ``(id, n_lines, n_removed,
    text_clean, keep_doc)`` — ``text_clean`` joins survivors with
    ``sep`` (newline by default; pass a space when the caller's
    segmentation was token chunks); every input row appears.

    Plan shape: positions explode to ~lines-per-doc rows with the key a
    flat codegen projection; ONE partial-aggregated groupBy on the 8-byte
    key (a banner repeated k times is one k-count cell, never a fan-out);
    the removed-position set joins back on the key and folds per doc; the
    corpus rejoin is by id. Identical scaling envelope to the measured
    ExactSubstr probe minus its interval arithmetic — no windows, no
    driver state, no Python.
    """
    key = (
        F.conv(F.substring(F.md5(F.col("_line")), 1, 15), 16, 10)
        .cast("bigint")
        .alias("_k")
    )
    ex = df.select(
        F.col(id_col), F.posexplode(lines_col).alias("_p", "_line")
    ).select(id_col, "_p", key)
    dup_keys = (
        ex.groupBy("_k")
        .agg(F.count("*").alias("_cnt"))
        .filter(F.col("_cnt") >= min_count)
        .select("_k")
    )
    removed = (
        ex.join(dup_keys, on="_k")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list("_p")).alias("_rm"))
    )
    n_lines = F.size(lines_col).cast("bigint")
    n_removed = F.coalesce(F.size("_rm"), F.lit(0)).cast("bigint")
    kept = F.filter(
        lines_col,
        lambda line, i: ~F.coalesce(
            F.array_contains("_rm", i), F.lit(False)
        ),
    )
    return (
        df.join(removed, on=id_col, how="left")
        .select(
            F.col(id_col),
            n_lines.alias("n_lines"),
            n_removed.alias("n_removed"),
            F.array_join(kept, sep).alias("text_clean"),
            (
                n_removed * MICRO
                <= F.lit(max_removed_frac_micros) * n_lines
            ).alias("keep_doc"),
        )
    )


def cross_source_dup_matrix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Which sources duplicate into which: (source_a, source_b,
    dup_groups, dup_pairs) over exact content-hash groups, source_a <=
    source_b lexicographically. ``dup_groups`` counts distinct duplicated
    texts shared by the pair; ``dup_pairs`` counts document pairs
    (cnt_a * cnt_b across sources; cnt * (cnt-1) / 2 within one source).
    The standard corpus-forensics question behind exact dedup — which
    feeds re-crawl each other, whether a mirror is worth ingesting at
    all — answered with output bounded by n_sources^2 rows.

    Skew-safe by construction: the corpus collapses FIRST to one slim
    row per (text_hash, source) via a partial-aggregated groupBy, so the
    per-group self-join fans out at most n_sources^2 rows per duplicated
    text no matter how many documents share it (a universal boilerplate
    text — the classic degenerate group — contributes the same bounded
    row count as any other). Two shuffles total (the groupBy and the
    equi-join on the hash), both on slim rows.

    NULL sources are folded into the sentinel bucket ``(null)`` rather
    than dropped: the hash equi-join keeps NULL ``_src`` rows, but
    ``source_a <= source_b`` evaluates to NULL for them, so without the
    sentinel every duplicate group touching an unattributed document —
    and all of its cross pairs with named sources — would silently
    vanish from the matrix (ADVICE r3). For corpus forensics the
    unattributed bucket is a first-class answer, not noise.
    """
    per_src = (
        df.select(
            F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("_h"),
            F.coalesce(F.col(source_col), F.lit("(null)")).alias("_src"),
        )
        .groupBy("_h", "_src")
        .agg(F.count("*").alias("_cnt"))
    )
    a = per_src.select(
        "_h", F.col("_src").alias("source_a"), F.col("_cnt").alias("_ca")
    )
    b = per_src.select(
        "_h", F.col("_src").alias("source_b"), F.col("_cnt").alias("_cb")
    )
    joined = a.join(b, "_h").filter(F.col("source_a") <= F.col("source_b"))
    # exact integer halving (shiftright), no double round-trip; the
    # product caps exactness (and, under ANSI, validity) at ~3e9 docs
    # sharing one text — far past any real duplicate group
    pairs = F.when(
        F.col("source_a") == F.col("source_b"),
        F.shiftright(F.col("_ca") * (F.col("_ca") - 1), 1),
    ).otherwise(F.col("_ca") * F.col("_cb"))
    return (
        joined.withColumn("_pairs", pairs.cast("bigint"))
        .filter(F.col("_pairs") > 0)
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").cast("bigint").alias("dup_groups"),
            F.sum("_pairs").cast("bigint").alias("dup_pairs"),
        )
    )
