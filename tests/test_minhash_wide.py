"""Production-width (128-permutation) MinHash: arithmetic cross-check
against an independent pure-Python evaluation, band wiring, the S-curve
collision behavior on planted near-dups, and the bucket-size skew cap.

Reference parity note: the reference repo has no similarity/dedup code —
this operator exists for the training-data-pipeline tier (SURVEY.md §2
addendum); the construction is the standard Broder '97 / datasketch shape.
"""

import hashlib

import pytest
from pyspark.sql import functions as F

from modern_document_converter_for_ai_library_spark.functions.hashing import (
    MERSENNE_31,
    minhash_perm_coeffs,
)
from modern_document_converter_for_ai_library_spark.operators.dedup import (
    minhash_wide_bands,
    minhash_wide_minima,
    minhash_wide_pairs,
)


def _py_minima(text: str, n_perms: int = 128, width: int = 3) -> list[int]:
    toks = [t for t in text.split(" ") if t]
    shingles = [
        " ".join(toks[i : i + width]) for i in range(len(toks) - width + 1)
    ]
    xs = [
        int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % MERSENNE_31
        for s in shingles
    ]
    coeffs = minhash_perm_coeffs(n_perms)
    return [min((a * x + b) % MERSENNE_31 for x in xs) for a, b in coeffs]


def test_wide_minima_match_pure_python(spark):
    docs = [
        ("1", "the quick brown fox jumps over the lazy dog tonight"),
        ("2", "pack my box with five dozen liquor jugs right now"),
        ("3", "a b c d e f g h i j k l m n"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = {
        r["doc_id"]: r
        for r in minhash_wide_minima(df, n_perms=128).collect()
    }
    for doc_id, text in docs:
        expect = _py_minima(text)
        got = [rows[doc_id][f"_m{i}"] for i in range(128)]
        assert got == expect, doc_id


def test_band_digests_fold_the_minima(spark):
    df = spark.createDataFrame(
        [("1", "the quick brown fox jumps over the lazy dog tonight")],
        ["doc_id", "text"],
    )
    mins = _py_minima("the quick brown fox jumps over the lazy dog tonight")
    row = minhash_wide_bands(df, n_perms=128, n_bands=16).collect()[0]
    for k in range(16):
        joined = "-".join(str(v) for v in mins[k * 8 : (k + 1) * 8])
        assert row[f"band_{k}"] == hashlib.md5(joined.encode()).hexdigest()


def test_scurve_planted_neardups_collide_disjoint_dont(spark):
    # base vocab of 60 tokens; the near-dup edits the last 2 tokens ->
    # shingle Jaccard ~0.93, so P(any of 16 bands collides) =
    # 1-(1-J^8)^16 ~ 0.9998. The two disjoint-vocabulary docs share zero
    # shingles (J=0): a band collision would need a full md5 collision.
    base = " ".join(f"tok{i}" for i in range(60))
    near = " ".join(f"tok{i}" for i in range(58)) + " edited tail"
    other = " ".join(f"alt{i}" for i in range(60))
    df = spark.createDataFrame(
        [("1", base), ("2", near), ("3", other)], ["doc_id", "text"]
    )
    bands = minhash_wide_bands(df)
    pairs = {
        (r["a"], r["b"]) for r in minhash_wide_pairs(bands).collect()
    }
    assert ("1", "2") in pairs
    assert "3" not in {x for p in pairs for x in p}


def test_bucket_cap_drops_degenerate_bucket(spark):
    text = " ".join(f"tok{i}" for i in range(30))
    df = spark.createDataFrame(
        [(str(i), text) for i in range(5)], ["doc_id", "text"]
    )
    bands = minhash_wide_bands(df)
    assert minhash_wide_pairs(bands).count() == 10  # C(5,2), all collide
    capped = minhash_wide_pairs(bands, max_bucket_size=2)
    assert capped.count() == 0  # every bucket holds all 5 -> dropped


def test_perm_count_must_divide_bands(spark):
    df = spark.createDataFrame([("1", "a b c d")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        minhash_wide_bands(df, n_perms=100, n_bands=16)


def test_near_dedup_wide_tier(spark):
    from modern_document_converter_for_ai_library_spark.operators.dedup import (
        near_dedup,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the band plays "
        "a slow waltz under paper lanterns in the crowded summer square"
    )
    rows = [
        (1, base),
        (2, base),  # exact duplicate
        (3, base + " with a tiny suffix appended"),  # high-J near-dup
        (4, "completely different content about gardening and bread recipes today"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    out = {
        r["doc_id"]: r
        for r in near_dedup(
            df, threshold_micros=500_000, candidate_tier="wide"
        ).collect()
    }
    assert jsc.getPersistentRDDs().size() - before <= 1
    assert out[1]["canonical_doc_id"] == 1
    assert out[2]["canonical_doc_id"] == 1 and out[2]["is_near_duplicate"]
    assert out[3]["canonical_doc_id"] == 1 and out[3]["is_near_duplicate"]
    assert out[4]["canonical_doc_id"] == 4 and not out[4]["is_near_duplicate"]


def test_near_dedup_incremental_matches_full_recompute(spark):
    from modern_document_converter_for_ai_library_spark.operators.dedup import (
        near_dedup,
        near_dedup_incremental,
    )

    mk = lambda seed, n=40: " ".join(f"{seed}tok{i}" for i in range(n))
    base_rows = [
        (10, mk("a")),
        (20, mk("b")),
        (30, mk("c")),
        (40, mk("d")),
    ]
    new_rows = [
        (101, mk("a", 38) + " edited tail"),   # near-dup of base 10
        (102, mk("x")),                         # new-new dup pair with 103
        (103, mk("x", 38) + " other ending"),
        (104, mk("z")),                         # unique
    ]
    base = spark.createDataFrame(base_rows, ["doc_id", "text"])
    new = spark.createDataFrame(new_rows, ["doc_id", "text"])
    inc = {
        r["doc_id"]: (r["canonical_doc_id"], r["is_near_duplicate"])
        for r in near_dedup_incremental(new, base).collect()
    }
    assert inc[101] == (10, True)      # canonical is the BASE id
    assert inc[102] == (102, False)
    assert inc[103] == (102, True)     # new-new pair collapses
    assert inc[104] == (104, False)
    # equality with full recompute over the union (base has no internal
    # near-dups, so restricting the full result to new ids must agree)
    full = {
        r["doc_id"]: (r["canonical_doc_id"], r["is_near_duplicate"])
        for r in near_dedup(
            base.unionByName(new), candidate_tier="wide"
        ).collect()
        if r["doc_id"] > 100
    }
    assert inc == full


def test_near_dedup_incremental_stored_index_identical(spark, tmp_path):
    """The stored-index path (base_bands from a parquet round-trip of
    band_index) produces EXACTLY the self-contained path's output, and the
    index composes by union: index(base ∪ batch) == index(base) ∪
    index(batch) row-for-row."""
    from modern_document_converter_for_ai_library_spark.operators.dedup import (
        band_index,
        near_dedup_incremental,
    )

    mk = lambda seed, n=40: " ".join(f"{seed}tok{i}" for i in range(n))
    base = spark.createDataFrame(
        [(10, mk("a")), (20, mk("b")), (30, mk("c")), (40, mk("d"))],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [(101, mk("a", 38) + " edited tail"), (102, mk("x")),
         (103, mk("x", 38) + " other ending"), (104, mk("z"))],
        ["doc_id", "text"],
    )
    idxp = str(tmp_path / "idx")
    band_index(base).write.parquet(idxp)
    stored = spark.read.parquet(idxp)

    key = lambda df: sorted(
        (r["doc_id"], r["canonical_doc_id"], r["is_near_duplicate"])
        for r in df.collect()
    )
    assert key(
        near_dedup_incremental(new, base, base_bands=stored)
    ) == key(near_dedup_incremental(new, base))

    # union law: per-doc rows compose, so maintenance is a pure append
    rows = lambda df: sorted(tuple(r) for r in df.collect())
    assert rows(band_index(base.unionByName(new))) == rows(
        band_index(base).unionByName(band_index(new))
    )


def test_near_dedup_incremental_rejects_malformed_index(spark):
    from modern_document_converter_for_ai_library_spark.operators.dedup import (
        near_dedup_incremental,
    )
    import pytest

    base = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
    new = spark.createDataFrame([(2, "f g h i j")], ["doc_id", "text"])
    bad = spark.createDataFrame([(1, "x")], ["doc_id", "band_0"])
    with pytest.raises(ValueError, match="band_index"):
        near_dedup_incremental(new, base, base_bands=bad)


def test_near_dedup_incremental_prune_strategies_identical(spark):
    """broadcast / shuffle pruning are pure plan choices — outputs are
    identical (and an unknown strategy, or the removed unpruned "none",
    is rejected)."""
    from modern_document_converter_for_ai_library_spark.operators.dedup import (
        near_dedup_incremental,
    )
    import pytest

    mk = lambda seed, n=40: " ".join(f"{seed}tok{i}" for i in range(n))
    base = spark.createDataFrame(
        [(10, mk("a")), (20, mk("b")), (30, mk("c"))], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [(101, mk("a", 38) + " edited tail"), (102, mk("x")),
         (103, mk("x", 38) + " other ending")],
        ["doc_id", "text"],
    )
    key = lambda p: sorted(
        (r["doc_id"], r["canonical_doc_id"], r["is_near_duplicate"])
        for r in near_dedup_incremental(new, base, prune=p).collect()
    )
    got = key("broadcast")
    assert got == key("shuffle")
    assert got[0] == (101, 10, True)
    for bad in ("bogus", "none"):
        with pytest.raises(ValueError, match="prune"):
            near_dedup_incremental(new, base, prune=bad)


def test_near_dedup_incremental_randomized_equality(spark):
    """Randomized sweep of the incremental == full-recompute equality
    (base internally unique, as the contract requires): deterministic
    md5-derived corpora over several seeds, stored-index path, all docs'
    assignments must match near_dedup(wide) over base ∪ batch restricted
    to batch ids."""
    import hashlib

    from modern_document_converter_for_ai_library_spark.operators.dedup import (
        band_index,
        near_dedup,
        near_dedup_incremental,
    )

    def mk_text(seed: str, edit: str | None = None, n: int = 30):
        toks = [
            "w%d" % (int(hashlib.md5(f"{seed}|{t}".encode()).hexdigest()[:8], 16) % 5000)
            for t in range(n)
        ]
        if edit is not None:
            toks[-3:] = [edit + str(i) for i in range(3)]
        return " ".join(toks)

    for trial in range(3):
        base_rows = [(i, mk_text(f"b{trial}-{i}")) for i in range(20)]
        batch_rows = []
        for j in range(12):
            bid = 100 + j
            if j % 3 == 0:  # near-dup of a base doc
                batch_rows.append((bid, mk_text(f"b{trial}-{j % 20}", edit="x")))
            elif j % 3 == 1:  # batch-internal near-dup pair partner
                batch_rows.append((bid, mk_text(f"n{trial}-{j // 3}", edit="y")))
                batch_rows.append((bid + 50, mk_text(f"n{trial}-{j // 3}", edit="z")))
            else:  # unique
                batch_rows.append((bid, mk_text(f"u{trial}-{j}")))
        base = spark.createDataFrame(base_rows, ["doc_id", "text"])
        batch = spark.createDataFrame(batch_rows, ["doc_id", "text"])
        inc = {
            r["doc_id"]: (r["canonical_doc_id"], r["is_near_duplicate"])
            for r in near_dedup_incremental(
                batch, base, base_bands=band_index(base)
            ).collect()
        }
        batch_ids = {r[0] for r in batch_rows}
        full = {
            r["doc_id"]: (r["canonical_doc_id"], r["is_near_duplicate"])
            for r in near_dedup(
                base.unionByName(batch), candidate_tier="wide"
            ).collect()
            if r["doc_id"] in batch_ids
        }
        assert inc == full, f"trial {trial} diverged"


def test_long_index_partition_pruned_path(spark, tmp_path):
    """The huge-batch tier: band_index_long written partitioned by
    (band_idx, band_prefix), read back partition-PRUNED via the batch's
    bounded touched-cell set. Output must equal both the wide stored-index
    path and the self-contained path, and the pruned scan must touch
    strictly fewer files than the full index holds."""
    from modern_document_converter_for_ai_library_spark.operators.dedup import (
        band_index_long,
        minhash_wide_bands,
        near_dedup_incremental,
        read_band_index_pruned,
    )
    import pytest

    mk = lambda seed, n=40: " ".join(f"{seed}tok{i}" for i in range(n))
    base = spark.createDataFrame(
        [(i, mk(f"b{i}")) for i in range(30)], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [(101, mk("b3", 38) + " edited tail"), (102, mk("x")),
         (103, mk("x", 38) + " other ending"), (104, mk("z"))],
        ["doc_id", "text"],
    )
    idxp = str(tmp_path / "longidx")
    band_index_long(base, prefix_len=1).write.partitionBy(
        "band_idx", "band_prefix"
    ).parquet(idxp)
    stored = spark.read.parquet(idxp)
    batch_bands = minhash_wide_bands(new)
    pruned = read_band_index_pruned(stored, batch_bands, prefix_len=1)

    # file pruning is real: the EXECUTED scan reads fewer files (and the
    # physical plan carries the partition predicates). inputFiles() would
    # lie here — it reflects the relation before filter pushdown.
    total_files = (
        spark.read.parquet(idxp).select(F.input_file_name()).distinct().count()
    )
    pruned_files = pruned.select(F.input_file_name()).distinct().count()
    assert 0 < pruned_files < total_files
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "band_prefix" in plan

    key = lambda df: sorted(
        (r["doc_id"], r["canonical_doc_id"], r["is_near_duplicate"])
        for r in df.collect()
    )
    via_long = key(near_dedup_incremental(new, base, base_bands_long=pruned))
    assert via_long == key(near_dedup_incremental(new, base))
    assert via_long[0] == (101, 3, True)

    # reader/writer prefix-width mismatch fails loudly, never silently
    # returns zero candidates
    with pytest.raises(ValueError, match="prefix"):
        read_band_index_pruned(stored, batch_bands, prefix_len=2)
    with pytest.raises(ValueError, match="not both"):
        near_dedup_incremental(
            new, base, base_bands=minhash_wide_bands(base),
            base_bands_long=pruned,
        )
