"""Distributed code assignment + rename flow tests (C4 determinism,
discover-or-generate, atomic skip, registry uniqueness semantics).

The uniqueness/claim rules are checked three ways:
  1. full-row equality of the distributed operator against the sequential
     pure-Python emulation (rename_corpus_sequential);
  2. a DIFFERENTIAL test driving the ACTUAL reference Registrar +
     CodeGenerator (sqlite, from /root/reference) through rename_step's
     STEP 4-5 and comparing with our registry_replay state machine;
  3. targeted scenario tests on the Spark operator (duplicate claimants,
     fresh-allocation collision with a preserved code, both orders).
"""

import sqlite3
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.dont_write_bytecode = True
if "/root/reference" not in sys.path:
    sys.path.insert(0, "/root/reference")

from modern_document_converter_for_ai_library_spark.operators.codes import assign_codes
from modern_document_converter_for_ai_library_spark.operators.rename import (
    rename_documents,
)
from modern_document_converter_for_ai_library_spark.reference_semantics import (
    index_to_code,
)
from modern_document_converter_for_ai_library_spark.reference_semantics.codes import (
    CAPACITY,
    DUP_ALLOC_ERR,
    DUP_CLAIM_ERR,
    discover_code,
    registry_replay,
)
from modern_document_converter_for_ai_library_spark.reference_semantics.convert import (
    rename_corpus_sequential,
)
from modern_document_converter_for_ai_library_spark.sources import (
    DOCS_SCHEMA,
    synth_documents_pandas,
)


@pytest.fixture(scope="module")
def corpus_df(spark):
    return spark.createDataFrame(synth_documents_pandas(150, seed=42), schema=DOCS_SCHEMA)


def test_assign_codes_matches_sequential_reference(spark):
    df = spark.range(0, 500).select(
        F.format_string("doc_%05d", F.col("id")).alias("doc_id")
    ).repartition(7)  # scramble placement on purpose
    out = assign_codes(df, order_col="doc_id", start_index=0, num_partitions=5)
    rows = {r["doc_id"]: (r["code_index"], r["unique_code"]) for r in out.collect()}
    for i in range(500):
        doc = f"doc_{i:05d}"
        assert rows[doc] == (i, index_to_code(i)), doc


def test_assign_codes_start_index_continuation(spark):
    df = spark.createDataFrame([("a",), ("b",), ("c",)], ["doc_id"])
    out = {
        r["doc_id"]: r["unique_code"]
        for r in assign_codes(df, start_index=249_025).collect()
    }
    assert out["a"] == index_to_code(249_025)
    assert out["c"] == index_to_code(249_027)


def test_assign_codes_raises_at_registry_capacity(spark):
    """The last index encodes to ZZZZZ; the next one would wrap to AAAAA
    (index 0), so like the reference's index_to_code it raises instead."""
    df = spark.createDataFrame([("a",), ("b",)], ["doc_id"])
    one = assign_codes(df.filter("doc_id = 'a'"), start_index=CAPACITY - 1).collect()
    assert [(r["code_index"], r["unique_code"]) for r in one] == [
        (CAPACITY - 1, "ZZZZZ")
    ]
    with pytest.raises(RuntimeError, match="Registry exhausted"):
        assign_codes(df, start_index=CAPACITY - 1)
    with pytest.raises(RuntimeError, match="Registry exhausted"):
        index_to_code(CAPACITY)


def test_assign_codes_recompute_stability(spark):
    """VERDICT r2 #1: two materializations of the SAME returned DataFrame must
    assign identical indices even when every materialization recomputes the
    full lineage (nothing cached anywhere), on a skewed multi-partition
    input. The old repartitionByRange design could re-draw range bounds
    between the count job and the assign job; the frozen-bounds design makes
    the splits a pure function of row values."""
    # skewed: 90% of keys share one tight prefix region, sizes uneven
    df = (
        spark.range(0, 2000)
        .select(
            F.when(
                F.col("id") % 10 < 9,
                F.format_string("aaa_%06d", F.col("id")),
            )
            .otherwise(F.format_string("zzz_%06d", F.col("id")))
            .alias("doc_id")
        )
        .repartition(13)  # scramble placement; no persist anywhere
    )
    out = assign_codes(df, order_col="doc_id", start_index=5, num_partitions=8)
    first = {r["doc_id"]: (r["code_index"], r["unique_code"]) for r in out.collect()}
    second = {r["doc_id"]: (r["code_index"], r["unique_code"]) for r in out.collect()}
    assert first == second
    # and the assignment IS the global lexicographic enumeration
    for rank, doc in enumerate(sorted(first)):
        assert first[doc] == (5 + rank, index_to_code(5 + rank)), doc


def test_assign_codes_more_pids_than_partitions(spark):
    """Hash-partitioning may fold several pids into one task; the per-pid
    counters must still produce the global enumeration."""
    df = spark.range(0, 400).select(
        F.format_string("k%05d", F.col("id")).alias("doc_id")
    )
    out = assign_codes(df, order_col="doc_id", num_partitions=37)
    got = {r["doc_id"]: r["code_index"] for r in out.collect()}
    for rank, doc in enumerate(sorted(got)):
        assert got[doc] == rank


def test_assign_codes_deterministic_across_runs(spark):
    df = spark.range(0, 300).select(
        F.format_string("d%04d", (F.col("id") * 7919) % 300).alias("doc_id")
    )
    a = {r["doc_id"]: r["code_index"] for r in assign_codes(df, num_partitions=4).collect()}
    b = {r["doc_id"]: r["code_index"] for r in assign_codes(df, num_partitions=9).collect()}
    assert a == b  # partition count must not affect assignment


# ---------------------------------------------------------------------------
# distributed operator == sequential reference emulation (full rows)
# ---------------------------------------------------------------------------

_OUT_COLS = [
    "document_type",
    "case_name",
    "year",
    "court",
    "citation",
    "discovered_code",
    "metadata_ok",
    "code_index",
    "unique_code",
    "new_filename",
    "rename_success",
    "error_message",
]


def test_rename_matches_sequential_reference(spark, corpus_df):
    pdf = synth_documents_pandas(150, seed=42)
    docs = [
        (r.doc_id, list(r.spans), r.source_file) for r in pdf.itertuples()
    ]
    expected = {
        row["doc_id"]: tuple(row[c] for c in _OUT_COLS)
        for row in rename_corpus_sequential(docs, start_index=0)
    }
    got = {
        r["doc_id"]: tuple(r[c] for c in _OUT_COLS)
        for r in rename_documents(corpus_df.repartition(7), start_index=0).collect()
    }
    assert set(got) == set(expected)
    for doc_id in expected:
        assert got[doc_id] == expected[doc_id], (
            doc_id,
            dict(zip(_OUT_COLS, got[doc_id])),
            dict(zip(_OUT_COLS, expected[doc_id])),
        )


# ---------------------------------------------------------------------------
# DIFFERENTIAL: registry_replay vs the actual reference registry (sqlite)
# ---------------------------------------------------------------------------

try:
    from src.services.code_generator import CodeGenerator as RefCodeGenerator
    from src.services.registrar import Registrar as RefRegistrar

    _REF_OK = True
except Exception:  # pragma: no cover - reference tree unavailable
    _REF_OK = False


def _ref_registry_outcomes(filenames, db_path):
    """Drive the ACTUAL reference code path for rename_step STEPs 4-5:
    allocate_code_for_file -> register_document -> commit_code_to_document,
    with the reference's own exception handling (rename_step.py:202-243)."""
    reg = RefRegistrar(Path(db_path))
    gen = RefCodeGenerator(reg)
    outcomes = {}
    try:
        for fn in sorted(filenames):
            try:
                code = gen.allocate_code_for_file(Path(fn))
            except sqlite3.IntegrityError:
                # uncaught in the reference (batch crash); record and continue
                outcomes[fn] = (None, "alloc")
                continue
            try:
                doc_id = reg.register_document(Path(fn))
                reg.commit_code_to_document(code, doc_id)
                outcomes[fn] = (code, None)
            except sqlite3.IntegrityError:
                gen.rollback_code(code)
                outcomes[fn] = (None, "claim")
    finally:
        reg.close()
    return outcomes


_ERR_KIND = {None: None, DUP_CLAIM_ERR: "claim", DUP_ALLOC_ERR: "alloc"}

_SCENARIOS = [
    # duplicate discovered code: first claimant keeps it, later ones fail
    ["a.pdf", "b----ABXCD.pdf", "c----ABXCD.pdf", "d.pdf"],
    # preserved code claimed FIRST collides with a later fresh allocation
    ["a----AAAAB.pdf", "b.pdf", "c.pdf", "d.pdf"],
    # fresh allocation FIRST: the later claimant of the same code fails
    ["a.pdf", "b.pdf", "z----AAAAB.pdf"],
    # invalid code is not preserved; gets the next fresh code
    ["x----WWWWW.pdf", "y----ABABA.pdf", "y2----ABABA.pdf"],
    # pure fresh run
    ["f%02d.pdf" % i for i in range(30)],
]


@pytest.mark.skipif(not _REF_OK, reason="reference tree not importable")
@pytest.mark.parametrize("filenames", _SCENARIOS)
def test_registry_replay_matches_reference(filenames, tmp_path):
    ref = _ref_registry_outcomes(filenames, tmp_path / "master.db")
    ours = registry_replay(
        [(fn, discover_code(fn)) for fn in sorted(filenames)], start_index=0
    )
    assert set(ref) == set(ours)
    for fn in ref:
        idx, code, err = ours[fn]
        assert (code, _ERR_KIND[err]) == ref[fn], (fn, ours[fn], ref[fn])


@pytest.mark.skipif(not _REF_OK, reason="reference tree not importable")
def test_registry_replay_matches_reference_randomized(tmp_path):
    import random

    rnd = random.Random(1234)
    pool = ["ABXCD", "AAAAB", "AAAAC", "QQQQQ", "WWWWW", "ZZZZZ"]
    for trial in range(20):
        files = []
        for i in range(rnd.randint(5, 25)):
            stem = "f%03d" % i
            r = rnd.random()
            if r < 0.4:
                files.append(f"{stem}----{rnd.choice(pool)}.pdf")
            else:
                files.append(f"{stem}.pdf")
        db = tmp_path / f"t{trial}.db"
        ref = _ref_registry_outcomes(files, db)
        ours = registry_replay(
            [(fn, discover_code(fn)) for fn in sorted(files)], start_index=0
        )
        for fn in ref:
            idx, code, err = ours[fn]
            assert (code, _ERR_KIND[err]) == ref[fn], (trial, fn, ours[fn], ref[fn])


# ---------------------------------------------------------------------------
# targeted Spark-operator scenarios
# ---------------------------------------------------------------------------

_CASE_LINES = [
    "Indian Trail, LLC v. State Bank and Trust Company",
    "Court of Appeals of Georgia",
    "July 3, 2014, Decided",
    "328 Ga. App. 524",
    "The judgment below is affirmed in part and reversed in part.",
]


def _caselaw_doc(doc_id: str, source_file: str):
    spans = [
        {"kind": "text", "text": ln, "media_ref": "", "offset": i}
        for i, ln in enumerate(_CASE_LINES)
    ]
    return (doc_id, source_file, spans)


def _run_rename(spark, docs):
    df = spark.createDataFrame(
        [d for d in docs], schema=DOCS_SCHEMA
    )
    return {r["doc_id"]: r for r in rename_documents(df, start_index=0).collect()}


def test_rename_duplicate_claimants_first_wins_rest_fail(spark):
    out = _run_rename(
        spark,
        [
            _caselaw_doc("d1", "a----ABXCD.pdf"),
            _caselaw_doc("d2", "b----ABXCD.pdf"),
            _caselaw_doc("d3", "plain.pdf"),
        ],
    )
    assert out["d1"]["unique_code"] == "ABXCD" and out["d1"]["rename_success"]
    assert out["d2"]["unique_code"] is None and not out["d2"]["rename_success"]
    assert out["d2"]["error_message"] == DUP_CLAIM_ERR
    assert out["d3"]["unique_code"] == "AAAAA"  # index 0


def test_rename_fresh_collision_with_earlier_preserved_code(spark):
    # claimant d0 (first in order) preserves AAAAB; fresh allocations run
    # AAAAA (idx 0) then AAAAB (idx 1, collides -> IntegrityError row),
    # then AAAAC (idx 2 — the burned index shifts later codes)
    out = _run_rename(
        spark,
        [
            _caselaw_doc("d0", "old----AAAAB.pdf"),
            _caselaw_doc("d1", "p1.pdf"),
            _caselaw_doc("d2", "p2.pdf"),
            _caselaw_doc("d3", "p3.pdf"),
        ],
    )
    assert out["d0"]["unique_code"] == "AAAAB"
    assert out["d1"]["unique_code"] == "AAAAA"
    assert out["d2"]["unique_code"] is None and not out["d2"]["rename_success"]
    assert out["d2"]["error_message"] == DUP_ALLOC_ERR
    assert out["d2"]["code_index"] == 1  # index consumed
    assert out["d3"]["unique_code"] == "AAAAC"


def test_rename_claimant_after_fresh_allocation_fails(spark):
    # fresh docs take AAAAA/AAAAB first (d1, d2 sort before z-claimant);
    # the later claimant of AAAAB fails at commit
    out = _run_rename(
        spark,
        [
            _caselaw_doc("d1", "p1.pdf"),
            _caselaw_doc("d2", "p2.pdf"),
            _caselaw_doc("z9", "legacy----AAAAB.pdf"),
        ],
    )
    assert out["d1"]["unique_code"] == "AAAAA"
    assert out["d2"]["unique_code"] == "AAAAB"
    assert out["z9"]["unique_code"] is None
    assert out["z9"]["error_message"] == DUP_CLAIM_ERR


def test_rename_flow(spark, corpus_df):
    out = rename_documents(corpus_df, start_index=0).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert len(by_id) == 150  # every input doc comes out once

    # legacy codes: claimants are metadata-eligible docs only; the first
    # (min doc_id) keeps ABXCD, later claimants FAIL their rename exactly
    # like the reference registry (documents.unique_code UNIQUE)
    legacy = sorted(
        (r for r in out if "----ABXCD" in r["source_file"] and r["metadata_ok"]),
        key=lambda r: r["doc_id"],
    )
    assert legacy, "corpus should contain metadata-eligible legacy-coded files"
    assert legacy[0]["unique_code"] == "ABXCD"
    for r in legacy[1:]:
        assert r["unique_code"] is None
        assert not r["rename_success"]
        assert r["error_message"] == DUP_CLAIM_ERR

    # invalid ----WWWWW codes are NOT preserved
    invalid = [r for r in out if "----WWWWW" in r["source_file"]]
    assert invalid
    for r in invalid:
        assert r["unique_code"] != "WWWWW"

    # successful renames carry the code inside the filename
    for r in out:
        if r["new_filename"] is not None:
            assert "----" + r["unique_code"] in r["new_filename"]
            assert r["new_filename"].startswith("c.")
        if not r["metadata_ok"]:
            assert r["unique_code"] is None and r["code_index"] is None


def test_rename_codes_dense_and_unique(spark, corpus_df):
    out = rename_documents(corpus_df, start_index=0).collect()
    fresh = sorted(
        r["code_index"] for r in out if r["code_index"] is not None
    )
    assert fresh == list(range(len(fresh)))  # dense 0..n-1
    codes = [r["unique_code"] for r in out if r["unique_code"] is not None]
    assert len(codes) == len(set(codes))  # globally unique, no exceptions


@pytest.mark.parametrize("seed", [3, 11, 27])
def test_rename_matches_sequential_randomized(spark, seed):
    """Multi-seed equality sweep: different corpora shuffle the mix of
    claimants, invalid codes, metadata failures, and formatting failures."""
    pdf = synth_documents_pandas(100, seed=seed)
    docs = [(r.doc_id, list(r.spans), r.source_file) for r in pdf.itertuples()]
    expected = {
        row["doc_id"]: tuple(row[c] for c in _OUT_COLS)
        for row in rename_corpus_sequential(docs, start_index=7)
    }
    df = spark.createDataFrame(pdf, schema=DOCS_SCHEMA).repartition(5)
    got = {
        r["doc_id"]: tuple(r[c] for c in _OUT_COLS)
        for r in rename_documents(df, start_index=7).collect()
    }
    assert got == expected


@pytest.mark.parametrize("num_partitions", [1, 3, 8])
@pytest.mark.parametrize("start_index", [0, 7])
def test_rename_dense_collisions_match_sequential(spark, start_index, num_partitions):
    """Claimed codes drawn densely around the fresh range: claimants land
    before, inside and after ``[start_index, start_index + n)``, so fresh
    allocations and claims collide in both orders, duplicate claims stack
    up, and ineligible rows sit between them."""
    import random

    rnd = random.Random(start_index * 100 + num_partitions)
    n = 60
    lo = max(0, start_index - 5)
    docs = []
    for i, k in enumerate(rnd.sample(range(1000), n)):
        doc_id = "d%03d" % k
        r = rnd.random()
        if r < 0.45:
            code = index_to_code(rnd.randrange(lo, start_index + n))
            docs.append(_caselaw_doc(doc_id, "f%d----%s.pdf" % (i, code)))
        elif r < 0.9:
            docs.append(_caselaw_doc(doc_id, "f%d.pdf" % i))
        else:
            spans = [{"kind": "text", "text": "plain notes", "media_ref": "", "offset": 0}]
            docs.append((doc_id, "f%d----%s.pdf" % (i, index_to_code(lo)), spans))
    expected = {
        row["doc_id"]: tuple(row[c] for c in _OUT_COLS)
        for row in rename_corpus_sequential(
            [(d, s, f) for d, f, s in docs], start_index=start_index
        )
    }
    errors = {e[_OUT_COLS.index("error_message")] for e in expected.values()}
    assert {DUP_CLAIM_ERR, DUP_ALLOC_ERR} <= errors  # both collision kinds occur
    df = spark.createDataFrame(docs, schema=DOCS_SCHEMA).repartition(5)
    got = {
        r["doc_id"]: tuple(r[c] for c in _OUT_COLS)
        for r in rename_documents(
            df, start_index=start_index, num_partitions=num_partitions
        ).collect()
    }
    assert got == expected


def test_rename_plans_one_python_stage_and_no_union(spark, corpus_df):
    """The kernel is the only Python in the rename plan (it prints once per
    read of its cached relation) and the claim settlement is one pass: no
    branch union. Code assignment alone plans no Python at all."""
    import re

    plan = rename_documents(corpus_df)._jdf.queryExecution().executedPlan().toString()
    assert len(set(re.findall(r"MapInPandas [^\n]*", plan))) == 1
    assert "Union" not in plan
    df = spark.range(0, 50).select(F.format_string("d%03d", "id").alias("doc_id"))
    plan = assign_codes(df, num_partitions=3)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
