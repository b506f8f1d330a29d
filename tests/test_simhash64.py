"""Production-width SimHash (64-bit sketches, 16-bit bands) — VERDICT r2
item 5: the shape dedup.py's docstring claims for production
(Manku et al., WWW'07: 64-bit fingerprints, k=3, 4 tables of 16-bit keys)
exercised end-to-end: sketch generation, the pigeonhole recall guarantee,
and exactness of the banded join against brute force."""

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from modern_document_converter_for_ai_library_spark.operators.dedup import (
    simhash_pairs,
    simhash_sketches,
)


def _py_simhash(text: str, n_bits: int = 64) -> str:
    """Independent pure-Python reimplementation (token md5 bit parity)."""
    sums = [0] * n_bits
    for tok in [t for t in text.split(" ") if t]:
        h = hashlib.md5(tok.encode()).hexdigest()
        for b in range(n_bits):
            nib, mask = b // 4, 8 >> (b % 4)
            sums[b] += 1 if int(h[nib], 16) & mask else -1
    return "".join("1" if s > 0 else "0" for s in sums)


def _sketches(df) -> dict:
    return {r["doc_id"]: r["simhash_bits"] for r in simhash_sketches(df).collect()}


def test_simhash64_matches_pure_python(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "motion for summary judgment denied with prejudice",
        "a a a b",
        "single",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    got = _sketches(df)
    for i, t in enumerate(texts):
        assert got[i] == _py_simhash(t), t
        assert len(got[i]) == 64


def test_simhash64_similar_docs_close_random_docs_far(spark):
    a = "the court denied the motion for summary judgment in the case"
    b = a + " today"  # one extra token: most bit-sums keep their sign
    c = "completely unrelated text about quantum chromodynamics lattice"
    sh = _sketches(
        spark.createDataFrame([(0, a), (1, b), (2, c)], ["doc_id", "text"])
    )
    d_ab = sum(x != y for x, y in zip(sh[0], sh[1]))
    d_ac = sum(x != y for x, y in zip(sh[0], sh[2]))
    assert d_ab < d_ac


@pytest.fixture(scope="module")
def sketches64():
    """400 random 64-bit sketches + planted pairs at Hamming distances
    0..5 (0-3 must be found, 4-5 must be excluded by the exact check)."""
    rng = np.random.RandomState(23)
    rows = []
    for i in range(400):
        rows.append((i, "".join("1" if b else "0" for b in rng.randint(0, 2, 64))))
    next_id = 1000
    planted = []
    for d in range(6):
        for _ in range(8):
            base = rng.randint(0, 400)
            bits = list(rows[base][1])
            flip = rng.choice(64, size=d, replace=False)
            for p in flip:
                bits[p] = "0" if bits[p] == "1" else "1"
            rows.append((next_id, "".join(bits)))
            planted.append((rows[base][0], next_id, d))
            next_id += 1
    return rows, planted


def _brute_pairs(rows, max_hamming):
    out = set()
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            (ia, sa), (ib, sb) = rows[i], rows[j]
            d = sum(x != y for x, y in zip(sa, sb))
            if d <= max_hamming:
                a, b = sorted((ia, ib))
                out.add((a, b, d))
    return out


def test_simhash_pairs_production_width_exact(spark, sketches64):
    """64-bit / 4x16-bit bands, max_hamming=3: the banded equi-join output
    must EQUAL brute force — pigeonhole recall (any pair within distance 3
    agrees on >=1 of the 4 slices) plus the exact verify's precision."""
    rows, planted = sketches64
    df = spark.createDataFrame(rows, ["doc_id", "simhash_bits"])
    got = {
        (r["a"], r["b"], r["hamming"])
        for r in simhash_pairs(df, n_bits=64, n_bands=4, max_hamming=3).collect()
    }
    want = _brute_pairs(rows, 3)
    assert got == want
    # every planted pair at distance <=3 is present; 4-5 correctly absent
    for a, b, d in planted:
        lo, hi = sorted((a, b))
        assert ((lo, hi, d) in got) == (d <= 3), (a, b, d)


def test_simhash_pairs_production_width_guardrail(spark, sketches64):
    rows, _ = sketches64
    df = spark.createDataFrame(rows[:4], ["doc_id", "simhash_bits"])
    with pytest.raises(ValueError):
        simhash_pairs(df, n_bits=64, n_bands=4, max_hamming=4)


def test_simhash_sketches_match_pure_python_on_corpus(spark):
    """The explode+groupBy sketch builder equals the pure-Python twin on
    real corpus text. A document with no token gets no sketch row, so
    only documents with at least one token are compared."""
    df = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").select(
        "doc_id", "text"
    ).limit(100)
    fast = {
        r["doc_id"]: r["simhash_bits"]
        for r in simhash_sketches(df).collect()
    }
    slow = {
        r["doc_id"]: _py_simhash(r["text"])
        for r in df.collect()
        if r["text"] and any(r["text"].split(" "))
    }
    assert fast == slow and len(slow) > 90
