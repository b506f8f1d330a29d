"""Deterministic hashing column builders shared by dedup/similarity
operators and the oracle-checked queries.

Everything here is engine-portable by construction: md5 hex strings and
integer arithmetic only (no engine-native hash functions, no floats), so a
DuckDB translation produces identical bytes.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens_col(text_col: str = "text") -> Column:
    """Whitespace tokens, empty strings dropped (single-space split so the
    same expression is portable to DuckDB's string_split)."""
    return F.filter(F.split(F.col(text_col), " "), lambda x: x != "")


def shingle_hashes_col(tokens: Column, width: int = 3) -> Column:
    """md5 of each ``width``-word shingle — the exact-Jaccard verify sets
    (``operators/dedup.py:jaccard_verify``)."""
    n = F.size(tokens)
    shingles = F.transform(
        F.sequence(F.lit(1), n - (width - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(tokens, i + j) for j in range(width)]
        ),
    )
    return F.transform(shingles, lambda s: F.md5(s))


MERSENNE_31 = 2_147_483_647
"""Modulus for the 2-universal minhash permutation family: the Mersenne
prime 2^31 - 1. With x reduced mod p first and a < p, the product a*x stays
under 2^62 — safe in a signed 64-bit BIGINT in both Spark and DuckDB, so
the whole family is exact integer arithmetic in either engine."""


def minhash_perm_coeffs(n_perms: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) coefficient pairs for the production-width
    minhash permutation family h_i(x) = (a_i * x + b_i) mod (2^31 - 1).

    One base hash per shingle (first 8 hex chars of its md5 as an int)
    fans out to ``n_perms`` permutations through this 2-universal family —
    the standard wide-MinHash construction (Broder '97; what datasketch
    ships) — so hashing cost stays 1x md5 per shingle regardless of
    signature width. Coefficients derive from md5 of the permutation
    index, so every engine/driver recomputes the same family and the
    DuckDB oracle can inline them as literals.
    """
    coeffs = []
    for i in range(n_perms):
        da = hashlib.md5(f"minhash-a|{i}".encode()).hexdigest()
        db = hashlib.md5(f"minhash-b|{i}".encode()).hexdigest()
        a = int(da[:8], 16) % (MERSENNE_31 - 1) + 1
        b = int(db[:8], 16) % MERSENNE_31
        coeffs.append((a, b))
    return coeffs


def lsh_plane_signs(n_planes: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 sign matrix for random-hyperplane (SimHash) LSH over
    embeddings. Derived from md5 so any engine/driver recomputes the same
    planes; inlined as literals into both Spark exprs and oracle SQL."""
    planes = []
    for p in range(n_planes):
        row = []
        for j in range(dim):
            digest = hashlib.md5(f"plane{p}|dim{j}".encode()).hexdigest()
            row.append(1 if int(digest[0], 16) % 2 == 1 else -1)
        planes.append(row)
    return planes
