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


def simhash_col(tokens: Column, n_bits: int = 64) -> Column:
    """Production-width SimHash bit-string from whitespace tokens.

    Classic Charikar sketch: bit b of the sketch is the sign of
    sum over tokens of (+1 if bit b of md5(token) else -1). Bit b is read
    from md5 hex nibble b//4 with mask 8 >> (b % 4), so n_bits <= 128.
    Pure columnar (conv + bitwise AND + aggregate over the token array) —
    map-only, no shuffle; the groupBy formulation in q_simhash is the
    exploded equivalent for cross-engine oracle checks. 64 bits with
    16-bit bands is the standard near-dup shape (Manku et al., WWW'07):
    4 band equi-joins with 2^16-cardinality keys.
    """
    if not 1 <= n_bits <= 128:
        raise ValueError("md5 provides at most 128 bits")
    hashed = F.transform(tokens, lambda t: F.md5(t))

    def _contribs(h):
        out = []
        for b in range(n_bits):
            nib, mask = b // 4, 8 >> (b % 4)
            out.append(
                F.when(
                    F.conv(F.substring(h, nib + 1, 1), 16, 10)
                    .cast("int")
                    .bitwiseAND(mask)
                    != 0,
                    F.lit(1).cast("bigint"),
                ).otherwise(F.lit(-1).cast("bigint"))
            )
        return F.array(*out)

    # single fold with a finish lambda: md5 runs once per token and the
    # 64-sum accumulator is referenced through a lambda variable, so the
    # expression tree stays linear (64 separate aggregates would duplicate
    # the token-hash transform per bit)
    return F.aggregate(
        hashed,
        F.array_repeat(F.lit(0).cast("bigint"), n_bits),
        lambda acc, h: F.zip_with(acc, _contribs(h), lambda a, c: a + c),
        lambda acc: F.concat(
            *[
                F.when(F.element_at(acc, b + 1) > 0, F.lit("1")).otherwise(
                    F.lit("0")
                )
                for b in range(n_bits)
            ]
        ),
    )


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
