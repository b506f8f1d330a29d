"""Broadcast dimension joins for legal reference data (SURVEY.md §2.3 J1/J2).

The reference scans its courts/reporters JSON dictionaries per document
(src/plugins/caselaw.py:362-391, zOld-Code court_extractor.py). Distributed,
these become small broadcast dimension DataFrames:

  - the non-equi part (does any court pattern occur in the text?) is compiled
    driver-side into ONE combined case-insensitive regex whose first match is
    extracted columnar (regexp_extract) — the reference's first-match-wins
    ordering becomes alternation order;
  - the equi part (matched pattern -> bluebook abbreviation / filename code)
    is a broadcast hash join on the lowercased matched literal.

The dim data lives in data/legal_dims.json: the reference's public Bluebook
courts mapping + reporters database flattened row-oriented (copied-as-data,
FIXTURES.md §5; 202 courts, 51 reporters).
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_DATA_PATH = os.path.join(os.path.dirname(os.path.dirname(__file__)),
                          "modern_document_converter_for_ai_library_spark")
_DIMS_FILE = os.path.join(os.path.dirname(__file__), "..", "data", "legal_dims.json")


def _load_dims() -> dict:
    with open(os.path.abspath(_DIMS_FILE), encoding="utf-8") as f:
        return json.load(f)


def courts_dim(spark: SparkSession) -> DataFrame:
    """One row per (court, pattern): pattern_lc is the join key."""
    rows = []
    for c in _load_dims()["courts"]:
        for pat in c["patterns"]:
            # patterns are literal-ish with occasional \\.? escapes; the join
            # key is the literal form (escapes resolved) lowercased
            literal = re.sub(r"\\\.\??", ".", pat).replace("\\", "")
            rows.append(
                (c["court_key"], literal.lower(), c["bluebook"], c["filename_code"])
            )
    return spark.createDataFrame(
        rows, ["court_key", "pattern_lc", "bluebook", "filename_code"]
    )


def reporters_dim(spark: SparkSession) -> DataFrame:
    rows = [
        (
            r["reporter_key"],
            r["abbreviation"],
            r["pattern"],
            int(r["priority"] or 99),
            bool(r["official"]),
        )
        for r in _load_dims()["reporters"]
    ]
    return spark.createDataFrame(
        rows, ["reporter_key", "abbreviation", "pattern", "priority", "official"]
    )


def _court_tier(court_key: str) -> int:
    """Category priority from the legacy extractor's fixed iteration order
    (zOld-Code/step1…/court_extractor.py:58-130): SCOTUS, then courts of
    appeals, then district courts, then state courts."""
    if court_key == "federal/supreme_court":
        return 0
    if court_key.startswith("federal/courts_of_appeals/"):
        return 1
    if court_key.startswith("federal/district_courts/"):
        return 2
    return 3


def resolve_courts(
    df: DataFrame, text_col: str = "text", spark: SparkSession | None = None
) -> DataFrame:
    """Attach bluebook/filename_code for the court mentioned in text.

    Category-priority matching, NOT leftmost-in-text: the reference tries
    federal courts before state courts no matter where they appear
    (court_extractor.py:58-80), so the extraction is a coalesce over one
    combined regex per tier. Within a tier, longest-first alternation makes
    overlapping literals ('supreme court of georgia' vs 'supreme court')
    resolve to the most specific court. Plan: four regexp_extracts (JVM,
    codegen) + one broadcast hash join on the matched literal — no per-row
    Python, no shuffle of ``df``. Differential coverage vs the ACTUAL
    legacy extractor: tests/test_dims.py, where the reference checkout is
    present; the federal-before-state priority is checked everywhere.
    """
    spark = spark or df.sparkSession
    dim = courts_dim(spark)
    rows = dim.collect()
    tiers: dict[int, list[str]] = {0: [], 1: [], 2: [], 3: []}
    for r in rows:
        tiers[_court_tier(r["court_key"])].append(r["pattern_lc"])
    extracts = []
    for t in sorted(tiers):
        if not tiers[t]:
            continue
        lits = sorted(set(tiers[t]), key=len, reverse=True)
        combined = "(?i)(" + "|".join(re.escape(l) for l in lits) + ")"
        extracts.append(
            F.nullif(
                F.lower(F.regexp_extract(F.col(text_col), combined, 1)), F.lit("")
            )
        )
    matched = df.withColumn("court_match_lc", F.coalesce(*extracts))
    # deterministic pattern->court dedup: when one literal serves several
    # courts, the lowest (tier, court_key) — i.e. the reference's iteration
    # order — wins
    best: dict[str, tuple] = {}
    for r in sorted(rows, key=lambda r: (_court_tier(r["court_key"]), r["court_key"])):
        best.setdefault(
            r["pattern_lc"],
            (r["court_key"], r["pattern_lc"], r["bluebook"], r["filename_code"]),
        )
    dedup_dim = spark.createDataFrame(
        sorted(best.values()),
        ["court_key", "pattern_lc", "bluebook", "filename_code"],
    )
    return matched.join(
        F.broadcast(dedup_dim),
        matched["court_match_lc"] == dedup_dim["pattern_lc"],
        how="left",
    ).drop("pattern_lc")


def resolve_reporters(
    df: DataFrame,
    text_col: str = "text",
    spark: SparkSession | None = None,
    header_chars: int | None = 1000,
) -> DataFrame:
    """First-match reporter citation by priority order (official reporters
    first) — a coalesce over priority-ordered regexp_extract columns, then a
    broadcast join for reporter metadata.

    ``header_chars`` reproduces the legacy extractor's two-pass search
    (reporter_extractor.py:137-180): the full priority sweep runs over the
    first N characters (the case header) FIRST, and only if nothing matched
    there over the whole text — so a low-priority citation in the header
    beats a high-priority one buried in the body, exactly as the reference
    avoids picking up case citations from the body. None disables the
    header pass. All still one pure-column coalesce."""
    spark = spark or df.sparkSession
    dim = reporters_dim(spark)
    ordered = sorted(
        dim.collect(), key=lambda r: (r["priority"], not r["official"])
    )

    def _sweep(col):
        extracts = [
            F.when(col.rlike(r["pattern"]), F.lit(r["abbreviation"])).otherwise(
                F.lit(None)
            )
            for r in ordered
        ]
        return F.coalesce(*extracts) if extracts else F.lit(None)

    if header_chars:
        header = F.substring(F.col(text_col), 1, header_chars)
        first = F.coalesce(_sweep(header), _sweep(F.col(text_col)))
    else:
        first = _sweep(F.col(text_col))
    matched = df.withColumn("reporter_abbrev", first)
    dedup_dim = dim.dropDuplicates(["abbreviation"]).select(
        F.col("abbreviation").alias("reporter_abbrev"),
        "reporter_key",
        F.col("official").alias("reporter_official"),
    )
    return matched.join(F.broadcast(dedup_dim), on="reporter_abbrev", how="left")
