"""Distributed filename indexing (SURVEY.md §2 addendum IX1; reference
``zOld-Code/step2--FILE_CODE_NAME---All Files/filename_indexer.py``).

Re-expresses the legacy step-2 pass — classify every path (skip rules /
already-tagged / candidate), order candidates deepest-first then
case-insensitively, and append sequential ``----CODE`` suffixes — as pure
column expressions plus the two-phase frozen-bounds allocation from
``operators/codes.py``. Semantics match ``reference_semantics/indexer.py``
(itself differentially tested against the actual module).

Scale shape: classification is map-only (regex on the filename leaf);
allocation is ``assign_codes``' window over driver-frozen range buckets (one
hash shuffle, no Python); the optional conflict probe is one equi-join on
the exact destination string against the (small) pre-existing-destinations
table, broadcastable by AQE.

Divergence, documented: paths that differ only in case tie in the
reference's sort key, so the reference numbers them in its filesystem glob
order. Here the tie is broken by the path itself (code point order, so
``d/Case.pdf`` before ``d/case.pdf``), which keeps the numbering a pure
function of the input set under any partitioning.

Divergence, documented: the reference resolves destination conflicts
sequentially (rollback → the NEXT candidate reuses the index), which is
order-dependent filesystem state. Distributed, conflicts against
PRE-EXISTING destinations are detected and raised for driver-side
resolution (they require knowing the filesystem) — at which point the
caller removes them from the input and re-runs, reproducing the
reference's net numbering. Conflicts between two fresh allocations are
impossible (codes are unique, so destinations differ).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..reference_semantics.codes import ALPHABET
from .codes import assign_codes

_IMAGE_EXTS = [
    ".png", ".jpg", ".jpeg", ".gif", ".bmp", ".svg", ".tif", ".tiff",
    ".webp", ".heic", ".heif",
]
_ALLOWED_EXTS = [".pdf", ".doc", ".docx", ".md", ".txt"]
_DOC_SKIP = ["README", "LICENSE", "CHANGELOG", "CONTRIBUTING"]

_SUFFIX_RLIKE = "----[%s]{4,5}$" % ALPHABET


def classify_paths(df: DataFrame, path_col: str = "path", is_dir_col: str = "is_dir") -> DataFrame:
    """Add ``status`` in {skipped, already_tagged, candidate} plus the
    name-split helper columns (``_name``, ``_base``, ``_sfx_rest``)."""
    name = F.element_at(F.split(F.col(path_col), "/"), -1)
    df = df.withColumn("_name", name)

    # pathlib.Path.suffixes semantics on the leaf (indexer.py:_suffixes):
    # trailing-dot names have none; leading dots are not suffix starts.
    stripped = F.regexp_replace("_name", r"^\.+", "")
    last_sfx = F.when(F.col("_name").endswith("."), F.lit("")).otherwise(
        F.lower(F.regexp_extract(stripped, r"(\.[^.]+)$", 1))
    )
    stem = F.when(
        last_sfx == "", F.col("_name")
    ).otherwise(F.expr("substring(_name, 1, length(_name) - length(_lsfx))"))
    df = df.withColumn("_lsfx", last_sfx).withColumn("_stem", stem)

    skip_file = (
        F.col("_name").startswith(".")
        | F.col("_lsfx").isin(_IMAGE_EXTS)
        | ~F.col("_lsfx").isin(_ALLOWED_EXTS)
        | F.upper("_stem").isin(_DOC_SKIP)
        | F.upper("_name").isin(_DOC_SKIP)
        | F.col("_name").startswith("~$")
    )
    skip_dir = F.col("_name").startswith(".") | F.upper("_name").isin(_DOC_SKIP)
    skipped = F.when(F.col(is_dir_col), skip_dir).otherwise(skip_file)

    # base = name minus ALL suffixes (multi-suffix quirk: 'v1.2_x.pdf' -> 'v1')
    base = F.when(
        F.col(is_dir_col) | F.col("_name").endswith(".") | (F.col("_lsfx") == ""),
        F.col("_name"),
    ).otherwise(F.substring_index("_name", ".", 1))
    df = df.withColumn("_base", base).withColumn(
        "_sfx_rest", F.expr("substring(_name, length(_base) + 1)")
    )
    tagged = F.col("_base").rlike(_SUFFIX_RLIKE)

    return df.withColumn(
        "status",
        F.when(skipped, F.lit("skipped"))
        .when(tagged, F.lit("already_tagged"))
        .otherwise(F.lit("candidate")),
    ).drop("_lsfx", "_stem")


def index_filenames(
    df: DataFrame,
    path_col: str = "path",
    is_dir_col: str = "is_dir",
    start_index: int = 0,
    num_partitions: int | None = None,
    existing_df: DataFrame | None = None,
) -> DataFrame:
    """Classify + allocate; returns every input row with ``status``,
    ``code_index``/``unique_code``/``dest`` (non-null for renamed rows).

    ``existing_df`` (optional, columns: ``path``) holds pre-existing
    destinations; any collision raises (see module docstring).
    """
    classified = classify_paths(df, path_col, is_dir_col)
    cands = classified.filter(F.col("status") == "candidate")
    rest = classified.filter(F.col("status") != "candidate")

    depth = F.size(
        F.filter(F.split(F.col(path_col), "/"), lambda x: x != "")
    ) + F.when(F.col(path_col).startswith("/"), F.lit(1)).otherwise(F.lit(0))
    # deepest-first, then case-insensitive (filename_indexer.py:271):
    # lexicographic key = zero-padded descending depth, then lower(path),
    # then path itself to break case ties. NUL sorts below every other
    # character, so the key orders exactly as the pair (lower(path), path).
    cands = cands.withColumn(
        "_ixkey",
        F.concat(
            F.lpad((F.lit(100000) - depth).cast("string"), 6, "0"),
            F.lower(F.col(path_col)),
            F.lit("\u0000"),
            F.col(path_col),
        ),
    )
    assigned = assign_codes(
        cands,
        order_col="_ixkey",
        start_index=start_index,
        num_partitions=num_partitions,
    ).drop("_ixkey")

    parent = F.expr(
        f"substring({path_col}, 1, length({path_col}) - length(_name))"
    )
    assigned = assigned.withColumn(
        "dest",
        F.concat(
            parent, F.col("_base"), F.lit("----"), F.col("unique_code"), F.col("_sfx_rest")
        ),
    ).withColumn("status", F.lit("renamed"))

    if existing_df is not None:
        conflicts = assigned.join(
            F.broadcast(existing_df.select(F.col("path").alias("dest"))), on="dest"
        )
        n = conflicts.count()
        if n:
            raise RuntimeError(
                f"{n} destination(s) already exist; remove the conflicting "
                "inputs and re-run to reproduce the reference's rollback "
                "numbering (see operators/indexer.py docstring)"
            )

    rest = (
        rest.withColumn("code_index", F.lit(None).cast("long"))
        .withColumn("unique_code", F.lit(None).cast("string"))
        .withColumn("dest", F.lit(None).cast("string"))
    )
    return assigned.unionByName(rest).drop("_name", "_base", "_sfx_rest")
