"""Distributed rename flow (SURVEY.md §3.2): classify -> extract metadata ->
discover-or-allocate code -> canonical filename.

Plan shape — one pass over the persisted kernel output:

    scan (doc_id, source_file, spans)
      -> MapInPandas: rename kernel (classification + metadata regexes +
         filename template with a {code} placeholder + legacy-code discovery,
         plus the reference's STEP-3 metadata gate), persisted
      -> assign_codes (operators/codes.py) over every row, counting fresh
         allocations only
      -> broadcast left join of ``claim_min`` on the code each row holds
      -> claim settlement + placeholder substitution (pure column exprs)

Code-uniqueness semantics are bug-for-bug with the reference registry
(differentially tested against the actual Registrar/CodeGenerator in
tests/test_codes_rename.py):

- ``codes.code`` is a PRIMARY KEY and ``documents.unique_code`` is UNIQUE
  (registrar.py:49-112), and processing is sequential in alphabetical file
  order (orchestrator.py:96). Net effect: for every code value, the holder
  earliest in processing order (min doc_id) keeps it; every later holder
  FAILS its rename — a later duplicate-``----XXXXX`` claimant fails at
  commit_code_to_document (STEP-5 handler, rename_step.py:207-243 ->
  ``unique_code=None``), and a fresh sequential allocation that lands on an
  already-inserted code raises IntegrityError inside allocate_code
  (code_generator.py:364-390). The reference would crash the whole batch on
  the latter (no try/except in the orchestrator loop); we record a per-row
  failure instead — documented divergence, same winner either way.
- The code INDEX is consumed even by failed fresh allocations
  (increment_code_index commits before allocate_code raises), so dense
  ranks over the needs-code subset reproduce the reference's numbering.

Settlement, derived from ``reference_semantics.codes.registry_replay``.
``before`` = start_index + the fresh allocations (metadata-eligible, no
discovered code) with a smaller doc_id; it is a fresh row's index.
``claim_min[c]`` = the smallest doc_id among the claimants of code c.

- a fresh row with index ``i`` fails with ``DUP_ALLOC_ERR`` (keeping ``i``)
  iff ``claim_min[index_to_code(i)] < doc_id``;
- a claimant of ``c`` fails with ``DUP_CLAIM_ERR`` iff ``doc_id !=
  claim_min[c]``, or ``start_index <= code_to_index(c) < before`` (a fresh
  allocation took ``c`` earlier);
- rows without ``metadata_ok`` pass through with no code.

The kernel output (slim metadata rows, no spans) is read by the code
assignment and the claim aggregate; the only data-wide shuffle is
assign_codes' window.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from ..plans.rows import map_rows, struct_dicts
from ..reference_semantics.codes import DUP_ALLOC_ERR, DUP_CLAIM_ERR
from ..reference_semantics.convert import rename_doc
from ..sources.synth import SPAN_STRUCT
from .codes import assign_codes, index_from_code_col

RENAME_KERNEL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("source_file", T.StringType()),
        T.StructField("document_type", T.StringType()),
        T.StructField("confidence", T.DoubleType()),
        T.StructField("case_name", T.StringType()),
        T.StructField("year", T.StringType()),
        T.StructField("court", T.StringType()),
        T.StructField("citation", T.StringType()),
        T.StructField("discovered_code", T.StringType()),
        T.StructField("metadata_ok", T.BooleanType()),
        T.StructField("filename_template", T.StringType()),
        T.StructField("rename_success", T.BooleanType()),
        T.StructField("error_message", T.StringType()),
    ]
)

def _rename_row(doc_id, source_file, spans):
    # a null source_file names the document like convert does: <doc_id>.pdf
    source_file = f"{doc_id}.pdf" if source_file is None else str(source_file)
    res = rename_doc(str(doc_id), struct_dicts(spans, SPAN_STRUCT), source_file)
    res["source_file"] = source_file
    return (res,)


def rename_documents(
    df: DataFrame,
    start_index: int = 0,
    num_partitions: Optional[int] = None,
    cache_scope=None,
) -> DataFrame:
    """Run the rename flow; adds ``code_index``, ``unique_code`` and
    ``new_filename`` columns (all nullable) plus ``error_message``.

    Deterministic: output equals ``reference_semantics.convert.
    rename_corpus_sequential`` over the same (doc_id, spans, source_file)
    rows, for any partitioning. The kernel output is persisted (read by the
    code assignment and the claim aggregate); pass a
    ``plans.caching.CacheScope`` to own its lifetime — release it after
    materializing the result (tests/test_cache_hygiene.py). Recompute is
    safe either way (the kernel is pure per row); the persist is a
    performance choice only.
    """
    from ..plans.caching import scoped_persist

    base = scoped_persist(
        map_rows(
            df.select("doc_id", "source_file", "spans"),
            _rename_row,
            RENAME_KERNEL_SCHEMA,
        ),
        cache_scope,
        StorageLevel.MEMORY_AND_DISK,
    )
    claimant = F.col("metadata_ok") & F.col("discovered_code").isNotNull()
    fresh = F.col("metadata_ok") & F.col("discovered_code").isNull()

    claim_min = (
        base.filter(claimant)
        .groupBy(F.col("discovered_code").alias("_code"))
        .agg(F.min("doc_id").alias("_claim_min"))
    )
    # code_index = ``before`` on every row
    counted = assign_codes(
        base,
        order_col="doc_id",
        start_index=start_index,
        num_partitions=num_partitions,
        allocate=fresh,
    )
    code_idx = index_from_code_col("discovered_code")
    taken_before = (code_idx >= start_index) & (code_idx < F.col("code_index"))
    lost = F.coalesce(
        F.when(fresh, F.col("_claim_min") < F.col("doc_id")).when(
            claimant, (F.col("doc_id") != F.col("_claim_min")) | taken_before
        ),
        F.lit(False),
    )
    held = (
        counted.withColumn(
            "_code", F.coalesce(F.col("discovered_code"), F.col("unique_code"))
        )
        .join(F.broadcast(claim_min), "_code", "left")
        .withColumn("_lost", lost)
    )
    unique_code = F.when(~F.col("_lost"), F.col("_code"))
    return held.withColumns(
        {
            "code_index": F.when(fresh, F.col("code_index")),
            "unique_code": unique_code,
            "rename_success": F.col("rename_success") & unique_code.isNotNull(),
            "error_message": F.when(F.col("_lost") & fresh, F.lit(DUP_ALLOC_ERR))
            .when(F.col("_lost"), F.lit(DUP_CLAIM_ERR))
            .otherwise(F.col("error_message")),
            # null when either the template or the code is
            "new_filename": F.replace(
                F.col("filename_template"), F.lit("{code}"), unique_code
            ),
        }
    ).drop("_code", "_claim_min", "_lost")
