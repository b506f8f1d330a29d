"""The flagship operator: distributed convert/clean over interleaved docs.

Spark plan shape (SURVEY.md §3 re-expression):

    scan (column-pruned: doc_id, source_file, spans)
      -> [optional] size-balanced repartition        (plans/salting.py)
      -> ArrowEvalPython: convert kernel             (this module)
      -> downstream writes / aggregations

Exactly ONE Python stage. The kernel body is
``reference_semantics.convert.convert_spans_doc`` — the same function that
generates the golden fixtures, so the span-equality gate holds by
construction. Data crosses the JVM/Python boundary as Arrow record batches
(``plans.rows.map_rows``); there is no row-at-a-time Python UDF anywhere in the plan
(north-rule vectorization constraint, BASELINE.md).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..plans.rows import map_rows, struct_dicts
from ..reference_semantics.convert import convert_spans_doc
from ..sources.synth import SPAN_STRUCT, SPANS_SCHEMA

CONVERT_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("source_file", T.StringType()),
        T.StructField("spans", SPANS_SCHEMA),
        T.StructField("document_type", T.StringType()),
        T.StructField("confidence", T.DoubleType()),
        T.StructField("lines_removed", T.IntegerType()),
        T.StructField("headings_added", T.IntegerType()),
        T.StructField("character_count", T.IntegerType()),
        T.StructField("success", T.BooleanType()),
        T.StructField("error_message", T.StringType()),
    ]
)


def _convert_row(has_source: bool, has_hash: bool):
    """The convert row function for an input with or without the optional
    ``source_file`` and ``input_hash`` columns (in that order after
    ``doc_id``, ``spans``); ``input_hash`` passes through unchanged. A null
    ``source_file`` is treated like a missing column."""

    def convert_row(doc_id, spans, *optional):
        source_file = optional[0] if has_source else None
        if source_file is not None:
            source_file = str(source_file)
        res = convert_spans_doc(
            str(doc_id), struct_dicts(spans, SPAN_STRUCT), source_file=source_file
        )
        res["source_file"] = (
            f"{doc_id}.pdf" if source_file is None else source_file
        )
        if has_hash:
            res["input_hash"] = optional[-1]
        return (res,)

    return convert_row


def convert_documents(
    df: DataFrame,
    balance_partitions: Optional[int] = None,
) -> DataFrame:
    """Convert a span-shaped documents DataFrame.

    Input columns: ``doc_id`` (string), ``spans`` (array<struct>), and
    optionally ``source_file``. Set ``balance_partitions`` to apply the
    size-aware placement from plans/salting before the kernel stage (worth it
    when the corpus has a heavy size tail; costs one shuffle).
    """
    has_source = "source_file" in df.columns
    has_hash = "input_hash" in df.columns
    cols = ["doc_id", "spans"] + [
        c for c in ("source_file", "input_hash") if c in df.columns
    ]
    pruned = df.select(*cols)  # explicit projection -> parquet reads few cols
    if balance_partitions:
        from ..plans.salting import balance_by_size

        pruned = balance_by_size(pruned, balance_partitions)
    schema = CONVERT_OUTPUT_SCHEMA
    if has_hash:
        schema = T.StructType(
            schema.fields + [T.StructField("input_hash", T.StringType())]
        )
    return map_rows(pruned, _convert_row(has_source, has_hash), schema)
