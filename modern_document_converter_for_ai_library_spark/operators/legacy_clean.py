"""Distributed legacy OCR-clean pipeline (SURVEY.md §2.2 F3-F5, §2.5 W1-W2).

Wraps the order-sensitive per-document kernels from
reference_semantics/legacy.py — running-header frequency removal, bare
page-number deletion, context-aware heading marking, stateful paragraph merge
with de-hyphenation — in a single Arrow stage. These operators need the whole
document visible in order (the frequency count and the lag/lead adjacency
tests are within-document), so the document is the unit of parallelism, same
as the convert kernel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..plans.rows import map_rows
from ..reference_semantics.legacy import (
    build_paragraphs,
    collect_running_headers,
    mark_headings,
    remove_headers_and_page_numbers,
)

LEGACY_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("cleaned_text", T.StringType()),
        T.StructField("n_lines_in", T.IntegerType()),
        T.StructField("n_paragraphs_out", T.IntegerType()),
        T.StructField("n_running_headers", T.IntegerType()),
    ]
)


def clean_doc_lines(lines: list[str]) -> tuple[list[str], int]:
    """Pure per-document pipeline (clean_txt.py:394-399) + header count."""
    running = collect_running_headers(lines)
    without = remove_headers_and_page_numbers(lines, running)
    marked = mark_headings(without, running)
    return build_paragraphs(marked), len(running)


def _legacy_row(doc_id, text):
    lines = (text or "").split("\n")
    paras, n_headers = clean_doc_lines(lines)
    return (
        {
            "doc_id": str(doc_id),
            "cleaned_text": "\n".join(paras),
            "n_lines_in": len(lines),
            "n_paragraphs_out": len(paras),
            "n_running_headers": n_headers,
        },
    )


def legacy_clean_documents(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Input: (doc_id, <text_col>); output: LEGACY_OUTPUT_SCHEMA rows."""
    from pyspark.sql import functions as F

    pruned = df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col(text_col).alias("text"),
    )
    return map_rows(pruned, _legacy_row, LEGACY_OUTPUT_SCHEMA)


MARKDOWN_NORM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("markdown", T.StringType()),
    ]
)


def markdown_normalize_documents(df: DataFrame, text_col: str = "text") -> DataFrame:
    """RAG markdown normal form (N7) as one Arrow stage — the heading pass
    inserts blank lines (order-sensitive), so it stays in the kernel."""
    from pyspark.sql import functions as F

    from ..reference_semantics.markdown_norm import clean_markdown

    def _markdown_row(doc_id, text):
        return ({"doc_id": str(doc_id), "markdown": clean_markdown(text or "")},)

    pruned = df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col(text_col).alias("text"),
    )
    return map_rows(pruned, _markdown_row, MARKDOWN_NORM_SCHEMA)
