"""Articles-variant metadata extraction operator (SURVEY.md §2 addendum
AR1-AR6).

One Arrow kernel stage over (doc_id, text, source_file) running the
articles rename flow from ``reference_semantics/articles.py`` — the
law-journal analogue of the caselaw rename kernel: authors, title,
publication year (document-first with filename fallbacks), journal
name/volume/issue/page, and the ``{year}_{AuthorLast}_{Short_Title}``
canonical filename with source-based confidence
(reference: zOld-Code/step1--Base_FILENAME--b-articles/src/renamer.py:94-255).

Scale shape: map-only — no shuffle, no joins, no driver collects; the
kernel is pure per row, so the stage parallelizes to any partition count
and resumes idempotently under the manifest protocol.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..plans.rows import map_rows
from ..reference_semantics.articles import (
    article_rename_doc,
    format_author_for_filename,
)

ARTICLE_KERNEL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("authors", T.ArrayType(T.StringType())),
        T.StructField("authors_source", T.StringType()),
        T.StructField("author_slug", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("title_source", T.StringType()),
        T.StructField("year", T.IntegerType()),
        T.StructField("year_source", T.StringType()),
        T.StructField("journal_name", T.StringType()),
        T.StructField("volume", T.IntegerType()),
        T.StructField("issue", T.IntegerType()),
        T.StructField("page_start", T.IntegerType()),
        T.StructField("new_filename", T.StringType()),
        T.StructField("confidence", T.StringType()),
    ]
)

_COLS = ARTICLE_KERNEL_SCHEMA.fieldNames()


def _article_row(doc_id, text, source_file):
    res = article_rename_doc(str(text) if text is not None else "", str(source_file))
    res["doc_id"] = str(doc_id)
    res["author_slug"] = (
        format_author_for_filename(res["authors"]) if res["authors"] else None
    )
    return ({k: res.get(k) for k in _COLS},)


def extract_article_metadata(df: DataFrame) -> DataFrame:
    """Run the articles rename flow; expects ``doc_id``, ``text`` and
    ``source_file`` columns, returns one row per document with the full
    bibliographic record (ARTICLE_KERNEL_SCHEMA)."""
    return map_rows(
        df.select("doc_id", "text", "source_file"), _article_row, ARTICLE_KERNEL_SCHEMA
    )
