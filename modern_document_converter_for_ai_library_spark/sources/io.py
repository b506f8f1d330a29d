"""Schema adapters (reading and writing tables is ``sources/catalog.py``).

The production source is an Iceberg table in the input_hint shape; in this
sandbox the same columns live in parquet. ``flat_to_spans`` adapts the
driver-generated flat table ``documents(doc_id int64, text, lang, source,
n_chars)`` (TESTDATA.md) into the span shape by splitting text into
one-line spans — a pure columnar transform (explode-free: higher-order
functions only), so Catalyst still prunes and pushes down underneath it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .synth import DOCS_SCHEMA, SPANS_SCHEMA  # noqa: F401  (re-exported)


def flat_to_spans(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adapt a flat ``(doc_id, text, ...)`` table to the span shape.

    Each line becomes one text span with its line number as offset — the
    whole transform is JVM-side (split + transform), no Python.
    """
    lines = F.split(F.col(text_col), "\n")
    spans = F.transform(
        lines,
        lambda ln, i: F.struct(
            F.lit("text").alias("kind"),
            ln.alias("text"),
            F.lit("").alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    return df.withColumn("doc_id", F.col("doc_id").cast("string")).withColumn(
        "spans", spans.cast(SPANS_SCHEMA)
    )
