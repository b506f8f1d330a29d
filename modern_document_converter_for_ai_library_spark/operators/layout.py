"""PDF layout parsing: reading-order recovery from word boxes (SURVEY.md
§2.1 S4; north-star requirement "column detection and y-sorted block
merging").

The reference gets reading order from pdfplumber's ``layout=True``
(src/services/text_extractor.py:85-97) or ``pdftotext -layout``
(zOld-Code/step1…/pdf_extractor.py:72-91) — both single-process library
calls. Distributed, the input is a table of per-page word boxes

    pages(doc_id string, page int,
          words array<struct<text string, x0 float, y0 float,
                             x1 float, y1 float>>)

and the recovery runs as ONE Arrow-batched kernel (``plans.rows.map_rows``) whose body
is pure NumPy:

  1. **column detection** — sort distinct word x-centers; a gap wider than
     ``gutter_frac`` of the page's text width splits columns (1-D gap
     clustering: deterministic, no iterative k-means needed for gutters,
     which are by construction wider than inter-word spaces);
  2. **line building** — within a column, words are grouped into lines by
     y proximity (new line when the y step exceeds half the median word
     height), each line sorted by x;
  3. **block merge** — columns read left-to-right, lines top-to-bottom:
     the y-sorted block merge of the north star. A single-column page
     degenerates to a plain y-sort.

Output: (doc_id, page, n_columns, lines array<string>) — the span-model
text lines in reading order, ready for ``flat``/span assembly upstream of
the convert kernel.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..plans.rows import map_rows, struct_dicts

WORD_STRUCT = T.StructType(
    [
        T.StructField("text", T.StringType()),
        T.StructField("x0", T.FloatType()),
        T.StructField("y0", T.FloatType()),
        T.StructField("x1", T.FloatType()),
        T.StructField("y1", T.FloatType()),
    ]
)

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("page", T.IntegerType()),
        T.StructField("words", T.ArrayType(WORD_STRUCT)),
    ]
)

LAYOUT_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("page", T.IntegerType()),
        T.StructField("n_columns", T.IntegerType()),
        T.StructField("lines", T.ArrayType(T.StringType())),
    ]
)


def recover_reading_order(
    words: Sequence[dict], gutter_frac: float = 0.12
) -> tuple[int, list[str]]:
    """Pure kernel: (n_columns, lines in reading order) from word boxes.

    Deterministic: ties in every sort are broken by (y, x, text). Vectorized
    NumPy throughout — no per-word Python in the hot loops beyond the final
    string joins.
    """
    if not words:
        return 0, []
    x0 = np.array([w["x0"] for w in words], dtype=np.float64)
    x1 = np.array([w["x1"] for w in words], dtype=np.float64)
    y0 = np.array([w["y0"] for w in words], dtype=np.float64)
    y1 = np.array([w["y1"] for w in words], dtype=np.float64)
    texts = [w["text"] for w in words]

    page_left, page_right = float(x0.min()), float(x1.max())
    width = max(page_right - page_left, 1e-9)
    centers = (x0 + x1) / 2.0

    # --- 1. column detection by gap clustering over x-intervals ---------
    # project word x-intervals onto the axis; a column gutter is a maximal
    # x-range covered by NO word and wider than gutter_frac * width
    order = np.argsort(x0, kind="stable")
    sx0, sx1 = x0[order], x1[order]
    running_max = np.maximum.accumulate(sx1)
    # gap between running coverage and the next word's start
    gaps = sx0[1:] - running_max[:-1]
    cut_positions = running_max[:-1][gaps > gutter_frac * width]
    boundaries = np.concatenate(
        ([page_left - 1.0], np.sort(cut_positions), [page_right + 1.0])
    )
    col_idx = np.searchsorted(boundaries, centers, side="right") - 1
    n_columns = int(col_idx.max()) + 1 if len(col_idx) else 0

    # --- 2+3. per column: y-cluster into lines, x-sort within, merge ----
    med_h = float(np.median(y1 - y0))
    line_tol = max(med_h / 2.0, 1e-9)
    out_lines: list[str] = []
    for c in range(n_columns):
        mask = col_idx == c
        if not mask.any():
            continue
        cy, cx = y0[mask], x0[mask]
        ctext = [t for t, m in zip(texts, mask) if m]
        # sort by (y, x) with stable tie-break
        order_c = np.lexsort((cx, cy))
        cy, cx = cy[order_c], cx[order_c]
        ctext = [ctext[i] for i in order_c]
        # new line when the y step exceeds the tolerance
        if len(cy) == 1:
            breaks = np.array([], dtype=int)
        else:
            breaks = np.where(np.diff(cy) > line_tol)[0] + 1
        start = 0
        for b in list(breaks) + [len(cy)]:
            seg = slice(start, b)
            seg_order = np.argsort(cx[seg], kind="stable")
            out_lines.append(" ".join(ctext[start + i] for i in seg_order))
            start = b
    return n_columns, out_lines


def _layout_row(doc_id, page, words):
    # a null page arrives as NaN once its batch has a null; it stays null
    n_cols, lines = recover_reading_order(struct_dicts(words, WORD_STRUCT))
    return (
        {
            "doc_id": str(doc_id),
            "page": None if pd.isna(page) else int(page),
            "n_columns": n_cols,
            "lines": lines,
        },
    )


def parse_layout(df: DataFrame) -> DataFrame:
    """Distributed reading-order recovery over a PAGES_SCHEMA table —
    map-only, one Arrow stage, same plan shape as the convert kernel."""
    pruned = df.select("doc_id", "page", "words")
    return map_rows(pruned, _layout_row, LAYOUT_OUTPUT_SCHEMA)


def layout_to_spans(layout_df: DataFrame) -> DataFrame:
    """Assemble per-page reading-order lines into the span-model documents
    table ``(doc_id, spans)`` the convert kernel consumes — pages joined in
    page order with a blank separator line (the reference joins pages with
    ``"\\n\\n"``, text_extractor.py:99), offsets dense per document. Pure
    JVM: groupBy doc + sort_array over (page, lines) structs, then one
    flatten/transform. This completes the ingestion path
    word boxes -> reading order -> spans -> convert.
    """
    from pyspark.sql import functions as F

    from ..sources.synth import SPANS_SCHEMA

    per_doc = (
        layout_df.groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("page"), F.col("lines")))
            ).alias("pages")
        )
    )
    # page texts joined with a blank line between pages, then re-split so
    # every line (and the blank separators) is one text span
    all_lines = F.split(
        F.array_join(
            F.transform(F.col("pages"), lambda p: F.array_join(p["lines"], "\n")),
            "\n\n",
        ),
        "\n",
    )
    spans = F.transform(
        all_lines,
        lambda ln, i: F.struct(
            F.lit("text").alias("kind"),
            ln.alias("text"),
            F.lit("").alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    return per_doc.select(
        F.col("doc_id"), spans.cast(SPANS_SCHEMA).alias("spans")
    )
