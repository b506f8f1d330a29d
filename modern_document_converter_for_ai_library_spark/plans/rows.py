"""The one JVM/Python boundary for per-document kernels.

Every per-document Python kernel (convert, rename, the caselaw, article
and legacy flows, media, layout, boilerplate, binary and WARC ingest) runs
through :func:`map_rows`: one ``mapInPandas`` stage whose Arrow batches are
unpacked into rows, handed to a plain row function, and packed back into a
pandas frame with the output schema's columns. The row function holds the
kernel call and its null coercions; the batch loop, the column names and
the frame build live here only, so the boundary can be measured and tuned
in one place.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T


def map_rows(
    df: DataFrame, row_fn: Callable[..., Iterable[dict]], schema: T.StructType
) -> DataFrame:
    """Run ``row_fn`` over every row of ``df`` in one Arrow stage.

    ``row_fn`` takes one row's values positionally, in ``df.columns`` order,
    and returns an iterable of output dicts keyed by ``schema``'s field
    names: one dict for a one-to-one kernel, any number (zero included) for
    a one-to-many kernel. The plan's ``MapInPandas`` node carries
    ``row_fn``'s name.
    """
    cols = schema.fieldNames()

    def batches(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            rows: list[dict] = []
            for values in zip(*(s for _, s in pdf.items())):
                rows.extend(row_fn(*values))
            yield pd.DataFrame(rows, columns=cols)

    batches.__name__ = batches.__qualname__ = row_fn.__name__
    return df.mapInPandas(batches, schema=schema)


def struct_dicts(values, struct: T.StructType) -> list[dict]:
    """A list<struct> cell as a list of dicts; a null list is empty.

    Arrow hands list<struct> to pandas as an array of dicts; a tuple
    element is keyed by ``struct``'s field names.
    """
    if values is None:
        return []
    names = struct.fieldNames()
    return [v if isinstance(v, dict) else dict(zip(names, v)) for v in values]
