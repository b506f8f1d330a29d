from .synth import synth_documents, synth_documents_pandas, SPANS_SCHEMA, DOCS_SCHEMA
from .io import flat_to_spans

__all__ = [
    "synth_documents",
    "synth_documents_pandas",
    "SPANS_SCHEMA",
    "DOCS_SCHEMA",
    "flat_to_spans",
]
