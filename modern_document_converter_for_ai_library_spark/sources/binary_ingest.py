"""Raw-binary document ingestion (SURVEY.md §2.1 S3/S5/S6/S7 — the
extract-from-bytes front end, ADR in README §"Raw-file ingestion").

The core engine takes the Iceberg/parquet span table as input (the
BASELINE.json input_hint); THIS module is the upstream job that would
produce it from raw files on a cluster:

    spark.read.format("binaryFile")           one row per file, content ->
      -> map_rows extract kernel              spans (one Arrow stage)
      -> span-shaped table (doc_id, source_file, spans, n_pages,
         success, error_message)

The Spark plumbing — binaryFile source, single vectorized extraction
stage, result-typed error channel (never an exception, mirroring
text_extractor.py:465-472) — is real and tested with an injected
extractor. The per-format extractors mirror the reference's dispatch
(text_extractor.py:398-440) and are import-gated because this sandbox has
none of the binary-document libraries:

    .pdf  fast   pdfplumber extract_text(layout=True), pages joined
                 "\\n\\n" (text_extractor.py:51-102)        [gated import]
    .pdf  deep   marker-pdf ML conversion (3-5 GB models,
                 text_extractor.py:254-319)                [gated import;
                 non-deterministic — excluded from the correctness gate]
    .docx        python-docx paragraphs + tables (":105-143") [gated import]
    .doc         LibreOffice `soffice --headless` subprocess then .docx
                 (":146-201")                              [gated binary]
    .epub/.mobi/
    .azw/.azw3   legacy doc_to_markdown ebook tier: ebooklib (EPUB
                 metadata) + calibre `ebook-convert` subprocess
                 (zOld-Code/step3a…/doc_to_markdown/converters/ebook.py
                 :1-207, metadata/ebook.py:1-143)          [gated binary]

A missing dependency yields a per-row failure with the dependency named —
the job never crashes on a format it cannot handle.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..plans.rows import map_rows
from .synth import SPANS_SCHEMA

INGEST_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("source_file", T.StringType()),
        T.StructField("spans", SPANS_SCHEMA),
        T.StructField("n_pages", T.IntegerType()),
        T.StructField("success", T.BooleanType()),
        T.StructField("error_message", T.StringType()),
    ]
)

# extractor signature: (filename, content_bytes) -> (pages: list[str], n_pages)
Extractor = Callable[[str, bytes], tuple[list[str], int]]


def _extract_pdf_fast(name: str, content: bytes) -> tuple[list[str], int]:
    try:
        import io

        import pdfplumber  # noqa: F401
    except ImportError as exc:  # sandbox: not installed
        raise RuntimeError(f"pdf extraction requires pdfplumber: {exc}") from exc
    pages = []
    with pdfplumber.open(io.BytesIO(content)) as pdf:  # pragma: no cover
        for page in pdf.pages:
            txt = page.extract_text(layout=True) or page.extract_text() or ""
            pages.append(txt)
    return pages, len(pages)


def _extract_pdf_deep(name: str, content: bytes) -> tuple[list[str], int]:
    try:
        import marker  # noqa: F401
    except ImportError as exc:
        raise RuntimeError(
            f"deep strategy requires marker-pdf (3-5 GB models): {exc}"
        ) from exc
    raise RuntimeError(
        "deep strategy is excluded from the deterministic engine "
        "(ML output, SURVEY.md §7 hard part 5)"
    )


def _extract_docx(name: str, content: bytes) -> tuple[list[str], int]:
    try:
        import io

        import docx  # noqa: F401
    except ImportError as exc:
        raise RuntimeError(f"docx extraction requires python-docx: {exc}") from exc
    d = docx.Document(io.BytesIO(content))  # pragma: no cover
    paras = [p.text for p in d.paragraphs]
    for tbl in d.tables:
        for row in tbl.rows:
            paras.append(" | ".join(c.text for c in row.cells))
    return ["\n\n".join(paras)], 1


def _extract_doc_legacy(name: str, content: bytes) -> tuple[list[str], int]:
    if shutil.which("soffice") is None:
        raise RuntimeError(
            "legacy .doc extraction requires LibreOffice (soffice) on every "
            "executor (text_extractor.py:146-201)"
        )
    raise RuntimeError(
        "soffice conversion is a per-file subprocess; run it in the "
        "ingestion tier, not inside the engine"
    )  # pragma: no cover


def _extract_ebook(name: str, content: bytes) -> tuple[list[str], int]:
    if shutil.which("ebook-convert") is None:
        raise RuntimeError(
            "ebook extraction requires calibre (ebook-convert) on every "
            "executor (zOld-Code/step3a doc_to_markdown/converters/"
            "ebook.py:43-88; metadata via ebooklib, metadata/ebook.py)"
        )
    raise RuntimeError(
        "ebook-convert is a per-file subprocess; run it in the ingestion "
        "tier, not inside the engine"
    )  # pragma: no cover


def default_extractor(strategy: str = "fast") -> Extractor:
    """Format dispatch mirroring text_extractor.py:398-440."""

    def _extract(name: str, content: bytes) -> tuple[list[str], int]:
        ext = os.path.splitext(name)[1].lower()
        if ext == ".pdf":
            if strategy == "deep":
                return _extract_pdf_deep(name, content)
            return _extract_pdf_fast(name, content)
        if ext == ".docx":
            return _extract_docx(name, content)
        if ext == ".doc":
            return _extract_doc_legacy(name, content)
        if ext in (".epub", ".mobi", ".azw", ".azw3"):
            return _extract_ebook(name, content)
        raise RuntimeError(f"Unsupported file format: {ext}")

    return _extract


def _pages_to_spans(pages: list[str]) -> list[dict]:
    """One text span per line, page breaks joined with blank lines — the
    reference's '\\n\\n'.join(pages) then line-split shape."""
    text = "\n\n".join(pages)
    return [
        {"kind": "text", "text": ln, "media_ref": "", "offset": i}
        for i, ln in enumerate(text.split("\n"))
    ]


def ingest_binary_documents(
    spark: SparkSession,
    path: str,
    strategy: str = "fast",
    extractor: Optional[Extractor] = None,
    path_glob: Optional[str] = None,
) -> DataFrame:
    """Read raw files via the binaryFile source and extract span rows.

    ``extractor`` is injectable for tests; the default dispatches per
    format with import-gated real extractors. One Arrow stage; per-file
    failures are rows, not exceptions.
    """
    ex = extractor or default_extractor(strategy)

    def extract_row(path, content):
        name = os.path.basename(str(path))
        try:
            pages, n_pages = ex(name, bytes(content))
            spans, success, error = _pages_to_spans(pages), True, None
        except Exception as exc:
            spans, n_pages, success, error = [], 0, False, f"{exc}"
        return (
            {
                "doc_id": os.path.splitext(name)[0],
                "source_file": name,
                "spans": spans,
                "n_pages": n_pages,
                "success": success,
                "error_message": error,
            },
        )

    reader = spark.read.format("binaryFile")
    if path_glob:
        reader = reader.option("pathGlobFilter", path_glob)
    files = reader.load(path).select("path", "content")
    return map_rows(files, extract_row, INGEST_SCHEMA)
