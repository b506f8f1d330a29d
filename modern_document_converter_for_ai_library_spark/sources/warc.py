"""WARC (Web ARChive, ISO 28500) ingestion — the Common-Crawl-shaped front
door for the web-extraction pipeline:

    spark.read.format("binaryFile") over .warc / .warc.gz shards
      -> one Arrow stage: record framing + HTTP payload split   (this module)
      -> strip_boilerplate_html                                 (operators/boilerplate.py)
      -> flat_to_spans -> convert                               (the engine)

The parser is dependency-free (the WARC framing is plain text headers +
Content-Length payloads): split records on the version line, read exactly
Content-Length payload bytes, and for ``response`` records drop the HTTP
header block. Gzip shards decompress member-by-member (Common Crawl gzips
each record as its own member — ``gzip.decompress`` would stop after the
first), via a zlib decompressobj loop.

Scale shape: one WARC shard = one binaryFile row = one task; Common Crawl
shards are ~1 GB, so parallelism comes from the shard count, matching how
these corpora are actually laid out. Records stream out as individual rows.
"""

from __future__ import annotations

import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..plans.rows import map_rows

WARC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),  # WARC-Record-ID
        T.StructField("url", T.StringType()),
        T.StructField("warc_type", T.StringType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("shard", T.StringType()),
        T.StructField("html", T.StringType()),  # payload minus HTTP headers
        T.StructField("n_payload_bytes", T.LongType()),
    ]
)

_GZIP_MAGIC = b"\x1f\x8b"


def gunzip_members(data: bytes) -> bytes:
    """Decompress ALL gzip members (Common Crawl: one member per record)."""
    out = []
    pos = 0
    while pos < len(data) and data[pos : pos + 2] == _GZIP_MAGIC:
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        out.append(d.decompress(data[pos:]))
        consumed = len(data) - pos - len(d.unused_data)
        if consumed <= 0:  # pragma: no cover - corrupt stream guard
            break
        pos += consumed
    return b"".join(out) if out else data


def parse_warc_bytes(data: bytes, shard: str = "") -> list[dict]:
    """Parse one WARC shard's bytes into record dicts (pure function)."""
    if data[:2] == _GZIP_MAGIC:
        data = gunzip_members(data)
    records = []
    pos = 0
    n = len(data)
    while True:
        start = data.find(b"WARC/", pos)
        if start < 0 or start >= n:
            break
        head_end = data.find(b"\r\n\r\n", start)
        if head_end < 0:
            break
        headers: dict[str, str] = {}
        for line in data[start:head_end].split(b"\r\n")[1:]:
            if b":" in line:
                k, v = line.split(b":", 1)
                headers[k.strip().decode("ascii", "replace").lower()] = (
                    v.strip().decode("utf-8", "replace")
                )
        try:
            length = int(headers["content-length"])
            if length < 0:
                raise ValueError(length)
        except (KeyError, ValueError):
            # A record without a valid Content-Length cannot be framed; a
            # 0-length default would re-sync on the next 'WARC/' substring
            # and fabricate phantom records out of payload bytes that
            # happen to contain it (ADVICE r2). Drop the record and re-sync
            # at the next record BOUNDARY — a version line preceded by the
            # CRLFCRLF block terminator (ISO 28500) — not a bare substring.
            term = data.find(b"\r\n\r\nWARC/", head_end + 4)
            pos = n if term < 0 else term + 4
            continue
        payload = data[head_end + 4 : head_end + 4 + length]
        pos = head_end + 4 + length
        warc_type = headers.get("warc-type", "")
        html = ""
        if warc_type == "response":
            # drop the HTTP response header block
            split = payload.find(b"\r\n\r\n")
            body = payload[split + 4 :] if split >= 0 else payload
            html = body.decode("utf-8", "replace")
        elif warc_type in ("resource", "conversion"):
            html = payload.decode("utf-8", "replace")
        records.append(
            {
                "doc_id": headers.get("warc-record-id", f"{shard}#{len(records)}"),
                "url": headers.get("warc-target-uri"),
                "warc_type": warc_type,
                "content_type": headers.get("content-type"),
                "shard": shard,
                "html": html,
                "n_payload_bytes": length,
            }
        )
    return records


def _binary_shards(spark: SparkSession, path: str, path_glob: str) -> DataFrame:
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", path_glob)
        .load(path)
        .select("path", "content")
    )


def read_warc_documents(
    spark: SparkSession,
    path: str,
    path_glob: str = "*.warc*",
    keep_types: tuple[str, ...] = ("response", "resource", "conversion"),
) -> DataFrame:
    """One row per WARC record of the kept types; single Arrow stage."""

    def record_rows(path, content):
        shard = str(path).rsplit("/", 1)[-1]
        return [
            rec
            for rec in parse_warc_bytes(bytes(content), shard=shard)
            if rec["warc_type"] in keep_types
        ]

    return map_rows(_binary_shards(spark, path, path_glob), record_rows, WARC_SCHEMA)


STRIPPED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("shard", T.StringType()),
        T.StructField("content_text", T.StringType()),
        T.StructField("n_blocks", T.LongType()),
        T.StructField("n_content_blocks", T.LongType()),
    ]
)


def parse_and_strip_warc(
    binary_df: DataFrame,
    classifier: str = "num_words",
    keep_types: tuple[str, ...] = ("response", "resource", "conversion"),
) -> DataFrame:
    """FUSED WARC framing + HTTP split + boilerplate strip in ONE Arrow
    stage over (path, content) binaryFile rows.

    Why fuse: parse-then-strip as two Arrow stages ships every
    page's raw HTML JVM->Python->JVM->Python — double the Arrow traffic —
    and runs two Python workers per task slot; with the convert kernel
    downstream that is 3 workers/slot, which oversubscribes the host at
    high parallelism (measured: the 3-stage pipeline scaled 0.75 at
    N=6/4N=24 where the fused 2-stage job meets the >=0.8 target — see
    BENCH/BASELINE.md). The kernel bodies are the SAME pure functions the
    unfused operators use (parse_warc_bytes, html_blocks_py,
    classify_blocks_py); tests assert record-for-record equality."""

    from ..operators.boilerplate import classify_blocks_py, html_blocks_py

    def stripped_rows(path, content):
        shard = str(path).rsplit("/", 1)[-1]
        rows = []
        for rec in parse_warc_bytes(bytes(content), shard=shard):
            if rec["warc_type"] not in keep_types:
                continue
            blocks = html_blocks_py(rec["doc_id"], rec["html"])
            flags = classify_blocks_py(blocks, classifier=classifier)
            kept = [b["text"] for b, f_ in zip(blocks, flags) if f_]
            rows.append(
                {
                    "doc_id": rec["doc_id"],
                    "url": rec["url"],
                    "shard": shard,
                    "content_text": "\n\n".join(kept),
                    "n_blocks": len(blocks),
                    "n_content_blocks": len(kept),
                }
            )
        return rows

    return map_rows(binary_df.select("path", "content"), stripped_rows, STRIPPED_SCHEMA)


def read_warc_content(
    spark: SparkSession,
    path: str,
    path_glob: str = "*.warc*",
    classifier: str = "num_words",
) -> DataFrame:
    """Convenience: shards on disk -> stripped page content, one stage."""
    return parse_and_strip_warc(
        _binary_shards(spark, path, path_glob), classifier=classifier
    )
