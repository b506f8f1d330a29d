"""Multimodal column plumbing (training-data pipeline ops).

Media content is carried as opaque ``binary`` columns with typed metadata —
never materialized into driver memory, never stringified. The decode /
feature-extract / resize / frame-sample steps run as Arrow-batched kernels
through ``plans.rows.map_rows`` so the Spark-side shape (schema, partitioning, batch
boundaries) is production-real; the pixel/sample work itself is STUBBED
because image/audio libraries are not in this container:

  - ``decoder="fake"`` produces deterministic pseudo-metadata and features
    derived from the md5 of the bytes (stable across runs/engines) — used by
    tests to validate the plumbing;
  - ``decoder="pillow"`` (and friends) raise NotImplementedError with a
    clear marker until the real library is wired in.

MEDIA_SCHEMA is the companion table to the documents table: one row per
media span, joined back on (doc_id, media_ref).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..plans.rows import map_rows

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("media_type", T.StringType()),  # image | audio | video
        T.StructField("content", T.BinaryType()),
    ]
)

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("content_hash", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
        T.StructField("decode_ok", T.BooleanType()),
        T.StructField("decode_error", T.StringType()),
    ]
)

_FEATURE_DIM = 8


def _fake_decode(content: bytes, media_type: str) -> dict:
    """Deterministic stand-in for a real decoder: metadata + an
    ``_FEATURE_DIM``-dim feature vector derived from the content digest."""
    digest = hashlib.md5(content or b"").hexdigest()
    b = bytes.fromhex(digest)
    feats = [round(x / 255.0, 6) for x in b[:_FEATURE_DIM]]
    return {
        "n_bytes": len(content or b""),
        "content_hash": digest,
        "width": 16 + b[0] % 64,
        "height": 16 + b[1] % 64,
        "n_frames": 1 if media_type == "image" else 1 + b[2] % 30,
        "features": feats,
        "decode_ok": True,
        "decode_error": None,
    }


def _real_decode(content: bytes, media_type: str) -> dict:
    raise NotImplementedError(
        "STUB: real media decode requires an image/audio library "
        "(Pillow/ffmpeg) that is not available in this environment. "
        "The Spark-side plumbing (schema, Arrow batching, partitioning) is "
        "real and tested with decoder='fake'."
    )


def decode_media(df: DataFrame, decoder: str = "fake") -> DataFrame:
    """Decode/feature-extract a MEDIA_SCHEMA table via one Arrow stage."""
    decode = _fake_decode if decoder == "fake" else _real_decode

    def decode_row(doc_id, media_ref, media_type, content):
        try:
            res = decode(bytes(content) if content is not None else b"", media_type)
        except NotImplementedError:
            raise
        except Exception as exc:  # corrupt blob -> result-typed error
            res = {
                "n_bytes": len(content or b""),
                "content_hash": None,
                "width": None,
                "height": None,
                "n_frames": None,
                "features": None,
                "decode_ok": False,
                "decode_error": f"{type(exc).__name__}: {exc}",
            }
        res.update(
            doc_id=str(doc_id), media_ref=str(media_ref), media_type=str(media_type)
        )
        return (res,)

    return map_rows(df.select(MEDIA_SCHEMA.fieldNames()), decode_row, DECODED_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("content", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("resize_ok", T.BooleanType()),
        T.StructField("resize_error", T.StringType()),
    ]
)

FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("frame_no", T.IntegerType()),
        T.StructField("ts_micros", T.LongType()),
        T.StructField("frame", T.BinaryType()),
    ]
)

_FAKE_FPS = 10  # deterministic fake timeline: 10 frames/sec


def _fake_resize(content: bytes, width: int, height: int) -> bytes:
    """Deterministic stand-in: output bytes are a digest keyed by (content,
    target dims) with length proportional to the target area — stable
    across engines/partitionings, size-realistic for shuffle accounting."""
    seed = hashlib.md5((content or b"") + f"{width}x{height}".encode()).digest()
    reps = max(1, (width * height) // len(seed))
    return (seed * reps)[: width * height]


def resize_media(
    df: DataFrame, width: int, height: int, decoder: str = "fake"
) -> DataFrame:
    """Resize a MEDIA_SCHEMA table to (width, height) — one Arrow stage,
    binary in / binary out, blobs never touch the driver. Real pixel work is
    stubbed like decode_media (no image libs in this container)."""
    if decoder != "fake":
        _real_decode(b"", "image")  # raises the documented stub marker

    def resize_row(doc_id, media_ref, media_type, content):
        row = {
            "doc_id": str(doc_id),
            "media_ref": str(media_ref),
            "media_type": str(media_type),
        }
        try:
            blob = _fake_resize(
                bytes(content) if content is not None else b"", width, height
            )
            row.update(content=blob, width=width, height=height)
            row.update(resize_ok=True, resize_error=None)
        except Exception as exc:
            row.update(content=None, width=None, height=None)
            row.update(resize_ok=False, resize_error=f"{type(exc).__name__}: {exc}")
        return (row,)

    return map_rows(df.select(MEDIA_SCHEMA.fieldNames()), resize_row, RESIZED_SCHEMA)


def sample_frames(
    df: DataFrame,
    every_n: int = 5,
    max_frames: int | None = None,
    decoder: str = "fake",
) -> DataFrame:
    """Explode video rows into sampled frame rows (every ``every_n``-th
    frame, optionally capped) — the one-to-many Arrow batch shape for frame
    extraction. Non-video rows yield no frames. Frame count and bytes come
    from the deterministic fake decoder (same digest-derived timeline as
    decode_media), so downstream schema/partitioning/row-count logic is
    production-real while the codec is stubbed."""
    if decoder != "fake":
        _real_decode(b"", "video")

    def frame_rows(doc_id, media_ref, media_type, content):
        if str(media_type) != "video":
            return []
        blob = bytes(content) if content is not None else b""
        meta = _fake_decode(blob, "video")
        rows = []
        for frame_no in range(0, meta["n_frames"], every_n):
            if max_frames is not None and len(rows) >= max_frames:
                break
            frame = hashlib.md5(
                meta["content_hash"].encode() + frame_no.to_bytes(4, "big")
            ).digest()
            rows.append(
                {
                    "doc_id": str(doc_id),
                    "media_ref": str(media_ref),
                    "frame_no": frame_no,
                    "ts_micros": frame_no * 1_000_000 // _FAKE_FPS,
                    "frame": frame,
                }
            )
        return rows

    return map_rows(df.select(MEDIA_SCHEMA.fieldNames()), frame_rows, FRAMES_SCHEMA)


def media_features_join(docs_df: DataFrame, decoded_df: DataFrame) -> DataFrame:
    """Attach per-document media feature aggregates back onto the docs table
    (broadcast-friendly: decoded media is a projection, not the blobs)."""
    from pyspark.sql import functions as F

    agg = decoded_df.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_media"),
        F.sum("n_bytes").cast("bigint").alias("media_bytes"),
        F.sum(F.when(F.col("decode_ok"), 0).otherwise(1)).cast("bigint").alias("n_decode_errors"),
    )
    return docs_df.join(agg, on="doc_id", how="left")
