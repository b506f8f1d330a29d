"""Checkpoint manifests + idempotent resume (SURVEY.md §2.8 C7, §2.2 F10).

The reference tracks conversions in SQLite — (source_path, mtime, size,
sha256, status) — and skips UNCHANGED files on re-run
(zOld-Code/step3a…/doc_to_markdown/tracking.py:44-70, file_status.py:36-78).
The distributed re-expression:

  - every output row carries ``input_hash`` = sha2 over the full input span
    sequence (kind, text, media_ref, order) — computed JVM-side before the
    kernel, so a changed input changes identity (the MODIFIED case);
  - completed work is the output table itself; ``resume_pending`` left-anti
    joins the input against it on (doc_id, input_hash) — NEW and MODIFIED
    docs fall through, UNCHANGED docs are skipped;
  - a manifest table accumulates one row per (run, partition) with lineage
    and metrics: run_id, input snapshot id, partition id, doc/span/byte
    counts, success counts — the per-partition checkpoint record the north
    rule requires. Failed runs leave partial output; a re-run converts only
    what is missing and appends, so the final table is byte-identical to a
    single clean run (tested in tests/test_manifest_resume.py).

On a cluster both tables are Iceberg and the output append + manifest append
commit under write-audit-publish; with plain parquet in this sandbox the
append is directory-level and idempotence comes from the anti-join.

MIGRATION (hash framing v1 -> v2, round 4): the input_hash framing changed
from \x1e separators to length prefixes (the old framing was not injective
— see with_input_hash). Every v1 hash differs from its v2 hash, so the
FIRST resume_pending run against an output written under v1 classifies
every document as MODIFIED: a full recompute, and because old rows are
never removed, an APPEND of a duplicate row per doc. Before resuming onto
a pre-change output, either rebuild it once from scratch or stamp new
writes with ``with_input_hash(..., stamp_version=True)`` — resume_pending
then refuses loudly when it meets rows hashed under a different framing
version instead of silently duplicating the corpus.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# input_hash framing versions: 1 = \x1e-separator framing (rounds <= 3,
# non-injective), 2 = length-prefix framing (round 4+). Bump on ANY change
# to with_input_hash's canonical serialization.
INPUT_HASH_VERSION = 2

MANIFEST_COLS = [
    "run_id",
    "input_snapshot",
    "partition_id",
    "n_docs",
    "n_success",
    "n_spans",
    "n_bytes",
]


def with_input_hash(
    df: DataFrame, spans_col: str = "spans", stamp_version: bool = False
) -> DataFrame:
    """Content identity of the input span sequence — pure column expr.

    Fields are LENGTH-PREFIXED before concatenation (the snapshot_diff
    framing convention, operators/diff.py): separator-based framing is
    ambiguous whenever a field can CONTAIN the separator — with the old
    \x1e separators, (text="a\x1eb", media_ref="c") and (text="a",
    media_ref="b\x1ec") hashed identically, and a doc modified exactly
    that way would be misread as UNCHANGED by ``resume_pending``,
    silently keeping stale output. Length prefixes make the framing
    injective for every possible byte content.

    ``stamp_version=True`` additionally stamps ``input_hash_ver`` =
    :data:`INPUT_HASH_VERSION`, letting ``resume_pending`` distinguish
    "this doc changed" from "the framing changed" on later upgrades
    (see the module-docstring migration note) at one tiny constant
    column's cost. Off by default for output-schema stability.
    """

    def _framed(c):
        v = F.coalesce(c, F.lit(""))
        return F.concat(F.length(v).cast("string"), F.lit(":"), v)

    canon = F.concat_ws(
        "",
        F.transform(
            F.col(spans_col),
            lambda s: F.concat(
                _framed(s["kind"]),
                _framed(s["text"]),
                _framed(s["media_ref"]),
            ),
        ),
    )
    out = df.withColumn("input_hash", F.sha2(canon, 256))
    if stamp_version:
        out = out.withColumn(
            "input_hash_ver", F.lit(INPUT_HASH_VERSION).cast("int")
        )
    return out


def resume_pending(input_df: DataFrame, output_path: str) -> DataFrame:
    """Rows of ``input_df`` not yet present in the output (NEW or MODIFIED).

    ``input_df`` must already carry ``input_hash`` (see with_input_hash).

    If the output was stamped with ``input_hash_ver`` (see
    with_input_hash), rows hashed under a DIFFERENT framing version make
    this raise instead of classifying the whole corpus as modified and
    appending a duplicate of every row — the loud form of the migration
    hazard in the module docstring. A null version (a partially stamped
    output) is an unknown version and raises too: its rows would
    otherwise be re-appended as duplicates. One bounded aggregate (distinct over
    a <= handful-of-versions column) pays for the guard.
    """
    from pyspark.errors import AnalysisException

    from ..sources.catalog import is_missing_target_error, read_documents

    spark = input_df.sparkSession
    try:
        out = read_documents(spark, output_path)
        done = out.select("doc_id", "input_hash")
    except AnalysisException as e:
        # Only a genuinely-missing target means "everything pending".
        # Catalog misconfiguration (RuntimeError from the adapter) and
        # transient read failures must propagate — swallowing them would
        # reprocess and APPEND duplicate rows (ADVICE r2).
        if is_missing_target_error(e):
            return input_df  # no output yet -> everything pending
        raise
    if "input_hash_ver" in out.columns:
        stale = [
            r[0]
            for r in out.select("input_hash_ver").distinct().collect()
            if r[0] != INPUT_HASH_VERSION
        ]
        if stale:
            raise ValueError(
                f"output at {output_path!r} carries input_hash framing "
                f"version(s) {sorted(stale, key=str)} (None = unstamped "
                f"rows) but this build computes "
                f"version {INPUT_HASH_VERSION}: resuming would re-append "
                "every row. Rebuild the output once from scratch (see "
                "operators/manifest.py migration note)."
            )
    return input_df.join(done, on=["doc_id", "input_hash"], how="left_anti")


def partition_metrics(out_df: DataFrame) -> DataFrame:
    """Per-partition doc/span/byte metrics of an output DataFrame."""
    return (
        out_df.withColumn("_pid", F.spark_partition_id())
        .groupBy(F.col("_pid").alias("partition_id"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("success"), 1).otherwise(0)).alias("n_success"),
            F.sum(F.size("spans")).alias("n_spans"),
            F.sum(F.col("character_count").cast("bigint")).alias("n_bytes"),
        )
    )


def commit_with_manifest(
    out_df: DataFrame,
    output_path: str,
    manifest_path: str,
    run_id: str | None = None,
    input_snapshot: str = "",
) -> str:
    """Append output rows + one manifest row per partition; returns run_id.

    The output is materialized once (cached) so the data write and the
    metrics aggregation see identical rows.
    """
    from ..sources.catalog import write_documents

    run_id = run_id or uuid.uuid4().hex[:12]
    out_df = out_df.persist()
    try:
        write_documents(out_df, output_path, mode="append")
        metrics = (
            partition_metrics(out_df)
            .withColumn("run_id", F.lit(run_id))
            .withColumn("input_snapshot", F.lit(input_snapshot))
            .select(*MANIFEST_COLS)
        )
        write_documents(metrics.coalesce(1), manifest_path, mode="append")
    finally:
        out_df.unpersist()
    return run_id


def run_resumable_convert(
    spark: SparkSession,
    input_df: DataFrame,
    output_path: str,
    manifest_path: str | None = None,
    input_snapshot: str = "",
    balance_partitions: int | None = None,
) -> dict:
    """Full idempotent convert job: hash -> anti-join resume -> convert ->
    append with manifest. Returns {run_id, n_pending, n_written}."""
    from .convert import convert_documents

    manifest_path = manifest_path or os.path.join(output_path + "_manifest")
    hashed = with_input_hash(input_df)
    pending = resume_pending(hashed, output_path)
    n_pending = pending.count()
    if n_pending == 0:
        return {"run_id": None, "n_pending": 0, "n_written": 0}
    # input_hash flows through the kernel, so every output row carries its
    # resume key without a re-join shuffle
    out = convert_documents(pending, balance_partitions=balance_partitions)
    run_id = commit_with_manifest(
        out, output_path, manifest_path, input_snapshot=input_snapshot
    )
    return {"run_id": run_id, "n_pending": n_pending, "n_written": n_pending}
