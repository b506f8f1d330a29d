"""Distributed sequential code assignment (SURVEY.md §2.8 C4, §7 hard part 3).

The reference increments a SQLite counter per document — a global sequential
dependency. The distributed re-expression keeps the reference's determinism
contract (same input set => same codes; order = lexicographic doc_id, which
matches the reference's alphabetical processing order, orchestrator.py:96)
without a global single-reducer window:

  1. freeze range-boundary keys ON THE DRIVER (seeded sample, collected and
     sorted once) and derive an explicit ``_pid`` column from them as a
     ``CASE WHEN`` chain of literals — a pure function of the row, monotone
     in the order key;
  2. count the code-taking rows per pid (tiny result: P rows to the driver)
     and prefix-sum them there => each pid's starting index;
  3. give every row its pid's starting index (a literal) plus a running
     count of the code-taking rows before it, in a window partitioned by
     ``_pid`` and ordered by the key.

Unlike ``repartitionByRange`` — whose bounds come from an internal sample
re-drawn with a lineage-dependent seed on every recompute — the bounds here
are frozen driver-side literals, so the count pass and the window see
identical splits BY CONSTRUCTION, no matter how many times Spark recomputes
the lineage (VERDICT r2 "What's wrong #1"). After the driver collects the
plan is column expressions only: one hash shuffle on ``_pid`` for the
window, no Python.

The running count uses a ROWS frame, so rows with equal keys still get
distinct indexes, but in an unspecified order: the order key must be a
total order (``doc_id`` is unique; the indexer's key ends with the path).
The pid derivation is an O(P) comparison chain per row, fine for the
few-hundred-partition range this job uses.
"""

from __future__ import annotations

from itertools import accumulate

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..reference_semantics.codes import ALPHABET, CAPACITY, CODE_LENGTH

_PID = "__cg_pid"
_TAKES = "__cg_takes"


def code_from_index_col(idx_col):
    """Columnar base-25 encode (C1) — pure JVM expression, WSCG-friendly."""
    digits = [
        F.expr(
            "substring('%s', CAST((%s div %d) %% 25 AS INT) + 1, 1)"
            % (ALPHABET, idx_col, 25 ** p)
        )
        for p in range(CODE_LENGTH - 1, -1, -1)
    ]
    return F.concat(*digits)


def index_from_code_col(code_col: str) -> Column:
    """Columnar base-25 decode (C1), the inverse of :func:`code_from_index_col`
    on valid codes."""
    return sum(
        (F.expr("instr('%s', substring(%s, %d, 1))" % (ALPHABET, code_col, k + 1)) - 1)
        * 25 ** (CODE_LENGTH - 1 - k)
        for k in range(CODE_LENGTH)
    )


def _frozen_bounds(
    df: DataFrame, order_col: str, num_partitions: int, n_rows: int
) -> list:
    """P-1 sorted boundary keys, sampled once and frozen on the driver.

    Returned values are plain Python values — they become literals in the
    pid expression, immune to lineage recomputation.
    """
    if num_partitions <= 1 or n_rows == 0:
        return []
    target = num_partitions * 100
    fraction = min(1.0, target / n_rows)
    sample = sorted(
        r[0]
        for r in df.select(order_col).sample(False, fraction, seed=42).collect()
    )
    if not sample:
        return []
    bounds = []
    for i in range(1, num_partitions):
        b = sample[min(len(sample) - 1, i * len(sample) // num_partitions)]
        if not bounds or b > bounds[-1]:
            bounds.append(b)
    return bounds


def _pid_col(order_col: str, bounds: list) -> Column:
    """The number of bounds <= key, as a CASE WHEN chain over the sorted
    bounds (an array-filter lambda here fails analysis once an aggregate
    sits above it)."""
    if not bounds:
        return F.lit(0)
    key = F.col(order_col)
    pid = F.when(key < F.lit(bounds[0]), 0)
    for i, b in enumerate(bounds[1:], start=1):
        pid = pid.when(key < F.lit(b), i)
    return pid.otherwise(len(bounds))


def assign_codes(
    df: DataFrame,
    order_col: str = "doc_id",
    start_index: int = 0,
    index_col: str = "code_index",
    num_partitions: int | None = None,
    allocate: Column | None = None,
) -> DataFrame:
    """Add ``code_index`` (bigint) and ``unique_code`` columns.

    ``allocate`` (a boolean column; default: every row) names the rows that
    take a code. Every row's ``code_index`` is ``start_index`` plus the
    number of code-taking rows before it in ``order_col`` order: a taking
    row's own index, and for any other row the index of the next taking
    row after it. ``unique_code`` is set on taking rows only.

    ``start_index`` continues a previous batch's allocation (recorded in the
    manifest table) — the distributed analogue of the registry's
    ``next_code_index`` row. ``num_partitions`` (default: the context's
    ``defaultParallelism``) is the number of range buckets. Raises the
    reference's "Registry exhausted" ``RuntimeError`` when an index would
    reach ``CAPACITY``.

    Deterministic under recompute: two materializations of the returned
    DataFrame produce identical (row, code_index) assignments even if no
    intermediate is cached, because the partition bounds are driver-frozen
    literals and every downstream step is a pure function of row values
    (tests/test_codes_rename.py::test_assign_codes_recompute_stability).
    """
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism

    n_rows = df.count()
    bounds = _frozen_bounds(df, order_col, num_partitions, n_rows)
    takes = F.lit(True) if allocate is None else F.coalesce(allocate, F.lit(False))
    with_pid = df.withColumn(_PID, _pid_col(order_col, bounds)).withColumn(
        _TAKES, takes.cast("int")
    )

    counts = dict(with_pid.groupBy(_PID).agg(F.sum(_TAKES)).collect())
    if start_index + sum(n or 0 for n in counts.values()) > CAPACITY:
        # where the reference's index_to_code stops; the encode would wrap
        raise RuntimeError(
            f"Registry exhausted: index {max(start_index, CAPACITY)} "
            f"exceeds maximum {CAPACITY - 1}."
        )
    offsets = accumulate(
        (counts.get(pid) or 0 for pid in range(len(bounds))), initial=start_index
    )

    running = F.sum(_TAKES).over(
        Window.partitionBy(_PID)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offset = F.element_at(F.array(*[F.lit(o) for o in offsets]), F.col(_PID) + 1)
    return (
        with_pid.withColumn(index_col, (offset + running - F.col(_TAKES)).cast("long"))
        .withColumn(
            "unique_code", F.when(F.col(_TAKES) == 1, code_from_index_col(index_col))
        )
        .drop(_PID, _TAKES)
    )
