"""Crash-safe versioned state for the streaming sketch folds.

A state directory holds numbered version directories (``v1``, ``v2``,
...) and a tiny ``CURRENT`` file naming the live one. A fold writes the
merged state to a NEW version directory, writes the pointer to
``CURRENT.tmp`` and moves it over ``CURRENT`` with ``os.replace`` (atomic
on POSIX), then removes the old version best-effort. A crash at any point
leaves ``CURRENT`` naming a complete older version, never a partial or
deleted one; a version directory the pointer does not name is invisible.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable, Optional

from pyspark.sql import DataFrame

_CURRENT = "CURRENT"


def read_pointer(state_path: str) -> Optional[str]:
    """The live version directory, or None before the first fold."""
    ptr = os.path.join(state_path, _CURRENT)
    if not os.path.exists(ptr):
        return None
    with open(ptr, encoding="utf-8") as f:
        name = f.read().strip()
    version_dir = os.path.join(state_path, name)
    return version_dir if name and os.path.exists(version_dir) else None


def write_next_version(
    state_path: str, merged: Callable[[Optional[str]], DataFrame]
) -> None:
    """Write ``merged(live version dir or None)`` as the next version and
    swap the pointer to it."""
    os.makedirs(state_path, exist_ok=True)
    prev_dir = read_pointer(state_path)
    n = 0 if prev_dir is None else int(os.path.basename(prev_dir).lstrip("v"))
    new_name = "v%d" % (n + 1)
    merged(prev_dir).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(state_path, new_name)
    )
    ptr_tmp = os.path.join(state_path, _CURRENT + ".tmp")
    with open(ptr_tmp, "w", encoding="utf-8") as f:
        f.write(new_name)
    os.replace(ptr_tmp, os.path.join(state_path, _CURRENT))
    if prev_dir is not None:
        shutil.rmtree(prev_dir, ignore_errors=True)
