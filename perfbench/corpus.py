"""Seeded, single-process corpus generators for the benchmark workloads.

Every generator is a pure function of ``(seed, n_docs)``: one
``numpy.random.RandomState`` walks the documents in order, so the same
seed always yields the same rows, in the same files, with the same
planted sets. Corpora are written as parquet with pyarrow (no Spark) and
cached on disk under ``<cache>/<workload>-s<seed>-n<n_docs>-v<VERSION>``;
a ``planted.json`` written last marks a complete entry.

Planted truth:

- ``ingest``: none (the checks compare against the reference kernels).
- ``curate``: ``junk`` ids (pages every quality gate rejects),
  ``exact`` ids (byte copies of an earlier page) and ``near`` ids (an
  earlier page with two tokens replaced).
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# bump when any generator's output changes, so stale cache entries miss
VERSION = 1
N_FILES = 8

_SPAN = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
DOCS_SCHEMA = pa.schema(
    [("doc_id", pa.string()), ("source_file", pa.string()), ("spans", pa.list_(_SPAN))]
)
CURATE_SCHEMA = pa.schema(
    [("doc_id", pa.string()), ("source", pa.string()), ("text", pa.string())]
)

def ingest_docs(seed: int, n_docs: int) -> list[tuple[str, str, list[dict]]]:
    """(doc_id, source_file, spans) rows in the ``sources.synth`` shape."""
    from modern_document_converter_for_ai_library_spark.sources.synth import _make_doc

    rng = np.random.RandomState(seed)
    return [_make_doc(rng, i) for i in range(n_docs)]


_STOP = ["the", "of", "and", "to", "in"]
_BOILER = [" ".join(f"bl{p}w{j}" for j in range(30)) for p in range(100)]
_P_SRC = [0.35, 0.2, 0.15, 0.1, 0.08, 0.06, 0.04, 0.02]
JUNK_TEXT = "@@ ## !! zz"


def curate_docs(seed: int, n_docs: int) -> tuple[list[tuple[str, str, str]], dict]:
    """(doc_id, source, text) rows in the curate-funnel shape, plus planted
    sets: eight zipf-skewed sources, 25% stopword tokens, 2% exact copies
    of the previous page, 2% near copies (two tokens replaced), 20% of
    pages embedding a shared 30-token boilerplate paragraph and 3% junk
    pages."""
    rng = np.random.RandomState(seed)
    rows: list[tuple[str, str, str]] = []
    planted: dict[str, list[str]] = {"junk": [], "exact": [], "near": []}
    prev = None
    for i in range(n_docs):
        doc_id = f"doc_{i:08d}"
        src = f"src{rng.choice(8, p=_P_SRC)}"
        n_tok = 120 + int(rng.randint(180))
        toks = [
            _STOP[(j // 4) % 5] if j % 4 == 0 else f"d{i}w{j}"
            for j in range(n_tok)
        ]
        r = rng.rand()
        if prev is not None and r < 0.02:
            text = prev
            planted["exact"].append(doc_id)
        elif prev is not None and r < 0.04:
            ptoks = prev.split(" ")
            ptoks[5], ptoks[-5] = f"n{i}a", f"n{i}b"
            text = " ".join(ptoks)
            planted["near"].append(doc_id)
        elif r < 0.07:
            text = JUNK_TEXT
            planted["junk"].append(doc_id)
        else:
            if rng.rand() < 0.2:
                ins = int(rng.randint(n_tok))
                toks[ins:ins] = _BOILER[rng.randint(len(_BOILER))].split(" ")
            text = " ".join(toks)
        if text != JUNK_TEXT:
            prev = text
        rows.append((doc_id, src, text))
    return rows, planted


def _write(path: str, table: pa.Table) -> None:
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for k in range(N_FILES):
        lo, hi = k * n // N_FILES, (k + 1) * n // N_FILES
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{k:03d}.parquet"))


def _docs_table(rows) -> pa.Table:
    return pa.Table.from_pydict(
        {
            "doc_id": [r[0] for r in rows],
            "source_file": [r[1] for r in rows],
            "spans": [r[2] for r in rows],
        },
        schema=DOCS_SCHEMA,
    )


class Corpus:
    """A generated corpus on disk: parquet directories plus planted sets.

    ``dirs`` maps a role (``docs``) to a parquet directory; ``rows`` holds the in-memory rows of each role, which the
    output checks use as the reference input.
    """

    def __init__(self, root: str, dirs: dict, rows: dict, planted: dict):
        self.root, self.dirs, self.rows, self.planted = root, dirs, rows, planted


def build(cache_dir: str, workload: str, seed: int, n_docs: int) -> Corpus:
    """Generate (or load from the cache) the corpus of ``workload``."""
    key = f"{workload}-s{seed}-n{n_docs}-v{VERSION}"
    root = os.path.join(cache_dir, key)
    marker = os.path.join(root, "planted.json")
    if workload == "ingest_full":
        rows = {"docs": ingest_docs(seed, n_docs)}
        planted: dict = {}
        tables = {"docs": lambda: _docs_table(rows["docs"])}
    elif workload == "curate_funnel":
        docs, planted = curate_docs(seed, n_docs)
        rows = {"docs": docs}
        tables = {
            "docs": lambda: pa.Table.from_pydict(
                {c: [r[k] for r in docs] for k, c in enumerate(CURATE_SCHEMA.names)},
                schema=CURATE_SCHEMA,
            )
        }
    else:
        raise ValueError(f"unknown workload {workload!r}")
    dirs = {role: os.path.join(root, role) for role in tables}
    if not os.path.exists(marker):
        shutil.rmtree(root, ignore_errors=True)
        for role, make in tables.items():
            _write(dirs[role], make())
        with open(marker, "w") as f:
            json.dump(planted, f)
    return Corpus(root, dirs, rows, planted)
