"""Output checks, run outside the timed region.

Outputs are compared through order-insensitive multiset checksums: each
row is serialised canonically, hashed to 64 bits, and the hashes are
summed modulo 2**64. Expected checksums come from the reference kernels
(``reference_semantics``) or from the planted truth, never from an
earlier run of the program.
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow.dataset as ds

_MASK = (1 << 64) - 1


class CheckFailed(Exception):
    """An output differs from the reference or the planted truth."""


def row_hash(row: dict, keys) -> int:
    canon = json.dumps([row.get(k) for k in keys], default=str, separators=(",", ":"))
    return int.from_bytes(hashlib.blake2b(canon.encode(), digest_size=8).digest(), "little")


def checksum(rows, keys) -> int:
    total = 0
    for r in rows:
        total = (total + row_hash(r, keys)) & _MASK
    return total


def read_rows(path: str, columns=None, partitioning=None) -> list[dict]:
    """Rows of a parquet directory written by Spark (``_``/``.`` files skipped)."""
    return ds.dataset(path, format="parquet", partitioning=partitioning).to_table(
        columns=columns
    ).to_pylist()


def data_files(path: str) -> list[str]:
    out = []
    for d, _, files in os.walk(path):
        out.extend(os.path.join(d, f) for f in files if f.endswith(".parquet"))
    return sorted(out)


def tok(text: str) -> int:
    """Token count under the program's convention: non-empty single-space
    separated tokens."""
    return len([t for t in text.split(" ") if t])


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


# --- ingest: convert and rename against the reference kernels ------------

CONVERT_KEYS = (
    "doc_id", "source_file", "spans", "document_type", "confidence",
    "lines_removed", "headings_added", "character_count", "success",
    "error_message",
)
RENAME_KEYS = (
    "doc_id", "source_file", "document_type", "confidence", "case_name",
    "year", "court", "citation", "discovered_code", "metadata_ok",
    "filename_template", "rename_success", "error_message", "code_index",
    "unique_code", "new_filename",
)


def _canon_spans(spans) -> list:
    return [[s["kind"], s["text"], s["media_ref"], s["offset"]] for s in spans or []]


def reference_convert(docs) -> dict:
    """doc_id -> canonical reference convert row."""
    from modern_document_converter_for_ai_library_spark.reference_semantics.convert import (
        convert_spans_doc,
    )

    out = {}
    for doc_id, source_file, spans in docs:
        res = convert_spans_doc(doc_id, spans, source_file=source_file)
        res["source_file"] = source_file
        res["spans"] = _canon_spans(res["spans"])
        out[doc_id] = res
    return out


def reference_rename_checksum(docs) -> int:
    from modern_document_converter_for_ai_library_spark.reference_semantics.convert import (
        rename_corpus_sequential,
    )

    rows = rename_corpus_sequential([(d, spans, src) for d, src, spans in docs])
    return checksum(rows, RENAME_KEYS)


def convert_rows(path: str) -> list[dict]:
    rows = read_rows(path, columns=list(CONVERT_KEYS) + ["input_hash"])
    for r in rows:
        r["spans"] = _canon_spans(r["spans"])
    return rows


def check_rename(path: str, n_docs: int, expected: int) -> None:
    rows = read_rows(path, columns=list(RENAME_KEYS))
    expect(len(rows) == n_docs, f"rename wrote {len(rows)} rows, expected {n_docs}")
    expect(checksum(rows, RENAME_KEYS) == expected, "rename output differs from rename_corpus_sequential")


def check_convert(path: str, n_docs: int, expected: int) -> None:
    rows = convert_rows(path)
    expect(len(rows) == n_docs, f"convert wrote {len(rows)} rows, expected {n_docs}")
    expect(checksum(rows, CONVERT_KEYS) == expected, "convert output differs from convert_spans_doc")


# --- curate: planted truth and shard-manifest consistency ----------------


def check_curate(output: str, manifest: str, stages: dict, corpus, budget: int) -> None:
    planted = corpus.planted
    docs = corpus.rows["docs"]
    n = len(docs)
    junk, exact, near = (set(planted[k]) for k in ("junk", "exact", "near"))
    q, e, nr = stages["quality"], stages["exact"], stages["near"]
    expect(q["n_in"] == n and q["n_out"] == n - len(junk),
           f"quality kept {q['n_out']} of {n}, planted junk {len(junk)}")
    expect(e["n_out"] == q["n_out"] - len(exact),
           f"exact kept {e['n_out']}, planted exact dups {len(exact)}")
    expect(nr["n_out"] == e["n_out"] - len(near),
           f"near kept {nr['n_out']}, planted near dups {len(near)}")

    rows = read_rows(output, columns=["doc_id", "source", "text", "shuffle_rank", "shard_id"],
                     partitioning="hive")
    ids = {r["doc_id"] for r in rows}
    expect(len(ids) == len(rows), "duplicate doc_id in the curated output")
    expect(not ids & (junk | exact | near), "a planted junk or duplicate page survived")
    expect(len(rows) == stages["mix"]["n_out"] == stages["shuffle_shard"]["n_out"],
           "output row count differs from the mix stage count")

    # mix: every source is a prefix within its token budget; a source whose
    # near-stage survivors fit the budget is kept whole
    survivors = {r[0]: r for r in docs if r[0] not in junk | exact | near}
    kept_by_src: dict = {}
    for r in rows:
        expect(survivors.get(r["doc_id"], (None, None, None))[2] == r["text"],
               "output text differs from its input page")
        kept_by_src[r["source"]] = kept_by_src.get(r["source"], 0) + tok(r["text"])
    avail: dict = {}
    for doc_id, src, text in survivors.values():
        avail[src] = avail.get(src, 0) + tok(text)
    for src, total in avail.items():
        kept = kept_by_src.get(src, 0)
        expect(kept <= budget, f"source {src} kept {kept} tokens over budget {budget}")
        if total <= budget:
            expect(kept == total, f"source {src} fits its budget but was cut")

    # shards: the manifest re-read agrees with the output rows
    man = read_rows(manifest)
    expect(sum(m["n_docs"] for m in man) == len(rows), "manifest n_docs do not sum to output rows")
    ranks = sorted(r["shuffle_rank"] for r in rows)
    expect(ranks == list(range(len(rows))), "shuffle ranks are not a permutation")
    by_shard: dict = {}
    for r in rows:
        s = by_shard.setdefault(int(r["shard_id"]), [0, 0, None, None])
        s[0] += 1
        s[1] += tok(r["text"])
        s[2] = r["shuffle_rank"] if s[2] is None else min(s[2], r["shuffle_rank"])
        s[3] = r["shuffle_rank"] if s[3] is None else max(s[3], r["shuffle_rank"])
    expect(len(by_shard) == len(man) == stages["shuffle_shard"]["n_shards"],
           "shard count differs between output, manifest and job report")
    for m in man:
        got = by_shard.get(int(m["shard_id"]))
        expect(got == [m["n_docs"], m["shard_token_count"], m["min_rank"], m["max_rank"]],
               f"shard {m['shard_id']} disagrees with its manifest row")
        expect(m["max_rank"] - m["min_rank"] + 1 == m["n_docs"], "shard ranks not contiguous")
