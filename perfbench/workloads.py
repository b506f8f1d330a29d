"""The benchmark workloads.

Each workload calls the program's public entry points the way a user
does, on a corpus generated from the seed. ``build`` makes the corpus,
``references`` the expected results, ``prepare`` resets outputs
(untimed), ``iterate`` is the timed region, ``check`` compares the output
against the reference kernels or the planted truth (untimed).
``patches`` lists the wrappers the traced run installs, and
``layer_metrics`` turns the trace into the per-layer metrics of the
layers the workload runs.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import time

import checks
import corpus as corpus_mod
import eventlog
from checks import CONVERT_KEYS, checksum, data_files, expect

import modern_document_converter_for_ai_library_spark.operators.convert as convert_mod
import modern_document_converter_for_ai_library_spark.operators.dedup as dedup_mod
import modern_document_converter_for_ai_library_spark.operators.manifest as manifest_mod
import modern_document_converter_for_ai_library_spark.operators.quality as quality_mod
import modern_document_converter_for_ai_library_spark.operators.rename as rename_mod
import modern_document_converter_for_ai_library_spark.operators.sampling as sampling_mod
import modern_document_converter_for_ai_library_spark.sources.catalog as catalog_mod


class NullTracer:
    """Stands in for ``tracing.Tracer`` in untraced iterations."""

    def span(self, name, builder=False):
        return contextlib.nullcontext()


class Workload:
    name = ""
    n_docs = 0

    def __init__(self, work: str, cache: str, seed: int):
        self.work, self.cache, self.seed = work, cache, seed
        self.spark = None  # the session of the current cycle
        self.tracer = NullTracer()
        self.corpus = None

    def build(self) -> None:
        self.corpus = corpus_mod.build(self.cache, self.name, self.seed, self.n_docs)

    def references(self) -> None:
        """Expected results, computed from the reference kernels."""

    def prepare(self) -> None:
        pass

    def iterate(self):
        raise NotImplementedError

    def check(self, result) -> None:
        raise NotImplementedError

    def input_dir(self) -> str:
        return self.corpus.dirs["docs"]

    def patches(self, tracer) -> list:
        return []

    def probes(self, tracer, result) -> dict:
        return {}

    def layer_metrics(self, tracer, log, result, probes, kernels) -> dict:
        return {}

    def _out(self, name: str) -> str:
        return os.path.join(self.work, name)


def _rm(*paths: str) -> None:
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)


# --- ingest: rename -> convert -------------------------------------------


class IngestFull(Workload):
    """rename_documents to a parquet sink, then run_resumable_convert into
    an empty output: the reference's two-step pipeline on a fresh corpus."""

    name = "ingest_full"
    n_docs = 6000

    def references(self) -> None:
        docs = self.corpus.rows["docs"]
        self.expect_convert = checksum(checks.reference_convert(docs).values(), CONVERT_KEYS)
        self.expect_rename = checks.reference_rename_checksum(docs)

    def prepare(self) -> None:
        _rm(self._out("converted"), self._out("converted_manifest"))

    def iterate(self):
        spark, src = self.spark, self.input_dir()
        with self.tracer.span("ingest.rename"):
            renamed = rename_mod.rename_documents(catalog_mod.read_documents(spark, src))
            catalog_mod.write_documents(renamed, self._out("renamed"), mode="overwrite")
        return manifest_mod.run_resumable_convert(
            spark, catalog_mod.read_documents(spark, src), self._out("converted")
        )

    def check(self, result) -> None:
        expect(result["n_pending"] == self.n_docs, f"n_pending={result['n_pending']}")
        checks.check_rename(self._out("renamed"), self.n_docs, self.expect_rename)
        checks.check_convert(self._out("converted"), self.n_docs, self.expect_convert)

    def patches(self, tracer) -> list:
        t = tracer
        return [
            (rename_mod, "rename_documents",
             t.wrap_builder("operators.rename.rename_documents", rename_mod.rename_documents)),
            (rename_mod, "assign_codes",
             t.wrap_builder("operators.codes.assign_codes", rename_mod.assign_codes)),
            (manifest_mod, "run_resumable_convert",
             t.wrap_span("operators.manifest.run_resumable_convert",
                         manifest_mod.run_resumable_convert)),
            (manifest_mod, "with_input_hash",
             t.wrap_builder("operators.manifest.with_input_hash", manifest_mod.with_input_hash)),
            (manifest_mod, "resume_pending",
             t.wrap_builder("operators.manifest.resume_pending", manifest_mod.resume_pending)),
            (manifest_mod, "commit_with_manifest",
             t.wrap_span("operators.manifest.commit_with_manifest",
                         manifest_mod.commit_with_manifest)),
            (convert_mod, "convert_documents",
             t.wrap_builder("operators.convert.convert_documents", convert_mod.convert_documents)),
        ]

    def probes(self, tracer, result) -> dict:
        """Wall of hashing every input document (``with_input_hash``,
        forced by an aggregate over the hash column)."""
        from pyspark.sql import functions as F

        with tracer.span("trace.probe.hash"):
            t0 = time.perf_counter()
            docs = catalog_mod.read_documents(self.spark, self.input_dir())
            manifest_mod.with_input_hash(docs).agg(F.max("input_hash")).collect()
            return {"hash_s": time.perf_counter() - t0}

    def layer_metrics(self, tracer, log, result, probes, kernels) -> dict:
        (run,) = tracer.named("operators.manifest.run_resumable_convert")
        conv = eventlog.totals(
            [s for s in log.select(tracer.groups(tracer.under(run.name))) if s.python]
        )
        conv_calls = tracer.named("operators.convert.convert_documents")
        resume_end = conv_calls[0].start if conv_calls else run.end
        n_pending = result["n_pending"]
        # base of the overhead ratio: driver-only kernel time for the same docs
        kernel_s = kernels["reference_semantics.convert_us_per_doc"] * n_pending / 1e6
        (ren,) = tracer.named("ingest.rename")
        ren_stages = log.select(tracer.groups(tracer.under(ren.name)))
        return {
            "operators.convert.stage_s": conv["stage_s"],
            "operators.convert.task_s": conv["task_s"],
            "operators.convert.task_skew": conv["task_skew"],
            "operators.convert.python_bytes_sent": conv["py_sent"],
            "operators.convert.python_bytes_received": conv["py_received"],
            "operators.convert.overhead_ratio": conv["task_s"] / kernel_s if kernel_s else 0.0,
            "operators.manifest.hash_s": probes["hash_s"],
            "operators.manifest.resume_s": resume_end - run.start,
            "operators.manifest.commit_s": tracer.wall("operators.manifest.commit_with_manifest"),
            "operators.manifest.output_files": len(data_files(self._out("converted"))),
            "operators.rename.s": ren.wall,
            "operators.codes.assign_s": tracer.wall("operators.codes.assign_codes"),
            "operators.rename.shuffle_write_bytes": eventlog.totals(ren_stages)["shuffle_write_bytes"],
        }


# --- curate: the composed training-data funnel ---------------------------


CURATE_PHASES = {
    "read": "jobs.curate.read",
    "quality": "operators.quality",
    "exact": "operators.dedup.exact",
    "near": "operators.dedup.near",
    "mix": "operators.sampling.mix",
    "shard": "operators.sampling.shard",
}


class CurateFunnel(Workload):
    """jobs/curate_job.main in-process with the mix, shuffle and shard
    stages on, over a corpus with planted junk and duplicates."""

    name = "curate_funnel"
    n_docs = 1000

    def references(self) -> None:
        total = sum(len(t.split(" ")) for _, _, t in self.corpus.rows["docs"])
        self.budget = total // 16
        self.shard_tokens = total // 40

    def argv(self) -> list[str]:
        return [
            "--input", self.input_dir(), "--output", self._out("curated"),
            "--mix-default", str(self.budget), "--shuffle-salt", f"s{self.seed}",
            "--shard-tokens", str(self.shard_tokens),
        ]

    def prepare(self) -> None:
        _rm(self._out("curated"), self._out("curated_manifest"))

    def iterate(self):
        from jobs import curate_job

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = curate_job.main(self.argv())
        expect(rc == 0, f"curate_job exited {rc}")
        return json.loads(buf.getvalue().strip().splitlines()[-1])

    def check(self, result) -> None:
        checks.check_curate(self._out("curated"), result["manifest"], result["stages"],
                            self.corpus, self.budget)

    def patches(self, tracer) -> list:
        from jobs import curate_job

        t, P = tracer, CURATE_PHASES
        self._pairs = []
        return [
            (curate_job, "main", t.wrap_span("jobs.curate.main", curate_job.main, phase=P["read"])),
            (quality_mod, "quality_funnel",
             t.wrap_builder("operators.quality.quality_funnel", quality_mod.quality_funnel,
                            phase=P["quality"])),
            (dedup_mod, "exact_dedup",
             t.wrap_builder("operators.dedup.exact_dedup", dedup_mod.exact_dedup, phase=P["exact"])),
            (dedup_mod, "near_dedup",
             t.wrap_builder("operators.dedup.near_dedup", dedup_mod.near_dedup, phase=P["near"])),
            (dedup_mod, "near_dup_verified_pairs",
             t.wrap_builder("operators.dedup.near_dup_verified_pairs",
                            dedup_mod.near_dup_verified_pairs, on_return=self._pairs.append)),
            (sampling_mod, "budget_sample",
             t.wrap_builder("operators.sampling.budget_sample", sampling_mod.budget_sample,
                            phase=P["mix"])),
            (sampling_mod, "shuffled_shard_assign",
             t.wrap_builder("operators.sampling.shuffled_shard_assign",
                            sampling_mod.shuffled_shard_assign, phase=P["shard"])),
            (sampling_mod, "shuffled_shard_manifest",
             t.wrap_builder("operators.sampling.shuffled_shard_manifest",
                            sampling_mod.shuffled_shard_manifest)),
        ]

    def probes(self, tracer, result) -> dict:
        # recounted from the captured lazy frames after the run, so the
        # counting jobs are outside every measured span
        with tracer.span("trace.probe.pairs"):
            verified, pairs = self._pairs[-1]
            return {"candidate_pairs": pairs.count(), "verified_pairs": verified.count()}

    def layer_metrics(self, tracer, log, result, probes, kernels) -> dict:
        P = CURATE_PHASES

        q = log.select(tracer.groups(tracer.under(P["quality"])))
        q_task = eventlog.totals(q)["task_s"]
        q_py = eventlog.totals([s for s in q if s.python])["task_s"]
        near_b = tracer.under("operators.dedup.near_dedup")
        samp_b = tracer.under(
            "operators.sampling.budget_sample", "operators.sampling.shuffled_shard_assign",
            "operators.sampling.shuffled_shard_manifest",
        )
        cand, ver = probes["candidate_pairs"], probes["verified_pairs"]
        files = data_files(self._out("curated"))
        return {
            "operators.quality.funnel_s": tracer.wall(P["quality"]),
            "operators.quality.python_task_share": q_py / q_task if q_task else 0.0,
            "operators.dedup.exact_s": tracer.wall(P["exact"]),
            "operators.dedup.near_s": tracer.wall(P["near"]),
            "operators.dedup.near_builder_jobs": log.jobs_in(tracer.groups(near_b)),
            "operators.dedup.near_builder_s": tracer.wall("operators.dedup.near_dedup"),
            "operators.dedup.candidate_pairs": cand,
            "operators.dedup.verified_pairs": ver,
            "operators.dedup.verify_yield": ver / cand if cand else 0.0,
            "operators.sampling.mix_s": tracer.wall(P["mix"]),
            "operators.sampling.shard_assign_s": tracer.wall(P["shard"]),
            "operators.sampling.builder_jobs": log.jobs_in(tracer.groups(samp_b)),
            "jobs.curate.output_files": len(files),
            "jobs.curate.output_bytes": sum(os.path.getsize(f) for f in files),
        }


WORKLOADS = {w.name: w for w in (IngestFull, CurateFunnel)}
