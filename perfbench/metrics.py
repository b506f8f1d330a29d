"""Every metric the benchmark prints: name, unit, direction, and for each
per-layer metric the end-to-end metric (on which workload) it should move.

``BENCHMARK.json`` at the repository root lists the same names;
``perfbench/tests/test_metrics.py`` keeps the two in step.
"""

from __future__ import annotations

# (name, unit, better, bound, meaning)
END_TO_END = [
    ("run_s", "s", "lower", 0.25,
     "median over the run's cycles of the cold iteration: the first job in a fresh JVM"),
    ("docs_per_s", "1/s", "higher", 0.25,
     "input documents / run_s, at the workload's stated corpus size"),
    ("setup_s", "s", "lower", 0.25,
     "corpus build (median of 3) + reference results + session start (median over cycles)"),
]

# (name, unit, better, workloads that run the layer, end-to-end metric it moves)
PER_LAYER = [
    ("sources.scan_s", "s", "lower", "all", "run_s on every workload (the scan floor)"),
    ("sources.input_bytes", "bytes", "lower", "all", "run_s on every workload"),
    ("sources.scan_tasks", "count", "lower", "all", "run_s on every workload"),
    ("reference_semantics.convert_us_per_doc", "us", "lower", "all",
     "ingest_full.docs_per_s; no change on curate_funnel"),
    ("reference_semantics.rename_us_per_doc", "us", "lower", "all",
     "ingest_full.docs_per_s; no change on curate_funnel"),
    ("operators.convert.stage_s", "s", "lower", "ingest_full", "ingest_full.docs_per_s"),
    ("operators.convert.task_s", "s", "lower", "ingest_full", "ingest_full.docs_per_s"),
    ("operators.convert.task_skew", "ratio", "lower", "ingest_full", "ingest_full.docs_per_s"),
    ("operators.convert.python_bytes_sent", "bytes", "lower", "ingest_full", "ingest_full.docs_per_s"),
    ("operators.convert.python_bytes_received", "bytes", "lower", "ingest_full", "ingest_full.docs_per_s"),
    ("operators.convert.overhead_ratio", "ratio", "lower", "ingest_full",
     "ingest_full.docs_per_s (task time / driver kernel time for the same docs)"),
    ("operators.manifest.hash_s", "s", "lower", "ingest_full", "ingest_full.run_s"),
    ("operators.manifest.resume_s", "s", "lower", "ingest_full", "ingest_full.run_s"),
    ("operators.manifest.commit_s", "s", "lower", "ingest_full", "ingest_full.run_s"),
    ("operators.manifest.output_files", "count", "lower", "ingest_full", "ingest_full.run_s"),
    ("operators.rename.s", "s", "lower", "ingest_full", "ingest_full.run_s only"),
    ("operators.codes.assign_s", "s", "lower", "ingest_full", "ingest_full.run_s only"),
    ("operators.rename.shuffle_write_bytes", "bytes", "lower", "ingest_full", "ingest_full.run_s only"),
    ("operators.quality.funnel_s", "s", "lower", "curate_funnel", "curate_funnel.docs_per_s"),
    ("operators.quality.python_task_share", "ratio", "lower", "curate_funnel",
     "curate_funnel.docs_per_s"),
    ("operators.dedup.exact_s", "s", "lower", "curate_funnel", "curate_funnel.run_s"),
    ("operators.dedup.near_s", "s", "lower", "curate_funnel", "curate_funnel.run_s"),
    ("operators.dedup.near_builder_jobs", "count", "lower", "curate_funnel", "curate_funnel.run_s"),
    ("operators.dedup.near_builder_s", "s", "lower", "curate_funnel", "curate_funnel.run_s"),
    ("operators.dedup.candidate_pairs", "count", "lower", "curate_funnel", "curate_funnel.run_s"),
    ("operators.dedup.verified_pairs", "count", "higher", "curate_funnel", "curate_funnel.run_s"),
    ("operators.dedup.verify_yield", "ratio", "higher", "curate_funnel", "curate_funnel.run_s"),
    ("operators.sampling.mix_s", "s", "lower", "curate_funnel", "curate_funnel.run_s"),
    ("operators.sampling.shard_assign_s", "s", "lower", "curate_funnel", "curate_funnel.run_s"),
    ("operators.sampling.builder_jobs", "count", "lower", "curate_funnel", "curate_funnel.run_s"),
    ("jobs.curate.output_files", "count", "lower", "curate_funnel", "curate_funnel.run_s"),
    ("jobs.curate.output_bytes", "bytes", "lower", "curate_funnel", "curate_funnel.run_s"),
    ("spark.jobs", "count", "lower", "all", "run_s on every workload"),
    ("spark.stages", "count", "lower", "all", "run_s on every workload"),
    ("spark.tasks", "count", "lower", "all", "run_s on every workload"),
    ("spark.builder_jobs", "count", "lower", "all", "run_s on every workload"),
    ("spark.shuffle_write_bytes", "bytes", "lower", "all", "run_s on every workload"),
    ("spark.shuffle_read_bytes", "bytes", "lower", "all", "run_s on every workload"),
    ("spark.spill_bytes", "bytes", "lower", "all", "run_s on every workload"),
    ("spark.gc_s", "s", "lower", "all", "run_s on every workload"),
    ("run.failed_share", "ratio", "lower", "all", "runs that raised or failed their check / attempted"),
    ("process.peak_rss_mb", "MB", "lower", "all",
     "peak resident memory of the driver, its JVM and the Python workers (traced iteration)"),
    ("trace.overhead_s", "s", "lower", "all",
     "mean wall of two warm traced iterations - mean of the untraced ones around them"),
]

UNITS = {n: u for n, u, *_ in END_TO_END + PER_LAYER}
