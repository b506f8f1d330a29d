#!/usr/bin/env python3
"""Benchmark entry point: one workload, timed cold.

    python3 perfbench/run.py --workload ingest_full --seed 1 --seconds 15 --trace 0

Run from the repository root. The program is imported from the source
tree next to this directory; Spark runs on ``local[<cores>]``. Work files
(corpora, outputs, event logs, temp files) live under ``perfbench/.work``.

Every workload is a batch job a user submits once per corpus, so it is
timed *cold*, as a spark-submit run pays it: one cycle starts a Spark
session in a fresh JVM, times the workload's first iteration (JIT and
Python-worker start included), checks its output (untimed) and shuts the
JVM and its workers down. ``--trace 0`` runs cycles one after another
until ``--seconds`` of timed iterations have been measured and prints the
end-to-end metrics (medians over the cycles).

``--trace 1`` runs one cycle whose cold iteration is traced (spans, job
groups, a local Spark event log) for the per-layer metrics, then, in the
same session, four warm iterations (untraced, traced, traced, untraced)
whose difference of means is the tracing overhead.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed``, ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "modern_document_converter_for_ai_library_spark"
KERNEL_SAMPLE = 300


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# --- process-tree memory from /proc ------------------------------------


def process_tree(root_pid: int) -> dict[int, int]:
    """pid -> resident bytes for ``root_pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                resident = int(f.read().split()[1])
        except OSError:
            continue  # exited while we looked
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
        rss[int(name)] = resident * page
    tree, todo = {}, [root_pid]
    while todo:
        pid = todo.pop()
        tree[pid] = rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return tree


def tree_rss_bytes(root_pid: int) -> int:
    return sum(process_tree(root_pid).values())


def stop_processes(timeout: float = 60.0) -> None:
    """Shut the JVM down and wait until it and every process it started
    (Python workers, which outlive it briefly as orphans) have exited.
    The next session started in this process launches a fresh JVM."""
    from pyspark import SparkContext

    pids = set(process_tree(os.getpid())) - {os.getpid()}
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=timeout)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while pids and time.monotonic() < deadline:
        pids = {p for p in pids if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in pids:
        log(f"process {p} still running after {timeout:.0f}s; killing it")
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


class PeakRss:
    """Samples the RSS of this process and all its descendants."""

    def __init__(self, interval: float = 0.2):
        self.interval, self.peak = interval, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# --- session -----------------------------------------------------------


def start_session(work: str, event_log: str | None):
    from modern_document_converter_for_ai_library_spark.plans import get_spark

    cores = os.cpu_count() or 4
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "1000000",
        })
    return get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)


def kernel_us_per_doc() -> dict:
    """Driver-only reference kernels on a fixed sample (seed 0), median of
    three passes."""
    import corpus
    from modern_document_converter_for_ai_library_spark.reference_semantics.convert import (
        convert_spans_doc,
        rename_doc,
    )

    docs = corpus.ingest_docs(0, KERNEL_SAMPLE)
    out = {}
    for name, fn in (
        ("convert", lambda d: convert_spans_doc(d[0], d[2], source_file=d[1])),
        ("rename", lambda d: rename_doc(d[0], d[2], d[1])),
    ):
        passes = []
        for _ in range(3):
            t0 = time.perf_counter()
            for d in docs:
                fn(d)
            passes.append(time.perf_counter() - t0)
        out[f"reference_semantics.{name}_us_per_doc"] = statistics.median(passes) / len(docs) * 1e6
    return out


# --- one run -----------------------------------------------------------


class Run:
    def __init__(self, wl):
        self.wl, self.attempted, self.failed = wl, 0, 0

    def once(self):
        """prepare (untimed) -> iterate (timed) -> check (untimed).

        Returns (result, wall); result is None when the iteration raised
        or failed its check, which makes the run incorrect."""
        self.wl.prepare()
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            result = self.wl.iterate()
        except Exception:
            result = None
            traceback.print_exc()
        dt = time.perf_counter() - t0
        if result is not None:
            try:
                self.wl.check(result)
            except Exception:
                result = None
                traceback.print_exc()
        if result is None:
            self.failed += 1
        return result, dt


def setup(wl) -> float:
    """Corpus (median of 3 builds) + reference results; seconds."""
    builds = []
    for _ in range(3):
        t0 = time.perf_counter()
        wl.build()
        builds.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.references()
    return statistics.median(builds) + time.perf_counter() - t0


def run_untraced(args, work: str, cache: str) -> dict:
    import workloads

    wl = workloads.WORKLOADS[args.workload](work, cache, args.seed)
    data_s = setup(wl)
    run = Run(wl)
    sessions, samples = [], []
    while sum(samples) < args.seconds:
        t0 = time.perf_counter()
        wl.spark = start_session(work, None)
        sessions.append(time.perf_counter() - t0)
        try:
            samples.append(run.once()[1])
        finally:
            wl.spark.stop()
            stop_processes()
        log(f"cycle {len(samples)}: session {sessions[-1]:.2f}s, cold iteration {samples[-1]:.3f}s")
    run_s = statistics.median(samples)
    metrics = {
        "run_s": run_s,
        "docs_per_s": len(wl.corpus.rows["docs"]) / run_s,
        "setup_s": data_s + statistics.median(sessions),
    }
    return {"attempted": run.attempted, "failed": run.failed, "metrics": metrics}


def run_traced(args, work: str, cache: str) -> dict:
    import eventlog
    import metrics as metric_specs
    import tracing
    import workloads
    from checks import data_files

    import modern_document_converter_for_ai_library_spark.sources.catalog as catalog_mod

    wl = workloads.WORKLOADS[args.workload](work, cache, args.seed)
    setup(wl)
    run = Run(wl)
    ev_dir = os.path.join(work, "eventlog")
    spark = wl.spark = start_session(work, ev_dir)
    sc = spark.sparkContext
    try:
        def traced(prefix: str):
            tracer = tracing.Tracer(sc, prefix)
            wl.tracer = tracer
            try:
                with tracing.patched(wl.patches(tracer)):
                    with tracer.span("iteration") as root:
                        result, wall = run.once()
            finally:
                wl.tracer = workloads.NullTracer()
            if result is None:
                raise RuntimeError("traced iteration failed")
            return tracer, root, result, wall

        # the iteration the per-layer metrics describe is cold, like the
        # timed one of an untraced run
        with PeakRss() as rss:
            tracer, root, result, _ = traced("pb")
        iteration = tracer.subtree(root)
        counts = tracing.tracker_counts(sc, tracer.groups(iteration))
        probes = wl.probes(tracer, result)
        # overhead: warm iterations untraced, traced, traced, untraced, so a
        # linear warm-up trend cancels out of the difference of the means
        plain_s = [run.once()[1]]
        traced_s = [traced(f"pbo{k}-")[3] for k in range(2)]
        plain_s.append(run.once()[1])
        with tracer.span("trace.probe.scan") as scan:
            # the input scan alone: every column read, nothing kept
            catalog_mod.read_documents(spark, wl.input_dir()).write.format("noop").mode(
                "overwrite"
            ).save()
        kernels = kernel_us_per_doc()
        scan_counts = tracing.tracker_counts(sc, [scan.group])
    finally:
        spark.stop()
    traces = os.path.join(HERE, ".work", "traces")
    os.makedirs(traces, exist_ok=True)
    tracer.dump(os.path.join(traces, f"{args.workload}-s{args.seed}.spans.json"))
    log_ = eventlog.parse_dir(ev_dir)
    tot = eventlog.totals(log_.select(tracer.groups(iteration)))
    builder = [s for s in iteration if s.builder]
    # layers the workload does not run did no work: they report 0
    metrics = {name: 0 for name, *_ in metric_specs.PER_LAYER}
    metrics.update(kernels)
    metrics.update({
        "sources.scan_s": scan.wall,
        "sources.input_bytes": sum(os.path.getsize(f) for f in data_files(wl.input_dir())),
        "sources.scan_tasks": scan_counts["tasks"],
        "spark.jobs": counts["jobs"],
        "spark.stages": counts["stages"],
        "spark.tasks": counts["tasks"],
        "spark.builder_jobs": log_.jobs_in(tracer.groups(builder)),
        "spark.shuffle_write_bytes": tot["shuffle_write_bytes"],
        "spark.shuffle_read_bytes": tot["shuffle_read_bytes"],
        "spark.spill_bytes": tot["spill_bytes"],
        "spark.gc_s": tot["gc_s"],
        "run.failed_share": run.failed / run.attempted,
        "process.peak_rss_mb": rss.peak / 2**20,
        "trace.overhead_s": statistics.mean(traced_s) - statistics.mean(plain_s),
    })
    metrics.update(wl.layer_metrics(tracer, log_, result, probes, kernels))
    return {"attempted": run.attempted, "failed": run.failed, "metrics": metrics}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=["ingest_full", "curate_funnel"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")) or not os.path.isfile(
        os.path.join(ROOT, "jobs", "curate_job.py")
    ):
        log(f"program sources not found next to {HERE}; run from a full checkout")
        return 2

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    cache = os.path.join(HERE, ".work", "corpus")
    os.makedirs(work, exist_ok=True)
    # workers and the JVM inherit these: the program is imported from the
    # source tree, temp files stay inside the work directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    # every JVM (launcher and driver): no /tmp/hsperfdata, temp files here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    sys.path[:0] = [HERE, ROOT]
    try:
        out = (run_traced if args.trace else run_untraced)(args, work, cache)
    finally:
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)
    import metrics as metric_specs

    result = {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {
            k: {"value": v, "unit": metric_specs.UNITS[k]} for k, v in out["metrics"].items()
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
