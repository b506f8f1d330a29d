"""Parser for a local Spark event log (one JSON event per line).

Only the traced run enables the event log. ``parse`` folds it into jobs
(with their job group and stage ids), stages (wall, Python-worker bytes)
and tasks (run time, GC, shuffle and spill bytes), keyed so the tracer
can attribute every stage to the span whose job group submitted it.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


@dataclass
class Task:
    run_ms: int
    duration_ms: int
    gc_ms: int
    shuffle_write: int
    shuffle_read: int
    spill: int


@dataclass
class Stage:
    stage_id: int
    group: str | None = None
    wall_ms: int = 0
    py_sent: int = 0
    py_received: int = 0
    tasks: list[Task] = field(default_factory=list)

    @property
    def python(self) -> bool:
        return self.py_sent > 0 or self.py_received > 0


@dataclass
class Log:
    job_groups: dict[int, str | None] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)

    def select(self, groups) -> list[Stage]:
        """Stages first submitted under any of ``groups``."""
        groups = set(groups)
        return [s for s in self.stages.values() if s.group in groups]

    def jobs_in(self, groups) -> int:
        groups = set(groups)
        return sum(1 for g in self.job_groups.values() if g in groups)


def _acc(stage_info: dict, name: str) -> int:
    for a in stage_info.get("Accumulables", []):
        if a.get("Name") == name:
            try:
                return int(a.get("Value", 0))
            except (TypeError, ValueError):
                return 0
    return 0


def parse_lines(lines) -> Log:
    log = Log()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            log.job_groups[ev["Job ID"]] = group
            for sid in ev.get("Stage IDs", []):
                # a stage reused by a later job keeps its first submitter
                log.stages.setdefault(sid, Stage(sid, group))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = log.stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
            if "Submission Time" in info and "Completion Time" in info:
                st.wall_ms += info["Completion Time"] - info["Submission Time"]
            st.py_sent += _acc(info, PY_SENT)
            st.py_received += _acc(info, PY_RECEIVED)
        elif kind == "SparkListenerTaskEnd":
            st = log.stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
            m = ev.get("Task Metrics") or {}
            ti = ev.get("Task Info") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            st.tasks.append(
                Task(
                    run_ms=m.get("Executor Run Time", 0),
                    duration_ms=ti.get("Finish Time", 0) - ti.get("Launch Time", 0),
                    gc_ms=m.get("JVM GC Time", 0),
                    shuffle_write=sw.get("Shuffle Bytes Written", 0),
                    shuffle_read=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    spill=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                )
            )
    return log


def parse_dir(path: str) -> Log:
    """Parse every (uncompressed) event log file under ``path``."""
    lines: list[str] = []
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name)) as f:
            lines.extend(f)
    return parse_lines(lines)


def totals(stages) -> dict:
    """Summed task metrics over ``stages`` (seconds and bytes)."""
    tasks = [t for s in stages for t in s.tasks]
    return {
        "stage_s": sum(s.wall_ms for s in stages) / 1e3,
        "task_s": sum(t.run_ms for t in tasks) / 1e3,
        "gc_s": sum(t.gc_ms for t in tasks) / 1e3,
        "shuffle_write_bytes": sum(t.shuffle_write for t in tasks),
        "shuffle_read_bytes": sum(t.shuffle_read for t in tasks),
        "spill_bytes": sum(t.spill for t in tasks),
        "py_sent": sum(s.py_sent for s in stages),
        "py_received": sum(s.py_received for s in stages),
        "task_skew": skew([t.duration_ms for t in tasks]),
    }


def skew(durations) -> float:
    """max / median task duration (1.0 for an empty or all-zero set)."""
    if not durations:
        return 1.0
    med = statistics.median(durations)
    return max(durations) / med if med > 0 else 1.0
