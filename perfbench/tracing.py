"""Spans around the program's public calls, recorded from outside.

A ``Tracer`` keeps spans in memory (name, start, end, parent) and tags
every Spark job submitted while a span is innermost with that span's job
group (``<prefix><span id>``), so the event log and ``statusTracker()`` can
attribute jobs, stages and tasks to layers. ``patched`` swaps a module
attribute for a wrapper for the duration of a ``with`` block; the
program's source is never changed.

Two kinds of wrapper:

- a *builder* span covers one call of a function that returns a lazy
  DataFrame; jobs it submits are eager work done before the first action.
- a *phase* span starts when a funnel stage's operator is called and
  stays open until the next stage's operator is called or its parent
  span ends, so the actions the job runs on a stage's result (persist,
  count, write) are charged to that stage.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    builder: bool = False
    phase: bool = False
    prefix: str = "pb"

    @property
    def group(self) -> str:
        return f"{self.prefix}{self.id}"

    @property
    def wall(self) -> float:
        return (self.end or time.perf_counter()) - self.start


class Tracer:
    def __init__(self, sc, prefix: str = "pb"):
        self.sc, self.prefix = sc, prefix
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    # --- span bookkeeping -------------------------------------------------

    def _activate(self) -> None:
        top = self._stack[-1] if self._stack else None
        if top is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(top.group, top.name)

    def _open(self, name: str, builder: bool = False, phase: bool = False) -> Span:
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, parent, time.perf_counter(), builder=builder,
                 phase=phase, prefix=self.prefix)
        self.spans.append(s)
        self._stack.append(s)
        self._activate()
        return s

    def _close_top(self) -> None:
        s = self._stack.pop()
        s.end = time.perf_counter()
        self._activate()

    @contextlib.contextmanager
    def span(self, name: str, builder: bool = False):
        s = self._open(name, builder=builder or self.in_builder())
        try:
            yield s
        finally:
            while self._stack and self._stack[-1] is not s:
                self._close_top()  # phases still open under this span
            self._close_top()

    def in_builder(self) -> bool:
        return any(s.builder for s in self._stack)

    def start_phase(self, name: str) -> bool:
        """Close the open phase (if the innermost span is one) and open
        ``name`` beside it. Refused inside a builder call, where a nested
        operator is part of another stage's construction."""
        if self.in_builder() or not self._stack:
            return False
        if self._stack[-1].phase:
            self._close_top()
        self._open(name, phase=True)
        return True

    # --- queries over the recorded tree ---------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def subtree(self, root: Span) -> list[Span]:
        out, frontier = [root], {root.id}
        for s in self.spans[root.id + 1:]:
            if s.parent in frontier:
                out.append(s)
                frontier.add(s.id)
        return out

    def under(self, *names: str) -> list[Span]:
        """Every span named in ``names`` together with its descendants."""
        return [x for n in names for s in self.named(n) for x in self.subtree(s)]

    def groups(self, spans) -> list[str]:
        return [s.group for s in spans]

    def wall(self, name: str) -> float:
        return sum(s.wall for s in self.named(name))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)

    # --- wrappers ------------------------------------------------------

    def wrap_builder(self, name: str, fn, on_return=None, phase: str | None = None):
        def wrapper(*args, **kwargs):
            if phase is not None:
                self.start_phase(phase)
            with self.span(name, builder=True):
                out = fn(*args, **kwargs)
            if on_return is not None:
                on_return(out)
            return out

        wrapper.__wrapped__ = fn
        return wrapper

    def wrap_span(self, name: str, fn, phase: str | None = None):
        def wrapper(*args, **kwargs):
            with self.span(name):
                if phase is not None:
                    self.start_phase(phase)
                return fn(*args, **kwargs)

        wrapper.__wrapped__ = fn
        return wrapper


@contextlib.contextmanager
def patched(replacements):
    """Temporarily set ``(module, attribute, value)`` triples."""
    saved = [(m, a, getattr(m, a)) for m, a, _ in replacements]
    try:
        for m, a, v in replacements:
            setattr(m, a, v)
        yield
    finally:
        for m, a, v in saved:
            setattr(m, a, v)


def tracker_counts(sc, groups) -> dict:
    """Job, stage and task counts of ``groups`` from ``statusTracker()``.

    Stages that ran no task (skipped: their shuffle output was reused)
    are not counted."""
    st = sc.statusTracker()
    jobs, stages = set(), {}
    for g in groups:
        for j in st.getJobIdsForGroup(g):
            jobs.add(j)
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else []:
                sinfo = st.getStageInfo(sid)
                if sinfo is not None and sinfo.numCompletedTasks > 0:
                    stages[sid] = sinfo.numCompletedTasks
    return {"jobs": len(jobs), "stages": len(stages), "tasks": sum(stages.values())}
