"""Spans and Spark counters for the traced run.

Spans are recorded from the benchmark's side: :func:`patch_everywhere`
swaps a public engine function for a timing wrapper in every module (and
class) that holds a reference to it, so ``from x import f`` copies are
caught too. The program itself is not edited.
"""

from __future__ import annotations

import functools
import sys
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the enclosing span in Tracer.spans
    request: int | None


class Tracer:
    """In-memory span recorder for one single-threaded driver.

    Spans stay in memory; the caller writes them out once at exit.
    """

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.request: int | None = None
        self.enabled = True

    def span(self, name: str):
        return _SpanCtx(self, name)

    def wrap(self, name: str, fn):
        """``fn`` recording a span named ``name`` while the tracer is on."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_times(self, request: int | None = None) -> dict[str, list[float]]:
        """Per span name, each span's self time in seconds: its duration
        minus the part of its interval its child spans cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, list[float]] = {}
        for i, s in enumerate(self.spans):
            if request is not None and s.request != request:
                continue
            covered = _covered(s, children.get(i, []))
            out.setdefault(s.name, []).append((s.end - s.start) - covered)
        return out

    def durations(self, request: int) -> dict[str, float]:
        """Per span name, the summed duration of the request's spans."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s.request == request:
                out[s.name] = out.get(s.name, 0.0) + (s.end - s.start)
        return out

    def counts(self, request: int | None = None) -> dict[str, int]:
        out: dict[str, int] = {}
        for s in self.spans:
            if request is None or s.request == request:
                out[s.name] = out.get(s.name, 0) + 1
        return out


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        t = self.tracer
        parent = t._stack[-1] if t._stack else None
        t.spans.append(Span(self.name, time.perf_counter(), 0.0, parent, t.request))
        self.index = len(t.spans) - 1
        t._stack.append(self.index)
        return self

    def __exit__(self, *exc):
        t = self.tracer
        t.spans[self.index].end = time.perf_counter()
        t._stack.pop()
        return False


def _covered(parent: Span, kids: list[Span]) -> float:
    """Length of the union of the kids' intervals, clipped to the parent."""
    total, cur_lo, cur_hi = 0.0, None, None
    for k in sorted(kids, key=lambda s: s.start):
        lo, hi = max(k.start, parent.start), min(k.end, parent.end)
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def patch_everywhere(fn, replacement, prefixes: tuple[str, ...]) -> list[tuple[object, str]]:
    """Replace every reference to ``fn`` held by a loaded module whose name
    starts with one of ``prefixes``, or by a class defined in one.

    Returns the patched (owner, attribute) pairs for :func:`unpatch`.
    """
    patched = []
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(prefixes):
            continue
        for owner in [mod] + [
            v for v in vars(mod).values()
            if isinstance(v, type) and v.__module__ == mod_name
        ]:
            for attr, val in list(vars(owner).items()):
                if val is fn:
                    setattr(owner, attr, replacement)
                    patched.append((owner, attr))
    return patched


def unpatch(patched: list[tuple[object, str]], fn) -> None:
    for owner, attr in patched:
        setattr(owner, attr, fn)


class SparkCounters:
    """Jobs, stages, tasks, shuffle bytes and executor run time of the jobs
    tagged with a job group, read from ``StatusTracker`` and the JVM status
    store (both work with the UI off)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._store = self.sc._jsc.sc().statusStore()
        self._no_status = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)

    def group(self, group: str) -> dict[str, float]:
        tracker = self.sc.statusTracker()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_write_bytes": 0,
               "run_ms": 0, "first_stage_tasks": 0}
        stage_ids = set()
        for job in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
        first = None
        for sid in sorted(stage_ids):
            attempts = self._store.stageData(
                sid, False, self._no_status, False, self._no_quantiles
            )
            for i in range(attempts.length()):
                st = attempts.apply(i)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                if first is None:
                    first = sid
                    out["first_stage_tasks"] = st.numCompleteTasks()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["run_ms"] += st.executorRunTime()
        return out
