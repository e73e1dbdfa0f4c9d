"""Batch job orchestration (SURVEY.md §2.J J1/J2/J5).

The reference queues bulkload requests and submits them to YARN one at a
time, polling every 5 minutes (controller/HBaseController.java:49-124), and
splits large time ranges into interval-sized sub-jobs newest-first
(:209-229). In Spark the cluster scheduler replaces YARN-per-job, so the
queue degenerates to a driver-side sequential runner with job groups.
"""

from __future__ import annotations

import logging
from collections.abc import Callable
from dataclasses import dataclass, field

log = logging.getLogger(__name__)


@dataclass(frozen=True)
class TimeSlice:
    slice_idx: int
    slice_start: int
    slice_end: int


def time_slices(start_ms: int, end_ms: int, interval_ms: int) -> list[TimeSlice]:
    """Split [start, end] into interval-sized slices, **newest first**.

    Faithful to HBaseController.java:215-227: slices step down from
    ``end``; the loop runs while the slice end still exceeds ``start``, so
    the final (oldest) slice may extend below ``start`` — preserved
    deliberately (callers rely on full coverage, not clamping).
    """
    if interval_ms <= 0:
        raise ValueError("interval_ms must be positive")
    out: list[TimeSlice] = []
    end = end_ms
    k = 0
    while end > start_ms:
        out.append(TimeSlice(k, end - interval_ms, end))
        end -= interval_ms
        k += 1
    return out


@dataclass
class JobQueue:
    """Sequential job runner (J1). The reference polls YARN for terminal
    state before submitting the next job (HBaseController.java:61-106);
    Spark actions are synchronous so the queue just runs in order, logging
    and dropping failed jobs like the reference (:79-94, J5)."""

    jobs: list[tuple[str, Callable[[], object]]] = field(default_factory=list)
    results: dict[str, object] = field(default_factory=dict)
    failures: dict[str, Exception] = field(default_factory=dict)

    def submit(self, job_id: str, fn: Callable[[], object]) -> None:
        """Enqueue ``fn`` under ``job_id``. A job id already pending is
        refused: results are keyed on it, and the service derives the
        job's output dir from the same request fields."""
        if any(job_id == pending for pending, _ in self.jobs):
            raise ValueError(f"job {job_id} is already pending")
        self.jobs.append((job_id, fn))

    def run_all(self, spark=None) -> dict[str, object]:
        for job_id, fn in self.jobs:
            if spark is not None:
                spark.sparkContext.setJobGroup(job_id, f"bulkload job {job_id}")
            try:
                self.results[job_id] = fn()
            except Exception as exc:  # failed job: log, drop, continue (J5)
                log.warning("job %s failed: %s", job_id, exc)
                self.failures[job_id] = exc
        self.jobs.clear()
        return self.results
