"""Run mechanics shared by the workloads: the pinned Spark session, the
closed-loop request recorder and the metric assembly.

Timed regions cover only the request itself. Input generation, output
checks, output deletion and counter collection run outside them.
"""

from __future__ import annotations

import contextlib
import logging
import os
import statistics
import subprocess
import time
from collections import defaultdict
from dataclasses import dataclass, field

from perfbench import stats
from perfbench.trace import SparkCounters, Tracer, patch_everywhere, unpatch

log = logging.getLogger("perfbench")

CORES = 2
DRIVER_HEAP = "1536m"
ENGINE = "hbase_bulkload_service_spark"


def session_conf(run_dir: str) -> dict[str, str]:
    """Benchmark-side session pins: local[2], fixed heap (Xms = Xmx),
    capped GC/JIT threads, UI off, every scratch path inside ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_HEAP} -XX:ParallelGCThreads=2 -XX:ConcGCThreads=1 "
            f"-XX:CICompilerCount=2 -Djava.io.tmpdir={tmp}"
        ),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }


def start_session(run_dir: str):
    from hbase_bulkload_service_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench", master=f"local[{CORES}]", **session_conf(run_dir)
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


@dataclass(frozen=True)
class RequestCtx:
    """What a running request sees: its Spark job group and a span
    factory (a no-op unless the request is traced)."""

    group: str
    span: callable = lambda name: contextlib.nullcontext()


@dataclass
class Op:
    """One request. ``run(ctx)`` is timed; ``ctx.group`` is the Spark job
    group the recorder set for it. ``check(result)`` is not timed and
    returns True when the output is right. ``groups`` names, per label,
    the job groups the request's jobs run under ("{g}" is ``group``);
    by default all of them run under ``group``."""

    kind: str
    run: callable
    check: callable = lambda result: True
    cleanup: callable = lambda: None
    groups: dict = field(default_factory=lambda: {"op": "{g}"})


# Public engine functions wrapped in the traced run, by span name.
TRACED = {
    "tsdb.plan": [("operators.tsdb", f) for f in
                  ("derive_tsdb_cells", "hour_range_filter", "bulkload_kv")],
    "hfile.write": [("sources.hfile", "write_hfiles")],
    "hfile.manifest": [("sources.hfile", "build_manifest")],
    "hfile.validate": [("sources.hfile", "validate_layout")],
    "service.adopt": [("api", "BulkloadService.load_hfiles")],
    "tables.load": [("sources.tables", "load")],
    "tables.spread": [("sources.tables", "spread_scan")],
}


def _resolve(module: str, attr: str):
    import importlib

    obj = importlib.import_module(f"{ENGINE}.{module}")
    for part in attr.split("."):
        obj = getattr(obj, part)
    return obj


@dataclass
class Recorder:
    """Closed loop, one client: runs ops back to back and keeps, per op,
    its latency (successful ops only), its Spark counters and spans."""

    spark: object
    tracer: Tracer | None = None
    samples: dict = field(default_factory=lambda: defaultdict(list))
    sequence: list = field(default_factory=list)  # (kind, ms, traced)
    attempted: int = 0
    failed: int = 0
    wrong: int = 0
    per_request: list = field(default_factory=list)  # traced requests
    _kind_count: dict = field(default_factory=lambda: defaultdict(int))
    _patched: list = field(default_factory=list)

    def __post_init__(self):
        self.counters = SparkCounters(self.spark) if self.tracer and self.spark else None
        if self.tracer is not None:
            self.tracer.enabled = False  # on only inside traced requests
            for name, targets in TRACED.items():
                for module, attr in targets:
                    fn = _resolve(module, attr)
                    wrapped = self.tracer.wrap(name, fn)
                    self._patched.append(
                        (patch_everywhere(fn, wrapped, (ENGINE,)), fn)
                    )

    def min_per_kind(self) -> int:
        return min(self._kind_count.values(), default=0)

    def close(self) -> None:
        for patched, fn in self._patched:
            unpatch(patched, fn)
        self._patched.clear()

    def run(self, op: Op) -> None:
        """Time ``op.run()``; a raised op counts as failed and adds no
        latency sample. In the traced run, the second, fourth, ... op of
        each kind is traced; the untraced ones after the first give the
        tracing overhead."""
        seq = self.attempted
        self.attempted += 1
        traced = self.tracer is not None and self._kind_count[op.kind] % 2 == 1
        self._kind_count[op.kind] += 1
        group = f"perfbench-{seq}"
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(group, op.kind)
        if traced:
            self.tracer.request, self.tracer.enabled = seq, True
        t0 = time.perf_counter()
        try:
            ctx = RequestCtx(group, self.tracer.span) if traced else RequestCtx(group)
            result = op.run(ctx)
            ms = (time.perf_counter() - t0) * 1000.0
        except Exception:  # noqa: BLE001 — a failed request is counted
            self.failed += 1
            log.exception("op %s failed", op.kind)
            result = None
            ms = None
        finally:
            if traced:
                self.tracer.enabled = False
        try:
            if ms is not None:
                ok = op.check(result)
                if not ok:
                    self.wrong += 1
                    log.error("op %s returned a wrong result", op.kind)
                else:
                    self.samples[op.kind].append(ms)
                    self.sequence.append((op.kind, round(ms, 3), traced))
                    if traced:
                        self.per_request.append(self._request_record(seq, op, group, ms))
        finally:
            op.cleanup()

    def _request_record(self, seq: int, op: Op, group: str, ms: float) -> dict:
        rec = {"kind": op.kind, "ms": ms, "spans": self.tracer.counts(seq)}
        for name, selfs in self.tracer.self_times(seq).items():
            rec[f"{name}.self_s"] = sum(selfs)
        for name, total in self.tracer.durations(seq).items():
            rec[f"{name}.total_s"] = total
        if self.counters is not None:
            spark = defaultdict(float)
            for label, g in op.groups.items():
                counts = self.counters.group(g.format(g=group))
                rec[f"spark.{label}"] = counts
                for k, v in counts.items():
                    spark[k] += v
            rec["spark"] = dict(spark)
        return rec

    # -- end-to-end metrics ------------------------------------------------
    def end_to_end(self) -> dict:
        every = [ms for kind_ms in self.samples.values() for ms in kind_ms]
        if not every:
            raise RuntimeError("no request completed")
        per_kind = {k: statistics.median(v) for k, v in self.samples.items()}
        return {
            "request_p50_ms": statistics.median(every),
            "query_geomean_ms": statistics.geometric_mean(per_kind.values()),
        }

    def detail(self) -> dict:
        every = [ms for kind_ms in self.samples.values() for ms in kind_ms]
        return {
            "requests": self.sequence,
            "tail_ms": stats.tail_percentiles(every),
            "per_kind_p50_ms": {k: statistics.median(v) for k, v in self.samples.items()},
        }
