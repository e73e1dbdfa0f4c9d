"""Benchmark entry point.

    python3 perfbench/run.py --workload {bulkload,registry_mix}
        --seed N --seconds S --trace {0,1}

Runs from any working directory: the repository root is this file's
parent's parent, and it is put on the path of the driver and of Spark's
Python workers before the JVM starts. Every generated input, output and
Spark scratch file lives in one per-run directory under ``.perfbench/``
at the repository root, removed on exit, also on failure.

One run: generate inputs from the seed; set up (start the Spark session
and run the workload's warm-up: ``setup_s``); then run the closed loop
for ``--seconds`` seconds, whole blocks of requests only; outputs are
checked outside the timed regions. ``--trace 1`` runs at least three
requests of each kind, times the second, fourth, ... under span wrappers
and Spark counters and reports per-layer metrics instead of end-to-end
ones.

The last stdout line is the result JSON; the line before it
(``perfbench-detail``) keeps every per-request value of the run.
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STARTED = time.perf_counter()
# The run must exit within 180 s. No request starts unless a request as
# long as the last one ends by BUDGET_S after the start, which leaves time
# to check its output and stop the JVM; a slow host then cuts blocks short.
BUDGET_S = 140

END_TO_END = {"setup_s": "s", "request_p50_ms": "ms", "query_geomean_ms": "ms"}
PER_LAYER = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.shuffle_write_mb": "MB", "spark.busy_ratio": "ratio",
    "tsdb.plan_ms": "ms", "tsdb.dedup_ratio": "ratio",
    "hfile.write_s": "s", "hfile.manifest_s": "s", "hfile.validate_s": "s",
    "hfile.readback_passes": "count", "hfile.files_written": "count",
    "hfile.bytes_written": "B", "hfile.region_dirs": "count",
    "service.adopt_s": "s", "cells_per_s": "cells/s", "bytes_per_cell": "B/cell",
    "tables.load_calls": "count", "tables.load_ms": "ms", "tables.spread_ms": "ms",
    "table.point_get_ms": "ms", "table.scan_ms": "ms", "table.lookup_join_ms": "ms",
    "hfilescan.range_read_ms": "ms", "hfilescan.splits": "count",
    "registry.build_ms": "ms", "registry.exec_ms": "ms", "registry.build_jobs": "count",
    "cachereg.evictions": "count", "mem.jvm_hwm_mb": "MB", "mem.py_hwm_mb": "MB",
    "error_rate": "ratio", "trace.overhead_pct": "%",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(run_dir: str) -> None:
    """Repo on the path of this process and of Spark's Python workers,
    temp files inside the run directory, and no JVM (the spark-submit
    launcher's included) writing its perf-data file to the system /tmp."""
    sys.path.insert(0, REPO)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if o
    )


def hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


def cpu_ticks() -> list[int]:
    """Machine-wide CPU time counters (user ... steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def run(args, run_dir: str) -> tuple[dict, dict]:
    import numpy as np

    import hbase_bulkload_service_spark  # noqa: F401 — fail fast without the engine
    from perfbench import harness
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    rng = np.random.default_rng(args.seed)
    t0 = time.perf_counter()
    workload = WORKLOADS[args.workload](rng, run_dir)
    phases = {"inputs_s": time.perf_counter() - t0}

    spark = None
    rec = None
    try:
        t0 = time.perf_counter()
        spark = harness.start_session(run_dir)
        phases["session_s"] = time.perf_counter() - t0
        workload.setup(spark)
        setup_s = phases["setup_s"] = time.perf_counter() - t0
        if hasattr(workload, "check_outputs"):
            t0 = time.perf_counter()
            workload.check_outputs()
            phases["check_s"] = time.perf_counter() - t0

        from hbase_bulkload_service_spark import cachereg

        evictions0 = sum(cachereg.eviction_counts().values())
        rec = harness.Recorder(spark, Tracer() if args.trace else None)
        workload.counters = rec.counters
        cpu0 = cpu_ticks()
        t_start = time.perf_counter()
        deadline = t_start + args.seconds
        # whole blocks only; a traced run needs three requests of each kind
        # (untraced, traced, untraced) for trace.overhead_pct
        per_kind = 3 if args.trace else 1
        cut = False
        for op in workload.ops():
            t_op = time.perf_counter()
            rec.run(op)
            now = time.perf_counter()
            if now >= deadline and rec.attempted % workload.unit == 0 and (
                rec.min_per_kind() >= per_kind
            ):
                break
            if now + (now - t_op) > STARTED + BUDGET_S:
                cut = True
                break
        phases["loop_s"] = time.perf_counter() - t_start
        ticks = [b - a for a, b in zip(cpu0, cpu_ticks())]
        # CPU time the hypervisor gave to other guests during the loop
        phases["host_steal_pct"] = 100.0 * ticks[7] / max(sum(ticks), 1)
        evictions = sum(cachereg.eviction_counts().values()) - evictions0
        jvm_pid = spark.sparkContext._gateway.proc.pid
        mem = {"mem.jvm_hwm_mb": hwm_mb(jvm_pid), "mem.py_hwm_mb": hwm_mb()}
    finally:
        if rec is not None:
            rec.close()
        if spark is not None:
            t0 = time.perf_counter()
            harness.stop_jvm(spark)
            phases["stop_s"] = time.perf_counter() - t0

    checked = getattr(workload, "checked", 0)
    mismatched = getattr(workload, "mismatched", [])
    attempted = rec.attempted + checked
    failed = rec.failed + rec.wrong + len(mismatched)
    e2e = {"setup_s": setup_s, **rec.end_to_end()}
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "phases": phases, "attempted": attempted, "failed": failed,
        "raised": rec.failed, "wrong": rec.wrong,
        "oracle_checked": checked, "oracle_mismatched": mismatched,
        "error_rate": failed / attempted,
        "cut_by_budget": cut,
        **rec.detail(),
    }
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    if args.trace:
        layers = per_layer(rec, workload, evictions, mem, failed / attempted)
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
        detail["traced_requests"] = rec.per_request
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    detail["metrics"] = {k: v["value"] for k, v in metrics.items()}
    result["metrics"] = metrics
    if args.trace:
        detail["spans"] = [vars(s) for s in rec.tracer.spans]
    return result, detail


def per_layer(rec, workload, evictions: int, mem: dict, error_rate: float) -> dict:
    """Per-request medians over the traced requests (0 where the workload
    does not reach a layer), plus per-run counters."""
    from perfbench.harness import CORES

    traced = rec.per_request

    def med(values):
        values = [v for v in values if v is not None]
        return statistics.median(values) if values else 0.0

    def spark(rec_, key):
        return rec_.get("spark", {}).get(key)

    def span_s(rec_, name, kind="total"):
        return rec_.get(f"{name}.{kind}_s", 0.0)

    out = {
        "spark.jobs": med(spark(r, "jobs") for r in traced),
        "spark.stages": med(spark(r, "stages") for r in traced),
        "spark.tasks": med(spark(r, "tasks") for r in traced),
        "spark.shuffle_write_mb": med(
            spark(r, "shuffle_write_bytes") / 2**20 for r in traced if "spark" in r
        ),
        "spark.busy_ratio": med(
            spark(r, "run_ms") / (r["ms"] * CORES) for r in traced if "spark" in r
        ),
        "tsdb.plan_ms": med(1000 * span_s(r, "tsdb.plan", "self") for r in traced),
        "hfile.write_s": med(span_s(r, "hfile.write", "self") for r in traced),
        "hfile.manifest_s": med(span_s(r, "hfile.manifest") for r in traced),
        "hfile.validate_s": med(span_s(r, "hfile.validate") for r in traced),
        "hfile.readback_passes": med(
            r["spans"].get("hfile.manifest", 0) + r["spans"].get("hfile.validate", 0)
            for r in traced
        ),
        "service.adopt_s": med(span_s(r, "service.adopt") for r in traced),
        "tables.load_calls": med(r["spans"].get("tables.load", 0) for r in traced),
        "tables.load_ms": med(1000 * span_s(r, "tables.load", "self") for r in traced),
        "tables.spread_ms": med(1000 * span_s(r, "tables.spread") for r in traced),
        "registry.build_ms": med(
            1000 * r["registry.build.total_s"] for r in traced if "registry.build.total_s" in r
        ),
        "registry.exec_ms": med(
            1000 * r["registry.exec.total_s"] for r in traced if "registry.exec.total_s" in r
        ),
        "registry.build_jobs": med(
            r["spark.build"]["jobs"] for r in traced if "spark.build" in r
        ),
        "cachereg.evictions": evictions,
        "error_rate": error_rate,
        **mem,
    }
    for kind, name in (("q08_htable_point_get", "table.point_get_ms"),
                       ("q06_htable_scan_project", "table.scan_ms"),
                       ("table_lookup_join", "table.lookup_join_ms")):
        out[name] = med(rec.samples.get(kind, []))
    out["hfilescan.range_read_ms"] = med(getattr(workload, "range_ms", []))
    outputs = getattr(workload, "outputs", [])
    cells = sum(o["cells"] for o in outputs)
    out.update({
        "tsdb.dedup_ratio": med(o["cells"] / o["versions"] for o in outputs),
        "hfile.files_written": med(o["files"] for o in outputs),
        "hfile.bytes_written": med(o["bytes"] for o in outputs),
        "hfile.region_dirs": med(o["regions"] for o in outputs),
        "hfilescan.splits": med(o.get("splits") for o in outputs),
        "bytes_per_cell": sum(o["bytes"] for o in outputs) / cells if cells else 0.0,
        "cells_per_s": (
            1000 * cells / sum(rec.samples["bulkload"]) if cells else 0.0
        ),
    })
    out["trace.overhead_pct"] = overhead_pct(rec.sequence)
    return {k: float(v) for k, v in out.items()}


def overhead_pct(sequence) -> float:
    """Tracing overhead: geometric mean over request kinds of the traced
    to untraced median latency ratio, as a percentage (0 when no kind has
    both). The first request of each kind, untraced, is left out: it may
    still carry warm-up cost."""
    seen, ratios = set(), []
    on, off = defaultdict(list), defaultdict(list)
    for kind, ms, traced in sequence:
        if kind not in seen:
            seen.add(kind)
            continue
        (on if traced else off)[kind].append(ms)
    for kind in on.keys() & off.keys():
        ratios.append(statistics.median(on[kind]) / statistics.median(off[kind]))
    return 100.0 * (statistics.geometric_mean(ratios) - 1.0) if ratios else 0.0


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # unwind, so the run directory and JVM go


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _terminate)
    logging.basicConfig(level=logging.WARNING, stream=sys.stderr,
                        format="%(levelname)s %(name)s: %(message)s")
    base = os.path.join(REPO, ".perfbench")
    run_dir = os.path.join(base, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    try:
        prepare_env(run_dir)
        result, detail = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if args.trace:
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        path = os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump(detail.pop("spans"), f)
        detail["spans_file"] = os.path.relpath(path, REPO)
    print("perfbench-detail " + json.dumps(detail, default=str), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
