#!/usr/bin/env python
"""Benchmark harness — runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Each query is fully materialized via a noop-format write (forces every
operator, no driver collect cost).

``--runs N`` (or SPARK_GRAFT_BENCH_RUNS=N) times the whole query sweep N
times in one session and reports the per-query MIN as "queries", with
every sample kept in "queries_runs" (round 8, VERDICT r07 item 7: this
VM's per-query walls carry a ±1.6x random-stall tail — single-run
regression verdicts chased phantom 4x swings in rounds 6-7; min-of-N is
the committed-artifact default, see tools/bench_compare.py which refuses
single-run per-query regression verdicts inside the noise band)."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hbase_bulkload_service_spark import obs, registry  # noqa: E402
from hbase_bulkload_service_spark.session import get_spark  # noqa: E402

# Harness-bound gates excluded from the DEFAULT bench run (set
# SPARK_GRAFT_BENCH_ALL=1 to run everything). Criterion: the wall is
# dominated by a correctness HARNESS (byte-level container verify,
# finite streaming replay, re-learning a vocabulary a sibling query
# already times), not by engine throughput, AND a representative of the
# same engine path stays in the run. CONTRACT (VERDICT r08): edits to
# this dict must stay ADDITIONS-ONLY within a round — removing or
# renaming a skip entry (or skipping a previously-benched query)
# invalidates the driver's round-over-round comparison; a retired query
# leaves the registry first, then its skip entry. With 217 registered queries the
# full sweep passed ~630 s on this VM — past plausible driver budgets —
# so the cut list is explicit and shipped in the output JSON
# ("skipped"), never silent. Every skipped query still has its wall
# recorded per-round by tools/profile_stages.py (which runs the full
# registry) and its correctness driven via selfcheck + the driver
# window.
BENCH_SKIP = {
    # Values are SHORT CODES ("<kind>:<benched representative>") so the
    # one-line JSON stays small enough to survive the driver's stdout
    # tail capture whole (VERDICT r08 item 2: round 7's per-query
    # history was lost to a front-truncated line). The prose rationale
    # for each entry lives here, in comments — the code names the query
    # that DOES bench the same engine path.
    #
    # container byte-gates: q56 (flagship e2e) + q167 (real-v3 write+
    # verify) stay; these are codec/seek VARIANTS of the same pipeline
    # (q168: GZ blocks — per-task gzip CPU, same plan; q169: DIFF+bloom
    # enabled, same plan; q170: per-file byte-seek gate, correctness-
    # only harness; q221: q169 under snappy — per-task snappy CPU).
    "q168_hfilev3_gz": "variant:q167",
    "q169_hfilev3_ddl": "variant:q167",
    "q170_hfilev3_point_reads": "harness-only:q167",
    "q221_hfilev3_snappy": "variant:q167",
    # finite availableNow replay twins: the stateful operator's batch
    # twin is benched; the replay harness (temp write + stream restart)
    # dominates the wall. q20 (TWS upsert) and q60 (stream-stream) stay.
    "q19_streaming_rollup": "replay-twin:q13",
    "q23_streaming_dedup": "replay-twin:q11",
    "q137_streaming_expectations": "replay-twin:q130",
    "q156_streaming_counter_rate": "replay-twin:q151",
    "q180_streaming_ewma": "replay-twin:q178",
    "q201_streaming_blocklist": "replay-twin:q196",
    # BPE: q110 times the learner, q213 times learn+encode+rollup;
    # q111's encode path is a strict subset of q213's
    "q111_bpe_encode": "subset:q213",
    # q231: outer variant of q60's replay; wall is the sentinel/
    # watermark-eviction harness, same join operator.
    "q231_stream_stream_outer": "harness-variant:q60",
    # q241: foreachBatch flush harness (temp writes + snapshot
    # rewrites); the merge operator is q20/q11's benched max_by.
    "q241_foreachbatch_upsert": "harness-variant:q20",
    # q243: two full stream restarts against one checkpoint; wall is
    # the restart harness, the plan is a passthrough.
    "q243_incremental_ingest": "harness-variant:q20",
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = None

    spark = get_spark(app_name="bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    obs.warm_up(spark, sf_dir)

    run_all = os.environ.get("SPARK_GRAFT_BENCH_ALL") == "1"
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "1"))
    if "--runs" in sys.argv:
        n_runs = int(sys.argv[sys.argv.index("--runs") + 1])
    skipped = {} if run_all else dict(BENCH_SKIP)
    samples: dict[str, list[float]] = {}
    times: dict[str, float] = {}
    # trimmed runs use a DIFFERENT metric name so they can never be
    # compared-by-accident with the full-registry totals of rounds 1-5
    # (ADVICE r06): "total_query_wall_sec" is reserved for runs that
    # timed every registered query.
    metric = "total_query_wall_sec" if run_all else "benched_query_wall_sec"
    # hardware calibration: fixed deterministic work, so wall times from
    # different rounds/VMs can be normalized before comparison (round-3
    # observation: identical code measured ~1.4x slower than the recorded
    # round-2 figures on a different VM placement; these probes make that
    # visible). Computed up-front so the SIGTERM path never runs jobs.
    calibration = _calibration(spark, int(cpus))

    def emit(truncated: bool) -> None:
        # compact separators: ~0.6 KB less line for 226 queries — every
        # byte raises the odds the driver's tail capture keeps the whole
        # line (VERDICT r08 item 2)
        print(
            "\n" + json.dumps(build_payload(
                times, skipped, calibration, sf, truncated, metric,
                all_runs=samples if n_runs > 1 else None, n_runs=n_runs,
            ), separators=(",", ":")),
            flush=True,
        )

    # an external timeout (SIGTERM) must still leave ONE parseable JSON
    # line: flush what completed, marked truncated, then exit non-zero
    import signal

    def _on_term(signum, frame):
        emit(truncated=True)
        os._exit(124)

    signal.signal(signal.SIGTERM, _on_term)

    for _rep in range(n_runs):
        for name in sorted(registry.QUERIES):
            if name in skipped:
                continue
            rec = obs.run_query(spark, name, sf_dir)
            if rec["err"]:
                raise RuntimeError(f"{name}: {rec['err']}")
            samples.setdefault(name, []).append(rec["wall_s"])
            times[name] = min(samples[name])

    emit(truncated=False)


def build_payload(
    times: dict,
    skipped: dict,
    calibration: dict,
    sf,
    truncated: bool,
    metric: str,
    all_runs: dict | None = None,
    n_runs: int = 1,
) -> dict:
    """Headline keys LAST: the driver records only the stdout TAIL,
    which truncated the FRONT of this (long) line in rounds 1-5
    (BENCH_r0N.json "parsed": null) — with metric/value at the end they
    survive any tail cut (the bulky per-sample "queries_runs" block goes
    FIRST so a cut eats it before anything headline). The leading
    newline at the print site guarantees the JSON starts a fresh line
    even after a \\r progress bar. test_bench_payload pins both the key
    ordering and the survive-a-2KB-tail-cut property. With n_runs > 1,
    "queries" holds the per-query MIN across runs."""
    payload: dict = {}
    if all_runs:
        payload["queries_runs"] = all_runs
    payload.update({
        "queries": times,
        "skipped": skipped,
        "calibration": calibration,
        "sf": sf,
        "n_queries": len(times),
        "n_skipped": len(skipped),
        "n_runs": n_runs,
        "truncated": truncated,
        "metric": metric,
        "unit": "sec",
        "value": round(sum(times.values()), 3),
    })
    return payload


def _calibration(spark, cpus: int) -> dict:
    """Two fixed-size probes: a single-core pure-Python loop (driver CPU
    speed) and a Spark shuffle round (JVM + scheduler + exchange path).
    Deterministic work — differences across runs measure the machine,
    not the engine."""
    t0 = time.perf_counter()
    x = 0
    for i in range(5_000_000):
        x += i * i
    py_ms = round((time.perf_counter() - t0) * 1000, 1)

    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    (
        spark.range(0, 2_000_000, numPartitions=cpus)
        .groupBy((F.col("id") % 1000).alias("k"))
        .agg(F.sum("id"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    shuffle_ms = round((time.perf_counter() - t0) * 1000, 1)
    return {"py_loop_ms": py_ms, "spark_shuffle_ms": shuffle_ms}


if __name__ == "__main__":
    main()
