"""Per-query stage profile and stage-parallelism audit.

Runs registered queries through ``obs.run_query`` and records, per query,
its run record (build/exec seconds, jobs, stages, tasks, run and CPU
time, input/shuffle/output bytes, every stage), so a query's wall can be
attributed: compute-bound vs shuffle-bound vs scheduling overhead
(wall >> sum(stage run)/cores).

It also flags stages that are HEAVY but UNDER-PARALLELIZED — the shape
of defect that serialized q69's shingle build onto one task (Generate
filter-inference trap, see SCALE.md). A flagged stage is not
automatically a bug (driver-bounded metadata collects are fine) but
every one must have an explanation. Flag rule: stage run time
> ``--min-ms`` AND tasks < max(2, cores // 4). The last line is the
``AUDIT`` summary.

By default the base tables are first RE-SPREAD into a scratch mirror
with file counts proportional to the table size (the generated sf0.1
parquet is 1-3 row groups per table, so every raw scan plans <= 3 tasks
and the same split-bounded "few-task scan" flags would be re-adjudicated
every run; parquet cannot split inside a row group, so the fix must
rewrite the fixture). The mirror is schema-faithful (events' nanos
timestamps normalize through load_events either way), written once per
(sf_dir, file plan) and reused. --no-respread profiles the raw fixtures.

Usage: python tools/profile_stages.py [sf_dir] [out_json]
       [--only q1,q2] [--no-respread] [--runs N] [--min-ms 1000]

With ``--runs N`` each query keeps the record of its fastest run and
all walls under ``walls``.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hbase_bulkload_service_spark import obs, registry  # noqa: E402
from hbase_bulkload_service_spark.session import get_spark  # noqa: E402


def respread_fixtures(spark, sf_dir: str, cpus: int) -> str:
    """Materialize a scratch mirror of the base tables with file counts
    proportional to table size (target ~4 MB/file, capped at the core
    count), so scan parallelism reflects the ENGINE's plan rather than
    the fixture's row-group count. Idempotent per (sf_dir, plan)."""
    import hashlib
    import tempfile

    from hbase_bulkload_service_spark.sources.tables import TABLES, load

    plan = {}
    for t in TABLES:
        src = os.path.join(sf_dir, f"{t}.parquet")
        size = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(src)
            for f in fs
        ) if os.path.isdir(src) else os.path.getsize(src)
        plan[t] = max(1, min(cpus, -(-size // (4 * 1024 * 1024))))
    tag = hashlib.md5(
        (sf_dir + json.dumps(plan, sort_keys=True)).encode()
    ).hexdigest()[:10]
    dst = os.path.join(tempfile.gettempdir(), f"profile_stages_fixtures_{tag}")
    done = os.path.join(dst, "_DONE")
    if os.path.exists(done):
        return dst
    os.makedirs(dst, exist_ok=True)
    for t, n in plan.items():
        load(spark, sf_dir, t).repartition(n).write.mode("overwrite").parquet(
            os.path.join(dst, f"{t}.parquet")
        )
    with open(done, "w") as f:
        json.dump(plan, f)
    print(f"respread fixtures -> {dst} ({plan})", flush=True)
    return dst


def _arg(flag: str, default):
    return sys.argv[sys.argv.index(flag) + 1] if flag in sys.argv else default


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "/tmp/profile_stages.json"
    only = _arg("--only", None)
    runs = int(_arg("--runs", 1))
    min_ms = int(_arg("--min-ms", 1000))

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    min_tasks = max(2, cpus // 4)
    spark = get_spark(app_name="profile-stages", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    if "--no-respread" not in sys.argv:
        sf_dir = respread_fixtures(spark, sf_dir, cpus)

    names = only.split(",") if only is not None else sorted(registry.QUERIES)
    results: dict[str, dict] = {}
    for rep in range(runs):
        for name in names:
            rec = obs.run_query(spark, name, sf_dir, group=f"{name}#r{rep}")
            walls = results.get(name, {}).get("walls", []) + [rec["wall_s"]]
            if name not in results or rec["wall_s"] < results[name]["wall_s"]:
                results[name] = rec
            results[name]["walls"] = walls

    for name in names:
        r = results[name]
        r["flagged"] = [
            s for s in r["per_stage"]
            if s["run_ms"] > min_ms and s["tasks"] < min_tasks
        ]
        print(
            f"{name}: wall={r['wall_s']}s stages={r['stages']} "
            f"sum_run={r['run_ms']}ms err={r['err']}"
            + (f" flagged={json.dumps(r['flagged'])}" if r["flagged"] else "")
        )
    with open(out_path, "w") as f:
        json.dump(results, f, indent=1)
    n_flag = sum(1 for r in results.values() if r["flagged"])
    print(
        f"AUDIT {len(results)} queries, {n_flag} with flagged stages "
        f"(> {min_ms} ms, < {min_tasks} tasks)"
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
