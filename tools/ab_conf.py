"""Same-session A/B for runtime-settable Spark confs over registry queries.

Usage::

    python tools/ab_conf.py --conf spark.k=v[,spark.k2=v2] \
        --queries q01_pricing_summary,q02_revenue_by_nation \
        [--runs 2] [--sf /root/testdata/sf0.1]

Methodology is bench.py's (``obs.warm_up``, then ``obs.run_query`` per
query, per-query MIN across runs) but interleaves A (session
defaults) and B (defaults + the given confs) inside ONE session so both
arms see the same JVM/VM state. Prints per-query A/B mins and the total.
Only confs that are runtime-settable (planner/AQE/arrow) are valid here —
static confs (e.g. spark.serializer) need a fresh session per arm; use
--fresh-session for those (two sequential sessions, arm A first).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hbase_bulkload_service_spark import obs  # noqa: E402
from hbase_bulkload_service_spark.session import get_spark  # noqa: E402


def _run_one(spark, name: str, sf_dir: str) -> float:
    rec = obs.run_query(spark, name, sf_dir)
    if rec["err"]:
        raise RuntimeError(f"{name}: {rec['err']}")
    return rec["wall_s"]


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--conf", required=True, help="k=v[,k=v...] for arm B")
    p.add_argument("--queries", required=True)
    p.add_argument("--runs", type=int, default=2)
    p.add_argument("--sf", default="/root/testdata/sf0.1")
    p.add_argument("--fresh-session", action="store_true")
    args = p.parse_args()

    confs = dict(kv.split("=", 1) for kv in args.conf.split(","))
    names = args.queries.split(",")

    a: dict[str, list[float]] = {n: [] for n in names}
    b: dict[str, list[float]] = {n: [] for n in names}

    if args.fresh_session:
        spark = get_spark(app_name="ab_conf_A")
        spark.sparkContext.setLogLevel("ERROR")
        obs.warm_up(spark, args.sf)
        for _ in range(args.runs):
            for n in names:
                a[n].append(_run_one(spark, n, args.sf))
        spark.stop()
        spark = get_spark(app_name="ab_conf_B", **confs)
        spark.sparkContext.setLogLevel("ERROR")
        obs.warm_up(spark, args.sf)
        for _ in range(args.runs):
            for n in names:
                b[n].append(_run_one(spark, n, args.sf))
        spark.stop()
    else:
        spark = get_spark(app_name="ab_conf")
        spark.sparkContext.setLogLevel("ERROR")
        obs.warm_up(spark, args.sf)
        base = {k: spark.conf.get(k, None) for k in confs}
        for _ in range(args.runs):
            for n in names:
                a[n].append(_run_one(spark, n, args.sf))
            for k, v in confs.items():
                spark.conf.set(k, v)
            for n in names:
                b[n].append(_run_one(spark, n, args.sf))
            for k, v in base.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    amin = {n: min(v) for n, v in a.items()}
    bmin = {n: min(v) for n, v in b.items()}
    out = {
        "conf": confs,
        "runs": args.runs,
        "a_min": amin,
        "b_min": bmin,
        "a_total": round(sum(amin.values()), 3),
        "b_total": round(sum(bmin.values()), 3),
        "ratio": round(sum(bmin.values()) / max(sum(amin.values()), 1e-9), 3),
        "per_query_ratio": {
            n: round(bmin[n] / max(amin[n], 1e-9), 3) for n in names
        },
        "a_runs": a,
        "b_runs": b,
    }
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
