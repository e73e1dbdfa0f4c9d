"""Run-to-run spread of the end-to-end metrics, computed the way the
acceptance check does: ten runs on distinct seeds, and for each metric
the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median.

    python3 perfbench/steadiness.py --workload bulkload --seeds 1-10 \\
        --out perfbench/receipts/bulkload-set1.json

Runs sequentially (one benchmark process at a time) and keeps every
run's metric values and detail line in the receipt.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "iqr_over_median": (q3 - q1) / med}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="inclusive range, e.g. 1-10")
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    runs = []
    for seed in seeds(args.seeds):
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0",
        ]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True, timeout=600)
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            sys.stderr.write(proc.stderr[-4000:])
            raise SystemExit(f"seed {seed}: exit {proc.returncode}")
        result = json.loads(lines[-1])
        values = {k: v["value"] for k, v in result["metrics"].items()}
        runs.append({
            "seed": seed, "wall_s": wall, "correct": result["correct"],
            "attempted": result["attempted"], "failed": result["failed"],
            "metrics": values,
            "detail": json.loads(lines[-2].removeprefix("perfbench-detail ")),
        })
        print(seed, round(wall, 1), result["correct"],
              {k: round(v, 3) for k, v in values.items()}, flush=True)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    summary = {
        name: {**spread([r["metrics"][name] for r in runs]), "bound": bounds[name]}
        for name in bounds
    }
    for name, s in summary.items():
        print(f"{name}: median {s['median']:.4g}  iqr/median {s['iqr_over_median']:.4f}"
              f"  (bound {s['bound']})")
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump({
            "workload": args.workload, "run_seconds": bench["run_seconds"],
            "host": f"{os.cpu_count()}-vCPU shared VM", "summary": summary, "runs": runs,
        }, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
