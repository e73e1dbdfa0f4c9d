"""In-repo replica of the driver's correctness gate, covering ALL queries.

The external driver checks only the first 50 entries of
``__spark_entry__.queries()`` per round (observed: CORRECTNESS_r02.json is
exactly the first 50 registry entries in registration order).  This replica
runs the same comparison over *every* registered query so the repo carries
evidence for the full surface each round:

- vanilla ``SparkSession`` (no session.py tuning — engine code must
  self-provision, e.g. ``hfilescan.register()`` sets its own conf);
- oracle side through DuckDB's **pandas** conversion (``.df()``), not
  ``fetchall()`` — DuckDB promotes SUM(BIGINT) to HUGEINT which pandas
  renders as float64, so a fetchall-based check can pass while the
  driver's pandas-path hash fails (this exact drift cost 10 queries in
  round 1);
- columns sorted by name, rows canonicalized and sorted, then hashed.

Usage: ``python tools/selfcheck.py [sf_dir] [out_json] [q1,q2]
[--enforce-max-age N [--assume-window]]``

The age gate (``--enforce-max-age N``) fails when any query's
driver-row age exceeds N rounds. ``--assume-window`` evaluates the
ledger AS IF this round's 50-slot driver window (the first 50 names of
``__spark_entry__.queries()``) had already landed — i.e. it gates the
*rotation plan*, catching a window that would leave stale queries
behind before the round ships. Round 8+ runs
``--enforce-max-age 4 --assume-window``: with 222 registered queries
and 49 free slots per round (q56 pinned) a full cycle takes 5 windows,
so post-window age 4 is the achievable floor (see __spark_entry__
module docstring for the arithmetic); max-age 3 across the full ledger
is impossible at this registry size.
"""

from __future__ import annotations

import argparse
import datetime
import hashlib
import json
import math
import os
import sys
import time

import duckdb
import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _canon(v):
    if v is None or v is np.nan:
        return "\x00null"
    if isinstance(v, (bytes, bytearray)):
        return "b:" + bytes(v).hex()
    if isinstance(v, (np.integer,)):
        return f"i:{int(v)}"
    if isinstance(v, (np.floating, float)):
        f = float(v)
        if math.isnan(f):
            return "f:nan"
        return f"f:{f!r}"
    if isinstance(v, bool):
        return f"bool:{v}"
    if isinstance(v, (int,)):
        return f"i:{v}"
    if isinstance(v, np.datetime64):
        return "t:" + str(v)
    if isinstance(v, datetime.datetime):
        return "t:" + np.datetime64(v.replace(tzinfo=None)).astype("datetime64[ns]").__str__()
    if isinstance(v, datetime.date):
        return "d:" + v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={_canon(v[k])}" for k in sorted(v)) + "}"
    return "s:" + str(v)


def _frame_sig(pdf):
    cols = sorted(pdf.columns)
    rows = sorted(
        "|".join(_canon(row[c]) for c in cols) for _, row in pdf.iterrows()
    )
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return cols, len(rows), h.hexdigest()


def driver_row_ages(repo: str, current_round: int) -> dict[str, int | None]:
    """Per-query age ledger (VERDICT r06 item 8): rounds since the last
    REAL driver verification — the max N across CORRECTNESS_r{N}.json
    files in which the query has a row. None = never driver-verified.
    Window-rotation debt becomes a number instead of prose."""
    import glob
    import re

    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = json.load(f)
        except (json.JSONDecodeError, OSError):
            continue
        if not isinstance(rows, dict):
            continue
        for name in rows:
            last[name] = max(last.get(name, 0), rnd)
    return {
        name: (current_round - rnd) for name, rnd in last.items()
    }


CURRENT_ROUND = 8  # bump per round; ages are relative to this


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("out_path", nargs="?", default="CORRECTNESS_SELF.json")
    ap.add_argument("only", nargs="?", default=None,
                    help="comma-separated query filter for fast iteration")
    ap.add_argument("--enforce-max-age", type=int, default=None,
                    help="exit nonzero when any query's driver-row age "
                         "exceeds N rounds (round 8+: N=4)")
    ap.add_argument("--assume-window", action="store_true",
                    help="evaluate ages as if this round's 50-slot driver "
                         "window (queries()[:50]) had landed — gates the "
                         "rotation plan itself")
    opts = ap.parse_args()
    sf_dir, out_path = opts.sf_dir, opts.out_path
    only = set(opts.only.split(",")) if opts.only else None
    max_age = opts.enforce_max_age

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .appName("selfcheck")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ages = driver_row_ages(repo, CURRENT_ROUND)
    if opts.assume_window:
        for name in list(qs)[:50]:
            ages[name] = 0

    results: dict[str, dict] = {}
    t_all = time.time()
    for name, fn in qs.items():
        if only is not None and name not in only:
            continue
        rec: dict = {
            "rows_match": False, "schema_match": False, "hash_match": False,
            "spark_rows": None, "oracle_rows": None, "err": None,
        }
        t0 = time.time()
        try:
            spdf = fn(spark, sf_dir).toPandas()
            s_cols, s_n, s_hash = _frame_sig(spdf)
            rec["spark_rows"] = s_n
            if name in oracles:
                opdf = con.execute(oracles[name]).df()
                o_cols, o_n, o_hash = _frame_sig(opdf)
                rec["oracle_rows"] = o_n
                rec["rows_match"] = s_n == o_n
                rec["schema_match"] = s_cols == o_cols
                rec["hash_match"] = s_hash == o_hash
                if not rec["schema_match"]:
                    rec["err"] = f"cols {s_cols} vs {o_cols}"
            else:
                rec["rows_match"] = s_n >= 0
                rec["schema_match"] = bool(s_cols)
                rec["hash_match"] = None
                rec["err"] = "no-oracle (rows-only check)"
        except Exception as e:  # noqa: BLE001
            rec["err"] = f"{type(e).__name__}: {e}"[:500]
        rec["sec"] = round(time.time() - t0, 2)
        # rounds since the last real driver row (None = never verified
        # by the external driver; the 50-slot window rotation plans
        # against this number)
        rec["age"] = ages.get(name)
        results[name] = rec
        flag = "OK " if rec["hash_match"] else ("??? " if rec["err"] else "FAIL")
        print(f"{flag} {name} spark={rec['spark_rows']} oracle={rec['oracle_rows']} "
              f"{rec['sec']}s {rec['err'] or ''}", flush=True)

    with open(out_path, "w") as f:
        json.dump(results, f, indent=2)
    n_ok = sum(1 for r in results.values() if r["hash_match"])
    n_bad = sum(1 for r in results.values() if r["hash_match"] is False)
    # errored rows (hash_match None with a real error — not the designed
    # rows-only no-oracle case) are FAILURES too: a JVM that dies
    # mid-sweep turns every later row into a stopped-context error, and
    # counting only explicit mismatches once let such a run exit 0 and
    # masquerade as green (caught when a crashed artifact was committed
    # with a green message in round 6)
    n_err = sum(
        1
        for r in results.values()
        if r["hash_match"] is None and r.get("err")
        and "no-oracle" not in str(r["err"])
    )
    age_vals = [r["age"] for r in results.values() if r["age"] is not None]
    n_never = sum(1 for r in results.values() if r["age"] is None)
    print(f"TOTAL {len(results)} queries, {n_ok} hash-exact, {n_bad} mismatched, "
          f"{n_err} errored, {round(time.time() - t_all, 1)}s", flush=True)
    if age_vals:
        print(
            f"DRIVER-ROW AGE: max {max(age_vals)} rounds, "
            f"{sum(1 for a in age_vals if a > 3)} queries over 3 rounds, "
            f"{n_never} never driver-verified",
            flush=True,
        )
    age_fail = 0
    if max_age is not None:
        # the gate covers the FULL registry, not just the queries run —
        # a filtered fast run still enforces the whole rotation ledger
        stale = sorted(
            n for n in qs
            if ages.get(n) is None or ages[n] > max_age
        )
        if stale:
            print(f"MAX-AGE VIOLATIONS (> {max_age} rounds): {stale}", flush=True)
            age_fail = 1
    spark.stop()
    return 1 if (n_bad or n_err or age_fail) else 0


if __name__ == "__main__":
    raise SystemExit(main())
