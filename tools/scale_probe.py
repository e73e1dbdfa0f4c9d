"""Scale probe: run the two wave-3 flagships — the q56 bulkload pipeline
and the q59 zero-Exchange bucketed join — at an sf1-equivalent scale
(10× amplification of sf0.1, built in a temp dir; the read-only testdata tree
is never touched) and record per-phase shuffle sizes, proving the
range-exchange and bucketed-join claims hold beyond sf0.1.

The bulkload phase runs q56's own pipeline (``registry_ext.flagship_kv``
into ``hfile.write_hfiles(..., rollup=True)``) over amplified events.
Metrics are ``obs.group_record`` counters per job group (one group per
phase).

Usage: python tools/scale_probe.py [amplification] [out_json]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hbase_bulkload_service_spark import obs  # noqa: E402
from hbase_bulkload_service_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
PHASES = ("amplify", "bulkload", "bucket_write", "bucket_join")


def _phase_metrics(spark) -> dict:
    """Stage count and input/shuffle/output MB per phase."""
    out = {}
    for g in PHASES:
        rec = obs.group_record(spark, g)
        out[g] = {
            k.replace("_bytes", "_mb"): round(rec[k] / 1e6, 1)
            for k in ("shuffle_write_bytes", "shuffle_read_bytes",
                      "input_bytes", "output_bytes")
        }
        out[g]["n_stages"] = rec["stages"]
    return out


def main() -> int:
    amp = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out_path = sys.argv[2] if len(sys.argv) > 2 else "/tmp/scale_probe.json"

    from pyspark.sql import functions as F

    from hbase_bulkload_service_spark.operators import maintenance as mnt
    from hbase_bulkload_service_spark.registry_ext import flagship_kv
    from hbase_bulkload_service_spark.sources import hfile
    from hbase_bulkload_service_spark.sources.tables import load

    spark = get_spark(
        app_name="scale-probe",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        **{"spark.sql.shuffle.partitions": "64"},
    )
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    results: dict = {"amplification": amp}

    work = tempfile.mkdtemp(prefix="scale_probe")
    try:
        # ---- amplify events ×amp into a scratch sf dir (shifted ids keep
        # key cardinality real; the source's ts column is kept as is)
        sc.setJobGroup("amplify", "build sf1-equivalent inputs")
        ev = load(spark, SF_DIR, "events")
        n_ev = ev.count()
        reps = spark.range(amp).select(F.col("id").cast("int").alias("rep"))
        shifts = {"event_id": n_ev, "user_id": 100000}
        amp_dir = os.path.join(work, "sf_amp")
        (
            ev.crossJoin(reps)
            .select(*[
                (F.col(c) + F.col("rep") * F.lit(shifts[c])).alias(c)
                if c in shifts else F.col(c)
                for c in ev.columns
            ])
            .write.mode("overwrite").parquet(os.path.join(amp_dir, "events.parquet"))
        )
        results["events_rows"] = n_ev * amp

        # ---- q56 pipeline at amplified scale
        t0 = time.time()
        sc.setJobGroup("bulkload", "derive+salt+dedup+range-sort+write")
        sink = os.path.join(work, "hfiles")
        hfile.write_hfiles(flagship_kv(spark, amp_dir), sink, rollup=True)
        results["bulkload_wall_s"] = round(time.time() - t0, 1)

        regions = hfile.validate_layout(sink, rollup=True)["regions"]  # non-overlap proof
        results["bulkload_rows"] = sum(r["rows"] for r in regions.values())
        results["bulkload_regions"] = len(regions)

        # ---- q59 bucketed join at amplified scale
        sc.setJobGroup("bucket_write", "write CLUSTERED BY tables")
        o = load(spark, SF_DIR, "orders")
        # replicate rows (10× per bucket) with the SAME custkeys: the point
        # is fact volume against a fixed 64-bucket layout
        o_amp = o.crossJoin(reps).select("o_custkey", "o_totalprice")
        fact = o_amp.select(
            (F.col("o_custkey") % 64).cast("int").alias("bucket"),
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        dim = (
            o.select((F.col("o_custkey") % 64).cast("int").alias("bucket"))
            .distinct()
            .withColumn("factor", F.col("bucket").cast("long") * 2 + 1)
        )
        t0 = time.time()
        t1 = mnt.create_bucketed_table(fact, "sp_fact", f"{work}/fact", file_buckets=8)
        t2 = mnt.create_bucketed_table(dim, "sp_dim", f"{work}/dim", file_buckets=8)
        results["bucket_write_wall_s"] = round(time.time() - t0, 1)

        sc.setJobGroup("bucket_join", "zero-exchange join+agg on bucket")
        t0 = time.time()
        joined = (
            t1.join(t2, "bucket")
            .groupBy("bucket", "factor")
            .agg(F.count("*").alias("n_rows"), F.sum("cents").alias("sum_cents"))
        )
        plan = joined._sc._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "formatted"
        )
        results["bucket_join_rows"] = joined.count()
        results["bucket_join_wall_s"] = round(time.time() - t0, 1)
        # shuffle exchanges ONLY: a BroadcastExchange of the 64-row dim is
        # not data movement (phase metrics confirm 0 shuffle bytes)
        results["bucket_join_n_shuffle_exchanges"] = plan.count(
            "Exchange hashpartitioning"
        )
        results["bucket_join_n_broadcast_exchanges"] = plan.count("BroadcastExchange")

        results["phases"] = _phase_metrics(spark)
    finally:
        for t in ("sp_fact", "sp_dim"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(work, ignore_errors=True)

    with open(out_path, "w") as f:
        json.dump(results, f, indent=2)
    print(json.dumps(results, indent=2))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
