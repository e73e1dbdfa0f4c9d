"""Round-3 scale probe (VERDICT item 6): run the two wave-3 flagships —
the q56 bulkload pipeline and the q59 zero-Exchange bucketed join — at an
sf1-equivalent scale (10× amplification of sf0.1, built in /tmp; the
read-only testdata tree is never touched) and record per-stage shuffle
sizes, proving the range-exchange and bucketed-join claims hold beyond
sf0.1.

Metrics come from Spark's own REST status API (/api/v1) — per-stage
shuffle read/write bytes, grouped into pipeline phases via job groups.

Usage: python tools/scale_probe.py [amplification] [out_json]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.1"


def _api(spark, path):
    base = spark.sparkContext.uiWebUrl
    with urllib.request.urlopen(f"{base}/api/v1/{path}") as r:
        return json.load(r)


def _phase_metrics(spark):
    """shuffle bytes + task time per job group, from the status API."""
    app = _api(spark, "applications")[0]["id"]
    jobs = _api(spark, f"applications/{app}/jobs?status=succeeded")
    stages = {
        s["stageId"]: s
        for s in _api(spark, f"applications/{app}/stages?status=COMPLETE")
    }
    phases: dict[str, dict] = {}
    for j in jobs:
        g = j.get("jobGroup") or "ungrouped"
        p = phases.setdefault(
            g, {"shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0,
                "input_mb": 0.0, "output_mb": 0.0, "n_stages": 0}
        )
        for sid in j["stageIds"]:
            s = stages.pop(sid, None)  # pop: a stage counts once
            if s is None:
                continue
            p["n_stages"] += 1
            p["shuffle_write_mb"] += s["shuffleWriteBytes"] / 1e6
            p["shuffle_read_mb"] += s["shuffleReadBytes"] / 1e6
            p["input_mb"] += s["inputBytes"] / 1e6
            p["output_mb"] += s["outputBytes"] / 1e6
    return {
        g: {k: (round(v, 1) if isinstance(v, float) else v) for k, v in p.items()}
        for g, p in phases.items()
    }


def main() -> int:
    amp = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out_path = sys.argv[2] if len(sys.argv) > 2 else "/tmp/scale_probe.json"

    from pyspark.sql import SparkSession, functions as F

    from hbase_bulkload_service_spark.operators import maintenance as mnt
    from hbase_bulkload_service_spark.operators import tsdb
    from hbase_bulkload_service_spark.sources import hfile
    from hbase_bulkload_service_spark.sources.tables import load, load_events

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .appName("scale-probe")
        .config("spark.ui.enabled", "true")
        .config("spark.sql.shuffle.partitions", "64")
        .getOrCreate()
    )
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    results: dict = {"amplification": amp}

    work = tempfile.mkdtemp(prefix="scale_probe")
    try:
        # ---- amplify events ×amp (shifted ids keep key cardinality real)
        sc.setJobGroup("amplify", "build sf1-equivalent inputs")
        ev = load_events(spark, SF_DIR, spread=True)
        n_ev = ev.count()
        reps = spark.range(amp).select(F.col("id").cast("int").alias("rep"))
        ev_amp_path = os.path.join(work, "events_amp")
        (
            ev.crossJoin(reps)
            .select(
                (F.col("event_id") + F.col("rep") * F.lit(n_ev)).alias("event_id"),
                (F.col("user_id") + F.col("rep") * F.lit(100000)).alias("user_id"),
                "event_type",
                "ts_ms",  # load_events' normalized epoch-millis column
                "value",
            )
            .write.mode("overwrite").parquet(ev_amp_path)
        )
        ev_amp = spark.read.parquet(ev_amp_path)
        results["events_rows"] = ev_amp.count()

        # ---- q56 pipeline phases at amplified scale
        t0 = time.time()
        sc.setJobGroup("bulkload", "derive+dedup+salt+range-sort+write")
        cells = tsdb.derive_tsdb_cells(ev_amp)
        c1 = cells.groupBy("rowkey", "qualifier", "version_ts").agg(
            F.max("dvalue").alias("dvalue"),
            F.max("metric_id").alias("metric_id"),
            F.max("ts_hour").alias("ts_hour"),
            F.max("tags").alias("tags"),
        )
        c1 = c1.withColumn("value", tsdb.encode_double_be(F.col("dvalue")))
        kv = tsdb.bulkload_kv(c1)
        sink = os.path.join(work, "hfiles")
        hfile.write_hfiles(kv, sink, rollup=True)
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
