"""One query-run path with its Spark counters, for ``bench.py`` and the
tools.

:func:`run_query` runs a registry query under two job groups —
``<group>-build`` while the query function builds its DataFrame (the
eager checkpoints, counts and collects operators run), ``<group>`` while
the returned frame is written to the noop sink — and reads the jobs of
both groups from ``StatusTracker`` and the JVM status store right after
the query ends. Both are filled with the UI off, and a record read right
after its query cannot lose stages to ``spark.ui.retainedStages``, so no
UI setting is needed.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession

from hbase_bulkload_service_spark import cachereg, registry

#: Summed counters of a record; ``cpu_ms`` is executor CPU time.
COUNTERS = (
    "jobs", "stages", "tasks", "run_ms", "cpu_ms", "input_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "output_bytes",
)


def _noop_write(df: DataFrame) -> None:
    """Run every operator of ``df`` with no driver collect."""
    df.write.format("noop").mode("overwrite").save()


def group_record(spark: SparkSession, *groups: str) -> dict:
    """The :data:`COUNTERS` of the jobs run under ``groups``, and
    ``per_stage``: one entry per stage attempt. SKIPPED stages (their
    shuffle output was reused) are left out."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    # the status store is filled from the listener bus: drain it, or the
    # last job's stages may not be in it yet
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    rec: dict = dict.fromkeys(COUNTERS, 0)
    stage_ids: set[int] = set()
    for group in groups:
        for job in tracker.getJobIdsForGroup(group):
            rec["jobs"] += 1
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
    no_status = sc._jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    per_stage = []
    for sid in sorted(stage_ids):
        attempts = store.stageData(sid, False, no_status, False, no_quantiles)
        for i in range(attempts.length()):
            st = attempts.apply(i)
            if st.status().toString() == "SKIPPED":
                continue
            stage = {
                "stage": sid,
                "attempt": st.attemptId(),
                "tasks": st.numCompleteTasks(),
                "run_ms": st.executorRunTime(),
                "cpu_ms": round(st.executorCpuTime() / 1e6),
                "input_bytes": st.inputBytes(),
                "shuffle_read_bytes": st.shuffleReadBytes(),
                "shuffle_write_bytes": st.shuffleWriteBytes(),
                "output_bytes": st.outputBytes(),
                "name": st.name()[:120],
            }
            per_stage.append(stage)
            for k in COUNTERS[2:]:  # all but jobs and stages
                rec[k] += stage[k]
    rec["stages"] = len(per_stage)
    rec["per_stage"] = per_stage
    return rec


def run_query(
    spark: SparkSession, name: str, sf_dir: str, group: str | None = None
) -> dict:
    """Run registry query ``name`` at ``sf_dir`` into the noop sink and
    return its record: ``wall_s``, ``build_s``, ``exec_s``, ``err`` (None,
    or the failure, which is recorded instead of raised), ``build_jobs``
    and the :func:`group_record` of its two job groups (``group``
    defaults to ``name``). Operator-internal persists of earlier queries
    are released first, so none is measured under their cache pressure."""
    sc = spark.sparkContext
    group = group or name
    cachereg.release_all()
    spark.catalog.clearCache()
    err = None
    t0 = time.perf_counter()
    t1 = None
    try:
        sc.setJobGroup(f"{group}-build", name)
        df = registry.QUERIES[name](spark, sf_dir)
        t1 = time.perf_counter()
        sc.setJobGroup(group, name)
        _noop_write(df)
    except Exception as e:  # noqa: BLE001 — a failed query is recorded
        err = f"{type(e).__name__}: {e}"[:200]
    t2 = time.perf_counter()
    t1 = t2 if t1 is None else t1
    counters = group_record(spark, f"{group}-build", group)
    return {
        "wall_s": round(t2 - t0, 3),
        "build_s": round(t1 - t0, 3),
        "exec_s": round(t2 - t1, 3),
        "err": err,
        "build_jobs": len(sc.statusTracker().getJobIdsForGroup(f"{group}-build")),
        **counters,
    }


def warm_up(spark: SparkSession, sf_dir: str) -> None:
    """Pay the session's one-time costs before anything is timed: JVM and
    parquet footer caches (the cheapest query, then every table once),
    the Python workers and Arrow path (a pandas UDF on every core), and
    the Python DSv2 source ``hfilescan`` (its first use spawns the Python
    planner and reader, about 2-3 s that belong to no query)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from hbase_bulkload_service_spark.sources import hfile, hfilescan
    from hbase_bulkload_service_spark.sources.tables import TABLES, load

    _noop_write(registry.QUERIES["q04_point_get"](spark, sf_dir))
    ident = pandas_udf(lambda s: s, "long")
    _noop_write(
        spark.range(0, 100000)
        .repartition(spark.sparkContext.defaultParallelism)
        .select(ident(F.col("id")).alias("x"))
    )
    for t in TABLES:
        _noop_write(load(spark, sf_dir, t))
    wd = tempfile.mkdtemp(prefix="warmup")
    try:
        tiny = spark.createDataFrame(
            [(0, b"\x00k", "006b", b"t", b"\x00\x01", "0001", b"\x00" * 8)],
            "bucket int, key binary, key_hex string, family binary, "
            "qualifier binary, qualifier_hex string, value binary",
        )
        hfile.write_hfiles(tiny.coalesce(1), wd, num_partitions=1)
        hfilescan.register(spark)
        _noop_write(spark.read.format("hfilescan").option("path", wd).load())
    finally:
        shutil.rmtree(wd, ignore_errors=True)
