"""SparkSession factory tuned for the engine.

The reference sizes a dedicated Flink per-job cluster
(FlinkEnvironmentBuild.java:55-74: 1024MB TM, 2 slots, request-level
parallelism). The Spark-first analog is one long-lived session with AQE
doing runtime re-planning; parallelism scales with the cluster, not the
request.

Scale posture (100 TB / 1000 executors):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting.
- Shuffle partitions default high enough to not bottleneck local runs but
  overridable by env for cluster deployment.
- Session timezone pinned to UTC: all TSDB epoch arithmetic is
  timezone-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # small-dim broadcast threshold; lookup-join (F1) dim tables are small
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.shuffle.partitions": "32",
    # Python DataSource pushdown (sources/hfilescan.py region elision)
    "spark.sql.python.filterPushdown.enabled": "true",
}


def pinned_width(spark: SparkSession, per_core: int = 2, floor: int = 8) -> int:
    """Task width for explicit AQE-exempt ``repartition(n, keys)`` pins.

    Several operators pin a numbered repartition ahead of a CPU-heavy but
    byte-small stage (post-blocking verify, grouped-map Python, exact
    COUNT DISTINCT) because AQE coalesces shuffle partitions by BYTES and
    would serialize the stage onto a handful of tasks. The width must
    scale with the cluster — a literal caps parallelism on big clusters
    and over-tasks tiny ones — so it is derived from
    ``defaultParallelism`` (total executor cores) instead (ADVICE r05:
    similarity.py's hard-coded 64). ``per_core=2`` gives mild
    over-decomposition for stragglers; local[32] yields 64, matching the
    literal the fixed sites used to carry.

    The width must also never COLLIDE with the session's
    ``spark.sql.shuffle.partitions``: when the pin's keys and width both
    match the child's ENSURE_REQUIREMENTS exchange, Catalyst elides the
    user repartition as already-satisfied — and the surviving exchange
    is AQE-coalescible, silently reintroducing the single-task trap the
    pin exists to prevent (caught by
    test_ngram_verify_spread_survives_aqe under a local[4]/8-partition
    session where both widths landed on 8). On collision the width grows
    by a FULL core wave, not by 1: w+1 tasks on w-sized clusters schedule
    as an extra near-empty wave (64 cores, 65 uniform tasks -> one
    straggler wave, ~+50% stage wall — measured inflating the pinned
    queries' 10x probe readings), while w+parallelism keeps task count a
    wave multiple with the same total CPU.
    """
    par = spark.sparkContext.defaultParallelism
    w = max(floor, par * per_core)
    if w == int(spark.conf.get("spark.sql.shuffle.partitions")):
        w += par
    return w


#: Spark types (by class name) that round-trip bit-exactly through a typed
#: pyarrow.Table in local_frame's fast path. Timestamps and decimals are
#: deliberately absent (session-timezone / precision coercion risk) — rows
#: carrying them take the classic pickled path.
_ARROW_SAFE_TYPES = {
    "ByteType", "ShortType", "IntegerType", "LongType",
    "FloatType", "DoubleType", "StringType", "BinaryType",
    "BooleanType", "DateType",
}


def _arrow_safe(dt) -> bool:
    name = type(dt).__name__
    if name == "ArrayType":
        return _arrow_safe(dt.elementType)
    if name == "StructType":
        return all(_arrow_safe(f.dataType) for f in dt.fields)
    if name == "MapType":
        return _arrow_safe(dt.keyType) and _arrow_safe(dt.valueType)
    return name in _ARROW_SAFE_TYPES


def local_frame(spark: SparkSession, rows, schema) -> "DataFrame":  # noqa: F821
    """Driver-materialized local relation for metadata-sized row lists
    (optimization r08, guide §4 "eliminate the JVM↔Python boundary").

    ``spark.createDataFrame(list, schema)`` plans a Python-PICKLED
    ``Scan ExistingRDD``: every evaluation of the relation runs a Python
    worker on an executor to unpickle the rows, and worker acquisition
    serializes on a global SparkEnv lock — thread dumps during the ANN
    family's Lloyd rounds showed all 32 local tasks blocked ~1.8 s each
    on ``SparkEnv.createPythonWorker`` (the centroid table is rebuilt
    per round and re-evaluated per consumer). Routing the same rows
    through a TYPED ``pyarrow.Table`` instead yields a pure-JVM
    ``LocalTableScan``: no executor Python anywhere in the plan, real
    size statistics for the planner (an 8-row centroid table is now
    broadcastable by estimate, not only by hint), and measurably less
    wall (micro A/B: 3 scoring rounds 6.4 s → 3.0 s on local[32]).

    Values and schema are identical by construction for the fast-path
    types (integers, floats/doubles, strings, binary, boolean, date,
    arrays/structs/maps thereof — IEEE doubles pass through Arrow
    bit-exactly); the resulting schema is asserted equal and ANY
    surprise (unsupported type, coercion mismatch, pyarrow rejection)
    falls back to the classic pickled path, so this is a plan-shape
    change only, never a semantic one.
    """
    from pyspark.sql.types import Row, StructType

    if isinstance(schema, str):
        try:
            st = StructType.fromDDL(schema)
        except Exception:  # noqa: BLE001 — let createDataFrame report it
            return spark.createDataFrame(rows, schema)
    elif isinstance(schema, StructType):
        st = schema
    else:
        return spark.createDataFrame(rows, schema)
    try:
        if not _arrow_safe(st):
            raise ValueError("non-arrow-safe type in schema")
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(st)
        # Strictly positional sequences only (ADVICE r08): a Mapping row
        # would zip its KEYS into the columns and a row longer than the
        # schema would be silently truncated by the zip below — both take
        # the classic path instead (which maps dicts by name and raises
        # on width mismatch, the documented createDataFrame semantics).
        n_fields = len(st.fields)
        data = []
        for r in rows:
            if not isinstance(r, (Row, list, tuple)):
                raise ValueError("non-positional row — classic path")
            t = tuple(r)
            if len(t) != n_fields:
                raise ValueError("row width != schema width — classic path")
            data.append(t)
        cols = list(zip(*data)) if data else [() for _ in arrow_schema]
        arrays = [
            pa.array(list(c), type=f.type)
            for c, f in zip(cols, arrow_schema)
        ]
        df = spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow_schema))
        if df.schema != st:
            raise ValueError(f"schema drift {df.schema} != {st}")
        return df
    except Exception:  # noqa: BLE001 — identical-semantics fallback
        return spark.createDataFrame(rows, schema)


def get_spark(
    app_name: str = "hbase-bulkload-service-spark",
    master: str | None = None,
    **conf_overrides: str,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` outside a cluster.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    conf = dict(_DEFAULTS)
    # scale-dependent: 32 initial shuffle partitions is a LOCAL default
    # (AQE coalesces below it; pinned_width() sites scale separately via
    # defaultParallelism). A cluster deployment must raise it to ~2-3x
    # total executor cores (guide §2.2: partitions in the 100 MB-1 GB
    # range) — parameterized here so that needs no code change. The
    # driver's bench never sets the env var, so local numbers stay
    # comparable across rounds.
    if "SPARK_GRAFT_SHUFFLE_PARTITIONS" in os.environ:
        conf["spark.sql.shuffle.partitions"] = os.environ[
            "SPARK_GRAFT_SHUFFLE_PARTITIONS"
        ]
    conf.update({k: str(v) for k, v in conf_overrides.items()})
    # Python workers import this package by name: put its parent dir on
    # their path, so the engine runs from any cwd
    package_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    key = "spark.executorEnv.PYTHONPATH"
    conf[key] = os.pathsep.join(p for p in (package_parent, conf.get(key)) if p)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
