"""Parquet-backed table loading (SURVEY.md §2.A A1-A3).

The reference plans one input split per HBase region intersected with the
scan range, with locality hints (AbstractTableInputFormat.java:219-283).
Spark's file source does the same job natively: split planning, locality,
predicate pushdown and column pruning all come from the parquet scan — the
engine only declares filters/projections and lets Catalyst push them down.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: Column-metadata key that ties a column of a ``load_events`` frame to
#: that frame's raw ``ts``: ``"ts"`` marks ``ts`` itself, ``"ts_ms"`` its
#: epoch-millis derivation (``tsdb.derive_tsdb_cells`` adds ``"ts_sec"``).
#: A column keeps its metadata only while it is passed through unchanged,
#: so a recomputed, replaced or hand-built column carries no mark.
TS_LINEAGE = "tsdb.ts_lineage"


def load(spark: SparkSession, sf_dir: str, name: str, spread: bool = False) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events" and _ts_is_nanos(path):
        # The vectorized reader rejects a TIMESTAMP(NANOS) column unless
        # nanos are read as raw longs; the key is read when the scan runs,
        # so it is set on the session, and only for such a file.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    return spread_scan(df) if spread else df


def _ts_is_nanos(path: str) -> bool:
    """True when the ``ts`` column of the parquet at ``path`` (a file, or
    a directory of part files sharing one schema, partitioned or not) is
    TIMESTAMP(NANOS). The fixtures and the benchmark's events store
    TIMESTAMP(MICROS), which Spark reads as TIMESTAMP_NTZ. Read from the
    footer's parquet schema, not the arrow schema, which also shows INT96
    as ``ns``. A path that is not on the local file system reads as not
    NANOS, and Spark's own read reports a missing one."""
    import pyarrow.parquet as pq

    if not os.path.exists(path):
        return False
    hidden = ("_", ".")
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(hidden))
        parts = sorted(f for f in files if f.endswith(".parquet") and not f.startswith(hidden))
        if parts:
            path = os.path.join(root, parts[0])
            break
    else:
        if os.path.isdir(path):
            return False
    schema = pq.read_metadata(path).schema
    if "ts" not in schema.names:
        return False
    lt = schema.column(schema.names.index("ts")).logical_type
    return lt.type == "TIMESTAMP" and "timeUnit=nanoseconds" in str(lt)


def spread_scan(df: DataFrame) -> DataFrame:
    """Normalize scan granularity before CPU-heavy downstream stages.

    A parquet scan parallelizes at row-group granularity; a table written
    as a single row group (the testdata fixtures) plans ONE input
    partition, serializing every downstream codec/hash/UDF stage no matter
    how many cores the session has. When the scan yields fewer partitions
    than half the cores, redistribute round-robin once. On a cluster
    reading 100 TB the scan already yields far more splits than cores and
    this is a no-op — the exchange only fires in the degenerate
    small-file case it exists to fix. Filter pushdown is unaffected:
    Catalyst pushes predicates below a round-robin repartition, so pinned
    `PushedFilters` contracts still hold (tests/test_plan_contracts.py)."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() * 2 > cores:
        return df
    return df.repartition(cores)


def load_events(spark: SparkSession, sf_dir: str, spread: bool = False) -> DataFrame:
    """events with a normalized ``ts_ms`` epoch-millis column, robust to the
    session's parquet timestamp representation (nanos-as-long, NTZ, LTZ).

    ``ts`` and ``ts_ms`` carry the :data:`TS_LINEAGE` mark, so a time filter
    further down can also bound the raw ``ts`` the scan reads."""
    from pyspark.sql import functions as F

    from hbase_bulkload_service_spark.functions.codec import epoch_millis

    df = load(spark, sf_dir, "events", spread=spread)
    return df.select(
        *[
            F.col(c).alias(c, metadata={TS_LINEAGE: "ts"}) if c == "ts" else c
            for c in df.columns
        ],
        epoch_millis(df, "ts").alias("ts_ms", metadata={TS_LINEAGE: "ts_ms"}),
    )


def derived_from_ts(df: DataFrame, col: str, step: str) -> bool:
    """True when ``df[col]`` is marked as the ``step`` derivation of a raw
    ``ts`` that ``df`` still holds, marked as such (:data:`TS_LINEAGE`)."""
    fields = {f.name: f for f in df.schema.fields}
    return (
        col in fields
        and "ts" in fields
        and fields[col].metadata.get(TS_LINEAGE) == step
        and fields["ts"].metadata.get(TS_LINEAGE) == "ts"
    )


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load(spark, sf_dir, t) for t in TABLES}
