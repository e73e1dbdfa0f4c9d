"""Bulkload and codec queries: the flagship salt → range-sort → dedup →
HFile pipeline (q56), the HFile v3 container gates (``sources.hfile``,
``sources.hfilev3``), the layout writers (``sources.layout``) and the
file-format round trips (CSV, JSON, ORC, schema drift, corrupt records,
partition overwrite).
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hbase_bulkload_service_spark.functions.codec import decode_double_be
from hbase_bulkload_service_spark.operators import tsdb
from hbase_bulkload_service_spark.oracle_frags import (
    CENTS_SQL,
    DUCK_SALT_BUCKET,
    TSDB_CELLS_CTE,
)
from hbase_bulkload_service_spark.registry import cents, register
from hbase_bulkload_service_spark.session import local_frame
from hbase_bulkload_service_spark.sources import hfile, hfilev3
from hbase_bulkload_service_spark.sources.tables import load_events


# ===========================================================================
# q27 — JSON/CSV connector round-trip (source/sink breadth)
# ===========================================================================

@register(
    "q27_format_roundtrip",
    """
    SELECT event_id, user_id, event_type,
           CAST(FLOOR(value * 100) AS BIGINT) AS cents,
           epoch_ms(ts) AS ts_ms
    FROM events WHERE user_id % 50 = 0
    """,
)
def q27_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source/sink format breadth: the same slice written to line-JSON and
    CSV, read back through both connectors with explicit schemas, and
    inner-joined on EVERY column — the result equals the source slice iff
    both round-trips are value-exact (a lossy codec would drop rows).

    The reference's only source/sink is HBase (SURVEY.md §2.A/§2.H);
    Spark's format matrix is engine-level new capability. Explicit schema
    on read is the scale posture: schema inference is a full extra pass at
    100 TB."""
    import shutil
    import tempfile

    sub = (
        load_events(spark, sf_dir, spread=True)
        .filter(F.col("user_id") % 50 == 0)
        .select(
            "event_id",
            "user_id",
            "event_type",
            cents(F.col("value")).alias("cents"),
            "ts_ms",
        )
    )
    schema = "event_id long, user_id long, event_type string, cents long, ts_ms long"
    d = tempfile.mkdtemp(prefix="q27fmt")
    sub = sub.persist()  # one events scan feeds both format writes
    try:
        sub.coalesce(4).write.mode("overwrite").json(f"{d}/j")
        sub.coalesce(4).write.mode("overwrite").option("header", True).csv(f"{d}/c")
        j = spark.read.schema(schema).json(f"{d}/j")
        c = spark.read.schema(schema).option("header", True).csv(f"{d}/c")
        out = j.join(c, on=j.columns, how="inner")
        # materialize before the temp dir disappears (lazy scan would fail)
        rows = out.collect()
    finally:
        sub.unpersist()
        shutil.rmtree(d, ignore_errors=True)
    return local_frame(spark, rows, schema)


def flagship_kv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KV stream every bulkload gate writes: derived cells with the
    DOUBLE value big-endian encoded, salted and deduped. Same-version
    collisions resolve to MAX(dvalue) INSIDE the dedup aggregate (tie_col
    orders by struct(version_ts, dvalue)) — one shuffle where a separate
    pre-collapse groupBy would cost a second; bit-identical to collapsing
    first and max_by'ing after."""
    cells = tsdb.derive_tsdb_cells(load_events(spark, sf_dir, spread=True))
    c1 = cells.withColumn("value", tsdb.encode_double_be(F.col("dvalue")))
    return tsdb.bulkload_kv(c1, tie_col="dvalue")


def region_summary(back: DataFrame) -> DataFrame:
    """Per-region n_cells, n_keys, key span and value cents of a read-back
    KV frame — the shape the bulkload gates' oracles recompute."""
    return back.groupBy("region").agg(
        F.count("*").alias("n_cells"),
        F.countDistinct("key_hex").alias("n_keys"),
        F.min("key_hex").alias("min_key_hex"),
        F.max("key_hex").alias("max_key_hex"),
        F.sum(
            F.floor(decode_double_be(F.col("value")) * 100).cast("long")
        ).alias("sum_value_cents"),
    )


@register(
    "q56_bulkload_e2e",
    f"""
    WITH {TSDB_CELLS_CTE},
    c1 AS (
      SELECT metric_id, ts_hour, tags, offset_sec, version_ts,
             MAX(dvalue) AS dvalue
      FROM cells
      GROUP BY metric_id, ts_hour, tags, offset_sec, version_ts
    ),
    ded AS (
      SELECT metric_id, ts_hour, tags, offset_sec,
             arg_max(dvalue, version_ts) AS dvalue
      FROM c1 GROUP BY metric_id, ts_hour, tags, offset_sec
    ),
    b AS (SELECT *, {DUCK_SALT_BUCKET} AS bucket FROM ded),
    k AS (
      SELECT bucket, CAST(bucket // 8 AS INT) AS region,
             upper(lpad(to_hex(bucket), 4, '0') || lpad(to_hex(ts_hour), 8, '0')
                   || lpad(to_hex(metric_id), 6, '0') || lpad(to_hex(ts_hour), 8, '0')
                   || hex(tags)) AS key_hex,
             dvalue
      FROM b
    ),
    agg AS (
      SELECT region, COUNT(*) AS n_cells,
             COUNT(DISTINCT key_hex) AS n_keys,
             MIN(key_hex) AS min_key_hex, MAX(key_hex) AS max_key_hex,
             CAST(SUM(CAST(FLOOR(dvalue * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
      FROM k GROUP BY region
    ),
    agg_slice AS (
      -- fixed-width uppercase hex is order-isomorphic to the bucket
      -- number: key_hex in ['0000','0010') == bucket < 16
      SELECT region, COUNT(*) AS n_cells,
             COUNT(DISTINCT key_hex) AS n_keys,
             MIN(key_hex) AS min_key_hex, MAX(key_hex) AS max_key_hex,
             CAST(SUM(CAST(FLOOR(dvalue * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
      FROM k WHERE bucket < 16 GROUP BY region
    )
    SELECT 'all' AS src, * FROM agg
    UNION ALL
    SELECT 'dsv2slice' AS src, * FROM agg_slice
    """,
)
def q56_bulkload_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship pipeline (D1 salt → D3/E1 dedup → D2/G2 ordering →
    H1/H3 per-region sorted files + H7 manifest) driven END-TO-END through
    the real sink, then read back and summarized per region. The oracle
    recomputes salt/bucket/rowkey-hex/dedup from first principles — a
    mismatch in ANY stage (hash, byte layout, dedup, partitioning, value
    round-trip through the binary codec and the files) breaks it.

    Uses the rollup region layout (8 buckets/region → 64 region dirs,
    HadoopOutputFormat3.java:24,97): same code path as the raw 512-region
    layout but 8× fewer directories — the bench-sane configuration; the
    512-dir variant is covered by test_bulkload_hfile.

    The read-back goes through the engine's OWN DSv2 scan source
    (sources/hfilescan.py — manifest-driven per-region splits, the
    reference's createInputSplits analog), so A1/A2 sit inside the
    correctness gate too, not just unit tests.

    Same-version collisions resolve to MAX(dvalue) via the dedup's
    struct(version, dvalue) ordering (as q11's collapse-first oracle) so
    the max_by tie is deterministic cross-engine."""
    import shutil
    import tempfile

    kv = flagship_kv(spark, sf_dir)
    schema = (
        "src string, region int, n_cells long, n_keys long, "
        "min_key_hex string, max_key_hex string, sum_value_cents long"
    )

    def summarize(back: DataFrame, src: str) -> DataFrame:
        return region_summary(back).select(F.lit(src).alias("src"), "*")

    d = tempfile.mkdtemp(prefix="q56hfiles")
    try:
        hfile.write_hfiles(kv, d, rollup=True)
        # full-corpus summary: native parquet readback (the sink IS parquet
        # per region; at bench scale a full Arrow transfer through the
        # Python source would dominate the query)
        full_rows = summarize(spark.read.parquet(d), "all").collect()
        # DSv2 readback on a rowkey range: the engine's own scan source
        # plans one split per region and ELIDES regions outside the pushed
        # [lo, hi) via the manifest — only buckets 0x0000-0x000F (2 region
        # dirs of 64) ever get a task
        from hbase_bulkload_service_spark.sources import hfilescan

        hfilescan.register(spark)
        sliced = (
            spark.read.format("hfilescan")
            .option("path", d)
            .load()
            .filter((F.col("key_hex") >= "0000") & (F.col("key_hex") < "0010"))
        )
        rows = full_rows + summarize(sliced, "dsv2slice").collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return local_frame(spark, rows, schema)


# ===========================================================================
# q67 — ORC connector round-trip (columnar format breadth beyond parquet)
# ===========================================================================

@register(
    "q67_format_orc",
    """
    SELECT event_id, user_id, event_type,
           CAST(FLOOR(value * 100) AS BIGINT) AS cents,
           epoch_ms(ts) AS ts_ms
    FROM events WHERE user_id % 50 = 0 AND event_type >= 'p'
    """,
)
def q67_format_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink+source round-trip (Spark's second built-in columnar
    format): the q27 slice written as ORC, read back with an explicit
    schema, and filtered on a pushable predicate — `.explain` shows the
    filter reaching the ORC scan as a pushed filter (ORC carries min/max
    stripe stats like parquet row groups, so the same pushdown scale
    notes apply). The oracle recomputes the slice + filter from the
    source table, so a lossy round-trip or a broken pushdown (wrong
    rows) both break the hash."""
    import shutil
    import tempfile

    sub = (
        load_events(spark, sf_dir, spread=True)
        .filter(F.col("user_id") % 50 == 0)
        .select(
            "event_id",
            "user_id",
            "event_type",
            cents(F.col("value")).alias("cents"),
            "ts_ms",
        )
    )
    schema = "event_id long, user_id long, event_type string, cents long, ts_ms long"
    d = tempfile.mkdtemp(prefix="q67orc")
    try:
        sub.coalesce(4).write.mode("overwrite").orc(f"{d}/o")
        back = (
            spark.read.schema(schema)
            .orc(f"{d}/o")
            .filter(F.col("event_type") >= "p")
        )
        rows = back.collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return local_frame(spark, rows, schema)


# ===========================================================================
# q72 — Z-order (Morton) key for multi-dimensional layout
# ===========================================================================

_Z_BITS = 10
_Z_SQL = " | ".join(
    f"((((user_id % 1024) >> {i}) & 1) << {2 * i}) | "
    f"((((event_id % 1024) >> {i}) & 1) << {2 * i + 1})"
    for i in range(_Z_BITS)
)


@register(
    "q72_zorder_key",
    f"""
    SELECT event_id, user_id,
           CAST({_Z_SQL} AS BIGINT) AS z
    FROM events WHERE event_id % 20 = 0
    """,
)
def q72_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton interleave of (user_id mod 1024, event_id mod 1024) — the
    key behind layout.write_zordered's multi-dimensional file skipping
    (per-file bounding boxes compact in BOTH dimensions; locality pinned
    by tests/test_zorder.py). Pure shift/or codegen chain; the oracle
    recomputes the interleave bit-by-bit."""
    from hbase_bulkload_service_spark.sources.layout import zorder_key

    ev = load_events(spark, sf_dir, spread=True).filter(F.col("event_id") % 20 == 0)
    return ev.select(
        "event_id",
        "user_id",
        zorder_key(F.col("user_id") % 1024, F.col("event_id") % 1024, _Z_BITS).alias("z"),
    )


def _scratch(name: str) -> str:
    """Session-scoped scratch dir for sink round-trip gates: one root per
    process, removed at interpreter exit, so gated queries can WRITE then
    return the LAZY readback frame (no collect() in the gate path — the
    materialized-rows workaround was bounded but the pattern bites the
    moment the slice grows)."""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        import atexit
        import shutil
        import tempfile

        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="sparkgraft_gates")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    # unique dir per CALL: a re-run must not overwrite the part files a
    # previously returned lazy frame still references (re-executing that
    # frame would hit FileNotFound or silently read the new write) —
    # old dirs stay valid until the session-exit rmtree
    global _SCRATCH_SEQ
    _SCRATCH_SEQ += 1
    return f"{_SCRATCH_ROOT}/{name}_{_SCRATCH_SEQ}"


_SCRATCH_ROOT: str | None = None
_SCRATCH_SEQ: int = 0


# ===========================================================================
# q75 / q76 — CSV and JSON round-trips (the remaining built-in formats
# after parquet everywhere and ORC in q67)
# ===========================================================================

_FMT_ORACLE = f"""
    SELECT event_id, user_id, event_type,
           {CENTS_SQL} AS cents, epoch_ms(ts) AS ts_ms
    FROM events WHERE user_id % 37 = 0 AND event_type <> 'error'
"""


def _fmt_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_events(spark, sf_dir, spread=True)
        .filter(F.col("user_id") % 37 == 0)
        .select(
            "event_id",
            "user_id",
            "event_type",
            cents(F.col("value")).alias("cents"),
            "ts_ms",
        )
    )


_FMT_SCHEMA = "event_id long, user_id long, event_type string, cents long, ts_ms long"


@register("q75_format_csv", _FMT_ORACLE)
def q75_format_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink+source round-trip with an explicit read schema (no
    inference pass — schema inference is a full extra scan at 100 TB and
    is banned on the scale path). CSV has no column stats, so the
    post-read filter runs engine-side; the pre-written slice is already
    column-pruned. Lossless because every written column is integral or
    a clean string — doubles are kept out of text formats by converting
    to cents BEFORE the sink (float text round-trip is shortest-repr
    exact in Spark but not portable to every reader)."""
    d = _scratch("q75csv")
    _fmt_slice(spark, sf_dir).coalesce(4).write.mode("overwrite").option(
        "header", "true"
    ).csv(f"{d}/c")
    return (
        spark.read.schema(_FMT_SCHEMA)
        .option("header", "true")
        .csv(f"{d}/c")
        .filter(F.col("event_type") != "error")
    )


@register("q76_format_json", _FMT_ORACLE)
def q76_format_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink+source round-trip carrying a NESTED struct
    (meta.event_type / meta.cents) — exercises schema'd nested decode,
    which parquet gets for free but JSON must parse. Explicit schema on
    read (same no-inference rule as q75); the nested field is projected
    back out flat so the oracle is shared with q75. Spark prunes unread
    JSON fields under schema'd reads, mirroring nested-schema pruning on
    columnar formats."""
    d = _scratch("q76json")
    nested = _fmt_slice(spark, sf_dir).select(
        "event_id",
        "user_id",
        "ts_ms",
        F.struct("event_type", "cents").alias("meta"),
    )
    rschema = "event_id long, user_id long, ts_ms long, meta struct<event_type:string, cents:long>"
    nested.coalesce(4).write.mode("overwrite").json(f"{d}/j")
    return (
        spark.read.schema(rschema)
        .json(f"{d}/j")
        .filter(F.col("meta.event_type") != "error")
        .select(
            "event_id",
            "user_id",
            F.col("meta.event_type").alias("event_type"),
            F.col("meta.cents").alias("cents"),
            "ts_ms",
        )
    )


# ===========================================================================
# q90 — dynamic partition pruning: hot-partition scan via a stats dim
# ===========================================================================

@register(
    "q90_dpp_hot_days",
    """
    WITH part AS (
      SELECT (epoch_ms(ts) // 1000) - (epoch_ms(ts) // 1000) % 86400 AS ts_part,
             event_type, CAST(FLOOR(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    h AS (SELECT ts_part,
                 COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_err
          FROM part GROUP BY 1),
    t AS (SELECT COUNT(*) AS nh, CAST(SUM(n_err) AS BIGINT) AS se FROM h),
    sel AS (SELECT ts_part FROM h, t WHERE n_err * nh > se)
    SELECT p.ts_part, COUNT(*) AS n_events,
           CAST(SUM(p.cents) AS BIGINT) AS sum_cents
    FROM part p JOIN sel USING (ts_part)
    GROUP BY 1
    """,
)
def q90_dpp_hot_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime (dynamic) partition pruning — the missing third member of
    the pruning family after static partition pruning (q12/layout) and
    rowgroup/stripe pushdown (q67): events land in a day-partitioned
    layout plus a tiny per-day error-count stats table; the query scans
    ONLY days whose error count is strictly above average, a predicate
    unknowable at compile time. The fact scan carries
    ``dynamicpruningexpression(ts_part IN ...)`` — partitions are pruned
    at RUNTIME from the broadcast dim result (pinned in test_wave4 with
    the hour layout), so at 100 TB the hot-partition probe touches hot
    partitions only and never lists the rest. Day granularity here
    because the bench pays the partitioned-write setup per call and a
    720-dir hour commit is 24× the metadata cost for the same pruning
    mechanics (hour granularity is exercised by test_wave4 + q12). The
    threshold is bound as a LITERAL from the 1-row stats aggregate
    (bounded metadata, same class as q53's region catalog) because
    Catalyst only plants a DPP subquery for literal-comparison dim
    filters — a filter on a derived column defeats the selectivity
    heuristic."""
    import shutil
    import tempfile

    from hbase_bulkload_service_spark.sources import layout

    ev = load_events(spark, sf_dir, spread=True).select(
        "event_id",
        "event_type",
        cents(F.col("value")).alias("cents"),
        F.expr("ts_ms div 1000").alias("ts_sec"),
    )
    d = tempfile.mkdtemp(prefix="q90dpp")
    try:
        layout.write_time_partitioned(ev, f"{d}/fact", granularity="day")
        fact = spark.read.parquet(f"{d}/fact")
        h = fact.groupBy("ts_part").agg(
            F.count(F.when(F.col("event_type") == "error", 1)).alias("n_err")
        )
        h.coalesce(1).write.mode("overwrite").parquet(f"{d}/dim")
        nh, se = h.agg(F.count("*"), F.sum("n_err")).collect()[0]
        dim = (
            spark.read.parquet(f"{d}/dim")
            .filter(F.col("n_err") * F.lit(int(nh)) > F.lit(int(se)))
            .select("ts_part")
        )
        out = (
            fact.join(F.broadcast(dim), "ts_part")
            .groupBy(F.col("ts_part").cast("long").alias("ts_part"))
            .agg(
                F.count("*").alias("n_events"),
                F.sum("cents").alias("sum_cents"),
            )
        )
        rows = out.collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return local_frame(spark,
        rows, "ts_part long, n_events long, sum_cents long"
    )


# ===========================================================================
# q98 — parquet schema evolution (mergeSchema read over drifted batches)
# ===========================================================================

@register(
    "q98_schema_evolution",
    f"""
    WITH c AS (SELECT event_id, event_type, {CENTS_SQL} AS cents FROM events)
    SELECT event_type, COUNT(*) AS cnt,
           COUNT(CASE WHEN event_id % 2 = 1 THEN 1 END) AS cnt_flagged,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM c GROUP BY 1
    """,
)
def q98_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema drift across ingest batches — the 100 TB reality that later
    batches carry columns earlier ones lack: batch 1 writes
    (event_id, event_type, cents), batch 2 adds ``src_flag``;
    ``mergeSchema`` unions the footers at plan time and back-fills NULL
    for the missing column (count(src_flag) therefore counts batch-2
    rows exactly). Per-file schema stays pruned at scan — merging is a
    footer/planning operation, not a data rewrite. (Default stays OFF at
    scale: footer-merge lists every file's schema; enable per-read as
    here, or maintain the union schema in a catalog.)"""
    import shutil
    import tempfile

    ev = load_events(spark, sf_dir, spread=True).select(
        "event_id", "event_type", cents(F.col("value")).alias("cents")
    )
    d = tempfile.mkdtemp(prefix="q98evolve")
    try:
        ev.filter(F.col("event_id") % 2 == 0).write.mode("overwrite").parquet(
            f"{d}/batch=1"
        )
        ev.filter(F.col("event_id") % 2 == 1).withColumn(
            "src_flag", (F.col("event_id") % 10).cast("int")
        ).write.mode("overwrite").parquet(f"{d}/batch=2")
        merged = spark.read.option("mergeSchema", "true").parquet(
            f"{d}/batch=1", f"{d}/batch=2"
        )
        rows = (
            merged.groupBy("event_type")
            .agg(
                F.count("*").alias("cnt"),
                F.count("src_flag").alias("cnt_flagged"),
                F.sum("cents").alias("sum_cents"),
            )
            .collect()
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return local_frame(spark,
        rows, "event_type string, cnt long, cnt_flagged long, sum_cents long"
    )


# ===========================================================================
# Container-agnostic bulkload oracle (q116, retired below, was its first
# gate)
# ===========================================================================

# Shared by the real HFile v3 container gates (q167-q169 and q221): the
# oracle recomputes the bulkload pipeline from source data and is
# container-agnostic by construction.
HFL_CONTAINER_ORACLE = f"""
    WITH {TSDB_CELLS_CTE},
    c1 AS (
      SELECT metric_id, ts_hour, tags, offset_sec, version_ts,
             MAX(dvalue) AS dvalue
      FROM cells
      GROUP BY metric_id, ts_hour, tags, offset_sec, version_ts
    ),
    ded AS (
      SELECT metric_id, ts_hour, tags, offset_sec,
             arg_max(dvalue, version_ts) AS dvalue
      FROM c1 GROUP BY metric_id, ts_hour, tags, offset_sec
    ),
    b AS (SELECT *, {DUCK_SALT_BUCKET} AS bucket FROM ded),
    k AS (
      SELECT CAST(bucket // 8 AS INT) AS region,
             upper(lpad(to_hex(bucket), 4, '0') || lpad(to_hex(ts_hour), 8, '0')
                   || lpad(to_hex(metric_id), 6, '0') || lpad(to_hex(ts_hour), 8, '0')
                   || hex(tags)) AS key_hex,
             dvalue
      FROM b
    )
    SELECT region, COUNT(*) AS n_cells,
           COUNT(DISTINCT key_hex) AS n_keys,
           MIN(key_hex) AS min_key_hex, MAX(key_hex) AS max_key_hex,
           CAST(SUM(CAST(FLOOR(dvalue * 100) AS BIGINT)) AS BIGINT)
             AS sum_value_cents
    FROM k GROUP BY region
    """


# ===========================================================================
# q125 — corrupt-record-tolerant CSV ingestion (PERMISSIVE semantics)
# ===========================================================================

@register(
    "q125_corrupt_records",
    f"""
    WITH sl AS (
      SELECT event_id, event_type,
             CAST(FLOOR(value * 100) AS BIGINT) AS cents
      FROM events WHERE user_id % 53 = 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(CASE WHEN event_id % 7 <> 0 THEN 1 END) AS BIGINT)
             AS n_good,
           CAST(COUNT(CASE WHEN event_id % 7 = 0 THEN 1 END) AS BIGINT)
             AS n_bad,
           CAST(SUM(CASE WHEN event_id % 7 <> 0 THEN cents END) AS BIGINT)
             AS sum_cents_good
    FROM sl
    """,
)
def q125_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirty-ingest robustness, gate-verified: a deterministic slice of
    events is serialized to raw CSV text with every 7th row CORRUPTED
    (non-numeric token in the cents field), read back under PERMISSIVE
    mode with a `_corrupt` record column, and classified — the oracle
    derives the expected good/bad split and good-row checksum from the
    clean base table, so the row hash-matches iff Spark's malformed-row
    semantics (bad field -> NULL + raw line captured) classify EXACTLY
    the planted corruptions and parse everything else losslessly. The
    100 TB reality this models: web-scale ingest always carries a
    malformed tail, and dropping it silently (DROPMALFORMED) or dying
    (FAILFAST) are both wrong — count it, quarantine it, bound it."""
    sl = (
        load_events(spark, sf_dir, spread=True)
        .filter(F.col("user_id") % 53 == 0)
        .select(
            "event_id",
            "event_type",
            cents(F.col("value")).alias("cents"),
        )
    )
    lines = sl.select(
        F.concat_ws(
            ",",
            F.col("event_id").cast("string"),
            F.col("event_type"),
            F.when(F.col("event_id") % 7 == 0, F.lit("x")).otherwise(
                F.col("cents").cast("string")
            ),
        ).alias("value")
    )
    d = _scratch("q125corrupt")
    lines.coalesce(2).write.mode("overwrite").text(f"{d}/raw")
    back = (
        spark.read.schema(
            "event_id long, event_type string, cents long, _corrupt string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(f"{d}/raw")
    )
    bad = F.col("_corrupt").isNotNull()
    return back.agg(
        F.count("*").alias("n_rows"),
        F.count(F.when(~bad, 1)).alias("n_good"),
        F.count(F.when(bad, 1)).alias("n_bad"),
        F.sum(F.when(~bad, F.col("cents"))).alias("sum_cents_good"),
    )


def v3_gate(spark: SparkSession, sf_dir: str, name: str, **codec) -> DataFrame:
    """The v3 container gates' shared round trip: the flagship KV written
    as REAL v3 files (``codec``: write_hfilev3_files' compression /
    encoding / bloom arguments), checked at manifest level in the driver
    (bucket-prefix spans, file caps, region disjointness), read back with
    the per-file container invariants checked inside the distributed
    reading tasks, and summarized per region."""
    d = _scratch(name)
    hfilev3.write_hfilev3_files(
        flagship_kv(spark, sf_dir), d, rollup=True, num_partitions=16, **codec
    )
    summary = hfile.validate_manifest_layout(d, rollup=True)
    # the manifest check covers no record; the readback below owes them
    assert not summary["per_record_validated"] and summary["pending"]
    return region_summary(hfilev3.read_hfilev3_dir(spark, d))


# ===========================================================================
# q167 — bulkload e2e through the REAL HFile v3 byte format
# ===========================================================================


@register("q167_hfilev3_container", HFL_CONTAINER_ORACLE)
def q167_hfilev3_container(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q56's flagship pipeline emitted as REAL HFile v3 bytes: salt →
    dedup → range-partition+sort → one HFile per region per task
    (sources/hfilev3.py: DATA blocks with the 33-byte v2/v3 header and
    CRC chunk checksums, single-level root index, PBUF-framed file
    info, 4096-byte protobuf fixed trailer with the v3 version word),
    then read BACK by opening each file exactly as HBase's HFile.Reader
    does — trailer magic/version, load-on-open walk, index→block
    agreement, per-block CRC verify, global cell order, entry-count and
    LASTKEY agreement — one task per file, plus the manifest-level
    layout checks adoption requires. Summarized per region against the
    SAME container-agnostic oracle as q116: a bug anywhere in the block
    framing, index arithmetic, protobuf encoding, or trailer breaks the
    readback and the row (reference HBaseController.java:232-254,
    HFileOutputUtil.java:17-39)."""
    return v3_gate(spark, sf_dir, "q167hfilev3")


# ===========================================================================
# q168 — same e2e gate under the GZ codec (compressed-block framing path)
# ===========================================================================


@register("q168_hfilev3_gz", HFL_CONTAINER_ORACLE)
def q168_hfilev3_gz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q167 under ``Compression.Algorithm.GZ``: every block's payload is
    a gzip member, so onDiskSizeWithoutHeader and
    uncompressedSizeWithoutHeader genuinely diverge — the compressed-
    block arithmetic (checksums over compressed bytes, index sizes in
    on-disk terms, trailer codec ordinal 1) is exercised end-to-end and
    must reproduce the same per-region summary as the uncompressed gate
    and the shared container-agnostic oracle. (The reference DDL's own
    SNAPPY codec is gated by q221; GZ remains as the deflate-family
    codec gate.)"""
    return v3_gate(spark, sf_dir, "q168hfilev3gz", compression="GZ")


# ===========================================================================
# q169 — the reference DDL's FULL feature set in one file: DIFF data
# block encoding + block compression + ROW bloom (round 6)
# ===========================================================================


@register("q169_hfilev3_ddl", HFL_CONTAINER_ORACLE)
def q169_hfilev3_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q167 with every feature the reference's table DDL enables
    composed in the REAL v3 container (``HBaseManager.java:379-385``
    sets DataBlockEncoding.DIFF + compression + ROW bloom;
    ``HFileOutputUtil.java:23`` carries them to the bulkload writer; GZ
    stands in for snappy — same framing, one trailer ordinal): every
    DATA block is a DIFF-encoded ENCODED_DATA block ("DATABLKE", the
    DiffKeyDeltaEncoder stream), gzip-compressed, CRC-chunk-checksummed;
    BLOOM_CHUNK blocks ride the scanned section with the
    GENERAL_BLOOM_META in load-on-open; FileInfo announces
    DATA_BLOCK_ENCODING=DIFF and BLOOM_FILTER_TYPE=ROW. The distributed
    readback decodes all three layers, checks the bloom against every
    block's first row, and must reproduce the same container-agnostic
    oracle as q167/q168 — a bug in the delta codec, the bloom bit math
    (golden-tested against Hadoop's own MurmurHash), or their
    composition with the codec breaks the row."""
    return v3_gate(
        spark, sf_dir, "q169hfilev3ddl",
        compression="GZ", encoding="DIFF", bloom=True,
    )


_POINT_READ_ORACLE = f"""
    WITH {TSDB_CELLS_CTE},
    c1 AS (
      SELECT metric_id, ts_hour, tags, offset_sec, version_ts,
             MAX(dvalue) AS dvalue
      FROM cells
      GROUP BY metric_id, ts_hour, tags, offset_sec, version_ts
    ),
    ded AS (
      SELECT metric_id, ts_hour, tags, offset_sec,
             arg_max(dvalue, version_ts) AS dvalue
      FROM c1 GROUP BY metric_id, ts_hour, tags, offset_sec
    ),
    b AS (SELECT *, {DUCK_SALT_BUCKET} AS bucket FROM ded),
    kv AS (
      SELECT upper(lpad(to_hex(bucket), 4, '0') || lpad(to_hex(ts_hour), 8, '0')
                   || lpad(to_hex(metric_id), 6, '0') || lpad(to_hex(ts_hour), 8, '0')
                   || hex(tags)) AS key_hex,
             upper(lpad(to_hex(offset_sec), 4, '0')) AS qualifier_hex,
             dvalue
      FROM b
    ),
    probes AS (SELECT DISTINCT key_hex FROM kv ORDER BY key_hex LIMIT 24)
    SELECT key_hex, qualifier_hex,
           CAST(FLOOR(dvalue * 100) AS BIGINT) AS value_cents
    FROM kv JOIN probes USING (key_hex)
    """


@register("q170_hfilev3_point_reads", _POINT_READ_ORACLE)
def q170_hfilev3_point_reads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8/L1 at the BYTE level: bulkload the flagship pipeline into
    full-DDL v3 files (DIFF + GZ + ROW bloom), then serve point-gets
    through ``seek_row_hfile_v3`` exactly as a region server would —
    trailer → load-on-open → bloom probe → index binary-search → one
    data block — for 24 planted rowkeys AND 24 absent ones. Planted
    rows must decode their exact cells (the oracle recomputes them from
    source SQL); absent rows must return nothing, and the in-task
    asserts pin that the bloom was consulted on every seek. Seeks run
    DISTRIBUTED (one task per probe×file), probes are metadata-scale
    (48 keys collected). Reference parity: the point-get read path
    (``HBaseController.java`` get endpoints) served from bulkloaded
    files."""
    import os

    kv = flagship_kv(spark, sf_dir)
    d = _scratch("q170hfilev3pt")
    manifest = hfilev3.write_hfilev3_files(
        kv, d, rollup=True, num_partitions=16,
        compression="GZ", encoding="DIFF", bloom=True,
    )
    # probe set: 24 smallest distinct rowkeys (deterministic, matches
    # the oracle's ORDER BY/LIMIT) + 24 absent variants (suffix-extended
    # rows — inside the keyspace, never written)
    probes = [
        r["key_hex"]
        for r in kv.select("key_hex").distinct().orderBy("key_hex")
        .limit(24).collect()
    ]
    tasks = []
    for hexkey, must_hit in [(p, True) for p in probes] + [
        (p + "FF", False) for p in probes
    ]:
        for m in manifest:
            # files are globally non-overlapping (the §4.2 layout), so
            # at most the boundary-straddling pair covers a probe
            if m["min_key_hex"] <= hexkey <= m["max_key_hex"]:
                tasks.append((os.path.join(d, m["file"]), hexkey, must_hit))

    def run(task):
        fname, hexkey, must_hit = task
        st: dict = {}
        got = hfilev3.seek_row_hfile_v3(fname, bytes.fromhex(hexkey), st)
        if not st["bloom_checked"]:
            raise AssertionError(f"bloom not consulted seeking {hexkey}")
        if must_hit and not got:
            raise AssertionError(f"planted rowkey missing: {hexkey}")
        if not must_hit and got:
            raise AssertionError(f"phantom cells for absent row {hexkey}")
        for _row, _fam, qual, _ts, value in got:
            yield (hexkey, qual.hex().upper(), bytes(value))

    sc = spark.sparkContext
    rdd = sc.parallelize(tasks, max(1, min(len(tasks), 32))).flatMap(run)
    out = spark.createDataFrame(
        rdd, "key_hex string, qualifier_hex string, value binary"
    )
    return out.select(
        "key_hex",
        "qualifier_hex",
        F.floor(decode_double_be(F.col("value")) * 100)
        .cast("long")
        .alias("value_cents"),
    )


# ===========================================================================
# q221 — the reference DDL byte-for-byte: DIFF + SNAPPY + ROW bloom
# ===========================================================================


@register("q221_hfilev3_snappy", HFL_CONTAINER_ORACLE)
def q221_hfilev3_snappy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q169's full-DDL composition under the reference's ACTUAL codec:
    ``HBaseManager.java:379-385`` + ``HFileOutputUtil.java:23`` set
    DataBlockEncoding.DIFF, Compression.Algorithm.SNAPPY, and the ROW
    compound bloom — this gate writes exactly that (trailer codec
    ordinal 3; every block's payload is raw snappy under Hadoop's
    BlockCompressorStream framing, sources/hfilev3.py), reads it
    back distributedly through the full decode stack (snappy → DIFF →
    cells, bloom checked against each block's first row), and must
    reproduce the same container-agnostic oracle as q167/q168/q169.
    With this gate the v3 writer has NO remaining delta against the
    reference's table DDL."""
    return v3_gate(
        spark, sf_dir, "q221hfilev3snappy",
        compression="SNAPPY", encoding="DIFF", bloom=True,
    )


# ===========================================================================
# q234 — dynamic partition overwrite (idempotent backfill)
# ===========================================================================


@register(
    "q234_partition_overwrite",
    """
    WITH s AS (
      SELECT epoch_ms(ts) // 86400000 AS day_num,
             CAST(FLOOR(value * 100) AS BIGINT) AS cents
      FROM events WHERE user_id % 13 = 0
    ),
    m AS (SELECT MIN(day_num) AS tgt FROM s)
    SELECT CAST(day_num AS BIGINT) AS day_num,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN day_num = tgt THEN cents * 2
                         ELSE cents END) AS BIGINT) AS sum_cents
    FROM s CROSS JOIN m GROUP BY day_num
    """,
)
def q234_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the idempotent-backfill sink
    contract: a day-partitioned table gets ONE day's data rewritten
    (here: a correction doubling that day's cents) by a second
    ``mode("overwrite")`` write under
    ``partitionOverwriteMode=dynamic``, which replaces exactly the
    partitions present in the incoming frame and leaves every other day
    untouched (static mode would truncate the whole table — the classic
    backfill footgun). Read-back aggregates prove the merge: target day
    doubled, all others intact.

    At 100 TB this is THE correction primitive: rewriting one day is
    1/365th of the table, and the overwrite is atomic per partition
    directory. The conf is set scoped to the write and restored."""
    sub = (
        load_events(spark, sf_dir, spread=True)
        .filter(F.col("user_id") % 13 == 0)
        .select(
            (F.col("ts_ms") / F.lit(86_400_000)).cast("long").alias("day_num"),
            cents(F.col("value")).alias("cents"),
        )
    )
    d = tempfile.mkdtemp(prefix="q234dpo")
    try:
        sub.coalesce(4).write.mode("overwrite").partitionBy("day_num").parquet(
            f"{d}/tbl"
        )
        tgt = sub.agg(F.min("day_num")).collect()[0][0]
        correction = sub.filter(F.col("day_num") == tgt).withColumn(
            "cents", F.col("cents") * 2
        )
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            correction.coalesce(1).write.mode("overwrite").partitionBy(
                "day_num"
            ).parquet(f"{d}/tbl")
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        back = spark.read.parquet(f"{d}/tbl")
        out = back.groupBy(F.col("day_num").cast("long").alias("day_num")).agg(
            F.count("*").alias("n_rows"),
            F.sum("cents").alias("sum_cents"),
        )
        rows = out.collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return local_frame(spark, rows, "day_num long, n_rows long, sum_cents long")
