"""Time-series and HBase-table queries: the tsdb rollups, salting and
latest-version dedup (``operators.tsdb``), the htable get/put/scan/delete
and lookup-join surface (``operators.table``), job slicing
(``plans.jobs``) and the region maintenance planners
(``operators.maintenance``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hbase_bulkload_service_spark.functions.codec import (
    decode_double_be,
    decode_int_be,
    epoch_millis,
)
from hbase_bulkload_service_spark.functions.hashes import salt_bucket
from hbase_bulkload_service_spark.operators import maintenance, tsdb
from hbase_bulkload_service_spark.operators import table as tbl
from hbase_bulkload_service_spark.oracle_frags import (
    CENTS_SQL,
    COUNTER_RATE_ORACLE,
    DUCK_SALT_BUCKET,
    TSDB_CELLS_CTE,
)
from hbase_bulkload_service_spark.plans.jobs import time_slices
from hbase_bulkload_service_spark.registry import cents, register
from hbase_bulkload_service_spark.session import local_frame
from hbase_bulkload_service_spark.sources.tables import load, load_events


def duck_zoh_grid_ctes(step_ms: int, series_filter: str = "") -> str:
    """The dense-grid + per-bucket-representative CTE chain shared by the
    grid-fill family oracles — q141 (ZOH fill), q152 (aligned ratio) and
    q157 (linear fill). One definition so a representative-rule change
    (last sample by (ts, id) DESC) cannot silently leave one gate testing stale
    semantics. Produces CTEs ``e``/``b``/``obs``/``span``/``grid``/``j``;
    callers append their fill/pivot logic over ``j``.

    ``series_filter``: optional extra predicate ANDed into the base
    selection (e.g. ``AND event_type IN ('click', 'view')``).
    """
    return f"""e AS (
      SELECT event_type, event_id, epoch_ms(ts) AS ts_ms,
             CAST(FLOOR(value * 100) AS BIGINT) AS cents
      FROM events
      WHERE ts IS NOT NULL AND value IS NOT NULL {series_filter}
    ),
    b AS (
      SELECT event_type, ts_ms // {step_ms} AS bucket, cents,
             row_number() OVER (
               PARTITION BY event_type, ts_ms // {step_ms}
               ORDER BY ts_ms DESC, event_id DESC
             ) AS rn
      FROM e
    ),
    obs AS (SELECT event_type, bucket, cents FROM b WHERE rn = 1),
    span AS (
      SELECT event_type, MIN(bucket) AS lo, MAX(bucket) AS hi
      FROM obs GROUP BY event_type
    ),
    grid AS (
      SELECT event_type, unnest(generate_series(lo, hi)) AS bucket
      FROM span
    ),
    j AS (
      SELECT g.event_type, g.bucket, o.cents
      FROM grid g LEFT JOIN obs o
        ON o.event_type = g.event_type AND o.bucket = g.bucket
    )"""


# time constants (UTC) for the hour-filter / slicing queries
HOUR_FILTER_START_MS = 1704868200000  # 2024-01-10 06:30:00Z
HOUR_FILTER_END_MS = 1705776300000  # 2024-01-20 18:45:00Z
SLICE_START_MS = 1704067200000  # 2024-01-01
SLICE_END_MS = 1706659200000  # 2024-01-31
SLICE_INTERVAL_MS = 7 * 24 * 3600 * 1000


@register(
    "q04_point_get",
    """
    SELECT c_custkey, c_name, c_nationkey,
           CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS acctbal_cents
    FROM customer WHERE c_custkey = 42
    """,
)
def q04_point_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 point get (HBaseSerde.createGet:198-214) — an equality filter on
    the key column; pushes down to the scan."""
    c = load(spark, sf_dir, "customer")
    return c.filter(F.col("c_custkey") == 42).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        cents(F.col("c_acctbal")).alias("acctbal_cents"),
    )


@register(
    "q05_lookup_join",
    """
    SELECT o.o_orderkey, o.o_custkey, c.c_name,
           CAST(FLOOR(o.o_totalprice * 100) AS BIGINT) AS totalprice_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderkey % 3 = 0 AND c.c_custkey < 500
    """,
)
def q05_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 lookup join (HBaseRowDataLookupFunction.java:76-86): per-probe-row
    point get with *inner* semantics (misses emit nothing). Spark-first
    replacement: broadcast hash join on the rowkey — no per-row RPC."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 3 == 0)
    dim = load(spark, sf_dir, "customer").filter(F.col("c_custkey") < 500)
    return o.join(F.broadcast(dim), o.o_custkey == dim.c_custkey, "inner").select(
        "o_orderkey",
        "o_custkey",
        "c_name",
        cents(F.col("o_totalprice")).alias("totalprice_cents"),
    )


# ===========================================================================
# TSDB core — D1 salting, D3/E1 dedup, B1 hour filter, E2 rollup, J2 slices
# ===========================================================================

@register(
    "q10_salt_bucket",
    f"""
    WITH {TSDB_CELLS_CTE}
    SELECT DISTINCT metric_id, tags, {DUCK_SALT_BUCKET} AS bucket
    FROM cells
    """,
)
def q10_salt_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 — bit-exact Java Arrays.hashCode salting (TsdbBulkload.java:81-114)."""
    cells = tsdb.derive_tsdb_cells(load_events(spark, sf_dir, spread=True))
    bucket = salt_bucket(
        tsdb.salt_base_bytes(F.col("metric_id"), F.col("tags")),
        tsdb.DEFAULT_BUCKET_COUNT,
    )
    return cells.select("metric_id", "tags", bucket.alias("bucket")).distinct()


@register(
    "q11_latest_version_dedup",
    f"""
    WITH {TSDB_CELLS_CTE},
    c1 AS (
      SELECT metric_id, ts_hour, tags, offset_sec, version_ts,
             MAX(dvalue) AS dvalue
      FROM cells
      GROUP BY metric_id, ts_hour, tags, offset_sec, version_ts
    )
    SELECT metric_id, ts_hour, tags, offset_sec,
           MAX(version_ts) AS version_ts,
           CAST(FLOOR(arg_max(dvalue, version_ts) * 100) AS BIGINT) AS value_cents
    FROM c1
    GROUP BY metric_id, ts_hour, tags, offset_sec
    """,
)
def q11_latest_version_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3/E1 — newest-version-wins dedup (TsdbBulkload.java:129-139), done
    through the *binary* rowkey/qualifier/value codecs and decoded back —
    exercises I1/I5 end-to-end. A same-version collision goes to the
    greater value inside the dedup's one aggregate: the big-endian bytes
    of a non-negative double order as its value, so this is the oracle's
    MAX(dvalue) collapse with no second shuffle."""
    cells = tsdb.derive_tsdb_cells(load_events(spark, sf_dir, spread=True))
    deduped = tsdb.latest_version_dedup(cells, key_cols=("rowkey", "qualifier"))
    return deduped.select(
        decode_int_be(F.expr("substring(rowkey, 1, 3)"), 3).cast("int").alias("metric_id"),
        decode_int_be(F.expr("substring(rowkey, 4, 4)"), 4).alias("ts_hour"),
        F.decode(F.expr("substring(rowkey, 8, length(rowkey) - 7)"), "UTF-8").alias("tags"),
        decode_int_be(F.col("qualifier"), 2).cast("int").alias("offset_sec"),
        F.col("version_ts"),
        F.floor(decode_double_be(F.col("value")) * 100).cast("long").alias("value_cents"),
    )


@register(
    "q12_hour_range_filter",
    f"""
    SELECT event_id, epoch_ms(ts) // 1000 AS ts_sec
    FROM events
    WHERE (epoch_ms(ts) // 1000) - (epoch_ms(ts) // 1000) % 3600
          >= {(HOUR_FILTER_START_MS - HOUR_FILTER_START_MS % 3600000) // 1000}
      AND (epoch_ms(ts) // 1000) - (epoch_ms(ts) // 1000) % 3600
          < {(HOUR_FILTER_END_MS - HOUR_FILTER_END_MS % 3600000) // 1000}
    """,
)
def q12_hour_range_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1 — FuzzyRowFilter whole-hour semantics (TsdbScanner.java:16-57):
    rows match iff their *hour bucket* ∈ [floor_hour(start), floor_hour(end)),
    regardless of sub-hour offsets."""
    ev = load_events(spark, sf_dir).withColumn("ts_sec", F.expr("ts_ms div 1000"))
    return tsdb.hour_range_filter(ev, HOUR_FILTER_START_MS, HOUR_FILTER_END_MS).select(
        "event_id", "ts_sec"
    )


@register(
    "q13_rollup_5m",
    """
    SELECT (epoch_ms(ts) // 1000) - (epoch_ms(ts) // 1000) % 300 AS window_start_sec,
           event_type,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents,
           MIN(CAST(FLOOR(value * 100) AS BIGINT)) AS min_value_cents,
           MAX(CAST(FLOOR(value * 100) AS BIGINT)) AS max_value_cents
    FROM events
    GROUP BY 1, 2
    """,
)
def q13_rollup_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 — 5-minute tumbling rollup (rollup table layout,
    HBaseProperties.java:24; aggregation made explicit)."""
    return tsdb.rollup_5m(load_events(spark, sf_dir))


_N_SLICES = -(-(SLICE_END_MS - SLICE_START_MS) // SLICE_INTERVAL_MS)


@register(
    "q14_time_slices",
    f"""
    SELECT CAST(k AS INT) AS slice_idx,
           {SLICE_END_MS} - (k + 1) * {SLICE_INTERVAL_MS} AS slice_start,
           {SLICE_END_MS} - k * {SLICE_INTERVAL_MS} AS slice_end
    FROM (SELECT unnest(range(0, {_N_SLICES})) AS k)
    """,
)
def q14_time_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — newest-first batch time slicing (HBaseController.java:209-229);
    the oldest slice may overshoot start, faithfully."""
    slices = time_slices(SLICE_START_MS, SLICE_END_MS, SLICE_INTERVAL_MS)
    # inline VALUES → LocalRelation: no Python-RDD conversion path, no job
    rows = ", ".join(
        f"({s.slice_idx}, CAST({s.slice_start} AS BIGINT), CAST({s.slice_end} AS BIGINT))"
        for s in slices
    )
    return spark.sql(
        "SELECT slice_idx, slice_start, slice_end "
        f"FROM (VALUES {rows}) AS t(slice_idx, slice_start, slice_end)"
    )


@register(
    "q22_interval_join",
    f"""
    WITH slices AS (
      SELECT CAST(k AS INT) AS slice_idx,
             {SLICE_END_MS} - (k + 1) * {SLICE_INTERVAL_MS} AS slice_start,
             {SLICE_END_MS} - k * {SLICE_INTERVAL_MS} AS slice_end
      FROM (SELECT unnest(range(0, {_N_SLICES})) AS k)
    )
    SELECT e.event_id, epoch_ms(e.ts) AS ts_ms, s.slice_idx
    FROM events e JOIN slices s
      ON epoch_ms(e.ts) >= s.slice_start AND epoch_ms(e.ts) < s.slice_end
    """,
)
def q22_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-containment join: assign every event to its J2 time slice
    (HBaseController.java:209-229 slices × scanned rows, made a first-class
    operator). Bucketed equi-join — never BroadcastNestedLoopJoin; see
    operators/table.py:interval_join. Day-sized buckets against week-sized
    slices: each slice explodes to 8 bucket rows, each event owns one."""
    from hbase_bulkload_service_spark.operators.table import interval_join

    slices = q14_time_slices(spark, sf_dir)
    ev = load_events(spark, sf_dir).select("event_id", "ts_ms")
    return interval_join(
        ev, "ts_ms", slices, "slice_start", "slice_end", 24 * 3600 * 1000
    ).select("event_id", "ts_ms", "slice_idx")


@register(
    "q17_asof_join",
    """
    WITH probe AS (
      SELECT event_id, user_id, epoch_ms(ts) AS ts_ms
      FROM events WHERE event_type = 'click'
    ),
    build AS (
      SELECT user_id, epoch_ms(ts) AS bts,
             MAX(CAST(FLOOR(value * 100) AS BIGINT)) AS pc
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, epoch_ms(ts)
    )
    SELECT p.event_id, p.user_id, p.ts_ms AS click_ms,
           b.bts AS purchase_ms, b.pc AS purchase_cents
    FROM probe p ASOF LEFT JOIN build b
      ON p.user_id = b.user_id AND p.ts_ms >= b.bts
    """,
)
def q17_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 event-time upgrade — as-of join (latest purchase at-or-before each
    click, per user). The reference's lookup join is the processing-time
    special case (HBaseRowDataLookupFunction.java:76-86)."""
    ev = load_events(spark, sf_dir, spread=True)
    probe = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts_ms"
    )
    build = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts_ms", cents(F.col("value")).alias("purchase_cents")
    )
    return tbl.asof_join(build=build, probe=probe, key="user_id", ts="ts_ms").select(
        "event_id",
        "user_id",
        F.col("ts_ms").alias("click_ms"),
        F.col("asof_ts_ms").alias("purchase_ms"),
        F.col("asof_purchase_cents").alias("purchase_cents"),
    )


@register(
    "q18_session_windows",
    """
    WITH e AS (
      SELECT user_id, epoch_ms(ts) AS ts_ms, value FROM events
    ),
    m AS (
      SELECT user_id, ts_ms, value,
             CASE WHEN lag(ts_ms) OVER w IS NULL
                    OR ts_ms - lag(ts_ms) OVER w > 1800000
                  THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms)
    ),
    s AS (
      SELECT user_id, ts_ms, value,
             SUM(new_s) OVER (
               PARTITION BY user_id ORDER BY ts_ms ROWS UNBOUNDED PRECEDING
             ) AS session_seq
      FROM m
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           MIN(ts_ms) AS session_start_ms, MAX(ts_ms) AS session_end_ms,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
    FROM s GROUP BY user_id, session_seq
    """,
)
def q18_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 new-capability — session windows (30-min gap) via gaps-and-islands;
    session membership is tie-order-independent, so cross-engine stable."""
    ev = load_events(spark, sf_dir, spread=True)
    return tsdb.sessionize(ev).select(
        "user_id",
        F.col("session_seq").cast("long").alias("session_seq"),
        "session_start_ms",
        "session_end_ms",
        "n_events",
        "sum_value_cents",
    )


# ===========================================================================
# htable surface — A4/A7/C1/C2 scans, A8 point get, E3 SQL agg, serde
# round-trip (FIXTURES.md §3)
# ===========================================================================

HTABLE_CTE = """
htable AS (
  SELECT lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS rowkey,
         c_name, c_acctbal, c_nationkey, n_name, c_mktsegment
  FROM customer JOIN nation ON c_nationkey = n_nationkey
)
"""


@register(
    "q06_htable_scan_project",
    f"""
    WITH {HTABLE_CTE}
    SELECT rowkey, c_name AS f1_c_name, n_name AS f2_n_name
    FROM htable WHERE rowkey < lpad('500', 12, '0')
    """,
)
def q06_htable_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/C1/C2 — projected scan with rowkey range; qualifier-level nested
    projection (exceeds the reference's family-granularity pushdown,
    AbstractHBaseDynamicTableSource.java:86-90)."""
    ht = tbl.build_htable(spark, sf_dir).filter(
        F.col("rowkey") < tbl.rowkey_of_custkey(F.lit(500))
    )
    return tbl.scan(ht, {"f1": ["c_name"], "f2": ["n_name"]})


@register(
    "q07_htable_sql_agg",
    f"""
    WITH {HTABLE_CTE}
    SELECT n_name AS f2_n_name,
           CAST(SUM(CAST(FLOOR(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS sum_acctbal_cents,
           COUNT(*) AS cnt
    FROM htable GROUP BY n_name
    """,
)
def q07_htable_sql_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — the documented SQL surface
    (AbstractHBaseTableSource.java:54-65: SELECT t.fam2.col1,
    SUM(t.fam1.col2) FROM hTable t GROUP BY t.fam2.col1)."""
    ht = tbl.build_htable(spark, sf_dir)
    return ht.groupBy(F.col("f2.n_name").alias("f2_n_name")).agg(
        F.sum(cents(F.col("f1.c_acctbal"))).alias("sum_acctbal_cents"),
        F.count("*").alias("cnt"),
    )


@register(
    "q08_htable_point_get",
    f"""
    WITH {HTABLE_CTE}
    SELECT rowkey, c_name AS f1_c_name,
           CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS f1_acctbal_cents,
           n_name AS f2_n_name
    FROM htable WHERE rowkey = lpad('42', 12, '0')
    """,
)
def q08_htable_point_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 — point get on the nested table (HBaseSerde.createGet:198-214)."""
    ht = tbl.build_htable(spark, sf_dir)
    return tbl.point_get(ht, "0" * 10 + "42").select(
        "rowkey",
        F.col("f1.c_name").alias("f1_c_name"),
        cents(F.col("f1.c_acctbal")).alias("f1_acctbal_cents"),
        F.col("f2.n_name").alias("f2_n_name"),
    )


@register(
    "q16_delete_rows",
    f"""
    WITH {HTABLE_CTE}
    SELECT rowkey, c_name AS f1_c_name, n_name AS f2_n_name
    FROM htable h
    WHERE NOT EXISTS (
      SELECT 1 FROM customer d
      WHERE d.c_custkey % 7 = 0 AND lpad(CAST(d.c_custkey AS VARCHAR), 12, '0') = h.rowkey
    )
    """,
)
def q16_delete_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H5 — delete mutation (HBaseSerde.createDeleteMutation:151-173) as a
    broadcast left-anti join over the snapshot."""
    ht = tbl.build_htable(spark, sf_dir)
    doomed = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 7 == 0)
        .select(tbl.rowkey_of_custkey(F.col("c_custkey")).alias("rowkey"))
    )
    return tbl.delete_rows(ht, doomed).select(
        "rowkey",
        F.col("f1.c_name").alias("f1_c_name"),
        F.col("f2.n_name").alias("f2_n_name"),
    )


@register(
    "q15_upsert_put",
    f"""
    WITH {HTABLE_CTE},
    puts AS (
      SELECT lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS rowkey,
             c_name, c_acctbal + 1000.0 AS c_acctbal, c_nationkey,
             n_name, 'UPSERTED' AS c_mktsegment
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      WHERE c_custkey % 10 = 0
    ),
    merged AS (
      SELECT * FROM htable h
      WHERE NOT EXISTS (SELECT 1 FROM puts p WHERE p.rowkey = h.rowkey)
      UNION ALL
      SELECT * FROM puts
    )
    SELECT rowkey, c_name AS f1_c_name,
           CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS f1_acctbal_cents,
           c_mktsegment AS f2_mktseg
    FROM merged
    """,
)
def q15_upsert_put(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H4 — upsert Put mutation batch (HBaseSerde.createPutMutation:119-144)
    applied to a snapshot: matched keys replaced whole-row, new values win."""
    ht = tbl.build_htable(spark, sf_dir)
    puts = ht.filter(
        F.col("rowkey").cast("long") % 10 == 0
    ).select(
        "rowkey",
        F.struct(
            F.col("f1.c_name").alias("c_name"),
            (F.col("f1.c_acctbal") + 1000.0).alias("c_acctbal"),
            F.col("f1.c_nationkey").alias("c_nationkey"),
        ).alias("f1"),
        F.struct(
            F.col("f2.n_name").alias("n_name"),
            F.lit("UPSERTED").alias("c_mktsegment"),
        ).alias("f2"),
    )
    return tbl.upsert_rows(ht, puts).select(
        "rowkey",
        F.col("f1.c_name").alias("f1_c_name"),
        cents(F.col("f1.c_acctbal")).alias("f1_acctbal_cents"),
        F.col("f2.c_mktsegment").alias("f2_mktseg"),
    )


@register(
    "q09_cells_roundtrip",
    f"""
    WITH {HTABLE_CTE}
    SELECT rowkey, c_name,
           CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS acctbal_cents,
           c_nationkey, n_name, c_mktsegment
    FROM htable
    """,
)
def q09_cells_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/A5 + H4 — nested rows → long-form binary cells (Put serde) →
    pivot back to nested rows (scan serde); proves the byte codecs
    round-trip every declared type on real data."""
    ht = tbl.build_htable(spark, sf_dir, spread=True)
    cells = tbl.encode_htable_cells(ht, tbl.HTABLE_SCHEMA)
    back = tbl.decode_cells_htable(cells, tbl.HTABLE_SCHEMA)
    return back.select(
        "rowkey",
        F.col("f1.c_name").alias("c_name"),
        cents(F.col("f1.c_acctbal")).alias("acctbal_cents"),
        F.col("f1.c_nationkey").alias("c_nationkey"),
        F.col("f2.n_name").alias("n_name"),
        F.col("f2.c_mktsegment").alias("c_mktsegment"),
    )


# ===========================================================================
# q50 — maintenance catalog queries (K3 policy over a derived region catalog)
# ===========================================================================

MAINT_NOW_MS = 1754006400000  # 2025-08-01T00:00:00Z (fixed for determinism)


def _derived_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic region catalog derived from orders (shared by the
    maintenance-policy queries)."""
    o = load(spark, sf_dir, "orders")
    o = o.withColumn("od_ms", epoch_millis(o, "o_orderdate"))
    return (
        o.groupBy((F.col("o_custkey") % 64).cast("int").alias("bucket"))
        .agg(
            F.expr("min(od_ms) div 1000").alias("start_time_sec"),
            F.expr("max(od_ms) div 1000").alias("end_time_sec"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("size_bytes"),
        )
        .select(
            F.concat(F.lit("r"), F.col("bucket")).alias("region_name"),
            F.col("bucket").alias("start_bucket"),
            F.col("bucket").alias("end_bucket"),
            "start_time_sec",
            "end_time_sec",
            "size_bytes",
        )
    )


@register(
    "q50_backup_candidates",
    f"""
    WITH regions AS (
      SELECT 'r' || CAST(o_custkey % 64 AS VARCHAR) AS region_name,
             CAST(o_custkey % 64 AS INT) AS start_bucket,
             CAST(o_custkey % 64 AS INT) AS end_bucket,
             MIN(epoch_ms(o_orderdate)) // 1000 AS start_time_sec,
             MAX(epoch_ms(o_orderdate)) // 1000 AS end_time_sec,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS size_bytes
      FROM orders GROUP BY o_custkey % 64
    )
    SELECT * FROM regions
    WHERE start_bucket = end_bucket
      AND end_time_sec * 1000 < {MAINT_NOW_MS - maintenance.LONG_INTERVAL_MS}
      AND size_bytes > {maintenance.BACKUP_MIN_BYTES}
    """,
)
def q50_backup_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 backup qualification over a deterministic region catalog derived
    from orders (HBaseManager.backupHFileToOSS:186-263 policy)."""
    return maintenance.backup_candidates(_derived_regions(spark, sf_dir), MAINT_NOW_MS)


@register(
    "q51_removal_plan",
    f"""
    WITH regions AS (
      SELECT 'r' || CAST(o_custkey % 64 AS VARCHAR) AS region_name,
             CAST(o_custkey % 64 AS INT) AS start_bucket,
             CAST(o_custkey % 64 AS INT) AS end_bucket,
             MIN(epoch_ms(o_orderdate)) // 1000 AS start_time_sec,
             MAX(epoch_ms(o_orderdate)) // 1000 AS end_time_sec,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS size_bytes
      FROM orders GROUP BY o_custkey % 64
    ),
    status AS (
      SELECT region_name,
             CASE WHEN start_bucket % 3 = 0 THEN 'SUCCEEDED'
                  WHEN start_bucket % 3 = 1 THEN 'RUNNING'
                  ELSE 'FAILED' END AS status
      FROM regions
    )
    SELECT r.* FROM regions r JOIN status s USING (region_name)
    WHERE s.status = 'SUCCEEDED'
    """,
)
def q51_removal_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 — backed-up-region removal plan (HBaseManager.removeBackupedHFile
    :268-288): joins the catalog to a deterministic DistCp status table."""
    regions = _derived_regions(spark, sf_dir)
    status = regions.select(
        "region_name",
        F.element_at(
            F.array(F.lit("SUCCEEDED"), F.lit("RUNNING"), F.lit("FAILED")),
            (F.col("start_bucket") % 3 + 1).cast("int"),
        ).alias("status"),
    )
    return maintenance.removal_plan(regions, status)


MERGE_NOW_MS = 946684800000  # 2000-01-01Z: hot window covers the order dates


# the three deterministic size classes exercise every branch of the K2 walk:
# 50 MB (< lowerSize -> pending/absorbed), 1 GB (in-window merge candidate),
# 6 GB (> upperSize -> resets the pending region)
_SIZE_CLASSES = (50_000_000, 1_000_000_000, 6_000_000_000)

_MERGE_REGIONS_SQL = f"""
  SELECT 'r' || CAST(o_custkey % 64 AS VARCHAR) AS region_name,
         CAST(o_custkey % 64 AS INT) AS start_bucket,
         CAST(o_custkey % 64
              + CASE WHEN (o_custkey % 64) % 11 = 5 THEN 1 ELSE 0 END AS INT)
           AS end_bucket,
         MIN(epoch_ms(o_orderdate)) // 1000 AS start_time_sec,
         MAX(epoch_ms(o_orderdate)) // 1000 AS end_time_sec,
         [{_SIZE_CLASSES[0]}, {_SIZE_CLASSES[1]}, {_SIZE_CLASSES[2]}]
           [CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) % 3 + 1 AS INT)]
           AS size_bytes
  FROM orders GROUP BY o_custkey % 64
"""


# one step of the HBaseManager.mergeSmallRegion walk, as shared CASE arms:
# branch order mirrors maintenance.plan_merges exactly.
_W_CROSS = "o.start_bucket != o.end_bucket"
_W_ADOPT_SMALL = f"w.a_name IS NULL AND o.size_bytes < {maintenance.LOWER_SIZE}"
_W_MERGE_PENDING = f"w.a_name IS NOT NULL AND w.a_size < {maintenance.LOWER_SIZE}"
_W_RESET = (
    f"o.end_time_sec * 1000 < {MERGE_NOW_MS - maintenance.LONG_INTERVAL_MS} "
    f"OR o.start_time_sec * 1000 > {MERGE_NOW_MS - maintenance.SHORT_INTERVAL_MS} "
    f"OR o.size_bytes > {maintenance.UPPER_SIZE}"
)


def _walk_case(on_cross, on_adopt, on_merge, on_reset, on_a_null, on_else) -> str:
    return f"""CASE WHEN {_W_CROSS} THEN {on_cross}
         WHEN {_W_ADOPT_SMALL} THEN {on_adopt}
         WHEN {_W_MERGE_PENDING} THEN {on_merge}
         WHEN {_W_RESET} THEN {on_reset}
         WHEN w.a_name IS NULL THEN {on_a_null}
         ELSE {on_else} END"""


MERGE_PLAN_ORACLE = f"""
    WITH RECURSIVE regions AS ({_MERGE_REGIONS_SQL}),
    ordered AS (
      SELECT *, row_number() OVER (ORDER BY start_bucket) AS rn FROM regions
    ),
    walk(rn, a_name, a_size, merge_a, merge_b) AS (
      SELECT 0, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
             CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
      UNION ALL
      SELECT o.rn,
        {_walk_case("NULL", "o.region_name", "NULL", "NULL", "o.region_name", "NULL")},
        {_walk_case("NULL", "o.size_bytes", "NULL", "NULL", "o.size_bytes", "NULL")},
        {_walk_case("NULL", "NULL", "w.a_name", "NULL", "NULL", "w.a_name")},
        {_walk_case("NULL", "NULL", "o.region_name", "NULL", "NULL", "o.region_name")}
      FROM walk w JOIN ordered o ON o.rn = w.rn + 1
    )
    SELECT merge_a AS region_a, merge_b AS region_b
    FROM walk WHERE merge_a IS NOT NULL
    """


@register("q53_merge_plan", MERGE_PLAN_ORACLE)
def q53_merge_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 — adjacent-region merge plan (HBaseManager.mergeSmallRegion:75-181)
    over a deterministic catalog derived from orders. The walk itself is a
    sequential state machine over the *region catalog* — metadata, O(regions)
    rows (thousands at 100 TB), so it runs driver-side after a distributed
    catalog aggregation; the oracle mirrors it with a recursive CTE."""
    o = load(spark, sf_dir, "orders")
    o = o.withColumn("od_ms", epoch_millis(o, "o_orderdate"))
    catalog = (
        o.groupBy((F.col("o_custkey") % 64).cast("int").alias("bucket"))
        .agg(
            F.expr("min(od_ms) div 1000").alias("start_time_sec"),
            F.expr("max(od_ms) div 1000").alias("end_time_sec"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("sum_cents"),
        )
        .select(
            F.concat(F.lit("r"), F.col("bucket")).alias("region_name"),
            F.col("bucket").alias("start_bucket"),
            (
                F.col("bucket")
                + F.when(F.col("bucket") % 11 == 5, 1).otherwise(0)
            ).cast("int").alias("end_bucket"),
            "start_time_sec",
            "end_time_sec",
            F.element_at(
                F.array(*[F.lit(s) for s in _SIZE_CLASSES]),
                (F.col("sum_cents") % 3 + 1).cast("int"),
            ).alias("size_bytes"),
        )
        .orderBy("start_bucket")
        .collect()
    )
    regions = [
        maintenance.Region(
            r.region_name,
            r.start_bucket,
            r.end_bucket,
            r.start_time_sec,
            r.end_time_sec,
            r.size_bytes,
        )
        for r in catalog
    ]
    merges = maintenance.plan_merges(regions, MERGE_NOW_MS)
    return local_frame(spark, merges, "region_a string, region_b string")


@register(
    "q52_restore_plan",
    f"""
    WITH regions AS (
      SELECT 'r' || CAST(o_custkey % 64 AS VARCHAR) AS region_name,
             CAST(o_custkey % 64 AS INT) AS start_bucket,
             CAST(o_custkey % 64 AS INT) AS end_bucket,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS size_bytes
      FROM orders GROUP BY o_custkey % 64
    ),
    live AS (
      SELECT 'live' || CAST(g AS VARCHAR) AS region_name,
             CAST(g * 8 AS INT) AS start_bucket,
             CAST(g * 8 + 7 AS INT) AS end_bucket
      FROM (SELECT unnest(range(0, 8)) AS g)
    )
    SELECT 'b_' || r.region_name AS backup_name, r.start_bucket AS bucket,
           r.size_bytes, l.region_name AS target_region
    FROM regions r JOIN live l
      ON r.start_bucket >= l.start_bucket AND r.start_bucket <= l.end_bucket
    """,
)
def q52_restore_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5/K6 — restore grafting plan (HbaseRepairRunner.java:41-121): map
    each backup's bucket to the live region whose range covers it."""
    regions = _derived_regions(spark, sf_dir)
    backups = regions.select(
        F.concat(F.lit("b_"), F.col("region_name")).alias("backup_name"),
        F.col("start_bucket").alias("bucket"),
        "size_bytes",
    )
    live = spark.range(8).select(
        F.concat(F.lit("live"), F.col("id")).alias("region_name"),
        (F.col("id") * 8).cast("int").alias("start_bucket"),
        (F.col("id") * 8 + 7).cast("int").alias("end_bucket"),
    )
    return maintenance.restore_plan(backups, live)


# ===========================================================================
# q66 — the K2 merge walk through the DISTRIBUTED planner (plan_merges_df):
# same deterministic catalog and the same recursive-CTE oracle as q53, but
# the walk runs as the partition-parallel transfer-function scan — catalog
# rows never reach the driver (million-region posture).
# ===========================================================================

@register(
    "q66_merge_plan_df",
    MERGE_PLAN_ORACLE,
)
def q66_merge_plan_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 at catalog scale (HBaseManager.mergeSmallRegion:75-181): the
    exact walk of q53 executed by maintenance.plan_merges_df — per
    partition, the 3-tag automaton runs once per possible entry state;
    the driver composes only 3-rows-per-partition summaries. Matching
    q53's oracle proves the distributed scan is value-identical to the
    sequential walk on the driver gate, not just in unit tests."""
    o = load(spark, sf_dir, "orders")
    o = o.withColumn("od_ms", epoch_millis(o, "o_orderdate"))
    catalog = (
        o.groupBy((F.col("o_custkey") % 64).cast("int").alias("bucket"))
        .agg(
            F.expr("min(od_ms) div 1000").alias("start_time_sec"),
            F.expr("max(od_ms) div 1000").alias("end_time_sec"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("sum_cents"),
        )
        .select(
            F.concat(F.lit("r"), F.col("bucket")).alias("region_name"),
            F.col("bucket").alias("start_bucket"),
            (
                F.col("bucket")
                + F.when(F.col("bucket") % 11 == 5, 1).otherwise(0)
            ).cast("int").alias("end_bucket"),
            "start_time_sec",
            "end_time_sec",
            F.element_at(
                F.array(*[F.lit(s) for s in _SIZE_CLASSES]),
                (F.col("sum_cents") % 3 + 1).cast("int"),
            ).alias("size_bytes"),
        )
    )
    return maintenance.plan_merges_df(
        catalog, MERGE_NOW_MS,
        order_cols=("start_bucket",), num_partitions=4,
    )


# ===========================================================================
# q28 — skew-salted join
# ===========================================================================

@register(
    "q28_salted_join",
    """
    WITH probe AS (
      SELECT CASE WHEN l_orderkey % 10 < 5 THEN 0
                  ELSE CAST(l_suppkey % 100 AS BIGINT) END AS skew_key,
             CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
    ),
    dim AS (
      SELECT CAST(s_suppkey % 100 AS BIGINT) AS skew_key,
             COUNT(*) AS dim_cnt
      FROM supplier GROUP BY s_suppkey % 100
    )
    SELECT p.skew_key, d.dim_cnt,
           COUNT(*) AS n_rows,
           CAST(SUM(p.cents) AS BIGINT) AS sum_cents
    FROM probe p JOIN dim d USING (skew_key)
    GROUP BY p.skew_key, d.dim_cnt
    """,
)
def q28_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigating salted join on a deliberately skewed key (half the
    probe rows share key 0 — the hot-metric/celebrity-user shape). Result
    is identical to the plain equi-join; the salt spreads the hot key
    across salt_partitions tasks. See table.salted_join for the AQE
    interplay."""
    li = load(spark, sf_dir, "lineitem")
    probe = li.select(
        F.when(F.col("l_orderkey") % 10 < 5, F.lit(0).cast("long"))
        .otherwise((F.col("l_suppkey") % 100).cast("long"))
        .alias("skew_key"),
        cents(F.col("l_extendedprice")).alias("cents"),
        "l_orderkey",
    )
    dim = (
        load(spark, sf_dir, "supplier")
        .groupBy((F.col("s_suppkey") % 100).cast("long").alias("skew_key"))
        .agg(F.count("*").alias("dim_cnt"))
    )
    joined = tbl.salted_join(
        probe, dim, "skew_key", salt_partitions=8, salt_source="l_orderkey"
    )
    return joined.groupBy("skew_key", "dim_cnt").agg(
        F.count("*").alias("n_rows"),
        F.sum("cents").alias("sum_cents"),
    )


@register(
    "q57_sql_surface",
    f"""
    WITH {HTABLE_CTE}
    SELECT n_name,
           CAST(SUM(CAST(FLOOR(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS sum_acctbal_cents,
           COUNT(*) AS cnt
    FROM htable
    WHERE rowkey LIKE '000000000%'
    GROUP BY n_name
    """,
)
def q57_sql_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3/§3.2 — the reference's documented SQL surface run literally as
    SQL text over a registered table (AbstractHBaseTableSource.java:54-65:
    ``SELECT t.fam2.col1, SUM(t.fam1.col2) FROM hTable t WHERE t.rowkey
    LIKE 'flink%' GROUP BY t.fam2.col1``): nested family access, a rowkey
    prefix LIKE, and a grouped aggregate — parsed and planned by Catalyst
    (the reference hands the same job to Flink's planner; only projection
    pushdown lives in the connector). The prefix LIKE compiles to a
    StartsWith filter that prunes on a key-sorted layout."""
    from hbase_bulkload_service_spark.operators import table as htbl

    htbl.build_htable(spark, sf_dir).createOrReplaceTempView("htable_t")
    return spark.sql(
        """
        SELECT t.f2.n_name AS n_name,
               SUM(CAST(FLOOR(t.f1.c_acctbal * 100) AS BIGINT)) AS sum_acctbal_cents,
               COUNT(*) AS cnt
        FROM htable_t t
        WHERE t.rowkey LIKE '000000000%'
        GROUP BY t.f2.n_name
        """
    )


@register(
    "q59_bucketed_join",
    """
    WITH fact AS (
      SELECT CAST(o_custkey % 64 AS INT) AS bucket,
             CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    dim AS (
      SELECT DISTINCT CAST(o_custkey % 64 AS INT) AS bucket,
             CAST(o_custkey % 64 AS BIGINT) * 2 + 1 AS factor
      FROM orders
    )
    SELECT f.bucket, d.factor,
           COUNT(*) AS n_rows,
           CAST(SUM(f.cents) AS BIGINT) AS sum_cents
    FROM fact f JOIN dim d USING (bucket)
    GROUP BY f.bucket, d.factor
    """,
)
def q59_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 at full strength through the gate: fact + dim written as
    CLUSTERED BY (bucket) tables (the pre-split HBase table's Spark twin,
    HBaseManager.java:56-70 + :370-402 split keys), re-read from the
    bucketed layout, then joined and aggregated ON the bucket key — the
    physical plan satisfies the join/agg distribution from the scan, so
    at scale this runs with ZERO exchanges (pinned by
    test_maintenance_schema.test_bucketed_table_plans_zero_exchanges);
    here the driver gate additionally pins the RESULT through the
    bucketed write/read path."""
    import shutil
    import tempfile

    o = load(spark, sf_dir, "orders")
    fact = o.select(
        (F.col("o_custkey") % 64).cast("int").alias("bucket"),
        cents(F.col("o_totalprice")).alias("cents"),
    )
    dim = (
        o.select((F.col("o_custkey") % 64).cast("int").alias("bucket"))
        .distinct()
        .withColumn("factor", F.col("bucket").cast("long") * 2 + 1)
    )
    d = tempfile.mkdtemp(prefix="q59bkt")
    try:
        t1 = maintenance.create_bucketed_table(
            fact, "q59_fact", f"{d}/fact", file_buckets=8
        )
        t2 = maintenance.create_bucketed_table(
            dim, "q59_dim", f"{d}/dim", file_buckets=8
        )
        out = (
            t1.join(t2, "bucket")
            .groupBy("bucket", "factor")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum("cents").alias("sum_cents"),
            )
        )
        rows = out.collect()
    finally:
        for t in ("q59_fact", "q59_dim"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(d, ignore_errors=True)
    return local_frame(spark,
        rows, "bucket int, factor long, n_rows long, sum_cents long"
    )


@register(
    "q61_index_lookup",
    f"""
    WITH {HTABLE_CTE}
    SELECT rowkey, c_name,
           CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS acctbal_cents,
           n_name
    FROM htable WHERE c_mktsegment = 'BUILDING'
    """,
)
def q61_index_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Secondary-index read path: build the (c_mktsegment → rowkey) index
    table, resolve the predicate IN THE INDEX, then broadcast-semi-join
    the rowkey hits back into the primary table — the HBase index-table
    idiom (native HBase would full-scan for any non-rowkey predicate).
    Result == the plain filter, which is exactly what the oracle runs."""
    ht = tbl.build_htable(spark, sf_dir, spread=True)
    idx = tbl.build_index(ht, "f2.c_mktsegment")
    return tbl.index_lookup(ht, idx, "BUILDING").select(
        "rowkey",
        F.col("f1.c_name").alias("c_name"),
        cents(F.col("f1.c_acctbal")).alias("acctbal_cents"),
        F.col("f2.n_name").alias("n_name"),
    )


@register(
    "q62_rollup_cascade",
    """
    SELECT (epoch_ms(ts) // 1000) - (epoch_ms(ts) // 1000) % 3600 AS window_start_sec,
           event_type,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents,
           MIN(CAST(FLOOR(value * 100) AS BIGINT)) AS min_value_cents,
           MAX(CAST(FLOOR(value * 100) AS BIGINT)) AS max_value_cents
    FROM events
    GROUP BY 1, 2
    """,
)
def q62_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 cascade: the 1-hour rollup computed from the 5-MINUTE rollup
    (count/sum/min/max re-aggregate exactly), while the oracle aggregates
    raw events straight to 1 hour — equality proves the downsample chain
    is lossless, the property the reference's rollup table depends on.
    At 100 TB the cascade reads the pre-aggregate, not the raw table."""
    r5 = tsdb.rollup_5m(load_events(spark, sf_dir, spread=True))
    return tsdb.rollup_cascade_1h(r5)


# ===========================================================================
# q63 — Put/Delete mutation-log resolution (HBase tombstone read path)
# ===========================================================================

@register(
    "q63_mutation_resolve",
    """
    WITH m AS (
      SELECT CAST(user_id % 100 AS BIGINT) AS k, event_type,
             event_id AS seq,
             CASE WHEN event_id % 7 = 0 THEN 'D' ELSE 'P' END AS op,
             CAST(FLOOR(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    latest AS (
      SELECT k, event_type,
             arg_max(seq, seq) AS seq,
             arg_max(op, seq) AS op,
             arg_max(cents, seq) AS cents
      FROM m GROUP BY k, event_type
    )
    SELECT k, event_type, seq, cents FROM latest WHERE op = 'P'
    """,
)
def q63_mutation_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H4+H5 combined — a Put/Delete mutation log resolved to the visible
    snapshot (highest sequence wins; Delete tombstones suppress the row),
    i.e. HBase's compaction/read semantics over our upsert+delete surface.
    event_id is the unique mutation sequence, so the winner is
    deterministic. See table.resolve_mutations."""
    m = load_events(spark, sf_dir, spread=True).select(
        (F.col("user_id") % 100).alias("k"),
        "event_type",
        F.col("event_id").alias("seq"),
        F.when(F.col("event_id") % 7 == 0, F.lit("D")).otherwise(F.lit("P")).alias("op"),
        cents(F.col("value")).alias("cents"),
    )
    return tbl.resolve_mutations(m, key_cols=("k", "event_type"))


# ===========================================================================
# q64 — extended cell-serde roundtrip: per-table charset (ISO-8859-1),
# legacy Date-as-long codec (HBaseTypeUtils.java:70-76), INTERVAL
# YEAR-MONTH / DAY-TIME codecs (HBaseSerde.java:300,313) and DECIMAL
# (HBaseSerde.java:338-345) — the q09 family's coverage of the rest of
# the §1.3 type table.
# ===========================================================================

@register(
    "q64_cells_roundtrip_ext",
    """
    SELECT CAST(o_orderkey AS VARCHAR) AS rowkey,
           o_orderpriority || 'é' AS prio_ext,
           CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS BIGINT) AS odate_days,
           CAST(CAST((o_orderkey % 4000) * 125 / 1000.0 AS DECIMAL(18,3)) * 1000 AS BIGINT)
             AS dec_milli,
           CAST(o_orderkey % 120 AS BIGINT) AS ym_months,
           CAST((o_orderkey % 90000) * 1500 AS BIGINT) AS dur_ms
    FROM orders WHERE o_orderkey % 10 = 0
    """,
)
def q64_cells_roundtrip_ext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I1 completion — encode→decode roundtrip over the §1.3 types q09
    doesn't cover: string in a non-UTF-8 per-table charset
    (HBaseTableSchema.java:55,126-128), DATE through the legacy
    8-byte-long codec (HBaseTypeUtils.java:72), INTERVAL_YEAR_MONTH /
    INTERVAL_DAY_TIME (HBaseSerde.java:300,313), and DECIMAL
    (HBaseSerde.java:338-345). The oracle recomputes the expected values
    directly — a codec defect surfaces as a value mismatch."""
    from pyspark.sql.types import (
        DateType,
        DayTimeIntervalType,
        DecimalType,
        StringType,
        YearMonthIntervalType,
    )

    from hbase_bulkload_service_spark.functions import codec
    from hbase_bulkload_service_spark.schema import HBaseTableSchema

    schema = (
        HBaseTableSchema(charset="ISO-8859-1")
        .set_row_key("rowkey", StringType())
        .add_column("f1", "prio_ext", StringType())
        .add_column("f1", "odate", DateType())
        .add_column("f1", "dec", DecimalType(18, 3))
        .add_column("f2", "ym", YearMonthIntervalType())
        .add_column("f2", "dur", DayTimeIntervalType())
    )
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    nested = orders.select(
        F.col("o_orderkey").cast("string").alias("rowkey"),
        F.struct(
            F.concat(F.col("o_orderpriority"), F.lit("é")).alias("prio_ext"),
            F.col("o_orderdate").alias("odate"),
            ((F.col("o_orderkey") % 4000) * 125 / F.lit(1000.0))
            .cast(DecimalType(18, 3))
            .alias("dec"),
        ).alias("f1"),
        F.struct(
            (F.col("o_orderkey") % 120).cast("int").cast(YearMonthIntervalType()).alias("ym"),
            codec.millis_to_interval_dt((F.col("o_orderkey") % 90000) * 1500)
            .cast(DayTimeIntervalType())
            .alias("dur"),
        ).alias("f2"),
    )
    cells = tbl.encode_htable_cells(nested, schema, legacy=True)
    back = tbl.decode_cells_htable(cells, schema, legacy=True)
    return back.select(
        "rowkey",
        F.col("f1.prio_ext").alias("prio_ext"),
        F.datediff(F.col("f1.odate"), F.lit("1970-01-01")).cast("long").alias("odate_days"),
        (F.col("f1.dec") * 1000).cast("long").alias("dec_milli"),
        codec.interval_ym_months(F.col("f2.ym")).cast("long").alias("ym_months"),
        codec.interval_dt_millis(F.col("f2.dur")).alias("dur_ms"),
    )


# ===========================================================================
# q70 — incremental rollup maintenance (merge partial rollups == full)
# ===========================================================================

@register(
    "q70_incremental_rollup",
    """
    SELECT (epoch_ms(ts) // 1000) - (epoch_ms(ts) // 1000) % 300 AS window_start_sec,
           event_type,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents,
           MIN(CAST(FLOOR(value * 100) AS BIGINT)) AS min_value_cents,
           MAX(CAST(FLOOR(value * 100) AS BIGINT)) AS max_value_cents
    FROM events
    GROUP BY 1, 2
    """,
)
def q70_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 maintenance path: the event stream split into a standing corpus
    (90%) and a newly-arrived delta (10%), each rolled up separately,
    then MERGED (tsdb.merge_rollups) — matching the full-recompute oracle
    proves the rollup's decomposability, which is what makes incremental
    materialized-rollup maintenance valid at 100 TB (aggregate the new
    partition only, merge with the standing table)."""
    from hbase_bulkload_service_spark.operators import tsdb as _tsdb
    from hbase_bulkload_service_spark.sources.tables import load_events as _le

    ev = _le(spark, sf_dir, spread=True)
    base = ev.filter(F.col("event_id") % 10 != 0)
    delta = ev.filter(F.col("event_id") % 10 == 0)
    return _tsdb.merge_rollups(_tsdb.rollup_5m(base), _tsdb.rollup_5m(delta))


# ===========================================================================
# q91 — sliding-window rollup (the remaining J3 window family member)
# ===========================================================================

@register(
    "q91_sliding_rollup",
    f"""
    WITH c AS (SELECT epoch_ms(ts) // 1000 AS tsec, event_type,
                      {CENTS_SQL} AS cents FROM events),
    e AS (SELECT tsec - tsec % 300 - k * 300 AS window_start_sec,
                 event_type, cents
          FROM c, (VALUES (0), (1)) t(k))
    SELECT window_start_sec, event_type, COUNT(*) AS cnt,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM e GROUP BY 1, 2
    """,
)
def q91_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (10-minute width, 5-minute slide) through Spark's
    built-in window() — every event contributes to exactly two
    overlapping windows. The oracle derives both window starts
    arithmetically (t - t%slide - k*slide for k in 0..w/s-1), proving
    the built-in's epoch-aligned boundary convention. See
    tsdb.rollup_sliding for the Expand + single-hash-agg plan shape."""
    from hbase_bulkload_service_spark.operators import tsdb as _tsdb

    ev = load_events(spark, sf_dir, spread=True).withColumn(
        "cents", cents(F.col("value"))
    )
    return _tsdb.rollup_sliding(ev, "10 minutes", "5 minutes")


# ===========================================================================
# q96 — counter → delta/rate conversion (OpenTSDB read-path `rate` op)
# ===========================================================================

@register(
    "q96_counter_deltas",
    f"""
    WITH c AS (
      SELECT event_type, user_id, event_id, epoch_ms(ts) AS ts_ms,
             {CENTS_SQL} AS cents
      FROM events
    ),
    d AS (
      SELECT event_type, user_id, event_id, ts_ms, cents,
             cents - LAG(cents) OVER w AS delta_cents,
             ts_ms - LAG(ts_ms) OVER w AS dt_ms
      FROM c
      WINDOW w AS (PARTITION BY event_type, user_id ORDER BY ts_ms, event_id)
    )
    SELECT * FROM d WHERE dt_ms IS NOT NULL
    """,
)
def q96_counter_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series consecutive-sample deltas (tsdb.counter_deltas) — the
    OpenTSDB ``rate``/``delta`` read-path operator the reference's
    counter bulkload feeds. One keyed shuffle + partition-local sort;
    both lags share a single Window operator."""
    from hbase_bulkload_service_spark.operators import tsdb as _tsdb

    ev = load_events(spark, sf_dir, spread=True).withColumn(
        "cents", cents(F.col("value"))
    )
    return _tsdb.counter_deltas(ev).select(
        "event_type", "user_id", "event_id", "ts_ms", "cents",
        "delta_cents", "dt_ms",
    )


# ===========================================================================
# q99 — small-file compaction executor (K2's file-level sibling), through
# the gate: fragment → compact → readback
# ===========================================================================

@register(
    "q99_compaction",
    f"""
    WITH c AS (
      SELECT CAST(event_id % 12 AS INT) AS region, {CENTS_SQL} AS cents
      FROM events
    )
    SELECT region, COUNT(*) AS cnt, CAST(SUM(cents) AS BIGINT) AS sum_cents,
           1 AS n_files
    FROM c GROUP BY 1
    """,
)
def q99_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction end-to-end (maintenance.compact_small_
    partitions — the HBase minor-compaction/file-count job, K2's
    file-level sibling): a deliberately fragmented layout (8 writer tasks
    × 12 region dirs = 8 files per region) is compacted to
    ``ceil(size/target)`` = 1 file per region, then read back. The gate
    pins BOTH content (count/sum per region unchanged by the rewrite)
    and layout (``n_files`` counted via input_file_name == 1). The
    driver-side dir walk is bounded metadata (one entry per partition);
    each rewrite is a distributed read→write committed through
    ``hfile.commit_dir``; its crash recovery is pinned in
    test_maintenance_exec."""
    import shutil
    import tempfile

    ev = load_events(spark, sf_dir, spread=True).select(
        (F.col("event_id") % 12).cast("int").alias("region"),
        cents(F.col("value")).alias("cents"),
    )
    d = tempfile.mkdtemp(prefix="q99compact")
    try:
        ev.repartition(8).write.mode("overwrite").partitionBy("region").parquet(d)
        maintenance.compact_small_partitions(spark, d)
        back = spark.read.parquet(d).select(
            F.col("region").cast("int").alias("region"),
            "cents",
            F.input_file_name().alias("fn"),
        )
        rows = (
            back.groupBy("region")
            .agg(
                F.count("*").alias("cnt"),
                F.sum("cents").alias("sum_cents"),
                F.countDistinct("fn").cast("int").alias("n_files"),
            )
            .collect()
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return local_frame(spark,
        rows, "region int, cnt long, sum_cents long, n_files int"
    )


# ===========================================================================
# q100 — column-family retention audit: maxVersions + TTL
# (the reference pins maxVersions=1 at table create, HBaseManager.java:380)
# ===========================================================================

_TTL_DAYS = 15


@register(
    "q100_retention_audit",
    f"""
    WITH {TSDB_CELLS_CTE},
    cut AS (SELECT MAX(version_ts) - {_TTL_DAYS} * 86400000 AS cutoff
            FROM cells),
    r AS (
      SELECT metric_id, version_ts, dvalue,
             row_number() OVER (
               PARTITION BY metric_id, ts_hour, tags, offset_sec
               ORDER BY version_ts DESC, dvalue DESC, event_id DESC
             ) AS rn
      FROM cells
    ),
    s AS (
      SELECT metric_id, dvalue,
             CASE WHEN version_ts < (SELECT cutoff FROM cut)
                    THEN 'ttl_expired'
                  WHEN rn > 1 THEN 'version_evicted'
                  ELSE 'kept' END AS retain_state
      FROM r
    )
    SELECT metric_id,
           COUNT(*) AS n_versions,
           COUNT(CASE WHEN retain_state = 'kept' THEN 1 END) AS n_kept,
           COUNT(CASE WHEN retain_state = 'ttl_expired' THEN 1 END) AS n_ttl,
           COUNT(CASE WHEN retain_state = 'version_evicted' THEN 1 END)
             AS n_evicted,
           CAST(SUM(CASE WHEN retain_state = 'kept'
                    THEN CAST(FLOOR(dvalue * 100) AS BIGINT) END) AS BIGINT)
             AS sum_kept_cents
    FROM s GROUP BY 1
    """,
)
def q100_retention_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HBase CF retention knobs as an auditable pass
    (maintenance.retention_flags): maxVersions=1 (exactly the reference's
    family config, HBaseManager.java:380) plus a 15-day TTL against the
    corpus's max version — each cell version labeled kept / ttl_expired /
    version_evicted, aggregated per metric. TTL precedence over version
    eviction (HBase evaluates TTL first) is part of the pinned contract.
    The now-cutoff is a 1-row bounded-metadata collect, same class as
    q53's catalog."""
    from hbase_bulkload_service_spark.operators import maintenance, tsdb as _tsdb

    # cache the derived cells for the duration of the call: the cutoff
    # aggregate and the retention pass both consume them, and without the
    # cache the derivation runs twice. Project to the retention columns
    # BEFORE persisting — a cache materializes its full schema, so caching
    # raw cells would force the binary rowkey/qualifier/value encodes
    # (the expensive part of the derivation) that retention never reads;
    # the pruned projection lets Catalyst drop them upstream of the
    # cache. Scoped — materialized result collected, cache released.
    cells = (
        _tsdb.derive_tsdb_cells(load_events(spark, sf_dir, spread=True))
        .select(
            "metric_id", "ts_hour", "tags", "offset_sec",
            "version_ts", "dvalue", "event_id",
        )
        .persist()
    )
    try:
        now_ms = cells.agg(F.max("version_ts")).collect()[0][0]
        flagged = maintenance.retention_flags(
            cells,
            key_cols=("metric_id", "ts_hour", "tags", "offset_sec"),
            version_col="version_ts",
            max_versions=1,
            ttl_ms=_TTL_DAYS * 86400000,
            now_ms=now_ms,
            tiebreak_cols=("dvalue", "event_id"),
        )
        rows = (
            flagged.groupBy("metric_id")
            .agg(
                F.count("*").alias("n_versions"),
                F.count(F.when(F.col("retain_state") == "kept", 1)).alias("n_kept"),
                F.count(F.when(F.col("retain_state") == "ttl_expired", 1)).alias(
                    "n_ttl"
                ),
                F.count(
                    F.when(F.col("retain_state") == "version_evicted", 1)
                ).alias("n_evicted"),
                F.sum(
                    F.when(
                        F.col("retain_state") == "kept",
                        F.floor(F.col("dvalue") * 100).cast("long"),
                    )
                ).alias("sum_kept_cents"),
            )
            .collect()
        )
    finally:
        cells.unpersist()
    return local_frame(spark,
        rows,
        "metric_id int, n_versions long, n_kept long, n_ttl long, "
        "n_evicted long, sum_kept_cents long",
    )


# ===========================================================================
# q112 — file-skipping stats manifest (zone map) over a written layout
# ===========================================================================


@register(
    "q112_file_stats",
    """
    SELECT l_returnflag AS rf,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(l_orderkey) AS BIGINT) AS min_l_orderkey,
           CAST(MAX(l_orderkey) AS BIGINT) AS max_l_orderkey,
           CAST(MIN(FLOOR(l_extendedprice * 100)) AS BIGINT) AS min_cents,
           CAST(MAX(FLOOR(l_extendedprice * 100)) AS BIGINT) AS max_cents
    FROM lineitem GROUP BY 1
    """,
)
def q112_file_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map manifest end-to-end: write lineitem partitioned by
    return flag (one file per partition), build the per-file stats
    manifest from the REAL files with
    operators/maintenance.py:collect_file_stats, key it back by the
    partition value — the oracle recomputes the same stats straight
    from the source table, proving manifest == data."""
    import shutil
    import tempfile

    li = load(spark, sf_dir, "lineitem", spread=True).select(
        "l_orderkey",
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        "l_returnflag",
    )
    d = tempfile.mkdtemp(prefix="q112zonemap")
    try:
        li.repartition("l_returnflag").write.partitionBy(
            "l_returnflag"
        ).mode("overwrite").parquet(d)
        manifest = maintenance.collect_file_stats(
            spark, d, ["l_orderkey", "cents"]
        )
        rows = manifest.select(
            F.regexp_extract("file", r"l_returnflag=([^/]+)", 1).alias("rf"),
            "n_rows",
            "min_l_orderkey",
            "max_l_orderkey",
            F.col("min_cents").alias("min_cents"),
            F.col("max_cents").alias("max_cents"),
        ).collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return local_frame(spark,
        rows,
        "rf string, n_rows long, min_l_orderkey long, max_l_orderkey long,"
        " min_cents long, max_cents long",
    )


# ===========================================================================
# q138 — time-weighted average downsample (zero-order hold)
# ===========================================================================


@register(
    "q138_time_weighted_avg",
    """
    WITH e AS (
      SELECT event_type, event_id, epoch_ms(ts) AS ts_ms,
             CAST(FLOOR(value * 100) AS BIGINT) AS cents
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ),
    b AS (
      SELECT event_type, event_id, ts_ms, cents,
             ts_ms // 3600000 AS bucket
      FROM e
    ),
    h AS (
      SELECT event_type, bucket, cents, ts_ms,
             COALESCE(
               lead(ts_ms) OVER (
                 PARTITION BY event_type, bucket ORDER BY ts_ms, event_id
               ),
               (bucket + 1) * 3600000
             ) - ts_ms AS hold_ms
      FROM b
    )
    SELECT event_type,
           CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents * hold_ms) AS BIGINT) AS num,
           CAST((MAX(bucket) + 1) * 3600000 - MIN(ts_ms) AS BIGINT)
             AS span_ms,
           CAST(SUM(cents * hold_ms)
                // ((MAX(bucket) + 1) * 3600000 - MIN(ts_ms)) AS BIGINT)
             AS twa
    FROM h GROUP BY event_type, bucket
    """,
)
def q138_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly zero-order-hold time-weighted average of the event value
    per event type — the downsample that is robust to irregular sample
    spacing (OpenTSDB downsampler family). ONE keyed exchange: the
    hold-time lead() window and the final agg share the
    (event_type, bucket) partitioning; integer-exact throughout."""
    ev = load_events(spark, sf_dir, spread=True).select(
        "event_type",
        "event_id",
        "ts_ms",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    return tsdb.time_weighted_avg(
        ev, series_col="event_type", ts_col="ts_ms",
        value_col="cents", id_col="event_id", bucket_ms=3_600_000,
    )


# ===========================================================================
# q141 — dense-grid resample + zero-order-hold fill
# ===========================================================================


@register(
    "q141_grid_fill",
    f"""
    WITH {duck_zoh_grid_ctes(900_000)}
    SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
           CAST(last_value(cents IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY bucket
             ROWS UNBOUNDED PRECEDING
           ) AS BIGINT) AS filled,
           cents IS NOT NULL AS is_observed
    FROM j
    """,
)
def q141_grid_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular 15-minute grid per event type with zero-order-hold fill:
    every slot between the series' first and last observation appears,
    gap slots carry the latest earlier value and is_observed=FALSE.
    Grid-sized state after the first exchange (tsdb.grid_fill)."""
    ev = load_events(spark, sf_dir, spread=True).select(
        "event_type",
        "event_id",
        "ts_ms",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    return tsdb.grid_fill(
        ev, series_col="event_type", ts_col="ts_ms",
        value_col="cents", id_col="event_id", step_ms=900_000,
    )


@register("q151_counter_rate", COUNTER_RATE_ORACLE)
def q151_counter_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series counter rate (tsdb.counter_rate): negative consecutive
    deltas are restarts — the post-reset value is the increase since the
    rebase (OpenTSDB counter semantics). The gate's per-user cents
    series resets constantly, exercising both branches on every series.
    ONE keyed exchange; rate is integer micros/sec (delta·1e9 div dt)."""
    ev = load_events(spark, sf_dir, spread=True).withColumn(
        "cents", cents(F.col("value"))
    )
    return tsdb.counter_rate(ev)


# ===========================================================================
# q152 — aligned two-series ratio on a shared ZOH grid
# ===========================================================================


@register(
    "q152_aligned_ratio",
    f"""
    WITH {duck_zoh_grid_ctes(900_000, "AND event_type IN ('click', 'view')")},
    fl AS (
      SELECT event_type, bucket,
             last_value(cents IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY bucket
               ROWS UNBOUNDED PRECEDING
             ) AS filled,
             cents IS NOT NULL AS is_observed
      FROM j
    ),
    p AS (
      SELECT bucket,
             MAX(CASE WHEN event_type = 'click' THEN filled END) AS a_val,
             MAX(CASE WHEN event_type = 'view' THEN filled END) AS b_val,
             MAX(CASE WHEN event_type = 'click' THEN is_observed END)
               AS a_observed,
             MAX(CASE WHEN event_type = 'view' THEN is_observed END)
               AS b_observed
      FROM fl GROUP BY bucket
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(a_val AS BIGINT) AS a_val, CAST(b_val AS BIGINT) AS b_val,
           a_observed, b_observed,
           CASE WHEN b_val <> 0
                THEN CAST((a_val * 1000000) // b_val AS BIGINT) END
             AS ratio_ppm
    FROM p
    WHERE a_val IS NOT NULL AND b_val IS NOT NULL
    """,
)
def q152_aligned_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """click/view ratio per 15-minute slot on the shared zero-order-hold
    grid (tsdb.align_series_ratio): both series ride ONE grid_fill
    subtree and a conditional-aggregate pivot separates them without a
    self-join. Integer ppm ratio; NULL (not an error) where the
    denominator holds at zero."""
    ev = load_events(spark, sf_dir, spread=True).select(
        "event_type",
        "event_id",
        "ts_ms",
        cents(F.col("value")).alias("cents"),
    )
    return tsdb.align_series_ratio(
        ev, series_a="click", series_b="view", step_ms=900_000
    )


# ===========================================================================
# q157 — dense grid + LINEAR interpolation fill
# ===========================================================================


@register(
    "q157_grid_fill_linear",
    f"""
    WITH {duck_zoh_grid_ctes(900_000)},
    fl AS (
      SELECT event_type, bucket,
             cents IS NOT NULL AS is_observed,
             last_value(cents IGNORE NULLS) OVER wf AS pv,
             last_value(CASE WHEN cents IS NOT NULL THEN bucket END
                        IGNORE NULLS) OVER wf AS pb,
             first_value(cents IGNORE NULLS) OVER wb AS nv,
             first_value(CASE WHEN cents IS NOT NULL THEN bucket END
                         IGNORE NULLS) OVER wb AS nb
      FROM j
      WINDOW wf AS (PARTITION BY event_type ORDER BY bucket
                    ROWS UNBOUNDED PRECEDING),
             wb AS (PARTITION BY event_type ORDER BY bucket
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
           CAST(CASE WHEN is_observed THEN pv
                ELSE pv + ((nv - pv) * (bucket - pb)) // (nb - pb)
                END AS BIGINT) AS filled,
           is_observed
    FROM fl
    """,
)
def q157_grid_fill_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular 15-minute grid per event type with LINEAR interpolation
    in the gaps (tsdb.grid_fill_linear): integer-truncating interp —
    engine-portable on decreasing series because Spark `div` and DuckDB
    `//` both truncate toward zero. Grid-sized state after the first
    exchange, like q141."""
    ev = load_events(spark, sf_dir, spread=True).select(
        "event_type",
        "event_id",
        "ts_ms",
        cents(F.col("value")).alias("cents"),
    )
    return tsdb.grid_fill_linear(ev, step_ms=900_000)


# ===========================================================================
# q158 — stale-series detection
# ===========================================================================

# fixed derivation: the generator's event range is Jan 2024 at every SF,
# so dropping the 'error' series after Jan 21 00:00 UTC makes it ~10 days
# stale against the corpus max while every live series stays minutes old
_CUTOFF_MS = 1_705_795_200_000  # 2024-01-21T00:00:00Z
_STALE_AFTER_MS = 5 * 86_400_000  # 5 days


@register(
    "q158_stale_series",
    f"""
    WITH c AS (
      SELECT event_type, epoch_ms(ts) AS ts_ms FROM events
      WHERE ts IS NOT NULL
        AND NOT (event_type = 'error' AND epoch_ms(ts) >= {_CUTOFF_MS})
    ),
    last AS (
      SELECT event_type, MAX(ts_ms) AS last_ts_ms FROM c GROUP BY event_type
    ),
    now AS (SELECT MAX(last_ts_ms) AS now_ms FROM last)
    SELECT event_type, last_ts_ms,
           now_ms - last_ts_ms AS age_ms,
           now_ms - last_ts_ms > {_STALE_AFTER_MS} AS is_stale
    FROM last CROSS JOIN now
    """,
)
def q158_stale_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-metric sweep (tsdb.stale_series): per series the last sample
    age against the corpus-max "now"; the fixture silences the 'error'
    series after a fixed date in BOTH engines, so the stale branch is
    live (every series in the raw corpus reports up to the final
    minutes). One combiner-bounded MAX agg + a 1-row broadcast."""
    ev = load_events(spark, sf_dir, spread=True).filter(
        ~(
            (F.col("event_type") == "error")
            & (F.col("ts_ms") >= _CUTOFF_MS)
        )
    )
    return tsdb.stale_series(ev, stale_after_ms=_STALE_AFTER_MS)


# ===========================================================================
# q159 — exact percentile downsample
# ===========================================================================


@register(
    "q159_percentile_downsample",
    f"""
    WITH c AS (
      SELECT event_type, epoch_ms(ts) // 3600000 AS bucket,
             {CENTS_SQL} AS cents
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ),
    r AS (
      SELECT event_type, bucket, cents,
             row_number() OVER (
               PARTITION BY event_type, bucket ORDER BY cents) AS rn,
             COUNT(*) OVER (PARTITION BY event_type, bucket) AS n
      FROM c
    ),
    ps AS (
      SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.95 AS DOUBLE),
                     CAST(0.99 AS DOUBLE)]) AS p
    )
    SELECT event_type, CAST(bucket AS BIGINT) AS bucket, p,
           cents AS quantile_value, CAST(n AS BIGINT) AS bucket_n
    FROM r CROSS JOIN ps
    WHERE rn = CAST(ceil(p * n) AS INT)
    """,
)
def q159_percentile_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p95/p99 per (event type, hour) — exact PERCENTILE_DISC over a
    composite time key (tsdb.percentile_downsample): the OpenTSDB
    percentile aggregator, latency dashboards' staple. ONE exchange on
    (series, bucket); rank + count windows share it; bucket width caps
    per-group sort state."""
    ev = load_events(spark, sf_dir, spread=True).select(
        "event_type",
        "ts_ms",
        cents(F.col("value")).alias("cents"),
    )
    return tsdb.percentile_downsample(
        ev, bucket_ms=3_600_000, ps=(0.5, 0.95, 0.99)
    )


# ===========================================================================
# q164 — time-weighted percentile downsample
# ===========================================================================


@register(
    "q164_time_weighted_percentile",
    f"""
    WITH e AS (
      SELECT event_type, event_id, epoch_ms(ts) AS ts_ms, {CENTS_SQL} AS cents
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ),
    b AS (
      SELECT event_type, event_id, ts_ms, cents,
             ts_ms // 3600000 AS bucket
      FROM e
    ),
    h AS (
      SELECT event_type, bucket, cents, ts_ms, event_id,
             COALESCE(lead(ts_ms) OVER (
                        PARTITION BY event_type, bucket
                        ORDER BY ts_ms, event_id),
                      (bucket + 1) * 3600000) - ts_ms AS hold
      FROM b
    ),
    c AS (
      SELECT event_type, bucket, cents, ts_ms, event_id,
             SUM(hold) OVER (PARTITION BY event_type, bucket
                             ORDER BY cents, ts_ms, event_id
                             ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(hold) OVER (PARTITION BY event_type, bucket) AS total,
             COUNT(*) OVER (PARTITION BY event_type, bucket) AS n
      FROM h
    ),
    f AS (
      SELECT *, row_number() OVER (PARTITION BY event_type, bucket
                                   ORDER BY cents, ts_ms, event_id) AS rk
      FROM c WHERE cum * 1000000 >= 500000 * total
    )
    SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
           CAST(500000 AS BIGINT) AS p_ppm, cents AS twp,
           CAST(total AS BIGINT) AS total_hold_ms, CAST(n AS BIGINT) AS n
    FROM f WHERE rk = 1
    """,
)
def q164_time_weighted_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted MEDIAN per (event type, hour)
    (tsdb.time_weighted_percentile): each sample weighted by its
    zero-order-hold duration — the percentile estimator a bursty
    sampling rate cannot bias, completing the downsampler family
    (q138 time-weighted avg, q159 rank percentile). ONE (series,
    bucket) exchange shared by the hold window, the cumulative-hold
    window, and the winner rank."""
    ev = load_events(spark, sf_dir, spread=True).select(
        "event_type",
        "event_id",
        "ts_ms",
        cents(F.col("value")).alias("cents"),
    )
    out = tsdb.time_weighted_percentile(
        ev, bucket_ms=3_600_000, p_ppm=500_000
    )
    return out.select(
        "event_type",
        "bucket",
        F.col("p_ppm").cast("long").alias("p_ppm"),
        "twp",
        "total_hold_ms",
        "n",
    )


# ===========================================================================
# q162 — composed read-path gate: percentiles OF counter rates
# ===========================================================================


@register(
    "q162_rate_percentiles",
    """
    WITH c AS (
      SELECT event_type, user_id, event_id, epoch_ms(ts) AS ts_ms,
             CAST(FLOOR(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    d AS (
      SELECT event_type, user_id, event_id, ts_ms, cents,
             cents - LAG(cents) OVER w AS raw_delta,
             ts_ms - LAG(ts_ms) OVER w AS dt_ms
      FROM c
      WINDOW w AS (PARTITION BY event_type, user_id ORDER BY ts_ms, event_id)
    ),
    f AS (SELECT * FROM d WHERE dt_ms IS NOT NULL AND dt_ms > 0),
    rate AS (
      SELECT event_type, ts_ms,
             CAST((CASE WHEN raw_delta < 0 THEN cents ELSE raw_delta END
                   * 1000000000) // dt_ms AS BIGINT) AS r
      FROM f
    ),
    b AS (SELECT event_type, ts_ms // 3600000 AS bucket, r FROM rate),
    rk AS (
      SELECT event_type, bucket, r,
             row_number() OVER (
               PARTITION BY event_type, bucket ORDER BY r) AS rn,
             COUNT(*) OVER (PARTITION BY event_type, bucket) AS n
      FROM b
    ),
    ps AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.99 AS DOUBLE)]) AS p)
    SELECT event_type, CAST(bucket AS BIGINT) AS bucket, p,
           r AS quantile_value, CAST(n AS BIGINT) AS bucket_n
    FROM rk CROSS JOIN ps
    WHERE rn = CAST(ceil(p * n) AS INT)
    """,
)
def q162_rate_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE classic TSDB latency panel, composed end-to-end and gated as
    one unit: q151's counter rates (reset-rebased, per user series)
    pooled per event type and downsampled to exact p50/p99 per hour by
    q159's machinery (tsdb.counter_rate -> tsdb.percentile_downsample).
    Proves the COMPOSITION agrees across engines, not just each stage
    (the q139 composed-gate idiom applied to the TSDB read path).
    Plan: the rate's (type,user) exchange feeds the percentile's
    (type,bucket) exchange — two keyed exchanges total."""
    ev = load_events(spark, sf_dir, spread=True).withColumn(
        "cents", cents(F.col("value"))
    )
    rates = tsdb.counter_rate(ev)
    return tsdb.percentile_downsample(
        rates,
        series_col="event_type",
        ts_col="ts_ms",
        value_col="rate_micros",
        bucket_ms=3_600_000,
        ps=(0.5, 0.99),
    )


# ===========================================================================
# q163 — threshold-breach episodes (gaps-and-islands alerting)
# ===========================================================================

_EPISODE_THR = 10_000  # cents; ~the top decile of the value distribution (p90 ≈ 11k)


@register(
    "q163_threshold_episodes",
    f"""
    WITH c AS (
      SELECT event_type, event_id, epoch_ms(ts) AS ts_ms,
             CAST(FLOOR(value * 100) AS BIGINT) AS cents
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ),
    r AS (
      SELECT event_type, ts_ms, cents,
             cents > {_EPISODE_THR} AS breach,
             row_number() OVER w AS rn,
             SUM(CASE WHEN cents > {_EPISODE_THR} THEN 1 ELSE 0 END)
               OVER w AS rnb
      FROM c
      WINDOW w AS (PARTITION BY event_type ORDER BY ts_ms, event_id)
    )
    SELECT event_type,
           CAST(MIN(ts_ms) AS BIGINT) AS start_ts,
           CAST(MAX(ts_ms) AS BIGINT) AS end_ts,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(MAX(cents) AS BIGINT) AS peak
    FROM r WHERE breach GROUP BY event_type, rn - rnb
    """,
)
def q163_threshold_episodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive above-threshold runs per event type collapsed into
    episode rows (tsdb.threshold_episodes) — the gaps-and-islands
    alerting primitive, done with two SAME-KEYED windows (rank + breach
    cumsum share one series exchange) instead of a self-join."""
    ev = load_events(spark, sf_dir, spread=True).select(
        "event_type",
        "event_id",
        "ts_ms",
        cents(F.col("value")).alias("cents"),
    )
    return tsdb.threshold_episodes(ev, threshold=_EPISODE_THR)


@register(
    "q165_slo_compliance",
    f"""
    WITH {duck_zoh_grid_ctes(900_000)},
    fl AS (
      SELECT event_type, bucket,
             last_value(cents IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY bucket
               ROWS UNBOUNDED PRECEDING
             ) AS filled
      FROM j
    )
    SELECT event_type,
           CAST((bucket * 900000) // 86400000 AS BIGINT) AS period,
           CAST(COUNT(*) AS BIGINT) AS slots,
           CAST(SUM(CASE WHEN filled <= 10000 THEN 1 ELSE 0 END) AS BIGINT)
             AS ok_slots,
           CAST((SUM(CASE WHEN filled <= 10000 THEN 1 ELSE 0 END) * 1000000)
                // COUNT(*) AS BIGINT) AS compliance_ppm
    FROM fl
    GROUP BY event_type, (bucket * 900000) // 86400000
    """,
)
def q165_slo_compliance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily SLO compliance per event type over the 15-minute ZOH grid
    (tsdb.slo_compliance — grid_fill composed into a period aggregate):
    share of slots whose HELD value sits at or under the p90 threshold,
    in integer ppm. Regularizing first is the semantics: silent
    breaching intervals accrue breach time through the held value
    instead of vanishing from a raw-sample ratio."""
    ev = load_events(spark, sf_dir, spread=True).select(
        "event_type",
        "event_id",
        "ts_ms",
        cents(F.col("value")).alias("cents"),
    )
    return tsdb.slo_compliance(
        ev, threshold=10_000, step_ms=900_000, period_ms=86_400_000
    )


# ===========================================================================
# q166 — burst detection over counter rates
# ===========================================================================


@register(
    "q166_rate_bursts",
    """
    WITH c AS (
      SELECT event_type, user_id, event_id, epoch_ms(ts) AS ts_ms,
             CAST(FLOOR(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    d AS (
      SELECT event_type, user_id, event_id, ts_ms, cents,
             cents - LAG(cents) OVER w AS raw_delta,
             ts_ms - LAG(ts_ms) OVER w AS dt_ms
      FROM c
      WINDOW w AS (PARTITION BY event_type, user_id ORDER BY ts_ms, event_id)
    ),
    f AS (SELECT * FROM d WHERE dt_ms IS NOT NULL AND dt_ms > 0),
    r AS (
      SELECT event_type, user_id, event_id, ts_ms, cents,
             CAST(CASE WHEN raw_delta < 0 THEN cents ELSE raw_delta END
                  AS BIGINT) AS delta,
             dt_ms, raw_delta < 0 AS is_reset,
             CAST((CASE WHEN raw_delta < 0 THEN cents ELSE raw_delta END
                   * 1000000000) // dt_ms AS BIGINT) AS rate_micros
      FROM f
    ),
    b AS (
      SELECT *,
             SUM(rate_micros) OVER wb AS base_sum,
             COUNT(rate_micros) OVER wb AS base_n
      FROM r
      WINDOW wb AS (PARTITION BY event_type, user_id
                    ORDER BY ts_ms, event_id
                    ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, user_id, event_id, ts_ms, cents, delta, dt_ms,
           is_reset, rate_micros,
           CAST(base_sum AS BIGINT) AS base_sum,
           CAST(base_n AS BIGINT) AS base_n,
           COALESCE(base_n = 4
                    AND rate_micros * 1 * base_n >= 3 * base_sum,
                    FALSE) AS is_burst
    FROM b
    """,
)
def q166_rate_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spike alert per user counter series (tsdb.rate_bursts): a sample
    bursts when its rate is >= 3x the mean of its previous 4 rates —
    compared DIVISION-FREE (rate·n >= 3·Σprev) so the verdict is
    integer-exact with no quotient convention. Completes the alerting
    family (q163 episodes = sustained level, q166 = sudden change).
    ONE keyed exchange end to end: the trailing window shares the rate
    lag window's series keying."""
    ev = load_events(spark, sf_dir, spread=True).withColumn(
        "cents", cents(F.col("value"))
    )
    return tsdb.rate_bursts(
        ev, window_n=4, factor_num=3, factor_den=1
    )


# ===========================================================================
# q211 — sort-key pruning planner (zone-map layout simulation)
# ===========================================================================

_LP_FILES = 64


# (probe_id, lo, hi) inclusive cent-ranges on value_cents; p3 is empty at
# sf0.001 (max 32752) and p5 everywhere — the zero-touch branch stays live
_LP_PROBES = [
    (0, 0, 499),
    (1, 2500, 2999),
    (2, 10000, 19999),
    (3, 40000, 10_000_000),
    (4, 0, 10_000_000),
    (5, -1000, -1),
]
_LP_PROBES_SQL = ", ".join(f"({p}, {lo}, {hi})" for p, lo, hi in _LP_PROBES)


@register(
    "q211_layout_pruning",
    f"""
    WITH base AS (
      SELECT CAST(FLOOR(value * 100) AS BIGINT) AS k, event_id AS nat
      FROM events
    ),
    bounds AS (
      SELECT MIN(k) AS kmin, MAX(k) AS kmax,
             MIN(nat) AS nmin, MAX(nat) AS nmax
      FROM base
    ),
    tagged AS (
      SELECT k,
             CAST(LEAST({_LP_FILES - 1},
                  (k - kmin) * {_LP_FILES} // (kmax - kmin + 1)) AS INT)
               AS f_key,
             CAST(LEAST({_LP_FILES - 1},
                  (nat - nmin) * {_LP_FILES} // (nmax - nmin + 1)) AS INT)
               AS f_nat
      FROM base, bounds
    ),
    melted AS (
      SELECT k, 'keysorted' AS layout, f_key AS file_id FROM tagged
      UNION ALL
      SELECT k, 'natural', f_nat FROM tagged
    ),
    stats AS (
      SELECT layout, file_id, MIN(k) AS fmin, MAX(k) AS fmax,
             COUNT(*) AS n_rows
      FROM melted GROUP BY 1, 2
    ),
    per_layout AS (
      SELECT layout, COUNT(*) AS files_total FROM stats GROUP BY 1
    ),
    probes(probe_id, lo, hi) AS (VALUES {_LP_PROBES_SQL}),
    touched AS (
      SELECT s.layout, p.probe_id,
             COUNT(*) AS files_touched, SUM(s.n_rows) AS rows_scanned
      FROM stats s JOIN probes p ON s.fmin <= p.hi AND s.fmax >= p.lo
      GROUP BY 1, 2
    ),
    matched AS (
      SELECT p.probe_id, COUNT(*) AS rows_matched
      FROM base b JOIN probes p ON b.k >= p.lo AND b.k <= p.hi
      GROUP BY 1
    )
    SELECT g.layout, g.probe_id,
           CAST(g.lo AS BIGINT) AS lo, CAST(g.hi AS BIGINT) AS hi,
           CAST(g.files_total AS BIGINT) AS files_total,
           CAST(COALESCE(t.files_touched, 0) AS BIGINT) AS files_touched,
           CAST(COALESCE(t.rows_scanned, 0) AS BIGINT) AS rows_scanned,
           CAST(COALESCE(m.rows_matched, 0) AS BIGINT) AS rows_matched,
           CAST((g.files_total - COALESCE(t.files_touched, 0)) * 1000000
                // g.files_total AS BIGINT) AS skip_ppm,
           CAST(CASE WHEN COALESCE(t.rows_scanned, 0) = 0 THEN 0
                ELSE (t.rows_scanned - COALESCE(m.rows_matched, 0)) * 1000000
                     // t.rows_scanned END AS BIGINT) AS waste_ppm
    FROM (SELECT * FROM per_layout, probes) g
    LEFT JOIN touched t USING (layout, probe_id)
    LEFT JOIN matched m USING (probe_id)
    """,
)
def q211_layout_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-key pruning planner
    (operators/maintenance.py:layout_pruning_audit): prices a cluster
    rewrite BEFORE paying its shuffle — per (layout, probe), how many
    zone-map files a range scan touches under the natural
    (insertion-order) vs value-sorted layout, plus the exact read
    amplification (rows_scanned vs rows_matched). File assignment is
    the equi-width simulation off broadcast global bounds — pure
    map-side, no global sort; one melt + one (layout, file) agg. The
    planner-level complement of q112's per-file manifest (which proves
    manifest == data on real files) and q72's z-order key (the
    multi-dimension device this planner would price)."""
    ev = load_events(spark, sf_dir, spread=True).select(
        "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("value_cents"),
    )
    return maintenance.layout_pruning_audit(
        ev, "value_cents", "event_id", probes=_LP_PROBES, n_files=_LP_FILES
    )
