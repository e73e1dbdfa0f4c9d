"""Structured Streaming queries: windowed rollups, upserts, dedup,
sessions, stream-stream joins and the streaming twins of batch gates
(``streaming.ops``). Each one runs to completion on the fixture files and
is gated against the same oracle as its batch form.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hbase_bulkload_service_spark.operators import tsdb
from hbase_bulkload_service_spark.oracle_frags import (
    _BL_LIST,
    _BL_THRESH,
    BLOCKLIST_AUDIT_ORACLE,
    COUNTER_RATE_ORACLE,
    EWMA_CHART_ORACLE,
    TSDB_CELLS_CTE,
)
from hbase_bulkload_service_spark.registry import (
    _orders_row_checks,
    _scoped_shuffle_partitions,
    cents,
    register,
)
from hbase_bulkload_service_spark.session import local_frame
from hbase_bulkload_service_spark.sources.tables import load, load_events


@register(
    "q19_streaming_rollup",
    """
    WITH e AS (
      SELECT epoch_ms(ts) // 1000 AS ts_sec, event_type,
             CAST(FLOOR(value * 100) AS BIGINT) AS cents
      FROM events
    )
    SELECT ts_sec - ts_sec % 300 AS window_start_sec, event_type,
           COUNT(*) AS cnt, CAST(SUM(cents) AS BIGINT) AS sum_value_cents,
           MIN(cents) AS min_value_cents, MAX(cents) AS max_value_cents
    FROM e GROUP BY 1, 2
    """,
)
def q19_streaming_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 streaming variant driven end-to-end: file-source stream →
    watermark + tumbling 5-min window agg → memory sink (availableNow).
    Complete output mode makes the finite-stream result equal the batch
    rollup, so the SAME SQL oracle gates the streaming operator."""
    from pyspark.sql.types import LongType, TimestampNTZType

    from hbase_bulkload_service_spark.streaming import ops as st

    schema = load(spark, sf_dir, "events").schema  # sets nanosAsLong first if ts is NANOS
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    dt = schema["ts"].dataType
    if isinstance(dt, LongType):  # TIMESTAMP(NANOS) read as long
        ts_evt = F.timestamp_micros(F.expr("ts div 1000"))
    elif isinstance(dt, TimestampNTZType):
        # wall-clock-as-UTC via pure wall-clock arithmetic (epoch_millis
        # convention). to_utc_timestamp(ntz, 'UTC') is NOT that: Spark
        # first casts NTZ→instant through the SESSION timezone, shifting
        # every window by the zone offset (caught by the TZ probe).
        ts_evt = F.timestamp_millis(
            F.expr(
                "timestampdiff(MILLISECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            )
        )
    else:
        ts_evt = F.col("ts")
    rolled = st.streaming_rollup_5m(
        stream.withColumn("ts_evt", ts_evt), ts_col="ts_evt"
    )
    with _scoped_shuffle_partitions(spark, 8):
        q = (
            rolled.writeStream.format("memory")
            .queryName("q19_rollup_mem")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        st.await_finite(q, 300)
    return spark.table("q19_rollup_mem")


@register(
    "q20_streaming_upsert",
    f"""
    WITH {TSDB_CELLS_CTE},
    clk AS (
      SELECT CAST(metric_id AS VARCHAR) || '/' || CAST(ts_hour AS VARCHAR)
               || '/' || tags AS key,
             CAST(offset_sec AS VARCHAR) AS qualifier,
             version_ts, MAX(dvalue) AS dvalue
      FROM cells
      WHERE metric_id = 0
        AND ts_hour >= 1704672000 AND ts_hour < 1705276800
      GROUP BY 1, 2, version_ts
    )
    SELECT key, qualifier, MAX(version_ts) AS version_ts,
           CAST(FLOOR(max_by(dvalue, version_ts) * 100) AS BIGINT) AS value_cents
    FROM clk GROUP BY key, qualifier
    """,
)
def q20_streaming_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3/E1/H4 streaming variant driven end-to-end: the custom stateful
    latest-version operator (applyInPandasWithState) over a finite cell
    stream equals the batch max_by dedup — same SQL oracle. Subset to one
    metric to keep per-key state volume bench-sane; plumbing is identical
    at any width."""
    import shutil
    import tempfile

    from hbase_bulkload_service_spark.streaming import ops as st

    ev = load_events(spark, sf_dir, spread=True)
    # metric_id 0 is the alphabetically-first event_type (the dictionary
    # ranks by name); filtering the events FIRST lets derive_tsdb_cells
    # skip the full-corpus dictionary join — same cells, smaller scan.
    # The min itself reads the UNSPREAD single-column scan (r09, guide
    # §2.4): the spread round-robin exchange buys nothing for a
    # one-column MIN and was the probe job's whole cost.
    min_type = (
        load(spark, sf_dir, "events").agg(F.min("event_type")).first()[0]
    )
    cells = tsdb.derive_tsdb_cells(ev.filter(F.col("event_type") == min_type))
    slim = (
        cells.filter(
            (F.col("metric_id") == 0)
            & (F.col("ts_hour") >= 1704672000)  # one week: 2024-01-08 ..
            & (F.col("ts_hour") < 1705276800)  # .. 2024-01-15 (UTC)
        )
        .select(
            F.concat_ws(
                "/",
                F.col("metric_id").cast("string"),
                F.col("ts_hour").cast("string"),
                F.col("tags"),
            ).alias("key"),
            F.col("offset_sec").cast("string").alias("qualifier"),
            "version_ts",
            F.col("dvalue"),
        )
        # deterministic same-version collapse, mirrored by the oracle
        .groupBy("key", "qualifier", "version_ts")
        .agg(F.max("dvalue").alias("value"))
    )
    d = tempfile.mkdtemp(prefix="q20cells")
    try:
        slim.coalesce(8).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(st.CELL_SCHEMA).parquet(d)
        out = st.streaming_latest_version(stream)
        # tiny keyed state: 8 state-store partitions beat the session's 32
        # (each costs a Python worker round per micro-batch)
        with _scoped_shuffle_partitions(spark, 8):
            q = (
                out.writeStream.format("memory")
                .queryName("q20_upsert_mem")
                .outputMode("update")
                .trigger(availableNow=True)
                .start()
            )
            st.await_finite(q, 300)
    finally:
        shutil.rmtree(d, ignore_errors=True)
    # update-mode changelog → final snapshot (last change per key wins)
    return spark.sql(
        """
        SELECT key, qualifier,
               max_by(version_ts, version_ts) AS version_ts,
               CAST(FLOOR(max_by(value, version_ts) * 100) AS BIGINT) AS value_cents
        FROM q20_upsert_mem GROUP BY key, qualifier
        """
    )


@register(
    "q23_streaming_dedup",
    f"""
    WITH {TSDB_CELLS_CTE}
    SELECT DISTINCT
           CAST(metric_id AS VARCHAR) || '/' || CAST(ts_hour AS VARCHAR)
             || '/' || tags AS key,
           CAST(offset_sec AS VARCHAR) AS qualifier
    FROM cells
    WHERE metric_id = 0
      AND ts_hour >= 1704672000 AND ts_hour < 1705276800
    """,
)
def q23_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark dedup driven end-to-end: `dropDuplicatesWithinWatermark`
    over a finite cell stream — at-least-once ingestion dedup with state
    bounded by the watermark window (the streaming answer to D3's
    at-most-one-cell contract). Output projects only the dedup key, so the
    nondeterministic which-duplicate-wins choice is invisible and the
    batch oracle is exact (SELECT DISTINCT). Single input file → single
    micro-batch → no cross-batch late-arrival drops to model."""
    import shutil
    import tempfile

    from hbase_bulkload_service_spark.streaming import ops as st

    cells = tsdb.derive_tsdb_cells(load_events(spark, sf_dir, spread=True))
    slim = cells.filter(
        (F.col("metric_id") == 0)
        & (F.col("ts_hour") >= 1704672000)
        & (F.col("ts_hour") < 1705276800)
    ).select(
        F.concat_ws(
            "/",
            F.col("metric_id").cast("string"),
            F.col("ts_hour").cast("string"),
            F.col("tags"),
        ).alias("key"),
        F.col("offset_sec").cast("string").alias("qualifier"),
        "version_ts",
        F.col("dvalue").alias("value"),
    )
    d = tempfile.mkdtemp(prefix="q23cells")
    try:
        slim.coalesce(1).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(st.CELL_SCHEMA).parquet(d)
        deduped = st.streaming_first_seen_dedup(
            stream.withColumn("event_time", F.timestamp_millis(F.col("version_ts"))),
            key_cols=("key", "qualifier"),
        )
        with _scoped_shuffle_partitions(spark, 8):
            q = (
                deduped.select("key", "qualifier")
                .writeStream.format("memory")
                .queryName("q23_dedup_mem")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            st.await_finite(q, 300)
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return spark.table("q23_dedup_mem")


@register(
    "q21_streaming_lookup",
    """
    SELECT e.event_id, e.user_id, c.c_name,
           CAST(FLOOR(e.value * 100) AS BIGINT) AS value_cents
    FROM events e JOIN customer c
      ON e.user_id = c.c_custkey
    WHERE c.c_custkey % 3 = 0
    """,
)
def q21_streaming_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 streaming variant driven end-to-end: event file-stream →
    stream-static broadcast lookup join on the rowkey → memory sink.
    Inner semantics: probe rows missing in the dim emit nothing (the
    filtered dim makes misses real). The stateless join means the finite
    stream equals the batch join — same SQL oracle."""
    from hbase_bulkload_service_spark.streaming import ops as st

    schema = load(spark, sf_dir, "events").schema  # sets nanosAsLong first if ts is NANOS
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    dim = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 3 == 0)
        .select(F.col("c_custkey").alias("rowkey"), "c_name")
    )
    joined = st.streaming_lookup_join(stream, "user_id", dim).select(
        "event_id",
        "user_id",
        "c_name",
        F.floor(F.col("value") * 100).cast("long").alias("value_cents"),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("q21_lookup_mem")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    st.await_finite(q, 300)
    return spark.table("q21_lookup_mem")


# ===========================================================================
# q24 — streaming session windows (built-in session_window, complete mode)
# ===========================================================================

SESSION_GAP_MS = 30 * 60 * 1000

@register(
    "q24_streaming_sessions",
    f"""
    WITH e AS (
      SELECT user_id, epoch_ms(ts) AS ts_ms,
             CAST(FLOOR(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    m AS (
      SELECT user_id, ts_ms, cents,
             CASE WHEN lag(ts_ms) OVER w IS NULL
                    OR ts_ms - lag(ts_ms) OVER w >= {SESSION_GAP_MS}
                  THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms)
    ),
    s AS (
      SELECT user_id, ts_ms, cents,
             SUM(new_s) OVER (
               PARTITION BY user_id ORDER BY ts_ms ROWS UNBOUNDED PRECEDING
             ) AS seq
      FROM m
    )
    SELECT user_id,
           MIN(ts_ms) AS session_start_ms,
           MAX(ts_ms) + {SESSION_GAP_MS} AS session_end_ms,
           COUNT(*) AS n_events,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM s GROUP BY user_id, seq
    """,
)
def q24_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3+ streaming twin of q18 — Spark's built-in ``session_window``
    aggregation driven end-to-end as a stream (file source → session agg →
    memory sink, complete mode so a finite stream yields the exact batch
    answer; no watermark-holdback rows).

    Boundary semantics: Spark merges events while the next event starts
    STRICTLY inside the previous window (gap < threshold); the oracle's
    new-session predicate is therefore ``diff >= gap``, and window end =
    last event + gap. Complete mode on an unbounded stream would keep all
    session state forever — the production variant uses a watermark +
    append; complete is the finite-replay/backfill configuration.
    """
    from hbase_bulkload_service_spark.streaming import ops as st

    ev = load_events(spark, sf_dir, spread=True).select(
        "user_id", "ts_ms", cents(F.col("value")).alias("cents")
    )
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix="q24sess")
    try:
        ev.coalesce(4).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(ev.schema).parquet(d)
        agg = (
            stream.withColumn("evt", F.timestamp_millis(F.col("ts_ms")))
            .groupBy(
                "user_id",
                F.session_window(F.col("evt"), "30 minutes").alias("sw"),
            )
            .agg(
                F.count("*").alias("n_events"),
                F.sum("cents").alias("sum_cents"),
            )
        )
        with _scoped_shuffle_partitions(spark, 8):
            q = (
                agg.select(
                    "user_id",
                    F.unix_millis("sw.start").alias("session_start_ms"),
                    F.unix_millis("sw.end").alias("session_end_ms"),
                    "n_events",
                    "sum_cents",
                )
                .writeStream.format("memory")
                .queryName("q24_sess_mem")
                .outputMode("complete")
                .trigger(availableNow=True)
                .start()
            )
            st.await_finite(q, 300)
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return spark.table("q24_sess_mem")


# ===========================================================================
# q60 — stream-stream interval join (click→purchase attribution)
# ===========================================================================

ATTR_WINDOW_MS = 3600 * 1000


@register(
    "q60_stream_stream_join",
    f"""
    WITH e AS (
      SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms,
             CAST(FLOOR(value * 100) AS BIGINT) AS cents
      FROM events
    )
    SELECT c.event_id AS click_id, c.user_id,
           c.ts_ms AS click_ms, p.ts_ms AS purchase_ms,
           p.cents AS purchase_cents
    FROM e c JOIN e p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts_ms >= c.ts_ms AND p.ts_ms <= c.ts_ms + {ATTR_WINDOW_MS}
    """,
)
def q60_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM inner join driven end-to-end: clicks and purchases as
    two independent file streams, joined per user within a 1-hour
    attribution window (streaming/ops.py:stream_stream_interval_join).
    Inner matches emit on arrival — no watermark holdback — so the finite
    replay equals the batch join and the SQL oracle is exact. The
    reference's only join probes a STATIC table; dual-unbounded-side joins
    with interval-bounded state are pure new capability."""
    import shutil
    import tempfile

    from hbase_bulkload_service_spark.streaming import ops as st

    ev = load_events(spark, sf_dir, spread=True).select(
        "event_id",
        "user_id",
        "event_type",
        F.timestamp_millis(F.col("ts_ms")).alias("evt"),
        F.col("ts_ms"),
        cents(F.col("value")).alias("cents"),
    )
    d = tempfile.mkdtemp(prefix="q60ss")
    try:
        ev.filter(F.col("event_type") == "click").coalesce(2).write.mode(
            "overwrite"
        ).parquet(f"{d}/clicks")
        ev.filter(F.col("event_type") == "purchase").coalesce(2).write.mode(
            "overwrite"
        ).parquet(f"{d}/purchases")
        sch = (
            "event_id long, user_id long, event_type string, "
            "evt timestamp, ts_ms long, cents long"
        )
        clicks = (
            spark.readStream.schema(sch)
            .parquet(f"{d}/clicks")
            .select(
                F.col("event_id").alias("click_id"),
                "user_id",
                F.col("evt").alias("c_evt"),
                F.col("ts_ms").alias("click_ms"),
            )
        )
        purchases = (
            spark.readStream.schema(sch)
            .parquet(f"{d}/purchases")
            .select(
                F.col("user_id").alias("p_user_id"),
                F.col("evt").alias("p_evt"),
                F.col("ts_ms").alias("purchase_ms"),
                F.col("cents").alias("purchase_cents"),
            )
        )
        lw = clicks.withWatermark("c_evt", "10 minutes")
        rw = purchases.withWatermark("p_evt", "10 minutes")
        joined = lw.join(
            rw,
            (lw["user_id"] == rw["p_user_id"])
            & (rw["p_evt"] >= lw["c_evt"])
            & (rw["p_evt"] <= lw["c_evt"] + F.expr("INTERVAL 1 HOUR")),
            "inner",
        ).select("click_id", "user_id", "click_ms", "purchase_ms", "purchase_cents")
        with _scoped_shuffle_partitions(spark, 8):
            q = (
                joined.writeStream.format("memory")
                .queryName("q60_ss_mem")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            st.await_finite(q, 300)
        rows = spark.table("q60_ss_mem").collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return local_frame(spark,
        rows,
        "click_id long, user_id long, click_ms long, purchase_ms long, "
        "purchase_cents long",
    )


# ===========================================================================
# q137 — streaming data-quality monitor (q130's continuous twin)
# ===========================================================================


@register(
    "q137_streaming_expectations",
    """
    WITH u AS (
    SELECT 'orders_key_not_null' AS expectation,
           CAST(COUNT(*) AS BIGINT) AS n_checked,
           CAST(SUM(CASE WHEN NOT COALESCE(o_orderkey IS NOT NULL, FALSE)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_failed
    FROM orders
    UNION ALL
    SELECT 'orders_status_domain',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN NOT COALESCE(o_orderstatus IN ('F','O','P'),
                                           FALSE)
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orders_price_positive',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN NOT COALESCE(o_totalprice > 0, FALSE)
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orders_priority_urgent',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN NOT COALESCE(o_orderpriority = '1-URGENT',
                                           FALSE)
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    )
    SELECT expectation, n_checked, n_failed, n_failed = 0 AS ok FROM u
    """,
)
def q137_streaming_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q130's row-check suite run as a STREAM over the orders table
    (finite availableNow replay): per-micro-batch failure counters fold
    into running per-expectation totals whose final snapshot must equal
    the batch audit bit-for-bit. Bounded state: one counter row per
    expectation."""
    from hbase_bulkload_service_spark.streaming import ops as st

    schema = load(spark, sf_dir, "orders").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "orders.parquet")
        .parquet(sf_dir)
    )
    audited = st.streaming_expectations(stream, _orders_row_checks())
    q = (
        audited.writeStream.format("memory")
        .queryName("q137_expect_mem")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    st.await_finite(q, 300)
    return spark.table("q137_expect_mem")


# ===========================================================================
# q156 — streaming counter rate (q151's continuous twin)
# ===========================================================================


@register("q156_streaming_counter_rate", COUNTER_RATE_ORACLE)
def q156_streaming_counter_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q151 as a LIVE stream (streaming/ops.streaming_counter_rate):
    the per-series carried sample lives in applyInPandasWithState
    state — O(1) per series, watermark-free — and the reset/rebase/rate
    arithmetic is the same stateless layer as batch. Finite availableNow
    replay of the corpus must reproduce q151's oracle bit-for-bit, so
    the streaming path inherits the batch gate (the q137 idiom)."""
    import shutil
    import tempfile

    from hbase_bulkload_service_spark.streaming import ops as st

    ev = load_events(spark, sf_dir, spread=True).select(
        "event_type",
        "user_id",
        "event_id",
        "ts_ms",
        cents(F.col("value")).alias("cents"),
    )
    d = tempfile.mkdtemp(prefix="q156rate")
    try:
        # repartition(16), NOT coalesce(4): coalesce clamps the whole
        # event derivation AND the parquet encode into 4 tasks (the r05
        # stage-audit flag — 4-task 1.6 s stages), and the 4-file layout
        # then caps the micro-batch file-scan parallelism too; a
        # numbered exchange keeps the derive at full width and 16 replay
        # files keep both the encode and the stream scan spread
        ev.repartition(16).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(ev.schema).parquet(d)
        out = st.streaming_counter_rate(stream)
        q = (
            out.writeStream.format("memory")
            .queryName("q156_rate_mem")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        st.await_finite(q, 300)
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return spark.table("q156_rate_mem")


# ===========================================================================
# q180 — q178 as a LIVE stream (availableNow replay inherits the batch
# oracle — the q137/q156 idiom)
# ===========================================================================


@register("q180_streaming_ewma", EWMA_CHART_ORACLE)
def q180_streaming_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q178 as a LIVE stream (streaming/ops.streaming_ewma_chart): the
    EWMA register and series position live in applyInPandasWithState
    state — O(1) per series, watermark-free — and the recurrence is the
    same truncating integer arithmetic as the batch loop. Finite
    availableNow replay of the corpus must reproduce q178's
    recursive-CTE oracle bit-for-bit, so the streaming path inherits
    the batch gate (the q137/q156 idiom)."""
    import shutil
    import tempfile

    from hbase_bulkload_service_spark.streaming import ops as st

    ev = load_events(spark, sf_dir, spread=True).select(
        "user_id",
        "event_id",
        "ts_ms",
        cents(F.col("value")).alias("x_cents"),
    )
    d = tempfile.mkdtemp(prefix="q180ewma")
    try:
        # repartition(16), not coalesce: keeps the derive/encode at full
        # width and the 16 replay files keep the stream scan spread
        # (the q156 stage-audit lesson)
        ev.repartition(16).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(ev.schema).parquet(d)
        out = st.streaming_ewma_chart(stream)
        q = (
            out.writeStream.format("memory")
            .queryName("q180_ewma_mem")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        st.await_finite(q, 300)
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return spark.table("q180_ewma_mem")


# ===========================================================================
# q201 — streaming blocklist monitor (q196's continuous twin)
# ===========================================================================


@register("q201_streaming_blocklist", BLOCKLIST_AUDIT_ORACLE)
def q201_streaming_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q196 as a LIVE stream
    (streaming/ops.streaming_blocklist_audit): per-document violation
    scores are STATELESS map-side expressions (the blocklist rides the
    plan as literals — nothing broadcasts into the stream), and the
    per-source counters are a bounded-state streaming agg (one row per
    source, runs forever). Finite availableNow replay of the corpus
    must reproduce q196's batch audit bit-for-bit — the q137/q180
    idiom; this query inherits q196's oracle verbatim."""
    import shutil
    import tempfile

    from hbase_bulkload_service_spark.streaming import ops as st

    docs = load(spark, sf_dir, "documents", spread=True).select(
        "doc_id", "source", "text"
    )
    d = tempfile.mkdtemp(prefix="q201bl")
    try:
        docs.repartition(16).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(docs.schema).parquet(d)
        out = st.streaming_blocklist_audit(
            stream, _BL_LIST, flag_threshold=_BL_THRESH
        )
        q = (
            out.writeStream.format("memory")
            .queryName("q201_bl_mem")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        st.await_finite(q, 300)
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return spark.table("q201_bl_mem").select(
        "source",
        "n_docs",
        "flagged_docs",
        "total_score",
        F.expr("flagged_docs * 1000000 div n_docs").alias("flagged_ppm"),
    )


# ===========================================================================
# q231 — LEFT OUTER stream-stream interval join
# ===========================================================================

_ATTR_MS = 3600 * 1000


@register(
    "q231_stream_stream_outer",
    f"""
    WITH e AS (
      SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms,
             CAST(FLOOR(value * 100) AS BIGINT) AS cents
      FROM events WHERE user_id % 5 = 0
    )
    SELECT c.event_id AS click_id, c.user_id, c.ts_ms AS click_ms,
           p.ts_ms AS purchase_ms, p.cents AS purchase_cents
    FROM (SELECT * FROM e WHERE event_type = 'click') c
    LEFT JOIN (SELECT * FROM e WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts_ms >= c.ts_ms AND p.ts_ms <= c.ts_ms + {_ATTR_MS}
    """,
)
def q231_stream_stream_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join driven end-to-end: every
    click emits — matched to purchases within the 1-hour window, or
    null-padded once the watermark PROVES no match can still arrive.
    The outer row is watermark-gated state eviction (unlike q60's inner
    join, which emits on arrival), and eviction runs one micro-batch
    after the watermark passes — so the replay pushes a far-future
    sentinel batch through BOTH streams (global watermark = min across
    streams) and the availableNow no-data final batch flushes the
    unmatched state. Exactly the mechanics a production attribution job
    relies on; the finite replay equals the batch LEFT JOIN oracle.

    Scale: state per stream is bounded by rate × (interval + watermark);
    the sentinel trick is test-harness-only — a live stream's watermark
    advances on its own."""
    from hbase_bulkload_service_spark.streaming import ops as st

    ev = (
        load_events(spark, sf_dir, spread=True)
        .filter(F.col("user_id") % 5 == 0)
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.col("ts_ms"),
            cents(F.col("value")).alias("cents"),
        )
    )
    # 48h margin: far past every click's (window + watermark) horizon
    # even if the session timezone skews the sentinel's event-time by
    # up to a day when the naive datetime is re-interpreted on write.
    max_ms = ev.agg(F.max("ts_ms")).collect()[0][0]
    sentinel_ms = int(max_ms) + 48 * 3600 * 1000

    def _write_side(df: DataFrame, path: str, sentinel_rows) -> None:
        """Real data as batch file 0, then one sentinel file per batch
        with strictly later mtimes, so maxFilesPerTrigger=1 replays them
        in order. TWO sentinel batches: the first advances the watermark
        past every click's window; eviction (the null-padded emission)
        only runs in a LATER batch (the measured one-batch-late rule),
        and the availableNow no-data final batch does not reliably evict
        outer-join state — so the second sentinel batch is the one that
        flushes the stragglers deterministically."""
        os.makedirs(path, exist_ok=True)
        t0 = time.time() - 3600
        frames = [df] + [
            local_frame(spark, [row], df.schema) for row in sentinel_rows
        ]
        for i, frame in enumerate(frames):
            tmp = f"{path}/_b{i}"
            frame.coalesce(1).write.mode("overwrite").parquet(tmp)
            for fn in os.listdir(tmp):
                if fn.endswith(".parquet"):
                    full = f"{path}/batch_{i}.parquet"
                    os.replace(os.path.join(tmp, fn), full)
                    os.utime(full, (t0 + i * 10, t0 + i * 10))
            shutil.rmtree(tmp, ignore_errors=True)

    d = tempfile.mkdtemp(prefix="q231lo")
    try:
        clicks_b = ev.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.timestamp_millis(F.col("ts_ms")).alias("c_evt"),
            F.col("ts_ms").alias("click_ms"),
        )
        purch_b = ev.filter(F.col("event_type") == "purchase").select(
            F.col("user_id"),
            F.timestamp_millis(F.col("ts_ms")).alias("p_evt"),
            F.col("ts_ms").alias("purchase_ms"),
            F.col("cents").alias("purchase_cents"),
        )
        import datetime

        def _ts(ms: int) -> datetime.datetime:
            return datetime.datetime.fromtimestamp(
                ms / 1000.0, tz=datetime.timezone.utc
            ).replace(tzinfo=None)

        s1, s2 = sentinel_ms, sentinel_ms + 48 * 3600 * 1000
        _write_side(
            clicks_b, f"{d}/clicks",
            [(-1, -1, _ts(s1), s1), (-1, -1, _ts(s2), s2)],
        )
        _write_side(
            purch_b, f"{d}/purch",
            [(-1, _ts(s1), s1, 0), (-1, _ts(s2), s2, 0)],
        )

        csch = "click_id long, user_id long, c_evt timestamp, click_ms long"
        psch = (
            "user_id long, p_evt timestamp, purchase_ms long, "
            "purchase_cents long"
        )
        clicks = (
            spark.readStream.schema(csch)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d}/clicks")
        )
        purch = (
            spark.readStream.schema(psch)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d}/purch")
        )
        joined = st.stream_stream_interval_join(
            clicks, purch, key="user_id", left_ts="c_evt", right_ts="p_evt",
            within_ms=_ATTR_MS, watermark="10 minutes", how="left_outer",
        ).select(
            "click_id", "user_id", "click_ms", "purchase_ms", "purchase_cents"
        )
        # The sentinel filter must NOT ride the streaming plan: a
        # `user_id >= 0` predicate there gets pushed below the watermark
        # assignment, the sentinel rows vanish before they can advance
        # the clicks-side watermark, and the unmatched-click state never
        # evicts (measured: the 3 newest stragglers stay unemitted).
        # Filter the SINK table instead.
        with _scoped_shuffle_partitions(spark, 8):
            q = (
                joined.writeStream.format("memory")
                .queryName("q231_lo_mem")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            st.await_finite(q, 300)
        rows = spark.table("q231_lo_mem").filter(F.col("user_id") >= 0).collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return local_frame(spark,
        rows,
        "click_id long, user_id long, click_ms long, purchase_ms long, "
        "purchase_cents long",
    )


# ===========================================================================
# q241 — H6 buffered sink driven end-to-end (foreachBatch upsert)
# ===========================================================================


@register(
    "q241_foreachbatch_upsert",
    """
    WITH cells AS (
      SELECT CAST(user_id AS VARCHAR) AS key, event_type AS qualifier,
             epoch_ms(ts) AS version_ts,
             CAST(FLOOR(value * 100) AS BIGINT) AS value
      FROM events WHERE user_id % 10 = 0
    )
    SELECT key, qualifier,
           MAX(version_ts) AS version_ts,
           arg_max(value, version_ts) AS value
    FROM cells GROUP BY key, qualifier
    """,
)
def q241_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H6 driven end-to-end: the cell stream replayed in micro-batches
    through ``foreachBatch`` + streaming/ops.upsert_batch_writer — each
    batch merges into a keyed parquet snapshot with latest-version-wins
    (read old ∪ batch → max_by per key → atomic directory swap). The
    reference's buffered sink (2 MB / 1000 rows / 1 s Put buffer,
    HBase2DynamicTableFactory.java:76-102) maps exactly onto
    micro-batch = flush; the settled snapshot equals the batch ``max_by``
    oracle regardless of how rows split across batches (two files +
    maxFilesPerTrigger=1 force a real multi-flush merge).

    arg_max ties: version collisions are impossible here — (key,
    qualifier, version_ts) is unique in this slice because version_ts is
    the event's own timestamp."""
    from hbase_bulkload_service_spark.streaming import ops as st

    cells = (
        load_events(spark, sf_dir, spread=True)
        .filter(F.col("user_id") % 10 == 0)
        .select(
            F.col("user_id").cast("string").alias("key"),
            F.col("event_type").alias("qualifier"),
            F.col("ts_ms").alias("version_ts"),
            cents(F.col("value")).alias("value"),
        )
    )
    d = tempfile.mkdtemp(prefix="q241fb")
    try:
        # two source files with distinct mtimes -> two real flushes
        t0 = time.time() - 3600
        for i, pred in enumerate((F.col("version_ts") % 2 == 0,
                                  F.col("version_ts") % 2 == 1)):
            tmp = f"{d}/src/_b{i}"
            cells.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
            for fn in os.listdir(tmp):
                if fn.endswith(".parquet"):
                    os.makedirs(f"{d}/src", exist_ok=True)
                    full = f"{d}/src/batch_{i}.parquet"
                    os.replace(os.path.join(tmp, fn), full)
                    os.utime(full, (t0 + i * 10, t0 + i * 10))
            shutil.rmtree(tmp, ignore_errors=True)
        sch = "key string, qualifier string, version_ts long, value long"
        stream = (
            spark.readStream.schema(sch)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d}/src")
        )
        snap = f"{d}/snapshot"
        with _scoped_shuffle_partitions(spark, 8):
            q = (
                stream.writeStream.foreachBatch(st.upsert_batch_writer(snap))
                .option("checkpointLocation", f"{d}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            st.await_finite(q, 300)
        rows = spark.read.parquet(snap).collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return local_frame(spark,
        rows, "key string, qualifier string, version_ts long, value long"
    )


# ===========================================================================
# q243 — checkpointed incremental ingest (exactly-once across restarts)
# ===========================================================================


@register(
    "q243_incremental_ingest",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events WHERE user_id % 9 = 0
    GROUP BY event_type
    """,
)
def q243_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed incremental ingest: the same streaming query started
    TWICE (availableNow) against a landing directory that grew between
    runs, both runs sharing one checkpoint — run 2's source offset log
    skips everything run 1 committed and processes ONLY the new file,
    and the parquet file sink's commit log (_spark_metadata) makes the
    combined output exactly-once even though the pipeline restarted.
    This is the nightly-ingest contract: crash/restart/late files, no
    dupes, no loss. The aggregate over the sink equals the plain batch
    oracle over all the data; a duplicated or dropped file would shift
    both counts and sums."""
    ev = (
        load_events(spark, sf_dir, spread=True)
        .filter(F.col("user_id") % 9 == 0)
        .select("event_id", "event_type", cents(F.col("value")).alias("cents"))
    )
    d = tempfile.mkdtemp(prefix="q243inc")
    try:
        land, out, ckpt = f"{d}/land", f"{d}/out", f"{d}/ckpt"
        os.makedirs(land, exist_ok=True)
        t0 = time.time() - 3600

        def _land(pred, i: int) -> None:
            tmp = f"{d}/_b{i}"
            ev.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
            for fn in os.listdir(tmp):
                if fn.endswith(".parquet"):
                    full = f"{land}/batch_{i}.parquet"
                    os.replace(os.path.join(tmp, fn), full)
                    os.utime(full, (t0 + i * 10, t0 + i * 10))
            shutil.rmtree(tmp, ignore_errors=True)

        sch = "event_id long, event_type string, cents long"

        def _run_once() -> None:
            from hbase_bulkload_service_spark.streaming import ops as st

            stream = spark.readStream.schema(sch).parquet(land)
            with _scoped_shuffle_partitions(spark, 8):
                q = (
                    stream.writeStream.format("parquet")
                    .option("path", out)
                    .option("checkpointLocation", ckpt)
                    .outputMode("append")
                    .trigger(availableNow=True)
                    .start()
                )
                st.await_finite(q, 300)

        _land(F.col("event_id") % 2 == 0, 0)
        _run_once()  # ingests file 0
        _land(F.col("event_id") % 2 == 1, 1)
        _run_once()  # restart: same checkpoint, ingests ONLY file 1
        final = (
            spark.read.parquet(out)
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum("cents").alias("sum_cents"),
            )
        )
        rows = final.collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return local_frame(spark,
        rows, "event_type string, n_rows long, sum_cents long"
    )
