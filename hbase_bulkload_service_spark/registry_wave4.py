"""Registry waves 4-6 (q73-q100) — pipeline-lineage analytics (gap fill,
SCD-2, anomaly flagging), quality-repetition signals, sketch profiling,
the remaining built-in format round-trips (CSV, JSON) plus schema
evolution, semi/anti-join and multi-dimension join coverage,
semi-structured JSON extraction, window families (sliding rollup, funnel,
retention cohorts), CUBE grouping sets, runtime bloom-filter pruning,
counter deltas, histograms, dynamic partition pruning, small-file
compaction, and maxVersions+TTL retention.

Same portability rules as registry.py / registry_llm.py: integer cents,
epoch-millis timestamps, identical aliases both sides, DuckDB SUMs cast
back to BIGINT (the pandas fetch path renders HUGEINT as float64 and
breaks the value hash otherwise).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hbase_bulkload_service_spark.session import local_frame
from pyspark.sql import functions as F

from hbase_bulkload_service_spark.operators import analytics, textops
from hbase_bulkload_service_spark.registry import TSDB_CELLS_CTE, cents, register
from hbase_bulkload_service_spark.registry_llm import DOCS_NORM_CTE
from hbase_bulkload_service_spark.sources.tables import load, load_events

CENTS_SQL = "CAST(FLOOR(value * 100) AS BIGINT)"


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
# q73_sketch_profile RETIRED round 8 (VERDICT r07 item 5, resolved
# permanently): it was the registry's ONLY rows-only entry — raw HLL++ /
# GK sketch outputs are engine-specific by nature and can never
# hash-match a DuckDB oracle. Its surviving twin q115_sketch_accuracy
# (registry_wave8) runs the SAME production operator
# (analytics.sketch_accuracy calls sketch_profile internally, same
# events/event_type/user_id/cents profile) and hash-gates everything
# deterministic about it: exact per-key row count, exact distinct count,
# and the two sketch error-bound verdicts as literal TRUE booleans the
# oracle must reproduce. With this retirement EVERY registered query is
# exact-oracle — zero rows-only entries. ±rsd accuracy stays pinned in
# tests/test_wave4.py.
# ===========================================================================


# ===========================================================================
# q74 — within-document repetition signals (Gopher-style quality filter)
# ===========================================================================

@register(
    "q74_repetition_signals",
    f"""
    WITH {DOCS_NORM_CTE},
    uni AS (
      SELECT doc_id, len(ws) AS n_words,
             CAST((len(ws) - len(list_distinct(ws))) * 1000000 // len(ws)
                  AS BIGINT) AS dup_word_ppm, ws
      FROM w
    ),
    b AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ws)),
                                   i -> ws[i] || ' ' || ws[i + 1])) AS bg
      FROM uni WHERE len(ws) >= 2
    ),
    top AS (
      SELECT doc_id, MAX(c) AS top_bigram_cnt
      FROM (SELECT doc_id, bg, COUNT(*) AS c FROM b GROUP BY 1, 2)
      GROUP BY 1
    )
    SELECT uni.doc_id, uni.n_words, uni.dup_word_ppm,
           COALESCE(top.top_bigram_cnt, 0) AS top_bigram_cnt
    FROM uni LEFT JOIN top USING (doc_id)
    """,
)
def q74_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.repetition_stats(load(spark, sf_dir, "documents", spread=True))


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
# q77 — per-key forward fill (time-series gap fill)
# ===========================================================================

@register(
    "q77_gap_fill",
    f"""
    SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
           last_value(CASE WHEN event_id % 3 = 0 THEN {CENTS_SQL} END
                      IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS filled_cents
    FROM events
    """,
)
def q77_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1-adjacent series repair: a sparse reading stream (2/3 of values
    nulled) forward-filled per user — the TSDB "carry last observation
    forward" op. One keyed shuffle (analytics.forward_fill); leading
    nulls survive as nulls, proving the fill doesn't invent data."""
    ev = load_events(spark, sf_dir, spread=True).select(
        "event_id",
        "user_id",
        "ts_ms",
        F.when(F.col("event_id") % 3 == 0, cents(F.col("value"))).alias("v"),
    )
    filled = analytics.forward_fill(
        ev, "user_id", ["ts_ms", "event_id"], "v", "filled_cents"
    )
    return filled.select("event_id", "user_id", "ts_ms", "filled_cents")


# ===========================================================================
# q78 — SCD type-2 validity intervals from an update log
# ===========================================================================

@register(
    "q78_scd2_history",
    f"""
    SELECT user_id, event_type, {CENTS_SQL} AS cents,
           epoch_ms(ts) AS valid_from,
           lead(epoch_ms(ts)) OVER (PARTITION BY user_id
                                    ORDER BY epoch_ms(ts), event_id)
             AS valid_to,
           CASE WHEN lead(epoch_ms(ts)) OVER (PARTITION BY user_id
                                              ORDER BY epoch_ms(ts), event_id)
                     IS NULL THEN 1 ELSE 0 END AS is_current
    FROM events
    """,
)
def q78_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data lineage: the event log treated as per-user attribute
    updates, compiled into SCD-2 validity intervals (valid_from/valid_to/
    is_current) — the structure point-in-time joins range-probe to
    reconstruct "the record as of snapshot time". One keyed shuffle
    (analytics.scd2_history)."""
    ev = load_events(spark, sf_dir, spread=True).withColumn(
        "cents", cents(F.col("value"))
    )
    return analytics.scd2_history(
        ev, "user_id", "ts_ms", "event_id", ["event_type", "cents"]
    )


# ===========================================================================
# q79 — per-group z-score anomaly flagging
# ===========================================================================

@register(
    "q79_anomaly_zscore",
    f"""
    WITH c AS (SELECT event_id, event_type, {CENTS_SQL} AS cents FROM events),
    s AS (SELECT event_type, AVG(cents) AS mu,
                 stddev_samp(cents) AS sigma
          FROM c GROUP BY 1)
    SELECT c.event_id, c.event_type, c.cents
    FROM c JOIN s USING (event_type)
    WHERE ABS(c.cents - s.mu) > 3.0 * s.sigma
    """,
)
def q79_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gate for metric streams: flag rows > 3 sample-stddevs from
    their group mean. Two-pass scale shape — a #groups-row stats
    aggregate broadcast back onto the stream, no stream-side shuffle
    (analytics.zscore_outliers keeps the test multiplied-out, so
    zero-variance groups flag nothing rather than dividing by zero)."""
    ev = load_events(spark, sf_dir, spread=True).withColumn(
        "cents", cents(F.col("value"))
    )
    return analytics.zscore_outliers(
        ev, "event_type", "cents", 3.0, id_cols=["event_id"]
    )


# ===========================================================================
# q80 — semi/anti-join coverage (EXISTS / NOT EXISTS shape)
# ===========================================================================

@register(
    "q80_semi_anti_returns",
    """
    WITH r AS (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_returnflag = 'R')
    SELECT 'has_returns' AS tag, o_orderpriority, COUNT(*) AS n_orders
    FROM orders WHERE o_orderkey IN (SELECT l_orderkey FROM r)
    GROUP BY 2
    UNION ALL
    SELECT 'no_returns' AS tag, o_orderpriority, COUNT(*) AS n_orders
    FROM orders WHERE o_orderkey NOT IN (SELECT l_orderkey FROM r)
    GROUP BY 2
    """,
)
def q80_semi_anti_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 coverage for LEFT SEMI / LEFT ANTI physical joins (the EXISTS /
    NOT EXISTS shapes the reference's SQL surface delegates to the
    engine): orders partitioned into has-a-returned-line vs not, counted
    by priority. Semi/anti joins never materialize probe-side matches —
    at 100 TB the build side reduces to distinct orderkeys and both
    passes share one keyed shuffle pair; Catalyst plans the filter below
    the join and AQE picks broadcast when the build side shrinks enough."""
    o = load(spark, sf_dir, "orders", spread=True)
    ret = (
        load(spark, sf_dir, "lineitem", spread=True)
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    cond = o["o_orderkey"] == ret["l_orderkey"]
    semi = o.join(ret, cond, "left_semi").withColumn("tag", F.lit("has_returns"))
    anti = o.join(ret, cond, "left_anti").withColumn("tag", F.lit("no_returns"))
    return (
        semi.unionByName(anti)
        .groupBy("tag", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


# ===========================================================================
# q81 — semi-structured JSON property extraction + aggregation
# ===========================================================================

@register(
    "q81_json_props",
    """
    WITH k AS (SELECT event_type,
                      CAST(json_extract_string(props, '$.k') AS BIGINT) AS kv
               FROM events)
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(kv) AS BIGINT) AS sum_k,
           MIN(kv) AS min_k, MAX(kv) AS max_k,
           COUNT(DISTINCT kv) AS distinct_k
    FROM k GROUP BY 1
    """,
)
def q81_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column surface: events.props is a JSON string;
    extract $.k (get_json_object — JVM-side Jackson path eval, no UDF)
    and aggregate per event_type. At 100 TB the extraction is a pure
    codegen'd map fused into the scan; for repeated multi-key access
    from_json with an explicit schema amortizes the parse — single-key
    access keeps the cheaper path used here."""
    ev = load_events(spark, sf_dir).select(
        "event_type",
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("kv"),
    )
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("kv").alias("sum_k"),
        F.min("kv").alias("min_k"),
        F.max("kv").alias("max_k"),
        F.countDistinct("kv").alias("distinct_k"),
    )


# ===========================================================================
# q82 — multi-dimension join: regional brand market share by year
# ===========================================================================

@register(
    "q82_market_share",
    """
    WITH rev AS (
      SELECT year(o.o_orderdate) AS o_year,
             CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100)
                  AS BIGINT) AS rev_cents,
             p.p_brand
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN part p ON l.l_partkey = p.p_partkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'ASIA'
    )
    SELECT o_year,
           CAST(SUM(CASE WHEN p_brand = 'Brand#4' THEN rev_cents ELSE 0 END)
                AS BIGINT) AS brand_cents,
           CAST(SUM(rev_cents) AS BIGINT) AS total_cents,
           CAST(SUM(CASE WHEN p_brand = 'Brand#4' THEN rev_cents ELSE 0 END)
                * 1000000 // SUM(rev_cents) AS BIGINT) AS share_ppm
    FROM rev GROUP BY 1
    """,
)
def q82_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped snowflake join (6 dims + fact): Brand#4's share of
    ASIA-supplied revenue per order year. The dimension chain
    (part/supplier/nation/region) broadcasts — only lineitem⋈orders
    shuffles, on the fact keys; the region filter prunes the supplier
    build side BEFORE broadcast. Share is integer ppm of integer cents
    (numerator * 1e6 stays under int64 through ~sf1000 of revenue), so
    the division is exact across engines."""
    li = load(spark, sf_dir, "lineitem", spread=True)
    o = load(spark, sf_dir, "orders")
    p = load(spark, sf_dir, "part")
    asia_sup = (
        load(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                load(spark, sf_dir, "nation").join(
                    F.broadcast(
                        load(spark, sf_dir, "region").filter(
                            F.col("r_name") == "ASIA"
                        )
                    ),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    rev_cents = F.floor(
        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) * 100
    ).cast("long")
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(asia_sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.year(F.col("o_orderdate")).alias("o_year"),
            rev_cents.alias("rev_cents"),
            "p_brand",
        )
    )
    brand = F.sum(
        F.when(F.col("p_brand") == "Brand#4", F.col("rev_cents")).otherwise(0)
    )
    return (
        joined.groupBy("o_year")
        .agg(
            brand.alias("brand_cents"),
            F.sum("rev_cents").alias("total_cents"),
        )
        .withColumn(
            "share_ppm",
            F.expr("brand_cents * 1000000L div total_cents"),
        )
    )


# ===========================================================================
# q83 — point-in-time join against SCD-2 intervals (lineage probe)
# ===========================================================================

@register(
    "q83_pit_join",
    f"""
    WITH p AS (
      SELECT user_id, {CENTS_SQL} AS cents, epoch_ms(ts) AS valid_from,
             lead(epoch_ms(ts)) OVER (PARTITION BY user_id
                                      ORDER BY epoch_ms(ts), event_id)
               AS valid_to
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT event_id AS probe_id, user_id, epoch_ms(ts) AS probe_ts
      FROM events WHERE event_type = 'click'
    )
    SELECT c.probe_id, c.user_id, c.probe_ts,
           p.cents AS state_cents, p.valid_from
    FROM c JOIN p
      ON c.user_id = p.user_id
     AND c.probe_ts >= p.valid_from
     AND (p.valid_to IS NULL OR c.probe_ts < p.valid_to)
    """,
)
def q83_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q78 lineage structure actually probed: every click event
    retrieves the user's purchase state AS OF the click time (no future
    leakage — the defining property of point-in-time training features).
    Equi-join on user_id + interval filter (analytics.pit_join); both
    sides key-partition, intervals are disjoint per key so ≤1 match per
    probe; clicks before a user's first purchase drop out (inner)."""
    ev = load_events(spark, sf_dir)
    hist = analytics.scd2_history(
        ev.filter(F.col("event_type") == "purchase").withColumn(
            "cents", cents(F.col("value"))
        ),
        "user_id",
        "ts_ms",
        "event_id",
        ["cents"],
    ).drop("is_current")
    probes = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("probe_id"),
        "user_id",
        F.col("ts_ms").alias("probe_ts"),
    )
    out = analytics.pit_join(probes, hist, "user_id", "probe_ts")
    return out.select(
        "probe_id",
        "user_id",
        "probe_ts",
        F.col("cents").alias("state_cents"),
        "valid_from",
    )


# ===========================================================================
# q84 — top-k per group (WindowGroupLimit path)
# ===========================================================================

@register(
    "q84_topk_per_group",
    """
    SELECT lang, source, doc_id, n_chars, rk FROM (
      SELECT lang, source, doc_id, n_chars,
             CAST(row_number() OVER (PARTITION BY lang, source
                                     ORDER BY n_chars DESC, doc_id)
                  AS INT) AS rk
      FROM documents
    ) WHERE rk <= 3
    """,
)
def q84_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4 generalized: 3 longest documents per (lang, source) via
    analytics.topk_per_group. Spark's WindowGroupLimit rewrite keeps an
    O(k) heap per group inside the partition-local sort instead of fully
    sorting each group — the per-group analog of TakeOrderedAndProject;
    doc_id tiebreak makes ranks deterministic."""
    docs = load(spark, sf_dir, "documents", spread=True)
    out = analytics.topk_per_group(
        docs,
        ["lang", "source"],
        [F.col("n_chars").desc(), F.col("doc_id")],
        3,
    )
    return out.select("lang", "source", "doc_id", "n_chars", "rk")


# ===========================================================================
# q85 / q86 — pivot to wide metrics, unpivot back (round-trip pair)
# ===========================================================================

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_PIVOT_ORACLE = f"""
    SELECT user_id % 10 AS decile,
           {", ".join(
               f"CAST(SUM(CASE WHEN event_type = '{t}' THEN {{c}} ELSE 0 END)"
               f" AS BIGINT) AS {t}" for t in _EVENT_TYPES
           )}
    FROM events GROUP BY 1
""".format(c=CENTS_SQL)


def _pivoted(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir, spread=True).select(
        (F.col("user_id") % 10).alias("decile"),
        "event_type",
        cents(F.col("value")).alias("c"),
    )
    wide = ev.groupBy("decile").pivot("event_type", _EVENT_TYPES).agg(
        F.sum("c")
    )
    return wide.select(
        "decile", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in _EVENT_TYPES]
    )


@register("q85_pivot_metrics", _PIVOT_ORACLE)
def q85_pivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-format metric matrix: revenue cents per user decile × event
    type via groupBy().pivot() with an EXPLICIT value list — omitting it
    costs an extra distinct-scan job at 100 TB and risks unbounded
    column explosion; pinning the list keeps the plan a single hash
    aggregate whose key includes the pivot column. Absent cells coalesce
    to 0 so the oracle's CASE-sum shape matches exactly."""
    return _pivoted(spark, sf_dir)


@register(
    "q86_unpivot_metrics",
    f"""
    WITH agg AS ({_PIVOT_ORACLE})
    SELECT decile, event_type, cents_sum FROM agg
    UNPIVOT (cents_sum FOR event_type IN ({", ".join(_EVENT_TYPES)}))
    """,
)
def q86_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inverse direction (melt): the q85 wide matrix back to long
    form via DataFrame.unpivot — a zero-shuffle Expand (one output row
    per id × value column, projected map-side). Pivot→unpivot round-trip
    equals the long-form aggregate, pinned by the shared oracle CTE."""
    wide = _pivoted(spark, sf_dir)
    return wide.unpivot(
        ["decile"], _EVENT_TYPES, "event_type", "cents_sum"
    )


# ===========================================================================
# q87 — set operations (INTERSECT / EXCEPT physical coverage)
# ===========================================================================

@register(
    "q87_set_ops",
    """
    SELECT 'both' AS tag, user_id FROM (
      SELECT user_id FROM events WHERE event_type = 'click'
      INTERSECT
      SELECT user_id FROM events WHERE event_type = 'purchase')
    UNION ALL
    SELECT 'click_only' AS tag, user_id FROM (
      SELECT user_id FROM events WHERE event_type = 'click'
      EXCEPT
      SELECT user_id FROM events WHERE event_type = 'purchase')
    """,
)
def q87_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT surface: users who both clicked and purchased
    vs clicked only. Spark compiles both to aggregate + left-semi/anti
    join on the full row — the same physical machinery as q80, reached
    through the set-operator API; distinct semantics built in."""
    ev = load_events(spark, sf_dir, spread=True)
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    buys = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return (
        clicks.intersect(buys)
        .withColumn("tag", F.lit("both"))
        .unionByName(clicks.subtract(buys).withColumn("tag", F.lit("click_only")))
        .select("tag", "user_id")
    )


# ===========================================================================
# q88 — bounded rolling-frame analytics
# ===========================================================================

@register(
    "q88_rolling_window",
    f"""
    WITH c AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
                      {CENTS_SQL} AS cents FROM events)
    SELECT event_id, user_id,
           CAST(SUM(cents) OVER w AS BIGINT) AS roll_sum_cents,
           CAST(SUM(cents) OVER w // COUNT(*) OVER w AS BIGINT)
             AS roll_avg_cents
    FROM c
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    """,
)
def q88_rolling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded sliding-frame analytics (5-event rolling revenue sum and
    floor-mean per user) — the rolling-metric primitive TSDB dashboards
    downsample with. A ROWS frame carries O(frame) state per key (vs the
    unbounded running frame of q29); both window functions share one
    keyed shuffle + sort. Mean kept integer (sum div count) for the
    cross-engine hash."""
    ev = load_events(spark, sf_dir, spread=True).select(
        "event_id", "user_id", "ts_ms", cents(F.col("value")).alias("cents")
    )
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("user_id")
        .orderBy("ts_ms", "event_id")
        .rowsBetween(-4, W.currentRow)
    )
    s = F.sum("cents").over(w)
    c = F.count(F.lit(1)).over(w)
    # floor(s/c) over doubles is exact here: s, c << 2^26 so the true
    # rational quotient is never within one ulp of an integer unless it
    # IS that integer — identical to BIGINT // in the oracle
    return ev.select(
        "event_id",
        "user_id",
        s.alias("roll_sum_cents"),
        F.floor(s / c).cast("long").alias("roll_avg_cents"),
    )


# ===========================================================================
# q89 — deterministic stratified train/val/test split (NTILE)
# ===========================================================================

@register(
    "q89_ntile_splits",
    """
    SELECT doc_id, lang,
           CAST(ntile(10) OVER (PARTITION BY lang ORDER BY doc_id) AS INT)
             AS fold,
           CASE CAST(ntile(10) OVER (PARTITION BY lang ORDER BY doc_id) AS INT)
             WHEN 10 THEN 'test' WHEN 9 THEN 'val' ELSE 'train' END AS split
    FROM documents
    """,
)
def q89_ntile_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-fraction stratified split assignment: NTILE(10) within each
    language (ordered by doc_id for reproducibility) → folds 1-8 train,
    9 val, 10 test. Complements q47's hash-mod sampler: hash-mod is
    zero-shuffle but only approximately proportioned; NTILE pays one
    keyed shuffle + sort for exactly-equal folds per stratum
    (analytics.ntile_split)."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return analytics.ntile_split(docs, "lang", "doc_id", 10, (9, 10)).select(
        "doc_id", "lang", F.col("fold").cast("int").alias("fold"), "split"
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
# q92 — two-step funnel conversion (click → purchase within 1 h)
# ===========================================================================

@register(
    "q92_funnel_conversion",
    """
    WITH c AS (SELECT user_id, MIN(epoch_ms(ts)) AS t_first
               FROM events WHERE event_type = 'click' GROUP BY 1),
    p AS (SELECT e.user_id, MIN(epoch_ms(e.ts)) AS t_second
          FROM events e JOIN c ON e.user_id = c.user_id
                               AND epoch_ms(e.ts) > c.t_first
          WHERE e.event_type = 'purchase' GROUP BY 1)
    SELECT c.user_id, c.t_first, p.t_second,
           CASE WHEN p.t_second IS NOT NULL
                 AND p.t_second - c.t_first <= 3600000
                THEN 1 ELSE 0 END AS converted
    FROM c LEFT JOIN p USING (user_id)
    """,
)
def q92_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral funnel: earliest click per user, earliest purchase
    STRICTLY after it, converted iff within one hour
    (analytics.funnel_conversion). All joins/aggregates key on user_id —
    one partitioning carried through; strictly-after ordering excludes
    purchase-races-click ties deterministically on both engines."""
    ev = load_events(spark, sf_dir, spread=True)
    return analytics.funnel_conversion(
        ev, "user_id", "ts_ms", "event_type", "click", "purchase", 3600000
    )


# ===========================================================================
# q93 — weekly retention cohorts
# ===========================================================================

@register(
    "q93_retention_cohorts",
    """
    WITH b AS (SELECT user_id, epoch_ms(ts) // 604800000 AS bucket
               FROM events),
    f AS (SELECT user_id, MIN(bucket) AS cohort FROM b GROUP BY 1),
    a AS (SELECT DISTINCT user_id, bucket FROM b)
    SELECT f.cohort, a.bucket - f.cohort AS offset,
           COUNT(DISTINCT a.user_id) AS n_keys
    FROM a JOIN f USING (user_id) GROUP BY 1, 2
    """,
)
def q93_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix (weekly buckets): users grouped by
    first-activity week, counted per week offset
    (analytics.retention_cohorts). The first-activity aggregate,
    activity-dedup, and re-join all share user_id partitioning — the
    exchange is planned once; no broadcast hint because the user
    dimension is unbounded at 100 TB (AQE may still pick broadcast when
    the measured cohort table is small)."""
    ev = load_events(spark, sf_dir, spread=True)
    return analytics.retention_cohorts(ev, "user_id", "ts_ms")


# ===========================================================================
# q94 — CUBE grouping sets with GROUPING ids (the cube half of E3's
# grouping-set surface; the rollup half gates as q25)
# ===========================================================================

@register(
    "q94_cube_grouping",
    f"""
    WITH c AS (
      SELECT event_type, epoch_ms(ts) // 86400000 AS day,
             {CENTS_SQL} AS cents
      FROM events
    )
    SELECT event_type, day,
           CAST(GROUPING(event_type) AS INT) AS g_type,
           CAST(GROUPING(day) AS INT) AS g_day,
           COUNT(*) AS cnt,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM c GROUP BY CUBE (event_type, day)
    """,
)
def q94_cube_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, day) with GROUPING flags — all four
    grouping sets in ONE Expand + single keyed hash aggregate (see
    analytics.rollup_cube: the Expand replicates rows map-side, partial
    aggregation collapses before the exchange, so the shuffle stays
    ~output-sized at 100 TB — never one job per set). GROUPING() flags
    disambiguate a rolled-up NULL from a data NULL, pinned cross-engine
    here."""
    ev = (
        load_events(spark, sf_dir, spread=True)
        .withColumn("cents", cents(F.col("value")))
        .withColumn("day", F.expr("ts_ms div 86400000"))
    )
    return analytics.rollup_cube(
        ev,
        ["event_type", "day"],
        [
            F.grouping("event_type").cast("int").alias("g_type"),
            F.grouping("day").cast("int").alias("g_day"),
            F.count("*").alias("cnt"),
            F.sum("cents").alias("sum_cents"),
        ],
        cube=True,
    )


# ===========================================================================
# q95 — selective-dim fact join (runtime bloom-filter pruning surface)
# ===========================================================================

@register(
    "q95_bloom_dim_join",
    """
    SELECT CAST(year(l.l_shipdate) * 100 + month(l.l_shipdate) AS INT)
             AS ship_month,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100)
                    AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY 1
    """,
)
def q95_bloom_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ selectively-filtered dim — the row-level runtime-filter
    sibling of q90's partition-level DPP: Catalyst plants
    ``might_contain(bloom_agg(o_orderkey))`` on the FACT scan so ~80% of
    lineitem rows drop before the exchange instead of after the join —
    THE shape of a 100 TB fact ⋈ selective dim, where the dim is far too
    big to broadcast.

    At gate scale Spark's size thresholds would correctly decline both
    the bloom (fact scan ≪ applicationSideScanSizeThreshold's 10 GB) and
    the shuffle join (dim broadcasts), so the gate pins the scale plan
    explicitly: the thresholds are set ONLY for this query's logical
    optimization — ``optimizedPlan`` is forced (and memoized by Spark's
    QueryExecution) while they're pinned, then every conf is restored,
    so the other gate queries plan under stock settings. The returned
    frame's plan therefore genuinely contains the bloom filter
    (tests/test_wave4.py asserts might_contain on THIS function's
    output). Two details matter at any scale: the dim side must be a
    bare filter-over-scan (a repartition above the creation side breaks
    InjectRuntimeFilter's pattern — so no spread on the dim), and
    ``creationSideThreshold`` must clear the dim's ESTIMATED size
    (filter selectivity is unknown without CBO stats, so the estimate is
    the full table)."""
    li = load(spark, sf_dir, "lineitem", spread=True)
    orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    ship_month = (
        F.year("l_shipdate") * 100 + F.month("l_shipdate")
    ).cast("int")
    out = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(ship_month.alias("ship_month"))
        .agg(
            F.count("*").alias("cnt"),
            F.sum(
                cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue_cents"),
        )
    )
    pinned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    saved = {k: spark.conf.get(k, None) for k in pinned}
    try:
        for k, v in pinned.items():
            spark.conf.set(k, v)
        # lazy-val memoization: the logical plan optimizes NOW, under the
        # pinned confs, and the driver's later action reuses it
        out._jdf.queryExecution().optimizedPlan()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return out


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
# q97 — fixed-width histogram profile
# ===========================================================================

_HIST_LO, _HIST_HI, _HIST_NB = 0, 40000, 16  # cents ∈ [1, 49002]: top clamps


@register(
    "q97_value_histogram",
    f"""
    WITH c AS (SELECT event_type, {CENTS_SQL} AS cents FROM events),
    b AS (
      SELECT event_type,
             LEAST({_HIST_NB - 1},
                   GREATEST(0, (cents - {_HIST_LO}) // 2500)) AS bucket
      FROM c
    )
    SELECT event_type, bucket, COUNT(*) AS cnt,
           {_HIST_LO} + bucket * 2500 AS bucket_lo,
           {_HIST_LO} + (bucket + 1) * 2500 AS bucket_hi
    FROM b GROUP BY 1, 2
    """,
)
def q97_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-metric fixed-width histogram (analytics.fixed_width_histogram):
    pure integer bucketing → ONE keyed hash aggregate, output size
    n_buckets × keys regardless of input — the 100 TB distribution
    profile (no sort, no sampling; out-of-range values clamp into edge
    buckets so counts always total the scan). The top bucket's clamp is
    live here (cents range exceeds hi)."""
    ev = load_events(spark, sf_dir, spread=True).withColumn(
        "cents", cents(F.col("value"))
    )
    return analytics.fixed_width_histogram(
        ev, "event_type", "cents", _HIST_LO, _HIST_HI, _HIST_NB
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

    from hbase_bulkload_service_spark.operators import maintenance

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
