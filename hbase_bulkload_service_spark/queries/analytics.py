"""Analytics and graph queries: SQL scan/join/aggregate shapes, window
and sketch statistics, forecasting and drift (``operators.analytics``),
and the graph algorithms (``operators.graph``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hbase_bulkload_service_spark.functions.codec import ts_at_most_ms
from hbase_bulkload_service_spark.operators import analytics, dedup
from hbase_bulkload_service_spark.operators import graph as graph_mod
from hbase_bulkload_service_spark.operators.textops import words_of
from hbase_bulkload_service_spark.oracle_frags import (
    _EWMA_SPIKE,
    CENTS_SQL,
    DOCS_NORM_CTE,
    EWMA_CHART_ORACLE,
)
from hbase_bulkload_service_spark.registry import cents, register
from hbase_bulkload_service_spark.session import local_frame
from hbase_bulkload_service_spark.sources.tables import load, load_events


# deletion-neighborhood fuzzy-linkage edges over customer names
# (dedup.fuzzy_self_join_k1 semantics) — the shared graph for
# q113/q114 and q149
FUZZY_EDGES_CTE = """
    v AS (
      SELECT c_custkey AS id, c_name AS s,
             md5(unnest(list_distinct(list_append(
               list_transform(range(1, length(c_name) + 1),
                              i -> substr(c_name, 1, i - 1) || substr(c_name, i + 1)),
               c_name)))) AS var
      FROM customer
    ),
    e AS (
      SELECT DISTINCT a.id AS x, b.id AS y
      FROM v a JOIN v b ON a.var = b.var AND a.id < b.id
      WHERE levenshtein(a.s, b.s) <= 1
    )
"""


@register(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(FLOOR(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
           CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
           CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
           CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT) AS sum_charge_cents,
           COUNT(*) AS cnt
    FROM lineitem
    WHERE epoch_ms(l_shipdate) <= 904694400000
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship scan+aggregate (Q1-style pricing summary).

    Catalyst plan: parquet scan with the shipdate range PUSHED to the scan
    (typed-literal comparison — wrapping the column in epoch arithmetic
    would defeat row-group pruning) + column pruning → partial hash agg →
    final hash agg. No custom code.
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(ts_at_most_ms(li, "l_shipdate", 904694400000))  # 1998-09-02Z
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(cents(F.col("l_quantity"))).alias("sum_qty_cents"),
            F.sum(cents(F.col("l_extendedprice"))).alias("sum_base_cents"),
            F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "sum_disc_cents"
            ),
            F.sum(
                cents(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                )
            ).alias("sum_charge_cents"),
            F.count("*").alias("cnt"),
        )
    )


@register(
    "q02_revenue_by_nation",
    """
    SELECT n.n_name,
           CAST(SUM(CAST(FLOOR(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
           COUNT(*) AS order_cnt
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q02_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join aggregate; nation is broadcast (small dim)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(cents(F.col("o_totalprice"))).alias("revenue_cents"),
            F.count("*").alias("order_cnt"),
        )
    )


@register(
    "q03_topk_orders",
    """
    SELECT o_orderkey, o_custkey,
           CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS totalprice_cents
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def q03_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4 LIMIT/top-k — Spark TakeOrderedAndProject (no full sort at scale).
    Ties broken by unique o_orderkey for cross-engine determinism."""
    o = load(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select(
            "o_orderkey",
            "o_custkey",
            cents(F.col("o_totalprice")).alias("totalprice_cents"),
        )
    )


# ===========================================================================
# q25 — grouping sets (ROLLUP) aggregation
# ===========================================================================

@register(
    "q25_rollup_agg",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(FLOOR(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
           COUNT(*) AS cnt
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def q25_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 extension — grouping-sets aggregation (ROLLUP): per-(flag,status),
    per-flag subtotal, and grand total in ONE Expand + hash aggregate (a
    single shuffle; no per-set jobs). New capability: the reference
    delegates all SQL aggregation to Flink's planner and has no
    grouping-set surface of its own."""
    li = load(spark, sf_dir, "lineitem")
    return analytics.rollup_cube(
        li,
        ["l_returnflag", "l_linestatus"],
        [
            F.sum(cents(F.col("l_quantity"))).alias("sum_qty_cents"),
            F.count("*").alias("cnt"),
        ],
    )


# ===========================================================================
# q26 — exact per-group quantiles (PERCENTILE_DISC twin)
# ===========================================================================

@register(
    "q26_group_quantiles",
    """
    WITH e AS (
      SELECT event_type, CAST(FLOOR(value * 100) AS BIGINT) AS v FROM events
    ),
    r AS (
      SELECT event_type, v,
             row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM e
    )
    SELECT event_type, p, v AS quantile_value, n AS group_n
    FROM r CROSS JOIN (
      SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE), CAST(0.99 AS DOUBLE)]) AS p
    ) ps
    WHERE rn = CAST(ceil(p * n) AS INT)
    """,
)
def q26_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed quantiles (p50/p90/p99 of event value) — the
    PERCENTILE_DISC definition (value at rank ceil(p*n)), integer-exact so
    both engines pick the identical element. One keyed shuffle; see
    analytics.group_quantiles for the 100 TB notes."""
    e = load_events(spark, sf_dir, spread=True).select(
        "event_type", cents(F.col("value")).alias("v")
    )
    return analytics.group_quantiles(e, "event_type", "v", (0.5, 0.9, 0.99))


# ===========================================================================
# q29 — per-key running window analytics
# ===========================================================================

@register(
    "q29_running_stats",
    """
    WITH e AS (
      SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
             CAST(FLOOR(value * 100) AS BIGINT) AS cents
      FROM events WHERE user_id % 97 = 0
    )
    SELECT user_id, event_id, ts_ms, cents,
           CAST(SUM(cents) OVER (
             PARTITION BY user_id ORDER BY ts_ms, event_id
             ROWS UNBOUNDED PRECEDING
           ) AS BIGINT) AS running_cents,
           ts_ms - lag(ts_ms) OVER (
             PARTITION BY user_id ORDER BY ts_ms, event_id
           ) AS gap_ms,
           CAST(row_number() OVER (
             PARTITION BY user_id ORDER BY ts_ms, event_id
           ) AS INT) AS seq
    FROM e
    """,
)
def q29_running_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-family extension — lag + running sum + ordinal per user in ONE
    keyed shuffle (all windows share partitioning+ordering → single
    Window operator). Unique (ts, event_id) ordering keeps lag/rank
    deterministic cross-engine."""
    ev = (
        load_events(spark, sf_dir, spread=True)
        .filter(F.col("user_id") % 97 == 0)
        .select("user_id", "event_id", "ts_ms", cents(F.col("value")).alias("cents"))
    )
    return analytics.running_user_stats(ev)


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
# q108 — first-order event-transition matrix (user-journey profile)
# ===========================================================================


@register(
    "q108_event_transitions",
    """
    WITH e AS (
      SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, event_id
      FROM events
    ),
    nxt AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts_ms, event_id
             ) AS to_type
      FROM e
    ),
    t AS (
      SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM nxt WHERE to_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_type, to_type, cnt,
           cnt * 1000000
             // CAST(SUM(cnt) OVER (PARTITION BY from_type) AS BIGINT)
             AS share_ppm
    FROM t
    """,
)
def q108_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition matrix of per-user event sequences with
    per-from-state integer-ppm shares
    (operators/analytics.py:event_transitions)."""

    return analytics.event_transitions(load_events(spark, sf_dir, spread=True))


@register(
    "q113_triangle_counts",
    f"""
    WITH {FUZZY_EDGES_CTE},
    t AS (
      SELECT e1.x AS n1, e1.y AS n2, e2.y AS n3
      FROM e e1
      JOIN e e2 ON e2.x = e1.y
      JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y
    ),
    c AS (
      SELECT n1 AS node FROM t
      UNION ALL SELECT n2 FROM t
      UNION ALL SELECT n3 FROM t
    )
    SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles FROM c GROUP BY 1
    """,
)
def q113_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the q107 near-identical-name graph —
    duplicate-clique detection (triangle-dense neighborhoods are true
    entity clusters; triangle-free hubs are blocking false positives).
    Engine side uses the degree-ordered orientation algorithm
    (operators/graph.py:triangle_counts — out-degree bounded ~sqrt(2m),
    hub-skew-proof); the oracle counts each x<y<z triangle once via the
    ordered 3-way join."""
    from hbase_bulkload_service_spark.operators import graph

    cust = load(spark, sf_dir, "customer", spread=True)
    pairs = dedup.fuzzy_self_join_k1(cust, "c_custkey", "c_name").select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    return graph.triangle_counts(pairs)


# ===========================================================================
# q114 — integer-exact PageRank over the linkage graph (oracle unrolls the
# same fixed iterations as plain SQL — an ORACLE-GATED iterative algorithm)
# ===========================================================================

PR_ITERS = 5


def _pr_step(prev: str, nxt: str) -> str:
    return f"""
    {nxt} AS (
      SELECT e.dst AS node,
             tele + (85 * CAST(SUM({prev}.r // dg.deg) AS BIGINT)) // 100 AS r
      FROM {prev}
      JOIN dg ON dg.node = {prev}.node
      JOIN e ON e.src = {prev}.node
      CROSS JOIN tp
      GROUP BY 1, tele
    )"""


_PR_CHAIN = ",".join(_pr_step(f"r{i}", f"r{i + 1}") for i in range(PR_ITERS))


@register(
    "q114_pagerank",
    f"""
    WITH {FUZZY_EDGES_CTE},
    ed AS (
      SELECT x AS src, y AS dst FROM e
      UNION ALL SELECT y AS src, x AS dst FROM e
    ),
    dg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
           FROM ed GROUP BY 1),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM dg),
    tp AS (SELECT ((15 * CAST({graph_mod.PR_MASS} AS BIGINT) // 100) // n)
             AS tele,
           (CAST({graph_mod.PR_MASS} AS BIGINT) // n) AS r0 FROM nn),
    e2 AS (SELECT src, dst FROM ed),
    r0 AS (SELECT node, r0 AS r FROM dg CROSS JOIN tp),
    {_PR_CHAIN.replace("JOIN e ON", "JOIN e2 ON").replace("e.src", "e2.src").replace("e.dst", "e2.dst")}
    SELECT node, r AS rank_ppb FROM r{PR_ITERS}
    """,
)
def q114_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (5 integer-exact rounds, 85/100 damping, ppb mass) over
    the q107 near-identical-name graph — centrality-based canonical-copy
    selection (operators/graph.py:pagerank). The oracle unrolls the SAME
    five rounds as chained SQL CTEs: a fully oracle-gated iterative
    algorithm, unlike the argmax-per-round families (kmeans/BPE) where
    only rows-only checks are possible."""
    from hbase_bulkload_service_spark.operators import graph

    cust = load(spark, sf_dir, "customer", spread=True)
    pairs = dedup.fuzzy_self_join_k1(cust, "c_custkey", "c_name").select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    return graph.pagerank(pairs, iters=PR_ITERS)


# ===========================================================================
# q115 — sketch accuracy verdicts (oracle-gated twin of q73)
# ===========================================================================

@register(
    "q115_sketch_accuracy",
    """
    SELECT event_type,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT user_id) AS exact_distinct,
           TRUE AS hll_within_bound,
           TRUE AS gk_rank_within_bound
    FROM events
    GROUP BY event_type
    """,
)
def q115_sketch_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q73's sketches pushed through the cross-engine gate: the oracle
    computes the EXACT side (row count, distinct users) and asserts the
    accuracy booleans as literal TRUE — the row hash-matches iff HLL++
    and the GK median actually meet their error contracts on this data
    (operators/analytics.py:sketch_accuracy carries the integer-ppm
    bound algebra). Sketch STATES stay out of the oracle by nature;
    their ACCURACY no longer does."""
    ev = load_events(spark, sf_dir, spread=True).withColumn(
        "cents", cents(F.col("value"))
    )
    return analytics.sketch_accuracy(ev, "event_type", "user_id", "cents")


@register(
    "q117_heavy_hitters",
    f"""
    WITH {DOCS_NORM_CTE},
    words AS (SELECT unnest(ws) AS item FROM w),
    nn AS (SELECT item FROM words WHERE item <> '')
    SELECT item, COUNT(*) AS cnt
    FROM nn
    GROUP BY item
    HAVING COUNT(*) * 1000000 >= 34000 * (SELECT COUNT(*) FROM nn)
    """,
)
def q117_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every word holding ≥3.4% of the corpus token stream, with exact
    counts (operators/analytics.py:heavy_hitters). The scale shape is the
    point: pass 1 is a zero-item-shuffle Misra-Gries summary per
    partition (bounded candidate superset by the n/k undercount bound),
    pass 2 recounts candidates exactly via a broadcast semi join — the
    full distinct-word space never shuffles, unlike the naive GROUP BY
    HAVING the oracle runs."""
    words = (
        load(spark, sf_dir, "documents", spread=True)
        .select(F.explode(words_of(F.col("text"))).alias("word"))
        .filter(F.col("word") != "")
    )
    return analytics.heavy_hitters(words, "word", phi_ppm=34_000)


# ===========================================================================
# q120 — join-key skew profile (count-of-counts histogram, log2 buckets)
# ===========================================================================

@register(
    "q120_key_skew_profile",
    """
    WITH counts AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY 1)
    SELECT CAST(length(to_base(cnt, 2)) - 1 AS INT) AS log2_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           CAST(MIN(cnt) AS BIGINT) AS min_cnt,
           CAST(MAX(cnt) AS BIGINT) AS max_cnt
    FROM counts GROUP BY 1
    """,
)
def q120_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnostic for the busiest join key (events.user_id):
    count-of-counts in exact log2 buckets
    (operators/analytics.py:key_skew_profile) — the profile that decides
    salting / broadcast / AQE-skew-join strategy before a 100 TB shuffle.
    floor(log2) is computed via base-2 string length on both engines (no
    libm log2 in the verdict)."""
    return analytics.key_skew_profile(
        load_events(spark, sf_dir, spread=True), "user_id"
    )


# ===========================================================================
# q121 — fixed-round hash-to-min connected components (oracle-unrolled
# iterative, completing the family: q114 pagerank, q118 kmeans, q121 cc)
# ===========================================================================

_CC_ROUNDS = 4


def _cc_round(i: int) -> str:
    return f"""
    l{i + 1} AS (
      SELECT node, MIN(lbl) AS lbl FROM (
        SELECT node, lbl FROM l{i}
        UNION ALL
        SELECT ed.dst AS node, l{i}.lbl AS lbl
        FROM ed JOIN l{i} ON l{i}.node = ed.src
      ) GROUP BY 1
    )"""


@register(
    "q121_connected_components",
    f"""
    WITH {FUZZY_EDGES_CTE},
    ed AS (SELECT x AS src, y AS dst FROM e
           UNION ALL SELECT y AS src, x AS dst FROM e),
    l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM ed),
    {",".join(_cc_round(i) for i in range(_CC_ROUNDS))}
    SELECT node, CAST(lbl AS BIGINT) AS component FROM l{_CC_ROUNDS}
    """,
)
def q121_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster labeling on the q107 linkage graph with a FIXED
    round budget: 4 hash-to-min rounds
    (operators/graph.py:connected_components_rounds), oracle-unrolled as
    chained SQL CTEs — component = min custkey within distance 4, exact
    for the near-clique clusters blocking-based dedup emits.
    dedup.neardup_clusters (q44) remains the run-to-convergence twin."""
    from hbase_bulkload_service_spark.operators import dedup, graph
    from hbase_bulkload_service_spark.sources.tables import load as _load

    cust = _load(spark, sf_dir, "customer", spread=True)
    pairs = dedup.fuzzy_self_join_k1(cust, "c_custkey", "c_name").select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    return graph.connected_components_rounds(pairs, rounds=_CC_ROUNDS)


# ===========================================================================
# q126 — output-shard planning via the scalable global prefix sum
# ===========================================================================

_SHARD_BYTES = 4000


@register(
    "q126_output_shards",
    f"""
    WITH c AS (
      SELECT doc_id, n_chars,
             CAST(SUM(n_chars) OVER (ORDER BY doc_id) AS BIGINT) AS cum
      FROM documents
    )
    SELECT CAST((greatest(cum, 1) - 1) // {_SHARD_BYTES} AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS bytes,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM c GROUP BY 1
    """,
)
def q126_output_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-targeted output sharding — assign docs (in a stable global
    order) to ~4 KB output shards by cumulative byte count, the planning
    step before writing N-GB training shards. The engine path is
    analytics.prefix_sum's one-range-exchange plan; the oracle is the
    naive global window (Exchange SinglePartition — exactly the plan the
    operator exists to avoid; the 100 TB argument is the plan contract
    pinned in tests, the hash match proves the two agree bit-for-bit)."""
    docs = load(spark, sf_dir, "documents", spread=True)
    cum = analytics.prefix_sum(
        docs.select("doc_id", "n_chars"), "n_chars", ["doc_id"],
        n_shards=16, out_col="cum",
    )
    # pure-integer shard id: greatest(cum,1)-1 keeps the numerator
    # non-negative so truncating `div` == floor `//` in BOTH engines
    # (a leading zero-byte doc would otherwise hit -1/W: 0 vs -1), and
    # no double quotient that could round across a boundary at ~4e15
    shard = F.expr(f"(greatest(cum, 1L) - 1L) div {_SHARD_BYTES}")
    return (
        cum.groupBy(shard.alias("shard"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("bytes"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# ===========================================================================
# q131 — hierarchical ROLLUP aggregation with GROUPING disambiguation
# ===========================================================================


@register(
    "q131_rollup_totals",
    """
    SELECT source, lang,
           CAST(GROUPING(source, lang) AS BIGINT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY ROLLUP (source, lang)
    """,
)
def q131_rollup_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level reporting totals in ONE pass — per (source, lang),
    per source, and grand total — via the native ROLLUP operator
    (Catalyst plans a single Expand + hash aggregate: one scan, one
    shuffle, no self-union of three aggregates). GROUPING() makes
    subtotal rows distinguishable from genuine NULL group values, so the
    oracle hash-match also proves the two engines agree on the grouping
    bitmask convention (first column = high bit)."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return (
        docs.rollup("source", "lang")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .select("source", "lang", "gid", "n_docs", "sum_chars")
    )


# ===========================================================================
# q135 — winsorized per-group statistics
# ===========================================================================


@register(
    "q135_winsorized_stats",
    """
    WITH e AS (
      SELECT event_type, CAST(FLOOR(value * 100) AS BIGINT) AS v FROM events
      WHERE value IS NOT NULL
    ),
    r AS (
      SELECT event_type, v,
             row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM e
    ),
    c AS (
      SELECT event_type, v, n,
             MAX(CASE WHEN rn <= CAST(ceil(0.05 * n) AS INT) THEN v END)
               OVER (PARTITION BY event_type) AS lo,
             MAX(CASE WHEN rn <= CAST(ceil(0.95 * n) AS INT) THEN v END)
               OVER (PARTITION BY event_type) AS hi
      FROM r
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n,
           CAST(MAX(lo) AS BIGINT) AS lo,
           CAST(MAX(hi) AS BIGINT) AS hi,
           CAST(SUM(LEAST(GREATEST(v, lo), hi)) AS BIGINT) AS win_sum,
           CAST(SUM(CASE WHEN v < lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clip_lo,
           CAST(SUM(CASE WHEN v > hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clip_hi
    FROM c GROUP BY event_type
    """,
)
def q135_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-event-type value statistics: clamp the integer-cents
    value at the exact p05/p95 PERCENTILE_DISC cut points and aggregate
    the clipped sum + clip counts — the outlier-proof mean. ONE keyed
    exchange (rank/count/cut windows + the final agg all share the
    event_type partitioning)."""
    e = load_events(spark, sf_dir, spread=True).select(
        "event_type", F.floor(F.col("value") * 100).cast("long").alias("v")
    )
    return analytics.winsorized_stats(e, "event_type", "v", 0.05, 0.95)


# ===========================================================================
# q136 — exact per-group mode
# ===========================================================================


@register(
    "q136_group_mode",
    """
    WITH e AS (
      SELECT event_type, CAST(FLOOR(value * 100) AS BIGINT) AS v FROM events
      WHERE value IS NOT NULL
    ),
    c AS (
      SELECT event_type, v, COUNT(*) AS cnt FROM e GROUP BY 1, 2
    ),
    r AS (
      SELECT event_type, v, cnt,
             row_number() OVER (
               PARTITION BY event_type ORDER BY cnt DESC, v ASC
             ) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS nd
      FROM c
    )
    SELECT event_type,
           CAST(v AS BIGINT) AS mode_value,
           CAST(cnt AS BIGINT) AS mode_count,
           CAST(nd AS BIGINT) AS n_distinct
    FROM r WHERE rn = 1
    """,
)
def q136_group_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent cents value per event type (ties to the smallest
    value — deterministic cross-engine). The window runs over the
    DISTINCT-PAIR table, not the raw rows: the map-side combiner does
    the heavy lifting, the exchange carries (type, value) cardinality."""
    e = load_events(spark, sf_dir, spread=True).select(
        "event_type", F.floor(F.col("value") * 100).cast("long").alias("v")
    )
    return analytics.group_mode(e, "event_type", "v")


# ===========================================================================
# q142 — MAD robust outliers
# ===========================================================================


@register(
    "q142_mad_outliers",
    """
    WITH e AS (
      SELECT event_type, CAST(FLOOR(value * 100) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL
    ),
    r AS (
      SELECT event_type, v,
             row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM e
    ),
    m AS (
      SELECT event_type, v, n,
             MAX(CASE WHEN rn <= (n + 1) // 2 THEN v END)
               OVER (PARTITION BY event_type) AS med
      FROM r
    ),
    d AS (SELECT event_type, n, med, ABS(v - med) AS dev FROM m),
    r2 AS (
      SELECT event_type, n, med, dev,
             row_number() OVER (PARTITION BY event_type ORDER BY dev) AS rn2
      FROM d
    ),
    m2 AS (
      SELECT event_type, n, med, dev,
             MAX(CASE WHEN rn2 <= (n + 1) // 2 THEN dev END)
               OVER (PARTITION BY event_type) AS mad
      FROM r2
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n,
           CAST(MAX(med) AS BIGINT) AS med,
           CAST(MAX(mad) AS BIGINT) AS mad,
           CAST(SUM(CASE WHEN dev > 3 * mad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers
    FROM m2 GROUP BY event_type
    """,
)
def q142_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier profile of the cents value per event
    type (|v - med| > 3*MAD, exact rank-selected medians). The
    stddev-proof complement of zscore_outliers — one extreme value
    inflates a stddev enough to mask itself; it barely moves the MAD."""
    e = load_events(spark, sf_dir, spread=True).select(
        "event_type", F.floor(F.col("value") * 100).cast("long").alias("v")
    )
    return analytics.mad_outliers(e, "event_type", "v", k=3)


# ===========================================================================
# q143 — exact per-group least-squares trend
# ===========================================================================


@register(
    "q143_group_trend",
    """
    WITH e AS (
      SELECT event_type, epoch_ms(ts) AS ts_ms,
             CAST(FLOOR(value * 100) AS BIGINT) AS y
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ),
    m AS (SELECT event_type, ts_ms // 3600000 AS x_hr, y FROM e),
    c AS (
      SELECT event_type,
             x_hr - MIN(x_hr) OVER (PARTITION BY event_type) AS xc,
             y
      FROM m
    ),
    a AS (
      SELECT event_type, COUNT(*) AS n, SUM(xc) AS sx, SUM(y) AS sy,
             SUM(xc * y) AS sxy, SUM(xc * xc) AS sxx
      FROM c GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           CAST(n * sxy - sx * sy AS BIGINT) AS num,
           CAST(n * sxx - sx * sx AS BIGINT) AS den,
           CAST((n * sxy - sx * sy)
                // NULLIF((n * sxx - sx * sx) // 1000000, 0) AS BIGINT)
             AS slope_ppm
    FROM a
    """,
)
def q143_group_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is each event type's value drifting over the month? Exact integer
    least-squares slope per type as a rational (num, den) plus a
    truncating ppm quotient — x is HOURS since the type's first event.
    Unit choice is the int64-overflow lever (moments grow as n^2·x·y;
    the 10x linearity probe OVERFLOWED the minutes-unit version —
    analytics.group_trend's docstring carries the caller bound)."""
    ev = load_events(spark, sf_dir, spread=True).select(
        "event_type",
        F.expr("ts_ms div 3600000").alias("x_hr"),
        F.floor(F.col("value") * 100).cast("long").alias("y"),
    )
    return analytics.group_trend(ev, "event_type", "x_hr", "y")


# ===========================================================================
# q144 — hour-of-day seasonal profile
# ===========================================================================


@register(
    "q144_seasonal_profile",
    """
    WITH e AS (
      SELECT event_type, (epoch_ms(ts) // 3600000) % 24 AS slot,
             CAST(FLOOR(value * 100) AS BIGINT) AS v
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ),
    p AS (
      SELECT event_type, slot, COUNT(*) AS n, SUM(v) AS sum_v
      FROM e GROUP BY event_type, slot
    )
    SELECT event_type, CAST(slot AS BIGINT) AS slot,
           CAST(n AS BIGINT) AS n, CAST(sum_v AS BIGINT) AS sum_v,
           CAST((sum_v * 1000000 // n) //
                NULLIF(SUM(sum_v) OVER (PARTITION BY event_type) //
                       SUM(n) OVER (PARTITION BY event_type), 0)
                AS BIGINT) AS idx_ppm
    FROM p
    """,
)
def q144_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UTC hour-of-day baseline per event type: count, sum, and the
    seasonality index (slot mean / series mean, truncating integer ppm)
    — the profile anomaly detectors diff live traffic against. The
    exchange carries at most types x 24 rows (analytics.seasonal_profile)."""
    ev = load_events(spark, sf_dir, spread=True).select(
        "event_type",
        "ts_ms",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    return analytics.seasonal_profile(
        ev, key_col="event_type", ts_col="ts_ms", value_col="cents",
        period=24, slot_ms=3_600_000,
    )


# ===========================================================================
# q148 — fixed-bin histogram drift (population-stability report)
# ===========================================================================


@register(
    "q148_histogram_drift",
    """
    WITH t AS (
      SELECT event_id, CAST(FLOOR(value * 100) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL
    ),
    tagged AS (
      SELECT LEAST(GREATEST(v // 1000, 0), 59) AS bucket,
             CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS ia,
             CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END AS ib
      FROM t
    ),
    pb AS (
      SELECT bucket, SUM(ia) AS n_a, SUM(ib) AS n_b
      FROM tagged GROUP BY bucket
    ),
    tot AS (SELECT SUM(n_a) AS tot_a, SUM(n_b) AS tot_b FROM pb)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(n_a * 1000000 // NULLIF(tot_a, 0) AS BIGINT) AS ppm_a,
           CAST(n_b * 1000000 // NULLIF(tot_b, 0) AS BIGINT) AS ppm_b,
           CAST(n_a * 1000000 // NULLIF(tot_a, 0)
                - n_b * 1000000 // NULLIF(tot_b, 0) AS BIGINT) AS delta_ppm,
           ABS(n_a * 1000000 // NULLIF(tot_a, 0)
               - n_b * 1000000 // NULLIF(tot_b, 0)) > 2000 AS flagged
    FROM pb, tot
    """,
)
def q148_histogram_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability report between the even- and odd-id halves
    of the events table: 60 fixed 10-unit cents bins, per-bin share in
    truncating ppm per side, delta, and a 2000-ppm drift flag
    (analytics.histogram_drift). Edge bins absorb out-of-range tails
    loudly instead of widening the domain silently."""
    ev = load_events(spark, sf_dir, spread=True).select(
        "event_id", F.floor(F.col("value") * 100).cast("long").alias("v")
    )
    return analytics.histogram_drift(
        ev.filter(F.col("event_id") % 2 == 0),
        ev.filter(F.col("event_id") % 2 == 1),
        value_col="v",
        lo=0,
        width=1000,
        n_buckets=60,
        flag_ppm=2000,
    )


_K149 = 27
_ROUNDS149 = 3


def _kcore_unrolled_sql(k: int, rounds: int) -> str:
    # SQL-unroll the fixed-round peel (same recipe as the q114/q118/q121
    # iterative oracles): eR = edges surviving R degree-filter rounds.
    parts = [f"e0 AS (SELECT x, y FROM e)"]
    for r in range(rounds):
        parts.append(
            f"""d{r} AS (
              SELECT node, COUNT(*) AS deg FROM (
                SELECT x AS node FROM e{r}
                UNION ALL SELECT y AS node FROM e{r}
              ) GROUP BY node
            ),
            k{r} AS (SELECT node FROM d{r} WHERE deg >= {k}),
            e{r + 1} AS (
              SELECT e{r}.x, e{r}.y FROM e{r}
              JOIN k{r} ka ON ka.node = e{r}.x
              JOIN k{r} kb ON kb.node = e{r}.y
            )"""
        )
    return f"""
    WITH {FUZZY_EDGES_CTE},
    {', '.join(parts)}
    SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
      SELECT x AS node FROM e{rounds}
      UNION ALL SELECT y AS node FROM e{rounds}
    ) GROUP BY node
    """


@register("q149_kcore", _kcore_unrolled_sql(_K149, _ROUNDS149))
def q149_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densest-region extraction: k-core peel (k=_K149=27, _ROUNDS149=3
    fixed rounds, graph.kcore_rounds) over the same fuzzy-linkage graph
    q113/q114 analyze — surviving nodes with their in-core degree.
    Pruning by degrees only (no pair enumeration); the oracle unrolls
    each peel round as chained CTEs."""
    from hbase_bulkload_service_spark.operators import dedup, graph

    cust = load(spark, sf_dir, "customer", spread=True)
    pairs = dedup.fuzzy_self_join_k1(cust, "c_custkey", "c_name").select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    return graph.kcore_rounds(pairs, k=_K149, rounds=_ROUNDS149)


# ===========================================================================
# q150 — cogrouped two-stream merge alignment (cogroup applyInPandas)
# ===========================================================================


@register(
    "q150_stream_alignment",
    """
    WITH u AS (
      SELECT user_id, epoch_ms(ts) AS ts_ms, event_id,
             CASE WHEN event_type = 'click' THEN 'a' ELSE 'b' END AS side
      FROM events
      WHERE event_type IN ('click', 'purchase') AND ts IS NOT NULL
    ),
    o AS (
      SELECT user_id, side, ts_ms, event_id,
             lag(side) OVER (PARTITION BY user_id
                             ORDER BY ts_ms, event_id) AS prev
      FROM u
    )
    SELECT user_id,
           CAST(SUM(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_a,
           CAST(SUM(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_b,
           CAST(SUM(CASE WHEN prev IS NOT NULL AND side <> prev
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_switches,
           md5(string_agg(side, '' ORDER BY ts_ms, event_id)) AS seq_md5
    FROM o GROUP BY user_id
    """,
)
def q150_stream_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How do each user's click and purchase streams interleave? Merged
    (ts, id)-order side-sequence hash + switch count per user via
    COGROUPED applyInPandas (analytics.cogroup_merge_stats) — the gate
    that verifies the two-sided grouped-map plumbing against a
    first-principles SQL window oracle, so genuinely imperative per-key
    mergers can build on it."""
    ev = load_events(spark, sf_dir, spread=True).filter(
        F.col("ts_ms").isNotNull()
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts_ms", "event_id"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts_ms", "event_id"
    )
    return analytics.cogroup_merge_stats(
        clicks, purchases, key_col="user_id", ts_col="ts_ms",
        id_col="event_id",
    )


# ===========================================================================
# q153 — top-N + __other__ fold
# ===========================================================================


@register(
    "q153_topn_other",
    f"""
    WITH c AS (
      SELECT event_type, CAST(user_id % 100 AS VARCHAR) AS item,
             {CENTS_SQL} AS cents
      FROM events
    ),
    a AS (
      SELECT event_type, item, SUM(cents) AS total, COUNT(*) AS n_rows
      FROM c GROUP BY event_type, item
    ),
    r AS (
      SELECT event_type, item, total, n_rows,
             row_number() OVER (
               PARTITION BY event_type ORDER BY total DESC, item ASC
             ) AS rank
      FROM a
    )
    SELECT event_type, item, CAST(total AS BIGINT) AS total,
           CAST(n_rows AS BIGINT) AS n_rows, CAST(rank AS BIGINT) AS rank,
           FALSE AS is_other
    FROM r WHERE rank <= 10
    UNION ALL
    SELECT event_type, '__other__' AS item,
           CAST(SUM(total) AS BIGINT) AS total,
           CAST(SUM(n_rows) AS BIGINT) AS n_rows,
           CAST(11 AS BIGINT) AS rank, TRUE AS is_other
    FROM r WHERE rank > 10 GROUP BY event_type
    """,
)
def q153_topn_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 user buckets by spend per event type, tail folded into one
    ``__other__`` row (analytics.topn_other) — output is at most 11 rows
    per group regardless of item cardinality; the corpus collapses at
    the first map-side-combined hash aggregate."""
    ev = load_events(spark, sf_dir, spread=True).select(
        "event_type",
        (F.col("user_id") % 100).cast("string").alias("item"),
        cents(F.col("value")).alias("cents"),
    )
    out = analytics.topn_other(
        ev, group_col="event_type", item_col="item", value_col="cents", n=10
    )
    return out.select(
        "event_type",
        "item",
        "total",
        "n_rows",
        F.col("rank").cast("long").alias("rank"),
        "is_other",
    )


# ===========================================================================
# q160 — top user journeys
# ===========================================================================


@register(
    "q160_user_journeys",
    """
    WITH e AS (
      SELECT user_id, event_type, event_id, epoch_ms(ts) AS ts_ms
      FROM events
    ),
    r AS (
      SELECT user_id, event_type,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts_ms, event_id) AS rn
      FROM e
    ),
    p AS (
      SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
      FROM r WHERE rn <= 5 GROUP BY user_id
    ),
    c AS (SELECT path, COUNT(*) AS n_users FROM p GROUP BY path),
    t AS (
      SELECT path, CAST(n_users AS BIGINT) AS n_users,
             CAST(row_number() OVER (ORDER BY n_users DESC, path ASC)
                  AS INT) AS rank
      FROM c
    )
    SELECT path, n_users, rank FROM t WHERE rank <= 20
    """,
)
def q160_user_journeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 five-step user journeys (analytics.user_journeys): each
    user's first 5 events in (ts, id) order form a path; paths are
    counted across users and ranked deterministically. The rank window
    and per-user path aggregate share ONE user-keyed exchange; the
    final top-k is a TakeOrdered over the path-cardinality count
    table."""
    ev = load_events(spark, sf_dir, spread=True)
    return analytics.user_journeys(ev, max_steps=5, top_k=20)


# ===========================================================================
# q176 — fixed-round label propagation communities (oracle-unrolled
# iterative, extending the family: q114 pagerank, q121 CC, q149 k-core)
# ===========================================================================

_LPA_ROUNDS = 3


def _lpa_round(i: int) -> str:
    """One synchronous LPA round: neighbor label counts -> per-node
    argmax (count desc, label asc)."""
    return f"""
    n{i} AS (
      SELECT ed.dst AS node, l{i}.lbl
      FROM ed JOIN l{i} ON l{i}.node = ed.src
    ),
    c{i} AS (SELECT node, lbl, COUNT(*) AS c FROM n{i} GROUP BY 1, 2),
    l{i + 1} AS MATERIALIZED (
      SELECT node, lbl FROM (
        SELECT node, lbl,
               row_number() OVER (PARTITION BY node
                                  ORDER BY c DESC, lbl) AS rn
        FROM c{i}
      ) WHERE rn = 1
    )"""


@register(
    "q176_label_propagation",
    f"""
    WITH {FUZZY_EDGES_CTE},
    ed AS MATERIALIZED (
      SELECT x AS src, y AS dst FROM e
      UNION ALL SELECT y AS src, x AS dst FROM e
    ),
    l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl FROM ed),
    {",".join(_lpa_round(i) for i in range(_LPA_ROUNDS))}
    SELECT node, CAST(lbl AS BIGINT) AS community FROM l{_LPA_ROUNDS}
    """,
)
def q176_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the q107 near-identical-name graph:
    {_LPA_ROUNDS} synchronous label-propagation rounds
    (operators/graph.py:label_propagation_rounds) — most-frequent
    neighbor label, ties -> lowest, init = own id. The oracle unrolls
    the SAME rounds as chained MATERIALIZED CTEs, so a divergence in any
    round's counts or tie-break breaks the hash. Communities complement
    q121's hash-to-min components: CC floods one min through any bridge
    edge; LPA keeps locally-dense groups separate."""
    from hbase_bulkload_service_spark.operators import dedup, graph

    cust = load(spark, sf_dir, "customer", spread=True)
    pairs = dedup.fuzzy_self_join_k1(cust, "c_custkey", "c_name").select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    return graph.label_propagation_rounds(pairs, rounds=_LPA_ROUNDS)


@register("q178_ewma_chart", EWMA_CHART_ORACLE)
def q178_ewma_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer EWMA control chart per user series
    (operators/analytics.py:ewma_control): E_1 = x_1,
    E_t = (E_(t-1) + x_t) div 2 over cents, spike where
    x_t > {_EWMA_SPIKE} * E_(t-1). The truncation in every step breaks
    any window/prefix-sum rewrite, so the engine side is the canonical
    Arrow-batched applyInPandas stateful loop (one keyed exchange, O(1)
    state per series) and the oracle replays the recurrence as a
    recursive CTE stepping rn -> rn+1 — a divergence at any step breaks
    every later row's hash."""
    return analytics.ewma_control(
        load_events(spark, sf_dir, spread=True), spike_factor=_EWMA_SPIKE
    )


# ===========================================================================
# q182 — STL-lite seasonal decomposition (trend / seasonal / residual)
# ===========================================================================

_STL_K = 2
_STL_PERIOD = 24
_STL_SLOT = 3_600_000


_STL_CHAIN = f"""
    s AS (
      SELECT event_type, user_id, event_id, epoch_ms(ts) AS ts_ms,
             CAST(FLOOR(value * 100) AS BIGINT) AS x
      FROM events
    ),
    t AS (
      SELECT event_type, user_id, event_id, ts_ms, x,
             CASE WHEN COUNT(*) OVER w = {2 * _STL_K + 1}
                  THEN CAST(SUM(x) OVER w // {2 * _STL_K + 1} AS BIGINT)
             END AS trend
      FROM s
      WINDOW w AS (PARTITION BY event_type, user_id
                   ORDER BY ts_ms, event_id
                   ROWS BETWEEN {_STL_K} PRECEDING AND {_STL_K} FOLLOWING)
    ),
    d AS (
      SELECT *, x - trend AS detr,
             (ts_ms // {_STL_SLOT}) % {_STL_PERIOD} AS phase
      FROM t
    ),
    se AS MATERIALIZED (
      SELECT *,
             CASE WHEN COUNT(detr) OVER wp > 0
                  THEN CAST(SUM(detr) OVER wp // COUNT(detr) OVER wp
                            AS BIGINT)
             END AS seasonal
      FROM d
      WINDOW wp AS (PARTITION BY event_type, user_id, phase)
    )"""


@register(
    "q182_stl_decompose",
    f"""
    WITH {_STL_CHAIN}
    SELECT event_type, user_id, event_id, ts_ms, phase,
           x AS x_cents, trend AS trend_cents, seasonal AS seasonal_cents,
           CAST(detr - seasonal AS BIGINT) AS resid_cents
    FROM se
    """,
)
def q182_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite decomposition of every (event_type, user_id) series
    (operators/analytics.py:stl_decompose): centered 5-sample moving-
    average trend (NULL at edges — full windows only), per-(series,
    hour-of-day) seasonal mean of the detrended samples, residual =
    the rest. Truncating integer division throughout — Spark div and
    DuckDB // agree even on the negative detrended sums. Two keyed
    window exchanges, no joins."""
    return analytics.stl_decompose(load_events(spark, sf_dir, spread=True))


# ===========================================================================
# q183 — robust seasonal anomalies: STL residual vs per-series MAD
# ===========================================================================

_MAD_C = 3


@register(
    "q183_stl_anomalies",
    f"""
    WITH {_STL_CHAIN},
    f AS (
      SELECT event_type, user_id, event_id, ts_ms, x AS x_cents,
             CAST(detr - seasonal AS BIGINT) AS resid_cents
      FROM se WHERE detr IS NOT NULL AND seasonal IS NOT NULL
    ),
    r1 AS (
      SELECT *,
             row_number() OVER (PARTITION BY event_type, user_id
                                ORDER BY resid_cents, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type, user_id) AS n
      FROM f
    ),
    m1 AS (
      SELECT *,
             MAX(CASE WHEN rn = CAST(ceil(n / 2.0) AS INT)
                      THEN resid_cents END)
               OVER (PARTITION BY event_type, user_id) AS med_cents
      FROM r1
    ),
    d1 AS (SELECT *, abs(resid_cents - med_cents) AS dev FROM m1),
    r2 AS (
      SELECT *,
             row_number() OVER (PARTITION BY event_type, user_id
                                ORDER BY dev, event_id) AS drn
      FROM d1
    ),
    m2 AS (
      SELECT *,
             MAX(CASE WHEN drn = CAST(ceil(n / 2.0) AS INT) THEN dev END)
               OVER (PARTITION BY event_type, user_id) AS mad_cents
      FROM r2
    )
    SELECT event_type, user_id, event_id, ts_ms, x_cents, resid_cents,
           CAST(med_cents AS BIGINT) AS med_cents,
           CAST(mad_cents AS BIGINT) AS mad_cents
    FROM m2 WHERE dev > {_MAD_C} * mad_cents
    """,
)
def q183_stl_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust seasonal anomaly detection
    (operators/analytics.py:stl_mad_anomalies): q182's residuals scored
    against their series' exact median/MAD,
    |resid - med| > {_MAD_C} x MAD, multiplied out — no division, no
    float. The median and MAD are PERCENTILE_DISC windows over the
    series partition (rank + count + max(case)), so the detector adds
    ONE series re-exchange to the two stl window exchanges and no
    joins. The composed-gate idiom (q139/q162): decomposition +
    threshold verified as one hash-exact unit."""
    return analytics.stl_mad_anomalies(
        load_events(spark, sf_dir, spread=True), c=_MAD_C
    )


# ===========================================================================
# q184 — Holt linear-trend forecast chart (two-register sequential
# recurrence; the forecasting member of the q178 family)
# ===========================================================================


@register(
    "q184_holt_forecast",
    """
    WITH RECURSIVE s AS MATERIALIZED (
      SELECT user_id, event_id,
             CAST(FLOOR(value * 100) AS BIGINT) AS x,
             CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
               AS BIGINT) AS rn
      FROM events
    ),
    r AS (
      SELECT user_id, event_id, rn, x, x AS l, CAST(0 AS BIGINT) AS b,
             CAST(NULL AS BIGINT) AS f, CAST(NULL AS BIGINT) AS e
      FROM s WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.event_id, s.rn, s.x,
             (s.x + r.l + r.b) // 2,
             ((s.x + r.l + r.b) // 2 - r.l + r.b) // 2,
             r.l + r.b,
             s.x - (r.l + r.b)
      FROM r JOIN s ON s.user_id = r.user_id AND s.rn = r.rn + 1
    )
    SELECT user_id, event_id, rn, x AS x_cents,
           CAST(l AS BIGINT) AS level_cents,
           CAST(b AS BIGINT) AS trend_cents,
           CAST(f AS BIGINT) AS forecast_cents,
           CAST(e AS BIGINT) AS err_cents
    FROM r
    """,
)
def q184_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer Holt linear-trend chart per user series
    (operators/analytics.py:holt_forecast): level AND trend registers
    in the alpha=beta=1/2 integer form, emitting each sample's
    one-step-ahead forecast and error — the forecasting member of the
    control-chart family (q178 smooths, this predicts). The trend
    register goes negative on falling series, so the engine loop uses
    explicit truncate-toward-zero division to match Spark div / DuckDB
    // (Python's // floors — a one-character bug the oracle would
    catch on the first falling series). Recursive-CTE oracle steps
    rn -> rn+1 through both registers."""
    return analytics.holt_forecast(load_events(spark, sf_dir, spread=True))


# ===========================================================================
# q186 — skew salting plan (profile -> plan -> execute closes with q120/q28)
# ===========================================================================

_SALT_TARGET = 32


@register(
    "q186_salt_plan",
    f"""
    SELECT user_id, CAST(cnt AS BIGINT) AS cnt,
           CAST((cnt + {_SALT_TARGET} - 1) // {_SALT_TARGET} AS BIGINT)
             AS salt_factor
    FROM (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY 1)
    WHERE cnt > {_SALT_TARGET}
    """,
)
def q186_salt_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew salting plan (operators/analytics.py:salt_plan): keys of the
    busiest join axis whose row count exceeds {_SALT_TARGET}, each with
    the ceil-division salt factor a targeted salted join (q28) should
    spread it over — q120 diagnoses, this plans, q28 executes. One
    map-side-combined keyed agg; the plan is skewed-keys-sized and
    broadcastable."""
    return analytics.salt_plan(
        load_events(spark, sf_dir, spread=True), "user_id",
        target_rows=_SALT_TARGET,
    )


# ===========================================================================
# q189 — compute governance: join-size estimate
# ===========================================================================

_JSE_TOP = 10


@register(
    "q189_join_size_estimate",
    f"""
    WITH counts AS (
      SELECT user_id, COUNT(*) AS cnt, COUNT(*) * COUNT(*) AS pairs
      FROM events GROUP BY 1
    ),
    tot AS (SELECT SUM(pairs) AS total FROM counts)
    SELECT user_id, CAST(cnt AS BIGINT) AS cnt,
           CAST(pairs AS BIGINT) AS pairs,
           CAST((pairs * 1000000) // tot.total AS BIGINT) AS share_ppm
    FROM counts, tot
    ORDER BY pairs DESC, user_id LIMIT {_JSE_TOP}
    """,
)
def q189_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join cardinality pricing
    (operators/analytics.py:join_size_estimate): the exact self-join
    output size per key (cnt^2) from the collapsed count table, top-10
    contributors with their share — priced WITHOUT running the join.
    Completes the skew triptych: q120 diagnoses, q189 prices, q186
    prescribes, the q28 salted join executes."""
    return analytics.join_size_estimate(
        load_events(spark, sf_dir, spread=True), "user_id", top_n=_JSE_TOP
    )


# ===========================================================================
# q207 — integer Holt-Winters additive-seasonal forecast chart
# ===========================================================================

_HW_P = 4


# the seasonal slot this step reads/updates (1-indexed into the list)
_HW_SP = f"list_extract(r.sl, CAST((s.rn - 1) % {_HW_P} AS INT) + 1)"
_HW_L2 = f"((s.x - {_HW_SP} + r.l + r.b) // 2)"
_HW_B2 = f"(({_HW_L2} - r.l + r.b) // 2)"
_HW_S2 = (
    f"list_transform(range(1, {_HW_P + 1}), "
    f"i -> CASE WHEN i = CAST((s.rn - 1) % {_HW_P} AS INT) + 1 "
    f"THEN ((s.x - {_HW_L2} + list_extract(r.sl, i)) // 2) "
    f"ELSE list_extract(r.sl, i) END)"
)
_HW_F = f"(r.l + r.b + {_HW_SP})"
_HW_ZEROS = "[" + ", ".join(["CAST(0 AS BIGINT)"] * _HW_P) + "]"


@register(
    "q207_holt_winters",
    f"""
    WITH RECURSIVE s AS MATERIALIZED (
      SELECT user_id, event_id,
             CAST(FLOOR(value * 100) AS BIGINT) AS x,
             CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
               AS BIGINT) AS rn
      FROM events
    ),
    r AS (
      SELECT user_id, event_id, rn, x,
             CAST(0 AS INT) AS phase,
             x AS l, CAST(0 AS BIGINT) AS b,
             {_HW_ZEROS} AS sl,
             CAST(NULL AS BIGINT) AS f, CAST(NULL AS BIGINT) AS e
      FROM s WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.event_id, s.rn, s.x,
             CAST((s.rn - 1) % {_HW_P} AS INT),
             {_HW_L2}, {_HW_B2}, {_HW_S2},
             {_HW_F}, s.x - {_HW_F}
      FROM r JOIN s ON s.user_id = r.user_id AND s.rn = r.rn + 1
    )
    SELECT user_id, event_id, rn, phase, x AS x_cents,
           CAST(l AS BIGINT) AS level_cents,
           CAST(b AS BIGINT) AS trend_cents,
           CAST(list_extract(sl, phase + 1) AS BIGINT) AS seasonal_cents,
           CAST(f AS BIGINT) AS forecast_cents,
           CAST(e AS BIGINT) AS err_cents
    FROM r
    """,
)
def q207_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer Holt-Winters additive-seasonal chart per user series
    (operators/analytics.py:holt_winters_forecast): level + trend +
    {_HW_P}-slot seasonal register in the alpha=beta=gamma=1/2 integer
    form, emitting each sample's one-step-ahead forecast and error —
    the seasonal member closing the q178/q184 family. All three
    registers go negative on real series, so the loop divides with the
    explicit truncate-toward-zero helper. The recursive-CTE oracle
    carries the seasonal register as a LIST column rebuilt functionally
    each step — a one-ulp divergence in any register at any step breaks
    every later hash."""
    return analytics.holt_winters_forecast(
        load_events(spark, sf_dir, spread=True), period=_HW_P
    )


# ===========================================================================
# q209 — exact A/B guardrail comparison (cross-multiplied, no float rates)
# ===========================================================================

_AB_THRESH = 75


@register(
    "q209_ab_guardrail",
    f"""
    WITH a AS (
      SELECT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
               % 2 = 0 AS armb,
             CASE WHEN value > {_AB_THRESH} THEN 1 ELSE 0 END AS hit
      FROM events
    ),
    g AS (
      SELECT event_type,
             SUM(CASE WHEN NOT armb THEN 1 ELSE 0 END) AS n_a,
             SUM(CASE WHEN NOT armb THEN hit ELSE 0 END) AS hits_a,
             SUM(CASE WHEN armb THEN 1 ELSE 0 END) AS n_b,
             SUM(CASE WHEN armb THEN hit ELSE 0 END) AS hits_b
      FROM a GROUP BY 1
    )
    SELECT event_type,
           CAST(n_a AS BIGINT) AS n_a, CAST(hits_a AS BIGINT) AS hits_a,
           CAST(n_b AS BIGINT) AS n_b, CAST(hits_b AS BIGINT) AS hits_b,
           hits_b * n_a > hits_a * n_b AS b_worse,
           CAST((hits_b * n_a * 1000000) // nullif(hits_a * n_b, 0)
                AS BIGINT) AS lift_ppm
    FROM g
    """,
)
def q209_ab_guardrail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact A/B guardrail comparison
    (operators/analytics.py:ab_guardrail): units md5-split into arms,
    per event_type the arms' guardrail hit rates (value > {_AB_THRESH})
    compared by CROSS-MULTIPLICATION — hits_b*n_a vs hits_a*n_b, pure
    integers, no float rate ever computed — plus the exact truncating
    rate ratio in ppm. Arm assignment is map-side; one
    segment-keyed agg."""
    ev = load_events(spark, sf_dir, spread=True)
    return analytics.ab_guardrail(
        ev, F.col("value") > _AB_THRESH
    )


# ===========================================================================
# q215 — count-min sketch + exact-recount accuracy gate
# ===========================================================================

_CM_D = 4
_CM_W = 256
_CM_TOP = 20


@register(
    "q215_countmin_sketch",
    f"""
    WITH truth AS (
      SELECT CAST(user_id AS VARCHAR) AS key, COUNT(*) AS true_cnt
      FROM events GROUP BY 1
    ),
    hashes AS MATERIALIZED (
      SELECT t.key, t.true_cnt, j.row_id,
             ('0x' || substr(md5(CAST(j.row_id AS VARCHAR) || ':' || t.key),
                             1, 8))::BIGINT % {_CM_W} AS col_id
      FROM truth t, (SELECT unnest(range({_CM_D})) AS row_id) j
    ),
    cells AS (
      SELECT row_id, col_id, SUM(true_cnt) AS cell_sum
      FROM hashes GROUP BY 1, 2
    ),
    top AS MATERIALIZED (
      SELECT key, true_cnt FROM truth
      ORDER BY true_cnt DESC, key LIMIT {_CM_TOP}
    ),
    est AS (
      SELECT h.key, MIN(c.cell_sum) AS est_cnt
      FROM hashes h JOIN cells c USING (row_id, col_id)
      JOIN top USING (key)
      GROUP BY 1
    )
    SELECT t.key,
           CAST(t.true_cnt AS BIGINT) AS true_cnt,
           CAST(e.est_cnt AS BIGINT) AS est_cnt,
           e.est_cnt >= t.true_cnt AS lower_bound_ok,
           CAST((e.est_cnt - t.true_cnt) * 1000000 // t.true_cnt AS BIGINT)
             AS over_ppm
    FROM top t JOIN est e USING (key)
    """,
)
def q215_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch with its accuracy gate
    (operators/analytics.py:countmin_estimates): a {_CM_D}×{_CM_W}
    sketch over user activity, point-estimated for the {_CM_TOP}
    heaviest users and compared against the exact recount — both CMS
    guarantees surface as columns (``lower_bound_ok`` structural TRUE;
    ``over_ppm`` the collision overestimate). md5-row hashes make the
    sketch itself engine-reproducible, so the ORACLE REBUILDS THE
    SKETCH — the hash pins the estimates, not just the verdicts.
    Sketch rows come from the collapsed per-key counts, never the raw
    stream; estimation is a broadcast join on the d·w cell table."""
    return analytics.countmin_estimates(
        load_events(spark, sf_dir, spread=True),
        "user_id",
        depth=_CM_D,
        width=_CM_W,
        top_n=_CM_TOP,
    )


# ===========================================================================
# q228 — unionByName over heterogeneous projections
# ===========================================================================


@register(
    "q228_union_by_name",
    """
    WITH u AS (
      SELECT doc_id, lang, CAST(NULL AS VARCHAR) AS source,
             CAST(NULL AS BIGINT) AS n_chars
      FROM documents WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id, CAST(NULL AS VARCHAR) AS lang, source, n_chars
      FROM documents WHERE doc_id % 3 = 1
      UNION ALL
      SELECT doc_id, lang, CAST(NULL AS VARCHAR) AS source, n_chars
      FROM documents WHERE doc_id % 3 = 2
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(n_chars) AS BIGINT) AS n_with_chars,
           CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS sum_chars,
           CAST(COUNT(source) AS BIGINT) AS n_with_source
    FROM u GROUP BY lang
    """,
)
def q228_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous-frame union: three ingest feeds project DIFFERENT
    column subsets of the documents table (a lang-only feed, a
    source+size feed, a lang+size feed) and are unioned by NAME with
    ``allowMissingColumns=True`` — absent columns null-fill instead of
    positional misalignment (plain ``union`` would silently zip
    mismatched columns; the by-name contract is the only safe one when
    feeds evolve independently).

    The union is a zero-shuffle plan concatenation — each branch keeps
    its own scan partitions; only the final small aggregate shuffles."""
    docs = load(spark, sf_dir, "documents", spread=True)
    a = docs.filter(F.col("doc_id") % 3 == 0).select("doc_id", "lang")
    b = docs.filter(F.col("doc_id") % 3 == 1).select("doc_id", "source", "n_chars")
    c = docs.filter(F.col("doc_id") % 3 == 2).select("doc_id", "lang", "n_chars")
    u = a.unionByName(b, allowMissingColumns=True).unionByName(
        c, allowMissingColumns=True
    )
    return u.groupBy("lang").agg(
        F.count("*").alias("n_rows"),
        F.count("n_chars").alias("n_with_chars"),
        F.coalesce(F.sum("n_chars"), F.lit(0)).cast("long").alias("sum_chars"),
        F.count("source").alias("n_with_source"),
    )


# ===========================================================================
# q229 — multi-horizon trailing features
# ===========================================================================

_H_1H, _H_1D, _H_7D = 3_600_000, 86_400_000, 604_800_000


@register(
    "q229_trailing_features",
    f"""
    WITH e AS (
      SELECT user_id, epoch_ms(ts) AS ts_ms,
             CAST(FLOOR(value * 100) AS BIGINT) AS c
      FROM events
    ),
    r AS (SELECT MAX(ts_ms) AS ref FROM e)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(c) AS BIGINT) AS cents_total,
           CAST(SUM(CASE WHEN ts_ms > ref - {_H_1H} THEN 1 ELSE 0 END) AS BIGINT) AS n_1h,
           CAST(SUM(CASE WHEN ts_ms > ref - {_H_1H} THEN c ELSE 0 END) AS BIGINT) AS cents_1h,
           CAST(SUM(CASE WHEN ts_ms > ref - {_H_1D} THEN 1 ELSE 0 END) AS BIGINT) AS n_1d,
           CAST(SUM(CASE WHEN ts_ms > ref - {_H_1D} THEN c ELSE 0 END) AS BIGINT) AS cents_1d,
           CAST(SUM(CASE WHEN ts_ms > ref - {_H_7D} THEN 1 ELSE 0 END) AS BIGINT) AS n_7d,
           CAST(SUM(CASE WHEN ts_ms > ref - {_H_7D} THEN c ELSE 0 END) AS BIGINT) AS cents_7d
    FROM e CROSS JOIN r GROUP BY user_id
    """,
)
def q229_trailing_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user multi-horizon trailing activity features (events and
    revenue in the last 1h/1d/7d before the corpus reference time) — the
    churn/engagement feature block assembled right before model training.
    One conditional-aggregate pass (analytics.trailing_features): k
    horizons are k expressions inside ONE hash aggregate, the reference
    time is a 1-row broadcast, and the fact stream shuffles once on
    user_id — never k scans, never a window sort."""
    ev = load_events(spark, sf_dir, spread=True).select(
        "user_id", "ts_ms", cents(F.col("value")).alias("c")
    )
    out = analytics.trailing_features(
        ev, "user_id", "ts_ms", "c", (_H_1H, _H_1D, _H_7D)
    )
    return out.select(
        "user_id",
        "n_total",
        F.col("sum_total").alias("cents_total"),
        F.col(f"n_{_H_1H}").alias("n_1h"),
        F.col(f"sum_{_H_1H}").alias("cents_1h"),
        F.col(f"n_{_H_1D}").alias("n_1d"),
        F.col(f"sum_{_H_1D}").alias("cents_1d"),
        F.col(f"n_{_H_7D}").alias("n_7d"),
        F.col(f"sum_{_H_7D}").alias("cents_7d"),
    )


# ===========================================================================
# q230 — leave-one-out target encoding
# ===========================================================================

_LOO_THRESH = 5000  # cents; value > $50 = positive label


@register(
    "q230_loo_target_encoding",
    f"""
    WITH e AS (
      SELECT event_id, event_type,
             CASE WHEN CAST(FLOOR(value * 100) AS BIGINT) > {_LOO_THRESH}
                  THEN 1 ELSE 0 END AS t
      FROM events
    ),
    s AS (
      SELECT event_type, COUNT(*) AS n, SUM(t) AS sum_t
      FROM e GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, CAST(e.t AS BIGINT) AS t,
           CASE WHEN s.n > 1
                THEN CAST((s.sum_t - e.t) * 1000000 // (s.n - 1) AS BIGINT)
           END AS loo_ppm
    FROM e JOIN s USING (event_type)
    """,
)
def q230_loo_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe categorical encoding: each event's type is encoded as
    the positive-label rate over every OTHER event of that type
    (``(Σt - t_i)/(n-1)`` as truncating ppm; analytics.loo_target_encoding)
    — plain target encoding leaks the row's own label into its feature
    and corrupts eval. Scale shape: a #categories-row stats aggregate
    broadcast back onto the stream; the fact side is never shuffled."""
    ev = load_events(spark, sf_dir, spread=True).select(
        "event_id",
        "event_type",
        F.when(cents(F.col("value")) > _LOO_THRESH, 1).otherwise(0).alias("t"),
    )
    return analytics.loo_target_encoding(
        ev, "event_type", "t", id_cols=("event_id",)
    )


# ===========================================================================
# q232 — exact bivariate moment profile (corr/OLS sufficient stats)
# ===========================================================================


@register(
    "q232_metric_moments",
    """
    WITH e AS (
      SELECT event_type,
             CAST(FLOOR(value * 100) AS BIGINT) AS x,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS y
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sum_x,
           CAST(SUM(y) AS BIGINT) AS sum_y,
           CAST(SUM(x * x) AS BIGINT) AS sum_xx,
           CAST(SUM(y * y) AS BIGINT) AS sum_yy,
           CAST(SUM(x * y) AS BIGINT) AS sum_xy
    FROM e GROUP BY event_type
    """,
)
def q232_metric_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact bivariate moments (n, Σx, Σy, Σx², Σy², Σxy) of
    (value-cents, props.$.k) per event type — the sufficient statistics
    for Pearson correlation and OLS, shipped as exact integers because
    the float statistic itself is not engine-portable bit-for-bit
    (analytics.moment_profile). Associative moments = one partial-agg
    pass + a #keys-row shuffle; this is how a 1000-node cluster computes
    exact correlation in one pass with no sort."""
    ev = load_events(spark, sf_dir, spread=True).select(
        "event_type",
        cents(F.col("value")).alias("x"),
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("y"),
    )
    return analytics.moment_profile(ev, "event_type", "x", "y")


# ===========================================================================
# q233 — Spark 4 VARIANT semi-structured access
# ===========================================================================


@register(
    "q233_variant_props",
    """
    WITH e AS (
      SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS BIGINT) // 10
               AS k_bucket
      FROM events
    )
    SELECT event_type, k_bucket, CAST(COUNT(*) AS BIGINT) AS n
    FROM e GROUP BY event_type, k_bucket
    """,
)
def q233_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT surface: ``parse_json`` turns the props string
    into a VariantType value once, ``variant_get($.k, 'bigint')`` does a
    TYPED extraction, and the decade-bucket histogram aggregates over it.
    Against q81's per-access string path eval, variant parses once into a
    binary-encoded tree that all later accesses share — the 100 TB
    posture for multi-key semi-structured columns (and what an open
    table format would store physically). Extraction + bucketing fuse
    into the scan projection; one #groups-row shuffle."""
    ev = load_events(spark, sf_dir).select(
        "event_type", F.parse_json(F.col("props")).alias("v")
    )
    return (
        ev.select(
            "event_type",
            # `div`: exact BIGINT bucketing straight off the typed extract
            F.expr("variant_get(v, '$.k', 'bigint') div 10").alias("k_bucket"),
        )
        .groupBy("event_type", "k_bucket")
        .agg(F.count("*").alias("n"))
    )


# ===========================================================================
# q235 — map-typed feature assembly (map higher-order functions)
# ===========================================================================

_SHARE_MIN_PPM = 200_000  # keep event types holding >= 20% of a decile


@register(
    "q235_map_assembly",
    f"""
    WITH c AS (
      SELECT user_id % 10 AS decile, event_type, COUNT(*) AS n
      FROM events GROUP BY user_id % 10, event_type
    ),
    t AS (SELECT decile, SUM(n) AS tot FROM c GROUP BY decile)
    SELECT c.decile, c.event_type,
           CAST(c.n * 1000000 // t.tot AS BIGINT) AS share_ppm
    FROM c JOIN t USING (decile)
    WHERE c.n * 1000000 // t.tot >= {_SHARE_MIN_PPM}
    """,
)
def q235_map_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed feature assembly: per user decile, the event-type
    frequency MAP is built with ``map_from_entries(collect_list(...))``,
    normalized to ppm shares with ``transform_values`` (total via
    ``aggregate(map_values(...))``), thresholded with ``map_filter``,
    and exploded back to rows only for the cross-engine hash — the map
    stays the working representation, as it would feeding a feature
    store. Two keyed aggregates ((decile,type) then decile); every map
    op is a JVM-side higher-order function, no UDF."""
    counts = (
        load_events(spark, sf_dir, spread=True)
        .select((F.col("user_id") % 10).alias("decile"), "event_type")
        .groupBy("decile", "event_type")
        .agg(F.count("*").alias("n"))
    )
    maps = counts.groupBy("decile").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "n"))
        ).alias("m")
    )
    with_tot = maps.withColumn(
        "tot",
        F.aggregate(F.map_values("m"), F.lit(0).cast("long"), lambda a, v: a + v),
    )
    # SQL-text lambdas so the ppm share uses exact `div`, matching the
    # oracle's integer floor division bit-for-bit (float `/` would drift).
    shares = with_tot.select(
        "decile",
        F.expr(
            "map_filter("
            "  transform_values(m, (k, v) -> v * 1000000 div tot),"
            f" (k, v) -> v >= {_SHARE_MIN_PPM})"
        ).alias("m"),
    )
    return shares.select(
        "decile", F.explode("m").alias("event_type", "share_ppm")
    ).select(
        "decile", "event_type", F.col("share_ppm").cast("long").alias("share_ppm")
    )


# ===========================================================================
# q236 — exact two-sample KS drift
# ===========================================================================


@register(
    "q236_ks_drift",
    """
    WITH e AS (
      SELECT event_type,
             CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS cohort,
             CAST(FLOOR(value * 100) AS BIGINT) AS v
      FROM events
    ),
    pv AS (
      SELECT event_type, v,
             SUM(CASE WHEN cohort = 'a' THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN cohort = 'b' THEN 1 ELSE 0 END) AS cb
      FROM e GROUP BY event_type, v
    ),
    c AS (
      SELECT event_type, v,
             SUM(ca) OVER (PARTITION BY event_type ORDER BY v
                           ROWS UNBOUNDED PRECEDING) AS cum_a,
             SUM(cb) OVER (PARTITION BY event_type ORDER BY v
                           ROWS UNBOUNDED PRECEDING) AS cum_b
      FROM pv
    ),
    t AS (
      SELECT event_type, SUM(ca) AS n_a, SUM(cb) AS n_b
      FROM pv GROUP BY event_type
    )
    SELECT c.event_type,
           CAST(t.n_a AS BIGINT) AS n_a,
           CAST(t.n_b AS BIGINT) AS n_b,
           CAST(MAX(ABS(c.cum_a * t.n_b - c.cum_b * t.n_a)) AS BIGINT) AS d_num,
           CASE WHEN t.n_a > 0 AND t.n_b > 0
                THEN CAST(MAX(ABS(c.cum_a * t.n_b - c.cum_b * t.n_a))
                          * 1000000 // (t.n_a * t.n_b) AS BIGINT)
           END AS d_ppm
    FROM c JOIN t USING (event_type)
    GROUP BY c.event_type, t.n_a, t.n_b
    """,
)
def q236_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic per event type
    between the even- and odd-user cohorts (the A/B drift test a feature
    pipeline runs between a baseline and a candidate window). CDF gaps
    compare in cross-multiplied integer form — no float CDF ever exists —
    and only the final readout divides to truncating ppm
    (analytics.ks_drift). One (key,value) pre-agg, one same-key
    cumulative window (exchange reused), a broadcast totals join, one
    #keys-row max."""
    ev = load_events(spark, sf_dir, spread=True).select(
        "event_type",
        F.when(F.col("user_id") % 2 == 0, "a").otherwise("b").alias("cohort"),
        cents(F.col("value")).alias("v"),
    )
    return analytics.ks_drift(ev, "event_type", "cohort", "v")


# ===========================================================================
# q237 — behavior bitmask census
# ===========================================================================

_TYPE_BITS = {"click": 1, "view": 2, "purchase": 4, "signup": 8, "error": 16}


@register(
    "q237_bitmask_census",
    """
    WITH m AS (
      SELECT user_id,
             bit_or(CASE event_type
                      WHEN 'click' THEN 1 WHEN 'view' THEN 2
                      WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8
                      WHEN 'error' THEN 16 ELSE 0 END) AS mask
      FROM events WHERE event_id % 50 = 0 GROUP BY user_id
    )
    SELECT CAST(mask AS BIGINT) AS mask,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(bit_count(mask) AS BIGINT) AS n_types
    FROM m GROUP BY mask
    """,
)
def q237_bitmask_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavior-set census: each user's set of observed event types
    OR-ed into one bitmask (click=1, view=2, purchase=4, signup=8,
    error=16), then counted per exact combination with its popcount
    (analytics.behavior_bitmask). The bitmask replaces collect_set's
    variable-length array state with a single associative BIGINT —
    the set-algebra encoding that stays cheap at 100 TB. The every-50th
    slice keeps per-user type sets PARTIAL so the census is non-trivial
    (the full table gives every user all five types)."""
    ev = (
        load_events(spark, sf_dir, spread=True)
        .filter(F.col("event_id") % 50 == 0)
        .select("user_id", "event_type")
    )
    return analytics.behavior_bitmask(ev, "user_id", "event_type", _TYPE_BITS)


# ===========================================================================
# q240 — strict-ordered 3-step funnel
# ===========================================================================

_FUNNEL_WINDOW_MS = 7 * 86_400_000


@register(
    "q240_funnel3",
    f"""
    WITH e AS (
      SELECT user_id, event_type, epoch_ms(ts) AS ts_ms FROM events
    ),
    s0 AS (
      SELECT user_id, MIN(ts_ms) AS click_ms
      FROM e WHERE event_type = 'click' GROUP BY user_id
    ),
    s1 AS (
      SELECT s0.user_id, s0.click_ms,
             MIN(CASE WHEN e.ts_ms > s0.click_ms THEN e.ts_ms END) AS view_ms
      FROM s0 LEFT JOIN e ON e.user_id = s0.user_id AND e.event_type = 'view'
      GROUP BY s0.user_id, s0.click_ms
    ),
    s2 AS (
      SELECT s1.user_id, s1.click_ms, s1.view_ms,
             MIN(CASE WHEN e.ts_ms > s1.view_ms THEN e.ts_ms END) AS purchase_ms
      FROM s1 LEFT JOIN e ON e.user_id = s1.user_id AND e.event_type = 'purchase'
      GROUP BY s1.user_id, s1.click_ms, s1.view_ms
    )
    SELECT user_id, click_ms, view_ms, purchase_ms,
           CASE WHEN purchase_ms IS NOT NULL
                THEN purchase_ms - click_ms <= {_FUNNEL_WINDOW_MS}
                ELSE FALSE END AS converted
    FROM s2
    """,
)
def q240_funnel3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-ordered 3-step funnel (first click -> first view strictly
    after it -> first purchase strictly after that), converted iff the
    chain completes within 7 days of the first click — q92's two-step
    funnel generalized to arbitrary paths (analytics.funnel_path). Every
    join+aggregate keys on user_id, so one partitioning carries through
    all three rounds; each round joins the #users-row frontier against
    only that step's type slice. A broken chain NULL-propagates
    (ts > NULL is NULL) with no special-casing."""
    ev = load_events(spark, sf_dir, spread=True).select(
        "user_id", "event_type", "ts_ms"
    )
    out = analytics.funnel_path(
        ev, "user_id", "event_type", "ts_ms",
        ("click", "view", "purchase"), within_ms=_FUNNEL_WINDOW_MS,
    )
    return out.select(
        "user_id",
        F.col("ts_0").alias("click_ms"),
        F.col("ts_1").alias("view_ms"),
        F.col("ts_2").alias("purchase_ms"),
        "converted",
    )


# ===========================================================================
# q242 — same-pass observed metrics (df.observe)
# ===========================================================================


@register(
    "q242_observed_metrics",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_errors,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
           CAST(MIN(epoch_ms(ts)) AS BIGINT) AS min_ts_ms,
           CAST(MAX(epoch_ms(ts)) AS BIGINT) AS max_ts_ms
    FROM events
    """,
)
def q242_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability without a second scan: ``df.observe``
    attaches row/error/sum/ts-range counters to the PRODUCTION
    aggregate's own pass — the counters accumulate inside the same
    whole-stage-codegen'd scan that feeds the business aggregate, and at
    100 TB that is the difference between free monitoring and doubling
    the job. The production result is materialized (count) and the
    observation is returned as the query's 1-row frame; the oracle
    recomputes the same counters declaratively."""
    from pyspark.sql import Observation

    ev = load_events(spark, sf_dir, spread=True)
    obs = Observation("q242")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
            "n_errors"
        ),
        F.sum(cents(F.col("value"))).alias("sum_cents"),
        F.min("ts_ms").alias("min_ts_ms"),
        F.max("ts_ms").alias("max_ts_ms"),
    )
    # the production aggregate this pass actually exists for
    observed.groupBy("event_type").agg(F.count("*")).collect()
    m = obs.get
    return local_frame(spark,
        [
            (
                int(m["n_rows"]),
                int(m["n_errors"]),
                int(m["sum_cents"]),
                int(m["min_ts_ms"]),
                int(m["max_ts_ms"]),
            )
        ],
        "n_rows long, n_errors long, sum_cents long, min_ts_ms long, max_ts_ms long",
    )
