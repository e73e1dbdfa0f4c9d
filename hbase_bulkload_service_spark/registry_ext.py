"""Registry wave 3 — analytical/scale extensions: grouping sets, exact
distributed quantiles, running window analytics, skew-salted joins,
format-roundtrip connector breadth, streaming session windows, and SRP-LSH
vector bucketing.

Same portability conventions as registry.py (integer cents, epoch ints,
identical aliases both sides, CAST(SUM(..) AS BIGINT) against DuckDB's
HUGEINT promotion).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hbase_bulkload_service_spark.session import local_frame
from pyspark.sql import functions as F

from hbase_bulkload_service_spark.registry import (
    _scoped_shuffle_partitions,
    cents,
    register,
)
from hbase_bulkload_service_spark.operators import analytics, similarity
from hbase_bulkload_service_spark.operators import table as tbl
from hbase_bulkload_service_spark.sources.tables import load, load_events


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
# q54 — SRP-LSH (hyperplane) vector bucketing
# ===========================================================================

_SRP_PLANES = similarity.srp_planes(16, 64)
_SRP_W_SQL = (
    "["
    + ", ".join(
        "[" + ", ".join("1.0" if x > 0 else "-1.0" for x in row) + "]"
        for row in _SRP_PLANES
    )
    + "]"
)
_SRP_SIG_SQL = " + ".join(
    f"(CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    f"list_transform(range(1, 65), d -> (ve[d])::DOUBLE * (w[{p + 1}][d])::DOUBLE)), "
    f"(acc, x) -> acc + x) >= 0 THEN CAST({1 << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    for p in range(16)
)


@register(
    "q54_srp_lsh",
    f"""
    WITH pl AS (SELECT {_SRP_W_SQL} AS w),
    v AS (SELECT vec_id, label, embedding AS ve FROM embeddings),
    s AS (
      SELECT vec_id, label, {_SRP_SIG_SQL} AS signature
      FROM v CROSS JOIN pl
    )
    SELECT vec_id, label, signature,
           COUNT(*) OVER (PARTITION BY signature) AS bucket_n
    FROM s
    """,
)
def q54_srp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH (signed-random-projection / hyperplane LSH) bucket
    assignment for cosine ANN — the third ANN family next to MinHash
    (q35, sets) and IVF (q39, trained cells). ±1 planes make the
    projection sign exactly reproducible; see similarity.srp_signature."""
    return similarity.srp_signature(
        load(spark, sf_dir, "embeddings", spread=True), n_planes=16, dim=64
    )


# ===========================================================================
# q56 — flagship bulkload pipeline end-to-end through the HFile-layout sink
# ===========================================================================

from hbase_bulkload_service_spark.registry import DUCK_SALT_BUCKET, TSDB_CELLS_CTE
from hbase_bulkload_service_spark.functions.codec import decode_double_be
from hbase_bulkload_service_spark.operators import tsdb
from hbase_bulkload_service_spark.sources import hfile


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
# q57 — the documented Flink-SQL query shape, verbatim, through spark.sql
# ===========================================================================

from hbase_bulkload_service_spark.registry import HTABLE_CTE


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


# ===========================================================================
# q58 — PII scrub / text cleaning
# ===========================================================================

from hbase_bulkload_service_spark.operators import textops


@register(
    "q58_pii_scrub",
    f"""
    WITH d AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or +' || CAST(doc_id * 1234567 + 10000000 AS VARCHAR)
               AS text
      FROM documents
    ),
    s AS (
      SELECT doc_id, text,
             regexp_replace(text, '{textops.EMAIL_RE}', '<EMAIL>', 'g') AS no_email
      FROM d
    )
    SELECT doc_id,
           len(regexp_extract_all(text, '{textops.EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(no_email, '{textops.DIGITRUN_RE}')) AS n_digit_runs,
           md5(regexp_replace(no_email, '{textops.DIGITRUN_RE}', '<NUM>', 'g')) AS scrubbed_md5,
           CAST(length(regexp_replace(no_email, '{textops.DIGITRUN_RE}', '<NUM>', 'g')) AS INT)
             AS scrubbed_len
    FROM s
    """,
)
def q58_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pipeline scrub stage over documents seeded with
    deterministic synthetic PII (an email + a long digit run per doc, so
    counts are non-trivial); see textops.scrub_pii. Redaction order
    (emails before digit runs) is part of the contract and the oracle."""
    docs = load(spark, sf_dir, "documents", spread=True).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +"),
            (F.col("doc_id") * 1234567 + 10000000).cast("string"),
        ).alias("text"),
    )
    return textops.scrub_pii(docs)


# ===========================================================================
# q59 — K1 bucketed layout + co-located (zero-exchange) join in the gate
# ===========================================================================

from hbase_bulkload_service_spark.operators import maintenance as mnt_ops


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
        t1 = mnt_ops.create_bucketed_table(
            fact, "q59_fact", f"{d}/fact", file_buckets=8
        )
        t2 = mnt_ops.create_bucketed_table(
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
# q61 — secondary-index lookup (index-table pattern)
# ===========================================================================

from hbase_bulkload_service_spark.operators import table as htable_ops


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
    ht = htable_ops.build_htable(spark, sf_dir, spread=True)
    idx = htable_ops.build_index(ht, "f2.c_mktsegment")
    return htable_ops.index_lookup(ht, idx, "BUILDING").select(
        "rowkey",
        F.col("f1.c_name").alias("c_name"),
        cents(F.col("f1.c_acctbal")).alias("acctbal_cents"),
        F.col("f2.n_name").alias("n_name"),
    )


# ===========================================================================
# q62 — rollup cascade (1h FROM the 5m pre-aggregate)
# ===========================================================================

from hbase_bulkload_service_spark.operators import tsdb as tsdb_ops


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
    r5 = tsdb_ops.rollup_5m(load_events(spark, sf_dir, spread=True))
    return tsdb_ops.rollup_cascade_1h(r5)


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
# q65 — SRP-LSH probe-time ANN (multi-probe Hamming-1) with exact oracle
# ===========================================================================

_SRP8_PLANES = similarity.srp_planes(8, 64)
_SRP8_W_SQL = (
    "["
    + ", ".join(
        "[" + ", ".join("1.0" if x > 0 else "-1.0" for x in row) + "]"
        for row in _SRP8_PLANES
    )
    + "]"
)
_SRP8_SIG_SQL = " + ".join(
    f"(CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    f"list_transform(range(1, 65), d -> (ve[d])::DOUBLE * (w[{p + 1}][d])::DOUBLE)), "
    f"(acc, x) -> acc + x) >= 0 THEN CAST({1 << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    for p in range(8)
)


def _duck_dot65(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, 65), "
        f"i -> ({a}[i])::DOUBLE * ({b}[i])::DOUBLE)), (x, y) -> x + y)"
    )


def _duck_cos_micros65(a: str, b: str) -> str:
    return (
        f"CAST(FLOOR({_duck_dot65(a, b)} / "
        f"(sqrt({_duck_dot65(a, a)}) * sqrt({_duck_dot65(b, b)})) * 1000000) AS BIGINT)"
    )


@register(
    "q65_srp_topk",
    f"""
    WITH pl AS (SELECT {_SRP8_W_SQL} AS w),
    s AS (
      SELECT vec_id, embedding AS ve, {_SRP8_SIG_SQL} AS signature
      FROM embeddings CROSS JOIN pl
    ),
    q AS (
      SELECT vec_id AS query_id, ve AS qv, signature AS qsig
      FROM s WHERE vec_id % 50 = 0
    ),
    flips AS (
      SELECT CAST(0 AS BIGINT) AS flip
      UNION ALL
      SELECT CAST(1 << p AS BIGINT) FROM range(8) t(p)
    ),
    cand AS (
      SELECT DISTINCT q.query_id, s.vec_id AS neighbor_id, q.qv, s.ve
      FROM q CROSS JOIN flips f
      JOIN s ON s.signature = xor(q.qsig, f.flip)
      WHERE s.vec_id <> q.query_id
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             {_duck_cos_micros65("qv", "ve")} AS cos_micros
      FROM cand
    )
    SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cos_micros FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_micros DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def q65_srp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH probe-time ANN through the gate: signature equi-join
    candidates (own bucket + 8 Hamming-1 flips), exact cosine rank, top-3.
    The oracle replays plane signatures, bit-flip probing, candidate
    dedup, and ranking from first principles — any drift in the signature
    math, the probe expansion, or tie-breaking mismatches."""
    from hbase_bulkload_service_spark.sources.tables import load as _load

    emb = _load(spark, sf_dir, "embeddings", spread=True)
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return similarity.srp_topk(
        emb, queries, n_planes=8, dim=64, k=3, max_hamming=1
    )


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
# q71 — multi-cell IVF assignment (the recall lever for cell blocking)
# ===========================================================================

@register(
    "q71_ivf_multi_assign",
    f"""
    WITH c AS (
      SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings
      WHERE vec_id % 50 = 0
    ),
    s AS (
      SELECT e.vec_id, c.centroid_id,
             {_duck_cos_micros65("e.embedding", "c.cvec")} AS cos_micros
      FROM embeddings e, c
    )
    SELECT vec_id, centroid_id AS cell, CAST(cell_rank AS INT) AS cell_rank,
           cos_micros
    FROM (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cos_micros DESC, centroid_id) AS cell_rank
      FROM s
    ) WHERE cell_rank <= 2
    """,
)
def q71_ivf_multi_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each vector assigned to its 2 nearest IVF cells
    (similarity.ivf_multi_assign) — the boundary-straddle recall lever
    for q42's cell-blocked near-dup join, through the gate with the same
    deterministic pseudo-centroids as q39."""
    from hbase_bulkload_service_spark.sources.tables import load as _load

    emb = _load(spark, sf_dir, "embeddings", spread=True)
    cents = similarity.pseudo_centroids(emb, every=50)
    return similarity.ivf_multi_assign(emb, cents, nprobe=2)


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
