"""Wave-4 operator unit tests: sketch accuracy bounds, gap fill, SCD-2
invariants, z-score flagging, repetition signals, and the semi/anti +
snowflake join queries' structural invariants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hbase_bulkload_service_spark.operators import analytics, textops
from hbase_bulkload_service_spark.sources.tables import load, load_events

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# sketch_profile — accuracy vs exact aggregates (no cross-engine oracle)
# ---------------------------------------------------------------------------

def test_sketch_profile_bounds(spark):
    ev = load_events(spark, SF_DIR).withColumn("cents", F.floor(F.col("value") * 100).cast("long"))
    prof = {
        r["event_type"]: r
        for r in analytics.sketch_profile(ev, "event_type", "user_id", "cents").collect()
    }
    exact = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("user_id").alias("nd"),
            F.expr("percentile(cents, 0.5)").alias("med"),
        )
        .collect()
    }
    assert set(prof) == set(exact)
    for et, e in exact.items():
        p = prof[et]
        assert p["n_rows"] == e["n_rows"]  # exact count is exact
        assert abs(p["approx_distinct"] - e["nd"]) <= max(2, 0.05 * e["nd"])
        # GK sketch with accuracy 10000 on small groups is near-exact
        assert abs(p["approx_median"] - e["med"]) <= max(2, 0.01 * abs(e["med"]))


# ---------------------------------------------------------------------------
# forward_fill
# ---------------------------------------------------------------------------

def test_forward_fill_semantics(spark):
    rows = [
        ("a", 1, None),
        ("a", 2, 10),
        ("a", 3, None),
        ("a", 4, None),
        ("a", 5, 20),
        ("b", 1, None),  # key with only-leading nulls stays all-null
        ("b", 2, None),
    ]
    df = spark.createDataFrame(rows, "k string, seq int, v int")
    out = {
        (r["k"], r["seq"]): r["filled"]
        for r in analytics.forward_fill(df, "k", ["seq"], "v", "filled").collect()
    }
    assert out[("a", 1)] is None  # leading null not invented
    assert out[("a", 2)] == 10
    assert out[("a", 3)] == 10 and out[("a", 4)] == 10  # carried forward
    assert out[("a", 5)] == 20  # new observation replaces carry
    assert out[("b", 1)] is None and out[("b", 2)] is None


# ---------------------------------------------------------------------------
# scd2_history — interval chain invariants on real data
# ---------------------------------------------------------------------------

def test_scd2_invariants(spark):
    ev = load_events(spark, SF_DIR).withColumn("cents", F.floor(F.col("value") * 100).cast("long"))
    hist = analytics.scd2_history(ev, "user_id", "ts_ms", "event_id", ["cents"])
    # exactly one current row per user
    cur = hist.groupBy("user_id").agg(F.sum("is_current").alias("nc"))
    assert cur.filter(F.col("nc") != 1).count() == 0
    # intervals chain: every non-current valid_to equals a later valid_from
    # of the same user, and valid_to > valid_from never inverts
    bad = hist.filter(
        F.col("valid_to").isNotNull() & (F.col("valid_to") < F.col("valid_from"))
    ).count()
    assert bad == 0
    # row conservation: one interval per update
    assert hist.count() == ev.count()


# ---------------------------------------------------------------------------
# zscore_outliers
# ---------------------------------------------------------------------------

def test_zscore_flags_planted_outlier(spark):
    base = [("g", i, 100) for i in range(50)] + [("g", 99, 100000)]
    df = spark.createDataFrame(base, "k string, id int, v int")
    out = analytics.zscore_outliers(df, "k", "v", 3.0, id_cols=["id"]).collect()
    assert [r["id"] for r in out] == [99]


def test_zscore_zero_variance_flags_nothing(spark):
    df = spark.createDataFrame([("g", i, 7) for i in range(10)], "k string, id int, v int")
    assert analytics.zscore_outliers(df, "k", "v", 3.0, id_cols=["id"]).count() == 0


# ---------------------------------------------------------------------------
# repetition_stats
# ---------------------------------------------------------------------------

def test_repetition_stats_hand_computed(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b a b a"),  # 5 words, 2 distinct; top bigram 'a b' x2
            (2, "x"),  # single word: no bigram
            (3, "u v w"),  # all distinct; every bigram unique
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in textops.repetition_stats(docs).collect()}
    assert out[1]["n_words"] == 5
    assert out[1]["dup_word_ppm"] == (5 - 2) * 1000000 // 5
    assert out[1]["top_bigram_cnt"] == 2
    assert out[2]["top_bigram_cnt"] == 0 and out[2]["dup_word_ppm"] == 0
    assert out[3]["dup_word_ppm"] == 0 and out[3]["top_bigram_cnt"] == 1


# ---------------------------------------------------------------------------
# q80 / q82 structural invariants
# ---------------------------------------------------------------------------

def test_semi_anti_partition_orders(spark):
    from hbase_bulkload_service_spark.queries.analytics import q80_semi_anti_returns

    out = q80_semi_anti_returns(spark, SF_DIR)
    total = out.agg(F.sum("n_orders")).collect()[0][0]
    assert total == load(spark, SF_DIR, "orders").count()


def test_market_share_bounds(spark):
    from hbase_bulkload_service_spark.queries.analytics import q82_market_share

    for r in q82_market_share(spark, SF_DIR).collect():
        assert 0 <= r["brand_cents"] <= r["total_cents"]
        assert 0 <= r["share_ppm"] <= 1000000


def test_group_quantile_probe_validation(spark):
    df = spark.createDataFrame([("a", 1)], "k string, v int")
    with pytest.raises(ValueError):
        analytics.group_quantiles(df, "k", "v", ps=[0.0])


# ---------------------------------------------------------------------------
# wave-5: pit_join / topk_per_group / ntile_split
# ---------------------------------------------------------------------------

def test_pit_join_no_future_leak(spark):
    hist_src = spark.createDataFrame(
        [("u", 100, 1, 10), ("u", 200, 2, 20), ("u", 300, 3, 30)],
        "k string, ts long, id int, v int",
    )
    hist = analytics.scd2_history(hist_src, "k", "ts", "id", ["v"])
    probes = spark.createDataFrame(
        [("u", 50), ("u", 100), ("u", 250), ("u", 9999)],
        "k string, pts long",
    )
    got = {
        r["pts"]: r["v"] for r in analytics.pit_join(probes, hist, "k", "pts").collect()
    }
    assert 50 not in got            # before first interval: dropped
    assert got[100] == 10           # inclusive at valid_from
    assert got[250] == 20           # mid-interval: state as-of, not latest
    assert got[9999] == 30          # open current interval


def test_topk_per_group_determinism_and_k(spark):
    df = spark.createDataFrame(
        [("g", i, i % 3) for i in range(10)], "grp string, id int, v int"
    )
    out = analytics.topk_per_group(
        df, ["grp"], [F.col("v").desc(), F.col("id")], 4
    ).collect()
    assert len(out) == 4
    assert [(r["v"], r["id"]) for r in sorted(out, key=lambda r: r["rk"])] == [
        (2, 2), (2, 5), (2, 8), (1, 1)
    ]


def test_ntile_split_exact_fractions(spark):
    df = spark.createDataFrame(
        [("a", i) for i in range(100)] + [("b", i) for i in range(50)],
        "lang string, doc_id int",
    )
    out = analytics.ntile_split(df, "lang", "doc_id", 10, (9, 10))
    counts = {
        (r["lang"], r["split"]): r["n"]
        for r in out.groupBy("lang", "split").agg(F.count("*").alias("n")).collect()
    }
    assert counts[("a", "train")] == 80
    assert counts[("a", "val")] == 10 and counts[("a", "test")] == 10
    assert counts[("b", "train")] == 40
    assert counts[("b", "val")] == 5 and counts[("b", "test")] == 5
    # deterministic: same input → same assignment
    first = {r["doc_id"]: r["split"] for r in out.filter(F.col("lang") == "a").collect()}
    again = {
        r["doc_id"]: r["split"]
        for r in analytics.ntile_split(df, "lang", "doc_id", 10, (9, 10))
        .filter(F.col("lang") == "a")
        .collect()
    }
    assert first == again


# ---------------------------------------------------------------------------
# q90 — dynamic partition pruning plan contract
# ---------------------------------------------------------------------------

def test_dpp_fires_on_hot_hour_scan(spark, tmp_path):
    from hbase_bulkload_service_spark.sources import layout

    ev = load_events(spark, SF_DIR).select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
        F.expr("ts_ms div 1000").alias("ts_sec"),
    )
    layout.write_time_partitioned(ev, str(tmp_path / "fact"), granularity="hour")
    fact = spark.read.parquet(str(tmp_path / "fact"))
    h = fact.groupBy("ts_part").agg(
        F.count(F.when(F.col("event_type") == "error", 1)).alias("n_err")
    )
    h.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "dim"))
    nh, se = h.agg(F.count("*"), F.sum("n_err")).collect()[0]
    dim = (
        spark.read.parquet(str(tmp_path / "dim"))
        .filter(F.col("n_err") * F.lit(int(nh)) > F.lit(int(se)))
        .select("ts_part")
    )
    out = fact.join(F.broadcast(dim), "ts_part").groupBy("ts_part").agg(
        F.count("*").alias("n_events")
    )
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    # the fact scan must be pruned at RUNTIME (no static filter exists on
    # ts_part — the predicate lives on the dim's n_err column)
    assert "dynamicpruningexpression" in plan
    # and the result is the above-average subset, non-trivial both ways
    hot = {r["ts_part"] for r in dim.collect()}
    got = {r["ts_part"] for r in out.collect()}
    assert got == {h for h in hot if h in got}  # pruned scan loses no hot hour
    assert 0 < len(got) < fact.select("ts_part").distinct().count()


# ---------------------------------------------------------------------------
# q91–q93: sliding rollup / funnel / retention
# ---------------------------------------------------------------------------

def test_sliding_rollup_double_counts(spark):
    from hbase_bulkload_service_spark.operators import tsdb

    ev = load_events(spark, SF_DIR).withColumn(
        "cents", F.floor(F.col("value") * 100).cast("long")
    )
    out = tsdb.rollup_sliding(ev, "10 minutes", "5 minutes")
    # every event lands in exactly 2 overlapping windows
    assert out.agg(F.sum("cnt")).collect()[0][0] == 2 * ev.count()
    # window starts are slide-aligned
    assert out.filter(F.col("window_start_sec") % 300 != 0).count() == 0


def test_funnel_strictly_after(spark):
    rows = [
        ("u1", 100, "click"), ("u1", 100, "purchase"),  # race: NOT converted
        ("u1", 500, "purchase"),                          # later one counts
        ("u2", 100, "click"), ("u2", 99, "purchase"),    # purchase BEFORE click
        ("u3", 100, "click"),                             # no purchase at all
    ]
    ev = spark.createDataFrame(rows, "user_id string, ts_ms long, event_type string")
    out = {
        r["user_id"]: r
        for r in analytics.funnel_conversion(
            ev, "user_id", "ts_ms", "event_type", "click", "purchase", 1000
        ).collect()
    }
    assert out["u1"]["t_second"] == 500 and out["u1"]["converted"] == 1
    assert out["u2"]["t_second"] is None and out["u2"]["converted"] == 0
    assert out["u3"]["t_second"] is None and out["u3"]["converted"] == 0


def test_retention_cohort_invariants(spark):
    ev = load_events(spark, SF_DIR)
    out = analytics.retention_cohorts(ev, "user_id", "ts_ms")
    rows = out.collect()
    # offset 0 exists for every cohort and equals the cohort's size
    firsts = ev.groupBy("user_id").agg(
        F.min((F.col("ts_ms") / 604800000).cast("long")).alias("cohort")
    )
    sizes = {
        r["cohort"]: r["n"]
        for r in firsts.groupBy("cohort").agg(F.count("*").alias("n")).collect()
    }
    zero = {r["cohort"]: r["n_keys"] for r in rows if r["offset"] == 0}
    assert zero == sizes
    assert all(r["offset"] >= 0 for r in rows)  # no activity before cohort


# ---------------------------------------------------------------------------
# q94–q98 wave: cube grouping, bloom-filter injection, counter deltas,
# histogram, schema evolution
# ---------------------------------------------------------------------------

def test_cube_grouping_flags_match_nullness(spark):
    ev = (
        load_events(spark, SF_DIR)
        .withColumn("cents", F.floor(F.col("value") * 100).cast("long"))
        .withColumn("day", F.expr("ts_ms div 86400000"))
    )
    out = analytics.rollup_cube(
        ev,
        ["event_type", "day"],
        [
            F.grouping("event_type").cast("int").alias("g_type"),
            F.grouping("day").cast("int").alias("g_day"),
            F.count("*").alias("cnt"),
        ],
        cube=True,
    ).collect()
    # all four grouping sets present; flags agree with rolled-up nulls
    assert {(r["g_type"], r["g_day"]) for r in out} == {(0, 0), (0, 1), (1, 0), (1, 1)}
    for r in out:
        assert (r["event_type"] is None) == (r["g_type"] == 1)
        assert (r["day"] is None) == (r["g_day"] == 1)
    grand = [r for r in out if r["g_type"] == 1 and r["g_day"] == 1]
    total = load_events(spark, SF_DIR).count()
    assert len(grand) == 1 and grand[0]["cnt"] == total


def test_runtime_bloom_filter_injects_on_gate_query(spark):
    """The GATE query's own returned plan must carry the bloom runtime
    filter (might_contain over a bloom agg of the dim keys) on the FACT
    side — q95 pins the thresholds during its logical optimization and
    restores them before returning, so the scale plan is in the memoized
    QueryExecution while the session confs stay stock."""
    from hbase_bulkload_service_spark.queries.analytics import q95_bloom_dim_join

    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    out = q95_bloom_dim_join(spark, SF_DIR)
    # confs restored: later queries plan under stock settings
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None) == before
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "might_contain" in plan
    # and the memoized plan is the one that actually executes
    assert out.count() > 0
    plan2 = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "might_contain" in plan2


def test_counter_deltas_telescope(spark):
    from hbase_bulkload_service_spark.operators import tsdb

    ev = load_events(spark, SF_DIR).withColumn(
        "cents", F.floor(F.col("value") * 100).cast("long")
    )
    d = tsdb.counter_deltas(ev)
    # telescoping: per series the deltas sum to last - first
    sums = {
        (r["event_type"], r["user_id"]): r
        for r in d.groupBy("event_type", "user_id")
        .agg(F.sum("delta_cents").alias("s"), F.count("*").alias("n"))
        .collect()
    }
    w_first_last = (
        ev.groupBy("event_type", "user_id")
        .agg(
            F.min_by("cents", F.struct("ts_ms", "event_id")).alias("first_c"),
            F.max_by("cents", F.struct("ts_ms", "event_id")).alias("last_c"),
            F.count("*").alias("n"),
        )
        .collect()
    )
    for r in w_first_last:
        k = (r["event_type"], r["user_id"])
        if r["n"] == 1:
            assert k not in sums  # singleton series emit nothing
        else:
            assert sums[k]["s"] == r["last_c"] - r["first_c"]
            assert sums[k]["n"] == r["n"] - 1
    assert d.filter(F.col("dt_ms") < 0).count() == 0


def test_histogram_totals_and_clamp(spark):
    ev = load_events(spark, SF_DIR).withColumn(
        "cents", F.floor(F.col("value") * 100).cast("long")
    )
    h = analytics.fixed_width_histogram(ev, "event_type", "cents", 0, 40000, 16)
    assert h.agg(F.sum("cnt")).collect()[0][0] == ev.count()  # no drops
    rows = h.collect()
    assert all(0 <= r["bucket"] <= 15 for r in rows)
    assert all(r["bucket_hi"] - r["bucket_lo"] == 2500 for r in rows)
    # out-of-range values land in the top bucket (cents max ~49002 > hi)
    n_over = ev.filter(F.col("cents") >= 40000).count()
    if n_over:
        top = sum(r["cnt"] for r in rows if r["bucket"] == 15)
        n_top_band = ev.filter(F.col("cents") >= 37500).count()
        assert top == n_top_band  # clamp merged the overflow into bucket 15
    with pytest.raises(ValueError):
        analytics.fixed_width_histogram(ev, "event_type", "cents", 10, 10, 4)


def test_merge_schema_backfills_missing_column(spark, tmp_path):
    ev = load_events(spark, SF_DIR).select(
        "event_id", "event_type", F.floor(F.col("value") * 100).cast("long").alias("cents")
    )
    ev.filter(F.col("event_id") % 2 == 0).write.parquet(str(tmp_path / "b1"))
    ev.filter(F.col("event_id") % 2 == 1).withColumn(
        "src_flag", (F.col("event_id") % 10).cast("int")
    ).write.parquet(str(tmp_path / "b2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        str(tmp_path / "b1"), str(tmp_path / "b2")
    )
    assert "src_flag" in merged.columns
    assert merged.count() == ev.count()
    # every batch-1 row back-fills NULL; every batch-2 row carries a value
    assert merged.filter(F.col("event_id") % 2 == 0).filter(
        F.col("src_flag").isNotNull()
    ).count() == 0
    assert merged.filter(F.col("event_id") % 2 == 1).filter(
        F.col("src_flag").isNull()
    ).count() == 0


# ---------------------------------------------------------------------------
# pack_sequences — greedy training-sequence packing
# ---------------------------------------------------------------------------

def test_pack_sequences_partitions_and_bounds(spark):
    from hbase_bulkload_service_spark.operators.textops import (
        chunk_documents,
        pack_sequences,
    )

    chunks = chunk_documents(
        load(spark, SF_DIR, "documents"), chunk_tokens=50, stride=40
    ).select("doc_id", "chunk_idx", "n_tok")
    n_chunks = chunks.count()
    total_tokens = chunks.agg(F.sum("n_tok")).collect()[0][0]
    packed = pack_sequences(chunks, seq_len=128, num_shards=8)
    rows = packed.collect()
    # every chunk assigned exactly once
    assert len(rows) == n_chunks
    assert len({(r["doc_id"], r["chunk_idx"]) for r in rows}) == n_chunks
    # capacity respected, bin_fill consistent
    import collections

    fills = collections.defaultdict(int)
    for r in rows:
        fills[r["bin_id"]] += r["n_tok"]
    assert all(f <= 128 for f in fills.values())
    for r in rows:
        assert fills[r["bin_id"]] == r["bin_fill"]
    # FFD waste bound: all bins except <= num_shards are > half full
    under_half = sum(1 for f in fills.values() if f <= 64)
    assert under_half <= 8
    # dense packing beats one-chunk-per-sequence by construction
    assert len(fills) < n_chunks
    assert sum(fills.values()) == total_tokens


def test_pack_sequences_rejects_oversized_and_is_deterministic(spark):
    from hbase_bulkload_service_spark.operators.textops import pack_sequences

    df = spark.createDataFrame(
        [(1, 0, 200), (2, 0, 50)], "doc_id long, chunk_idx long, n_tok long"
    )
    with pytest.raises(Exception):  # oversized chunk surfaces loudly
        pack_sequences(df, seq_len=128).collect()
    ok = spark.createDataFrame(
        [(i, 0, 30 + (i * 7) % 60) for i in range(40)],
        "doc_id long, chunk_idx long, n_tok long",
    )
    a = sorted(map(tuple, pack_sequences(ok, seq_len=100, num_shards=4).collect()))
    b = sorted(map(tuple, pack_sequences(ok, seq_len=100, num_shards=4).collect()))
    assert a == b  # hash-shard + in-shard ordering => deterministic


def test_pack_sequences_string_ids(spark):
    # id columns keep their input types — string doc ids must round-trip
    from hbase_bulkload_service_spark.operators.textops import pack_sequences

    df = spark.createDataFrame(
        [(f"doc-{i}", i % 3, 30 + (i * 7) % 60) for i in range(20)],
        "doc_id string, chunk_idx long, n_tok long",
    )
    rows = pack_sequences(df, seq_len=100, num_shards=4).collect()
    assert len(rows) == 20
    assert {r["doc_id"] for r in rows} == {f"doc-{i}" for i in range(20)}
    assert all(isinstance(r["doc_id"], str) for r in rows)
    with pytest.raises(ValueError, match="missing column"):
        pack_sequences(df.drop("chunk_idx"), seq_len=100)


def test_mix_corpora_proportions_and_determinism(spark):
    from hbase_bulkload_service_spark.operators.curation import mix_corpora

    docs = load(spark, SF_DIR, "documents").select("doc_id", "lang")
    a = docs.filter(F.col("doc_id") % 2 == 0)   # ~250 rows
    b = docs.filter(F.col("doc_id") % 2 == 1)   # ~250 rows
    # ask for a 3:1 mix — b is the bottleneck at weight 1? a/3 vs b/1:
    # a≈250/3≈83 < b≈250/1 → a is bottleneck, kept whole; b sampled to a/3
    mixed = mix_corpora([(a, 3.0), (b, 1.0)], key_col="doc_id")
    counts = {
        r["corpus"]: r["cnt"]
        for r in mixed.groupBy("corpus").agg(F.count("*").alias("cnt")).collect()
    }
    na, nb = a.count(), b.count()
    assert counts[0] == na  # bottleneck corpus kept whole
    want_b = na / 3.0
    assert abs(counts[1] - want_b) <= max(10, 0.25 * want_b)  # hash-sample noise
    again = mix_corpora([(a, 3.0), (b, 1.0)], key_col="doc_id")
    assert sorted(map(tuple, mixed.collect())) == sorted(map(tuple, again.collect()))
    with pytest.raises(ValueError):
        mix_corpora([(a, 0.0)])
    with pytest.raises(ValueError):
        mix_corpora([])
