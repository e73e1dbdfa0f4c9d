"""Wave-12 operators: winsorized stats, per-group mode, streaming
expectations monitor."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hbase_bulkload_service_spark.operators import analytics
from hbase_bulkload_service_spark.streaming import ops as st


# ---------------------------------------------------------------------------
# winsorized_stats
# ---------------------------------------------------------------------------


def test_winsorized_hand_computed(spark):
    """10 values 1..10, p=(0.2, 0.8): lo = value at rank ceil(0.2*10)=2,
    hi = rank 8; clipped sum = 2 + 2..8 + 8+8 = replace 1 with 2 and
    9,10 with 8: 2+2+3+4+5+6+7+8+8+8 = 53."""
    df = spark.createDataFrame(
        [("g", i) for i in range(1, 11)], "k string, v long"
    )
    r = analytics.winsorized_stats(df, "k", "v", 0.2, 0.8).collect()[0]
    assert (r["n"], r["lo"], r["hi"]) == (10, 2, 8)
    assert r["win_sum"] == 53
    assert (r["n_clip_lo"], r["n_clip_hi"]) == (1, 2)


def test_winsorized_constant_group_and_outlier(spark):
    """All-equal group: lo == hi == v, nothing clips. One huge outlier
    in a second group clamps to the p95 element."""
    rows = [("flat", 7)] * 20 + [("out", i) for i in range(1, 20)] + [
        ("out", 10_000_000)
    ]
    df = spark.createDataFrame(rows, "k string, v long")
    out = {r["k"]: r for r in
           analytics.winsorized_stats(df, "k", "v").collect()}
    flat = out["flat"]
    assert flat["lo"] == flat["hi"] == 7 and flat["win_sum"] == 140
    assert flat["n_clip_lo"] == flat["n_clip_hi"] == 0
    o = out["out"]
    assert o["hi"] == 19  # ceil(0.95*20)=19th of 1..19,1e7 -> 19
    assert o["n_clip_hi"] == 1 and o["win_sum"] < 1_000_000


def test_winsorized_single_exchange_plan(spark):
    df = spark.createDataFrame(
        [("a", i) for i in range(50)] + [("b", i * 3) for i in range(40)],
        "k string, v long",
    )
    plan = (
        analytics.winsorized_stats(df, "k", "v")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1  # windows + final agg share it


def test_winsorized_arg_guards(spark):
    df = spark.createDataFrame([("a", 1)], "k string, v long")
    for lo, hi in ((0.0, 0.9), (0.5, 0.5), (0.1, 1.1)):
        with pytest.raises(ValueError, match="lo_p < hi_p"):
            analytics.winsorized_stats(df, "k", "v", lo, hi)


# ---------------------------------------------------------------------------
# group_mode
# ---------------------------------------------------------------------------


def test_group_mode_ties_pick_smallest(spark):
    df = spark.createDataFrame(
        [("g", v) for v in (5, 5, 3, 3, 9)], "k string, v long"
    )
    r = analytics.group_mode(df, "k", "v").collect()[0]
    assert (r["mode_value"], r["mode_count"], r["n_distinct"]) == (3, 2, 3)


def test_group_mode_per_group_independent(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 2), ("b", 7), ("b", 8), ("b", 8)],
        "k string, v long",
    )
    out = {r["k"]: r["mode_value"]
           for r in analytics.group_mode(df, "k", "v").collect()}
    assert out == {"a": 1, "b": 8}


# ---------------------------------------------------------------------------
# streaming_expectations (semantics on a batch frame + guard)
# ---------------------------------------------------------------------------


def test_streaming_expectations_counts_and_null_fail(spark):
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, -4)], "id long, v int"
    )
    out = {
        r["expectation"]: (r["n_checked"], r["n_failed"], r["ok"])
        for r in st.streaming_expectations(
            df,
            [
                ("v_nonneg", F.col("v") >= 0),
                ("id_not_null", F.col("id").isNotNull()),
            ],
        ).collect()
    }
    assert out == {
        "v_nonneg": (3, 2, False),  # NULL counts as failed
        "id_not_null": (3, 0, True),
    }


def test_streaming_expectations_rejects_empty(spark):
    df = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError, match="no row checks"):
        st.streaming_expectations(df, [])


def test_streaming_expectations_finite_stream_matches_batch(spark, sf_dir):
    """The actual streaming path (availableNow replay over orders)
    equals the batch evaluation of the same predicates."""
    from hbase_bulkload_service_spark.queries.streaming import (
        q137_streaming_expectations,
    )

    got = {
        r["expectation"]: (r["n_checked"], r["n_failed"])
        for r in q137_streaming_expectations(spark, sf_dir).collect()
    }
    from hbase_bulkload_service_spark.sources.tables import load

    orders = load(spark, sf_dir, "orders")
    n = orders.count()
    urgent_fails = orders.filter(
        ~F.coalesce(F.col("o_orderpriority") == "1-URGENT", F.lit(False))
    ).count()
    assert got["orders_key_not_null"] == (n, 0)
    assert got["orders_priority_urgent"] == (n, urgent_fails)


# ---------------------------------------------------------------------------
# review-fix regressions
# ---------------------------------------------------------------------------


def test_winsorized_excludes_null_values(spark):
    """NULL values are out-of-band (Spark NULLS FIRST vs DuckDB NULLS
    LAST would skew rank cut points): stats must equal the non-null
    subset's."""
    rows = [("g", v) for v in range(1, 11)] + [("g", None)] * 3
    df = spark.createDataFrame(rows, "k string, v int")
    r = analytics.winsorized_stats(df, "k", "v", 0.2, 0.8).collect()[0]
    assert (r["n"], r["lo"], r["hi"], r["win_sum"]) == (10, 2, 8, 53)


def test_group_mode_excludes_null_values(spark):
    df = spark.createDataFrame(
        [("g", None), ("g", None), ("g", None), ("g", 4), ("g", 4), ("g", 9)],
        "k string, v int",
    )
    r = analytics.group_mode(df, "k", "v").collect()[0]
    assert (r["mode_value"], r["mode_count"], r["n_distinct"]) == (4, 2, 2)


def test_winsorized_works_with_nonv_column_name(spark):
    """Regression: the rank window must order by the INTERNAL alias, not
    the caller's column name (masked when callers pass value_col='v')."""
    df = spark.createDataFrame(
        [("g", i) for i in range(1, 11)], "k string, amount long"
    )
    r = analytics.winsorized_stats(df, "k", "amount", 0.2, 0.8).collect()[0]
    assert (r["lo"], r["hi"], r["win_sum"]) == (2, 8, 53)


# ---------------------------------------------------------------------------
# time_weighted_avg
# ---------------------------------------------------------------------------


def test_twa_hand_computed(spark):
    """Bucket 0 (ms 0..9): samples v=10@t=0, v=20@t=6 with bucket_ms=10:
    holds 6 and 4 -> num = 10*6 + 20*4 = 140, span = 10-0, twa = 14."""
    from hbase_bulkload_service_spark.operators import tsdb

    df = spark.createDataFrame(
        [("s", 0, 10, 1), ("s", 6, 20, 2)],
        "k string, ts_ms long, cents long, event_id long",
    )
    r = tsdb.time_weighted_avg(
        df, series_col="k", bucket_ms=10
    ).collect()[0]
    assert (r["n"], r["num"], r["span_ms"], r["twa"]) == (2, 140, 10, 14)


def test_twa_irregular_beats_plain_avg(spark):
    """The motivating case: 9 samples of 100 in the first ms then one
    sample of 0 holding the rest of the bucket — plain AVG says 90,
    TWA says ~1 (the steady state)."""
    from hbase_bulkload_service_spark.operators import tsdb

    rows = [("s", i, 100, i) for i in range(9)] + [("s", 9, 0, 9)]
    df = spark.createDataFrame(
        rows, "k string, ts_ms long, cents long, event_id long"
    )
    r = tsdb.time_weighted_avg(df, series_col="k", bucket_ms=1000).collect()[0]
    # holds: 1ms x 8 (t=0..7), then t=8 holds 1, t=9 holds 991
    assert r["num"] == 100 * 9 and r["span_ms"] == 1000
    assert r["twa"] == 0  # 900 // 1000


def test_twa_duplicate_timestamps_hold_zero(spark):
    from hbase_bulkload_service_spark.operators import tsdb

    df = spark.createDataFrame(
        [("s", 5, 100, 1), ("s", 5, 40, 2)],
        "k string, ts_ms long, cents long, event_id long",
    )
    r = tsdb.time_weighted_avg(df, series_col="k", bucket_ms=10).collect()[0]
    # first (by id) holds 0; second holds to bucket end (5ms)
    assert r["num"] == 40 * 5 and r["span_ms"] == 5


def test_twa_null_samples_dropped_and_guard(spark):
    from hbase_bulkload_service_spark.operators import tsdb

    df = spark.createDataFrame(
        [("s", 0, None, 1), ("s", None, 10, 2), ("s", 2, 30, 3)],
        "k string, ts_ms long, cents long, event_id long",
    )
    r = tsdb.time_weighted_avg(df, series_col="k", bucket_ms=10).collect()[0]
    assert r["n"] == 1 and r["num"] == 30 * 8
    with pytest.raises(ValueError, match="bucket_ms"):
        tsdb.time_weighted_avg(df, series_col="k", bucket_ms=0)


def test_twa_single_exchange_plan(spark):
    from hbase_bulkload_service_spark.operators import tsdb

    df = spark.createDataFrame(
        [("s", i * 7, i, i) for i in range(100)],
        "k string, ts_ms long, cents long, event_id long",
    )
    plan = (
        tsdb.time_weighted_avg(df, series_col="k", bucket_ms=50)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1


def test_streaming_expectations_rejects_duplicate_names(spark):
    df = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError, match="duplicate expectation"):
        st.streaming_expectations(
            df,
            [("x", F.col("id") > 0), ("x", F.col("id") < 0)],
        )


# ---------------------------------------------------------------------------
# q139 composed pipeline
# ---------------------------------------------------------------------------


def test_corpus_build_manifest_is_deterministic_and_capped(spark, sf_dir):
    """The composed funnel->sample->manifest pipeline must reproduce the
    identical manifest across runs and never exceed the stratum cap."""
    from hbase_bulkload_service_spark.queries.curation import (
        _CAP139,
        q139_corpus_build_e2e,
    )

    a = {r["lang"]: tuple(r) for r in q139_corpus_build_e2e(spark, sf_dir).collect()}
    b = {r["lang"]: tuple(r) for r in q139_corpus_build_e2e(spark, sf_dir).collect()}
    assert a == b and len(a) >= 2
    for lang, (_l, n_kept, n_sampled, tok, md) in a.items():
        assert n_sampled == min(_CAP139, n_kept)
        assert tok > 0 and len(md) == 32


# ---------------------------------------------------------------------------
# snapshot_diff
# ---------------------------------------------------------------------------


def test_snapshot_diff_classes(spark):
    from hbase_bulkload_service_spark.operators import curation

    old = spark.createDataFrame(
        [(1, "same text"), (2, "will change"), (3, "will vanish"),
         (4, None)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "same  text "), (2, "has changed"), (5, "brand new"),
         (4, None)],
        "doc_id long, text string",
    )
    out = {r["key"]: r["change"] for r in
           curation.snapshot_diff(old, new).collect()}
    # doc 1: whitespace-only difference -> normalized equal -> unchanged
    assert out == {1: "unchanged", 2: "changed", 3: "removed",
                   4: "unchanged", 5: "added"}


def test_snapshot_diff_null_vs_text_is_changed(spark):
    from hbase_bulkload_service_spark.operators import curation

    old = spark.createDataFrame([(1, None)], "doc_id long, text string")
    new = spark.createDataFrame([(1, "now has text")],
                                "doc_id long, text string")
    r = curation.snapshot_diff(old, new).collect()[0]
    assert r["change"] == "changed"  # NULL hashes as '' — content axis
