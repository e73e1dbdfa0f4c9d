"""Streaming operator tests — file-source streams with availableNow
triggers and memory sinks; each asserts against hand-computed truth."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hbase_bulkload_service_spark import streaming as st


def _run_to_memory(sdf, name, output_mode):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


@pytest.fixture()
def cells_dir(spark, tmp_path):
    """Two version batches of the same keys written as separate files."""
    d = str(tmp_path / "cells")
    rows1 = [
        ("k1", "q1", 100, 1.0),
        ("k1", "q1", 200, 2.0),
        ("k2", "q1", 100, 5.0),
    ]
    rows2 = [
        ("k1", "q1", 150, 9.0),  # older than current latest (200) — no-op
        ("k2", "q1", 300, 7.0),  # newer — upsert
    ]
    spark.createDataFrame(rows1, st.CELL_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(d)
    spark.createDataFrame(rows2, st.CELL_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(d)
    return d


def test_streaming_latest_version(spark, cells_dir):
    stream = spark.readStream.schema(st.CELL_SCHEMA).parquet(cells_dir)
    out = st.streaming_latest_version(stream)
    _run_to_memory(out, "latest_cells", "update")
    rows = {
        (r.key, r.qualifier): (r.version_ts, r.value)
        for r in spark.sql(
            "SELECT key, qualifier, max_by(version_ts, version_ts) version_ts,"
            " max_by(value, version_ts) value FROM latest_cells"
            " GROUP BY key, qualifier"
        ).collect()
    }
    assert rows[("k1", "q1")] == (200, 2.0)
    assert rows[("k2", "q1")] == (300, 7.0)


def test_streaming_rollup_5m(spark, tmp_path):
    d = str(tmp_path / "events")
    rows = [
        ("2024-01-01 00:01:00", "click", 1.25),
        ("2024-01-01 00:03:30", "click", 2.50),
        ("2024-01-01 00:06:00", "click", 4.00),  # next window
        ("2024-01-01 00:02:00", "view", 0.75),
    ]
    spark.createDataFrame(rows, "ts_s string, event_type string, value double") \
        .select(F.to_timestamp("ts_s").alias("ts"), "event_type", "value") \
        .coalesce(1).write.mode("overwrite").parquet(d)

    stream = spark.readStream.schema("ts timestamp, event_type string, value double").parquet(d)
    out = st.streaming_rollup_5m(stream)
    _run_to_memory(out, "rollup5m", "complete")
    got = {
        (r.window_start_sec % 86400, r.event_type): (
            r.cnt,
            r.sum_value_cents,
            r.min_value_cents,
            r.max_value_cents,
        )
        for r in spark.sql("SELECT * FROM rollup5m").collect()
    }
    assert got[(0, "click")] == (2, 375, 125, 250)
    assert got[(300, "click")] == (1, 400, 400, 400)
    assert got[(0, "view")] == (1, 75, 75, 75)


def test_streaming_first_seen_dedup(spark, tmp_path):
    d = str(tmp_path / "dups")
    rows = [
        ("2024-01-01 00:00:01", "k1", "q1", 1.0),
        ("2024-01-01 00:00:02", "k1", "q1", 2.0),  # dup key within watermark
        ("2024-01-01 00:00:03", "k2", "q1", 3.0),
    ]
    spark.createDataFrame(rows, "t string, key string, qualifier string, value double") \
        .select(F.to_timestamp("t").alias("event_time"), "key", "qualifier", "value") \
        .coalesce(1).write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(
        "event_time timestamp, key string, qualifier string, value double"
    ).parquet(d)
    out = st.streaming_first_seen_dedup(stream)
    _run_to_memory(out, "dedup_stream", "append")
    rows = spark.sql("SELECT key, qualifier FROM dedup_stream").collect()
    assert sorted((r.key, r.qualifier) for r in rows) == [("k1", "q1"), ("k2", "q1")]


def test_upsert_batch_writer(spark, tmp_path):
    path = str(tmp_path / "snapshot")
    writer = st.upsert_batch_writer(path)
    b1 = spark.createDataFrame(
        [("k1", "q1", 100, 1.0), ("k1", "q1", 200, 2.0), ("k2", "q1", 100, 5.0)],
        st.CELL_SCHEMA,
    )
    writer(b1, 0)
    b2 = spark.createDataFrame(
        [("k1", "q1", 150, 9.0), ("k2", "q1", 300, 7.0), ("k3", "q2", 50, 0.5)],
        st.CELL_SCHEMA,
    )
    writer(b2, 1)
    snap = {
        (r.key, r.qualifier): (r.version_ts, r.value)
        for r in spark.read.parquet(path).collect()
    }
    assert snap == {
        ("k1", "q1"): (200, 2.0),
        ("k2", "q1"): (300, 7.0),
        ("k3", "q2"): (50, 0.5),
    }
    assert not os.path.isdir(path + ".inprogress")


def test_upsert_batch_writer_replay_after_crash_mid_swap(spark, tmp_path):
    """A crash between the commit's two renames leaves the snapshot only
    as ``.old``; replaying the batch must merge into the recovered
    snapshot, so every key of earlier batches survives."""
    path = str(tmp_path / "snapshot")
    writer = st.upsert_batch_writer(path)
    writer(
        spark.createDataFrame(
            [("k1", "q1", 100, 1.0), ("k2", "q1", 100, 5.0)], st.CELL_SCHEMA
        ),
        0,
    )
    b2 = spark.createDataFrame([("k3", "q2", 50, 0.5)], st.CELL_SCHEMA)
    writer(b2, 1)
    os.rename(path, path + ".old")
    writer(b2, 1)  # replay
    snap = {
        (r.key, r.qualifier): (r.version_ts, r.value)
        for r in spark.read.parquet(path).collect()
    }
    assert snap == {
        ("k1", "q1"): (100, 1.0),
        ("k2", "q1"): (100, 5.0),
        ("k3", "q2"): (50, 0.5),
    }
    assert not os.path.exists(path + ".old")


def test_streaming_lookup_join_inner_drops_misses(spark, tmp_path):
    d = str(tmp_path / "probe")
    spark.createDataFrame(
        [(1, 10), (2, 20), (3, 99)], "event_id long, user_id long"
    ).write.parquet(d)
    stream = spark.readStream.schema("event_id long, user_id long").parquet(d)
    dim = spark.createDataFrame(
        [(10, "alice"), (20, "bob")], "rowkey long, name string"
    )
    out = st.streaming_lookup_join(stream, "user_id", dim).select(
        "event_id", "name"
    )
    _run_to_memory(out, "lookup_stream", "append")
    rows = spark.sql("SELECT event_id, name FROM lookup_stream").collect()
    # inner semantics: user 99 has no dim row and emits nothing
    assert sorted((r.event_id, r.name) for r in rows) == [(1, "alice"), (2, "bob")]


def test_streaming_lookup_join_rejects_other_joins(spark):
    import pytest as _pytest

    dim = spark.createDataFrame([(1, "x")], "rowkey long, name string")
    with _pytest.raises(ValueError):
        st.streaming_lookup_join(dim, "rowkey", dim, how="full")


def test_streaming_bulkload_batches_equal_batch_pipeline(spark, tmp_path):
    """Incremental bulkload: N micro-batches -> N adoption units whose
    union equals the one-shot batch pipeline (same salt/dedup/ordering),
    each unit passing the adoption validator independently."""
    import glob

    from pyspark.sql import functions as F

    from hbase_bulkload_service_spark.operators import tsdb
    from hbase_bulkload_service_spark.sources import hfile
    from hbase_bulkload_service_spark.sources.tables import load_events
    from hbase_bulkload_service_spark.streaming import ops as st

    from conftest import SF_DIR

    cells = tsdb.derive_tsdb_cells(load_events(spark, SF_DIR)).select(
        "metric_id", "ts_hour", "tags", "rowkey", "qualifier",
        "version_ts", "value",
    )
    src = str(tmp_path / "cells_src")
    # 3 source files -> 3 micro-batches with maxFilesPerTrigger=1.
    # Partitioned BY ROWKEY so every cell's versions share a batch: staged
    # units drop version_ts (C3 projection, like the reference's KeyValue),
    # so cross-batch version order is the adopter's concern, not the
    # pipeline's — mirroring the reference where each bulkload job covers
    # a disjoint time range (HBaseController.java:209-229 slices).
    cells.repartition(3, F.col("rowkey")).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "staged")
    stream = spark.readStream.schema(cells.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        stream.writeStream.foreachBatch(
            st.streaming_bulkload(out, rollup=True, num_partitions=4)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    st.await_finite(q, 300)

    batch_dirs = sorted(glob.glob(f"{out}/batch=*"))
    assert len(batch_dirs) == 3, batch_dirs
    for d in batch_dirs:
        hfile.validate_layout(d, rollup=True)  # each unit adoptable

    # union of staged cells == one-shot pipeline over the same input
    # (per-batch dedup == global dedup because batches are rowkey-disjoint)
    staged = spark.read.option("basePath", out).parquet(*batch_dirs)
    batch_kv = tsdb.bulkload_kv(cells)
    got = sorted(
        map(tuple, staged.select("key", "qualifier", "value").collect())
    )
    want = sorted(
        map(tuple, batch_kv.select("key", "qualifier", "value").collect())
    )
    assert got == want


def test_stream_stream_interval_join_equals_batch(spark, tmp_path):
    from hbase_bulkload_service_spark.streaming import ops as st

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 100)],
        "k long, lts string, lv long",
    ).select("k", F.col("lts").cast("timestamp").alias("lts"), "lv")
    right = spark.createDataFrame(
        [
            (1, "2024-01-01 10:20:00", 7),   # inside [lts, lts+30min]
            (1, "2024-01-01 10:40:00", 8),   # outside
            (2, "2024-01-01 10:10:00", 9),   # wrong key
        ],
        "k long, rts string, rv long",
    ).select("k", F.col("rts").cast("timestamp").alias("rts"), "rv")
    ld, rd = str(tmp_path / "l"), str(tmp_path / "r")
    left.write.parquet(ld)
    right.write.parquet(rd)
    ls = spark.readStream.schema("k long, lts timestamp, lv long").parquet(ld)
    rs = spark.readStream.schema("k long, rts timestamp, rv long").parquet(rd)
    joined = st.stream_stream_interval_join(
        ls, rs.withColumnRenamed("k", "rk").withColumnRenamed("rk", "k"),
        key="k", left_ts="lts", right_ts="rts", within_ms=30 * 60 * 1000,
    ).select("lv", "rv")
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_mem")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    st.await_finite(q, 120)
    got = [(r["lv"], r["rv"]) for r in spark.table("ssj_mem").collect()]
    assert got == [(100, 7)]


# ---------------------------------------------------------------------------
# streaming_counter_deltas — live twin of tsdb.counter_deltas
# ---------------------------------------------------------------------------

def test_streaming_counter_deltas_matches_batch(spark, tmp_path):
    """One availableNow replay of the corpus == the batch operator."""
    from hbase_bulkload_service_spark.operators import tsdb
    from hbase_bulkload_service_spark.sources.tables import load_events

    d = str(tmp_path / "samples")
    ev = load_events(spark, "/root/testdata/sf0.001").select(
        "event_type", "user_id", "event_id", "ts_ms",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    ev.coalesce(1).write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(st.SAMPLE_SCHEMA).parquet(d)
    out = st.streaming_counter_deltas(stream)
    _run_to_memory(out, "stream_deltas", "append")
    got = sorted(
        map(tuple, spark.sql("SELECT * FROM stream_deltas").collect())
    )
    want = sorted(
        map(
            tuple,
            tsdb.counter_deltas(ev)
            .select(
                "event_type", "user_id", "event_id", "ts_ms", "cents",
                "delta_cents", "dt_ms",
            )
            .collect(),
        )
    )
    assert got == want and len(got) > 0


def test_streaming_counter_deltas_carries_state_across_batches(spark, tmp_path):
    d = str(tmp_path / "samples2")
    b1 = [("m", 1, 1, 100, 10), ("m", 1, 2, 200, 30)]
    b2 = [
        ("m", 1, 3, 300, 25),   # boundary delta vs (200, 30) via state
        ("m", 1, 4, 150, 99),   # LATE (ts < carried 300) — dropped
    ]
    spark.createDataFrame(b1, st.SAMPLE_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(d)
    spark.createDataFrame(b2, st.SAMPLE_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(d)
    stream = (
        spark.readStream.schema(st.SAMPLE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out = st.streaming_counter_deltas(stream)
    _run_to_memory(out, "stream_deltas2", "append")
    rows = {
        r.event_id: (r.delta_cents, r.dt_ms)
        for r in spark.sql("SELECT * FROM stream_deltas2").collect()
    }
    assert rows == {2: (20, 100), 3: (-5, 100)}  # late event 4 dropped


def test_streaming_incremental_dedup(spark, tmp_path):
    """Stream-static corpus dedup + within-stream first-seen dedup."""
    import datetime as dt

    d = str(tmp_path / "docstream")
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    schema = "doc_id long, event_time timestamp, text string"
    rows1 = [
        (101, t0, "already in the corpus verbatim"),       # corpus dup
        (102, t0, "brand new text first arrival"),          # keep
    ]
    rows2 = [
        (103, t0 + dt.timedelta(minutes=1), "brand new text first arrival"),  # stream replay — drop
        (104, t0 + dt.timedelta(minutes=2), "another fresh document"),        # keep
    ]
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("overwrite").parquet(d)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(d)

    corpus = spark.createDataFrame(
        [("x", 1)], "h string, exact_match long"
    ).select(
        F.md5(F.lit("already in the corpus verbatim")).alias("h"),
        F.col("exact_match"),
    )
    stream = spark.readStream.schema(schema).parquet(d)
    out = st.streaming_incremental_dedup(stream, corpus)
    _run_to_memory(out, "inc_dedup_stream", "append")
    got = sorted(
        r["doc_id"] for r in spark.sql("SELECT * FROM inc_dedup_stream").collect()
    )
    assert got == [102, 104]


# ---------------------------------------------------------------------------
# streaming_counter_rate — live twin of tsdb.counter_rate (q151/q156)
# ---------------------------------------------------------------------------

def test_streaming_counter_rate_matches_batch(spark, tmp_path):
    """One availableNow replay == the batch counter_rate, both modes."""
    from hbase_bulkload_service_spark.operators import tsdb
    from hbase_bulkload_service_spark.sources.tables import load_events

    d = str(tmp_path / "ratesamples")
    ev = load_events(spark, "/root/testdata/sf0.001").select(
        "event_type", "user_id", "event_id", "ts_ms",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    ev.coalesce(1).write.mode("overwrite").parquet(d)
    cols = [
        "event_type", "user_id", "event_id", "ts_ms", "cents",
        "delta", "dt_ms", "is_reset", "rate_micros",
    ]
    for mode, drop in (("keep", False), ("drop", True)):
        stream = spark.readStream.schema(st.SAMPLE_SCHEMA).parquet(d)
        out = st.streaming_counter_rate(stream, drop_resets=drop)
        _run_to_memory(out, f"stream_rate_{mode}", "append")
        got = sorted(
            map(tuple, spark.sql(f"SELECT * FROM stream_rate_{mode}").collect())
        )
        want = sorted(
            map(
                tuple,
                tsdb.counter_rate(ev, drop_resets=drop).select(*cols).collect(),
            )
        )
        assert got == want and len(got) > 0
        # both branches live in the fixture when resets are kept
        if not drop:
            assert any(r[7] for r in got) and any(not r[7] for r in got)


def test_streaming_counter_rate_counter_max_matches_batch(spark, tmp_path):
    from hbase_bulkload_service_spark.operators import tsdb
    from hbase_bulkload_service_spark.sources.tables import load_events

    d = str(tmp_path / "ratewrap")
    ev = load_events(spark, "/root/testdata/sf0.001").select(
        "event_type", "user_id", "event_id", "ts_ms",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    ev.coalesce(1).write.mode("overwrite").parquet(d)
    cmax = 1 << 20
    stream = spark.readStream.schema(st.SAMPLE_SCHEMA).parquet(d)
    out = st.streaming_counter_rate(stream, counter_max=cmax)
    _run_to_memory(out, "stream_rate_wrap", "append")
    got = sorted(
        map(tuple, spark.sql("SELECT * FROM stream_rate_wrap").collect())
    )
    cols = [
        "event_type", "user_id", "event_id", "ts_ms", "cents",
        "delta", "dt_ms", "is_reset", "rate_micros",
    ]
    want = sorted(
        map(
            tuple,
            tsdb.counter_rate(ev, counter_max=cmax).select(*cols).collect(),
        )
    )
    assert got == want and len(got) > 0


def test_streaming_latest_version_tie_breaks_deterministically(spark, tmp_path):
    # two rows with the SAME max version in one batch (both orders) and a
    # same-version arrival in a LATER batch: the survivor must always be
    # the max value (the rule of the batch tsdb.latest_version_dedup),
    # regardless of row order or micro-batch boundaries
    d = str(tmp_path / "tiecells")
    spark.createDataFrame(
        [("k1", "q1", 100, 3.0), ("k1", "q1", 100, 8.0),
         ("k2", "q1", 100, 8.0), ("k2", "q1", 100, 3.0)],
        st.CELL_SCHEMA,
    ).coalesce(1).write.mode("overwrite").parquet(d)
    spark.createDataFrame(
        [("k1", "q1", 100, 9.5),   # same version, larger value -> upsert
         ("k2", "q1", 100, 1.0)],  # same version, smaller value -> no-op
        st.CELL_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(d)
    stream = spark.readStream.schema(st.CELL_SCHEMA).parquet(d)
    out = st.streaming_latest_version(stream)
    _run_to_memory(out, "tie_cells", "update")
    rows = {
        (r.key, r.qualifier): (r.version_ts, r.value)
        for r in spark.sql(
            "SELECT key, qualifier, max_by(version_ts, version_ts) version_ts,"
            " max_by(value, struct(version_ts, value)) value FROM tie_cells"
            " GROUP BY key, qualifier"
        ).collect()
    }
    assert rows[("k1", "q1")] == (100, 9.5)
    assert rows[("k2", "q1")] == (100, 8.0)


# ---------------------------------------------------------------------------
# streaming_ewma_chart — live twin of analytics.ewma_control
# ---------------------------------------------------------------------------

def test_streaming_ewma_matches_batch(spark, tmp_path):
    """One availableNow replay of the corpus == the batch operator."""
    from hbase_bulkload_service_spark.operators import analytics
    from hbase_bulkload_service_spark.sources.tables import load_events

    d = str(tmp_path / "ewma")
    ev = load_events(spark, "/root/testdata/sf0.001").select(
        "user_id", "event_id", "ts_ms",
        F.floor(F.col("value") * 100).cast("long").alias("x_cents"),
    )
    ev.coalesce(1).write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(st.EWMA_SAMPLE_SCHEMA).parquet(d)
    _run_to_memory(st.streaming_ewma_chart(stream), "stream_ewma", "append")
    got = sorted(map(tuple, spark.sql("SELECT * FROM stream_ewma").collect()))
    want = sorted(
        map(
            tuple,
            analytics.ewma_control(
                load_events(spark, "/root/testdata/sf0.001")
            ).collect(),
        )
    )
    assert got == want and len(got) > 0


def test_streaming_ewma_carries_register_across_batches(spark, tmp_path):
    d = str(tmp_path / "ewma2")
    b1 = [(1, 1, 100, 100), (1, 2, 200, 100)]
    b2 = [
        (1, 3, 300, 500),  # spike vs carried e=100; e -> (100+500)//2
        (1, 4, 150, 999),  # LATE (ts < carried 300) — dropped
    ]
    spark.createDataFrame(b1, st.EWMA_SAMPLE_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(d)
    spark.createDataFrame(b2, st.EWMA_SAMPLE_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(d)
    stream = (
        spark.readStream.schema(st.EWMA_SAMPLE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    _run_to_memory(st.streaming_ewma_chart(stream), "stream_ewma2", "append")
    rows = {
        r.event_id: (r.rn, r.ewma_cents, r.spike)
        for r in spark.sql("SELECT * FROM stream_ewma2").collect()
    }
    assert rows == {1: (1, 100, 0), 2: (2, 100, 0), 3: (3, 300, 1)}


def test_streaming_ewma_validates_spike_factor(spark):
    with pytest.raises(ValueError):
        st.streaming_ewma_chart(None, spike_factor=0)
