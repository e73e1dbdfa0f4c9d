"""The raw-``ts`` bound of ``tsdb.hour_range_filter`` and the per-source
metric dictionary.

The bound is a superset of the hour window for each ``ts`` type
``load_events`` accepts (NTZ, LTZ, nanos read as long), so the filter
keeps exactly the rows of the exact hour test, pre-1970 hours included.
A frame whose ``ts`` is not marked as the source of its ``ts_sec`` gets
no bound. The dictionary runs one scan per source version, and a
rewritten or filtered source gets its own."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hbase_bulkload_service_spark import obs
from hbase_bulkload_service_spark.operators import tsdb
from hbase_bulkload_service_spark.sources import layout
from hbase_bulkload_service_spark.sources.tables import (
    TS_LINEAGE,
    derived_from_ts,
    load_events,
)

HOUR = tsdb.HOUR_MS
H0 = 1704672000000  # 2024-01-08T00:00Z
H7 = 1719792000000  # 2024-07-01T00:00Z, daylight saving time in New York
PAD = tsdb._BOUND_PAD_MS
# (start, end): mid-hour ends in winter and in summer, and a window across
# the epoch, where ``div`` and ``%`` truncate toward zero
WINDOWS = [
    (H0 + 25 * 60_000, H0 + 3 * HOUR + 10 * 60_000),
    (H7 + 59 * 60_000, H7 + 2 * HOUR),
    (-2 * HOUR + 1, HOUR + 1),
]

TS_TYPES = {
    "ntz": pa.timestamp("us"),
    "ltz": pa.timestamp("us", tz="UTC"),
    "nanos": pa.timestamp("ns"),
}


def _edge_ms() -> list[int]:
    """Every hour edge of each window and of its bound, +-1 ms and +-1 s,
    plus a sweep across each window."""
    out = set(range(-3 * HOUR, 3 * HOUR, 7 * 60_000 + 1))
    for h in (H0, H7):
        out.update(range(h - 3 * HOUR, h + 6 * HOUR, 7 * 60_000 + 1))
    for start, end in WINDOWS:
        lo, hi = start - start % HOUR, end - end % HOUR
        for edge in (lo, hi, lo - HOUR, hi + HOUR, lo - PAD, hi + PAD):
            out.update(edge + d for d in (-1001, -1000, -1, 0, 1, 999, 1000))
    return sorted(out)


def write_events(path, ms, ts_type, event_types=("click", "view"), row_group_size=None):
    """An events parquet with one event per epoch-millis value in ``ms``."""
    n = len(ms)
    if ts_type.unit == "ns":
        ts = pa.array([m * 1_000_000 + 999 for m in ms], ts_type)
    else:
        ts = pa.array([m * 1000 + 999 for m in ms], ts_type)
    table = pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": ts,
        "user_id": pa.array([i % 3 for i in range(n)], pa.int64()),
        "event_type": [event_types[i % len(event_types)] for i in range(n)],
        "value": pa.array([float(i) for i in range(n)]),
        "props": ["{}"] * n,
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        table, os.path.join(path, "events.parquet"), row_group_size=row_group_size
    )


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def _rows(df):
    return sorted(df.select("event_id", "version_ts").collect())


@pytest.fixture(params=["UTC", "America/New_York"])
def session_tz(spark, request):
    """The session time zone, restored afterwards: the bound must not
    depend on it."""
    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    spark.conf.set(key, request.param)
    yield request.param
    spark.conf.set(key, old)


@pytest.mark.parametrize("kind", sorted(TS_TYPES))
def test_bound_keeps_exactly_the_hour_window(spark, tmp_path, kind, session_tz):
    src = str(tmp_path / kind)
    write_events(src, _edge_ms(), TS_TYPES[kind])
    cells = tsdb.derive_tsdb_cells(load_events(spark, src))
    assert derived_from_ts(cells, "ts_sec", "ts_sec")
    unmarked = cells.withMetadata("ts_sec", {})
    for start, end in WINDOWS:
        bounded = tsdb.hour_range_filter(cells, start, end)
        exact = tsdb.hour_range_filter(unmarked, start, end)
        assert "GreaterThanOrEqual(ts," in _plan(bounded)
        assert "GreaterThanOrEqual(ts," not in _plan(exact)
        got, want = _rows(bounded), _rows(exact)
        assert got == want and len(want) > 10, (kind, start, len(got), len(want))


def test_replaced_ts_gets_no_bound(spark, tmp_path):
    """``ts`` replaced after ``load_events`` loses its mark, so a ``ts_sec``
    derived from the old ``ts_ms`` is not bounded by the new ``ts``."""
    src = str(tmp_path / "ev")
    write_events(src, _edge_ms(), TS_TYPES["ntz"])
    shifted = load_events(spark, src).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 2 DAYS")
    )
    cells = tsdb.derive_tsdb_cells(shifted)
    assert not derived_from_ts(cells, "ts_sec", "ts_sec")
    start, end = WINDOWS[1]
    out = tsdb.hour_range_filter(cells, start, end)
    assert "GreaterThanOrEqual(ts," not in _plan(out)
    want = tsdb.hour_range_filter(
        tsdb.derive_tsdb_cells(load_events(spark, src)), start, end
    )
    assert _rows(out) == _rows(want) and _rows(want)


def test_hand_built_frame_gets_no_bound(spark):
    """``ts`` two days off ``ts_sec`` and no marks: the exact test alone."""
    import datetime

    base = datetime.datetime(2024, 1, 8)
    rows = [
        (i, base + datetime.timedelta(days=2, minutes=7 * i), H0 // 1000 + 420 * i)
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp_ntz, ts_sec long")
    out = tsdb.hour_range_filter(df, H0, H0 + 2 * HOUR)
    assert "GreaterThanOrEqual(ts," not in _plan(out)
    assert sorted(r.event_id for r in out.collect()) == list(range(18))


def test_partitioned_scan_gets_no_bound(spark, tmp_path):
    """``scan_time_partitioned`` reads back a ``ts_sec`` computed outside
    ``derive_tsdb_cells``: its ``ts`` is carried along but bounds nothing."""
    src, path = str(tmp_path / "ev"), str(tmp_path / "by_hour")
    write_events(src, _edge_ms(), TS_TYPES["ntz"])
    ev = load_events(spark, src).withColumn("ts_sec", F.expr("ts_ms div 1000"))
    layout.write_time_partitioned(ev.select("event_id", "ts", "ts_sec"), path, granularity="hour")
    start, end = WINDOWS[0]
    scan = layout.scan_time_partitioned(spark, path, start, end, granularity="hour")
    assert "ts" in scan.columns
    assert "GreaterThanOrEqual(ts," not in _plan(scan)
    want = tsdb.hour_range_filter(ev, start, end)
    assert sorted(r.event_id for r in scan.collect()) == sorted(
        r.event_id for r in want.collect()
    )


def test_load_events_marks_ts_and_ts_ms(spark, sf_dir):
    ev = load_events(spark, sf_dir)
    assert ev.schema["ts"].metadata == {TS_LINEAGE: "ts"}
    assert ev.schema["ts_ms"].metadata == {TS_LINEAGE: "ts_ms"}
    assert derived_from_ts(ev, "ts_ms", "ts_ms")
    assert not derived_from_ts(ev.drop("ts"), "ts_ms", "ts_ms")


def test_loading_micros_events_leaves_session_conf_alone(spark, sf_dir):
    """The fixtures store ``ts`` as TIMESTAMP(MICROS): loading them sets
    no session key. Only a TIMESTAMP(NANOS) file needs nanosAsLong."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    old = spark.conf.get(key, None)
    spark.conf.unset(key)
    try:
        load_events(spark, sf_dir)
        assert spark.conf.get(key, None) is None
    finally:
        if old is not None:
            spark.conf.set(key, old)


def _in_group(spark, group, build):
    """``build()`` under job group ``group``: (its result, the jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, obs.group_record(spark, group)["jobs"]


def _dictionary_jobs(spark, group, events) -> tuple[int, list]:
    """Jobs that building ``events``' dictionary ran, and its rows."""
    d, jobs = _in_group(spark, group, lambda: tsdb.metric_dictionary(events))
    return jobs, [tuple(r) for r in d.orderBy("metric_id").collect()]


def test_dictionary_scans_once_per_source(spark, tmp_path):
    src = str(tmp_path / "ev")
    write_events(src, _edge_ms(), TS_TYPES["ntz"], event_types=("click", "view"))
    first, ids = _dictionary_jobs(spark, "dict-first", load_events(spark, src))
    again, ids_again = _dictionary_jobs(spark, "dict-again", load_events(spark, src))
    assert first >= 1 and again == 0, (first, again)
    assert ids == ids_again == [("click", 0), ("view", 1)]

    ev = load_events(spark, src)
    cells, jobs = _in_group(spark, "dict-derive", lambda: tsdb.derive_tsdb_cells(ev))
    assert jobs == 0
    assert {r.metric_id for r in cells.select("metric_id").distinct().collect()} == {0, 1}


def test_rewritten_source_gets_new_ids(spark, tmp_path):
    src = str(tmp_path / "ev")
    write_events(src, _edge_ms(), TS_TYPES["ntz"], event_types=("click", "view"))
    _, before = _dictionary_jobs(spark, "dict-v1", load_events(spark, src))
    write_events(src, _edge_ms(), TS_TYPES["ntz"], event_types=("click", "error", "view"))
    jobs, after = _dictionary_jobs(spark, "dict-v2", load_events(spark, src))
    assert before == [("click", 0), ("view", 1)]
    assert jobs >= 1 and after == [("click", 0), ("error", 1), ("view", 2)]


def test_filtered_source_gets_its_own_dictionary(spark, tmp_path):
    src = str(tmp_path / "ev")
    write_events(src, _edge_ms(), TS_TYPES["ntz"], event_types=("click", "view"))
    ev = load_events(spark, src)
    _, whole = _dictionary_jobs(spark, "dict-whole", ev)
    jobs, only_view = _dictionary_jobs(
        spark, "dict-filtered", ev.filter(F.col("event_type") == "view")
    )
    assert whole == [("click", 0), ("view", 1)]
    assert jobs >= 1 and only_view == [("view", 0)]


def test_frame_without_files_computes_its_dictionary(spark):
    df = spark.createDataFrame([("b",), ("a",), ("b",)], "event_type string")
    assert tsdb._source_key(df) is None
    got = tsdb.metric_dictionary(df).orderBy("metric_id").collect()
    assert [tuple(r) for r in got] == [("a", 0), ("b", 1)]


def test_dictionary_memo_stays_bounded_under_threads():
    """Concurrent stores never grow the memo past its size."""
    import sys
    import threading

    saved = dict(tsdb._DICTIONARIES)
    interval = sys.getswitchinterval()
    errors = []

    def store(worker):
        try:
            for i in range(2000):
                tsdb._remember(("stress", worker, i % 11), ())
                assert len(tsdb._DICTIONARIES) <= tsdb._DICTIONARIES_MAX
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(e)

    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=store, args=(w,)) for w in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(interval)
        tsdb._DICTIONARIES.clear()
        tsdb._DICTIONARIES.update(saved)
    assert not errors, errors[:3]
    assert len(tsdb._DICTIONARIES) <= tsdb._DICTIONARIES_MAX
