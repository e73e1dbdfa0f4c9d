"""The one latest-version rule (D3, TsdbBulkload.java:129-139) of every
batch cell writer: the greatest ``version_ts`` wins, and between two
versions with the same ``version_ts`` the greater ``value`` wins, whatever
order the rows arrive in."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hbase_bulkload_service_spark.functions.codec import encode_double_be
from hbase_bulkload_service_spark.operators import tsdb
from hbase_bulkload_service_spark.streaming import ops as st

ORDERS = pytest.mark.parametrize("order", ["low_first", "high_first"])


def _ordered(rows, order):
    return rows if order == "low_first" else rows[::-1]


def _one_partition(spark, rows, schema):
    """``rows`` as one partition, in the order given."""
    return spark.createDataFrame(rows, schema).coalesce(1)


def _tied_cells(spark, values, order):
    """Two versions of one TSDB cell with the same ``version_ts``: the
    columns ``bulkload_kv`` reads, the value big-endian encoded."""
    rows = [
        (7, 1_704_067_200, "user=1", b"rowkey", b"\x00\x05", 1_704_067_205_000, v)
        for v in values
    ]
    return _one_partition(
        spark,
        _ordered(rows, order),
        "metric_id int, ts_hour long, tags string, rowkey binary,"
        " qualifier binary, version_ts long, dvalue double",
    ).withColumn("value", encode_double_be(F.col("dvalue")))


@ORDERS
def test_bulkload_kv_keeps_the_greater_value_of_a_tie(spark, order):
    kv = tsdb.bulkload_kv(_tied_cells(spark, [1.5, 3.0], order))
    values = [bytes(r.value) for r in kv.collect()]
    want = bytes.fromhex("4008000000000000")  # 3.0
    assert values == [want], (order, [v.hex() for v in values])


@ORDERS
def test_bulkload_kv_tie_follows_the_value_bytes(spark, order):
    """The KV value is compared as bytes, unsigned: for non-negative
    doubles that is numeric order, but for negative ones it is not.
    -2.0 (C000...) outranks -1.0 (BFF0...) as bytes, so -2.0 survives."""
    kv = tsdb.bulkload_kv(_tied_cells(spark, [-1.0, -2.0], order))
    values = [bytes(r.value) for r in kv.collect()]
    assert values == [bytes.fromhex("c000000000000000")], (
        order, [v.hex() for v in values]
    )


@ORDERS
def test_latest_version_dedup_keeps_the_greater_value_of_a_tie(spark, order):
    rows = [
        (b"\x01", b"\x00\x01", 100, 9.0),  # older version, greatest value
        (b"\x01", b"\x00\x01", 200, 2.0),
        (b"\x01", b"\x00\x01", 200, 5.0),
    ]
    cells = _one_partition(
        spark,
        _ordered(rows, order),
        "rowkey binary, qualifier binary, version_ts long, value double",
    )
    got = [
        (r.version_ts, r.value)
        for r in tsdb.latest_version_dedup(cells, ("rowkey", "qualifier")).collect()
    ]
    assert got == [(200, 5.0)], order


@ORDERS
def test_upsert_batch_writer_keeps_the_greater_value_of_a_tie(spark, tmp_path, order):
    path = str(tmp_path / f"snapshot-{order}")
    batch = _one_partition(
        spark,
        _ordered([("k1", "q1", 100, 1.0), ("k1", "q1", 100, 4.0)], order),
        st.CELL_SCHEMA,
    )
    st.upsert_batch_writer(path)(batch, 0)
    got = [
        (r.key, r.qualifier, r.version_ts, r.value)
        for r in spark.read.parquet(path).collect()
    ]
    assert got == [("k1", "q1", 100, 4.0)], order
