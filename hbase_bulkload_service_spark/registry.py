"""Query registry — the driver-facing correctness surface.

Each entry pairs a Spark implementation (built from engine operators) with
an equivalent ANSI-SQL oracle string for DuckDB. The queries themselves
live in the domain modules of ``hbase_bulkload_service_spark.queries``;
this module holds only the table they register into and the Spark-side
helpers that more than one domain uses. Conventions that keep the
cross-engine value-hash stable:

- money/metric aggregates are computed in integer *cents*
  (``CAST(FLOOR(x*100) AS BIGINT)``) — identical IEEE arithmetic in both
  engines, then exact integer aggregation; no float-summation-order drift;
- timestamps are compared/output as epoch integers (``unix_millis`` /
  ``epoch_ms``) — timezone-proof;
- every computed column is aliased identically on both sides;
- ties near LIMIT boundaries are broken by a unique key;
- every DuckDB ``SUM``/``COUNT`` output is ``CAST(.. AS BIGINT)``: DuckDB
  promotes it to HUGEINT, which the pandas fetch path renders as float64;
- float outputs are floored to integer micros/cents before any cast,
  never rounded (a double → BIGINT cast truncates in Spark and rounds
  in DuckDB; round half-even vs half-up varies across engines);
- float folds are sequential left-to-right in both engines (``aggregate``
  with a 0.0 init vs ``list_reduce``);
- DuckDB ``regexp_replace`` needs the 'g' flag to match Spark's
  replace-all default; hex → int is ``conv(h, 16, 10)`` in Spark and
  ``('0x' || h)::BIGINT`` in DuckDB; text round trips compare by md5.
"""

from __future__ import annotations

from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def register(name: str, sql: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn

    return deco


def cents(col) -> F.Column:
    return F.floor(col * 100).cast("long")


@contextmanager
def _scoped_shuffle_partitions(spark: SparkSession, n: int):
    """Temporarily size shuffle/state partitions for a tiny-state streaming
    query (state-store partition count is fixed at first query start)."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _orders_row_checks():
    """The orders row-check suite — shared by q130 (batch audit) and
    q137 (streaming monitor), whose contract is bit-for-bit equality
    with this exact suite; a single definition removes drift risk."""
    return [
        ("orders_key_not_null", F.col("o_orderkey").isNotNull()),
        ("orders_status_domain", F.col("o_orderstatus").isin("F", "O", "P")),
        ("orders_price_positive", F.col("o_totalprice") > 0),
        ("orders_priority_urgent", F.col("o_orderpriority") == "1-URGENT"),
    ]
