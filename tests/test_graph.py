"""Iterative graph loops over a pair table: connected-components
results, and the static broadcast gate on the |V|-row side of each
round's join (the session's autoBroadcastJoinThreshold over 16 bytes per
two-long node row, read per call).
"""

from __future__ import annotations

import pytest

from hbase_bulkload_service_spark.operators import graph

PAIRS = [
    (1, 2), (2, 3), (1, 3),      # triangle component -> min 1
    (10, 11), (11, 12),          # chain component -> min 10
    (20, 21),                    # pair component -> min 20
]


@pytest.fixture()
def pairs(spark):
    return spark.createDataFrame(PAIRS, "doc_a long, doc_b long")


def test_results_identical_under_both_flags(spark, pairs):
    got = sorted(graph.connected_components_rounds(pairs, rounds=3).collect())
    assert {(r["node"], r["component"]) for r in got} == {
        (1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (12, 10), (20, 20), (21, 20)
    }


THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


@pytest.fixture()
def set_threshold(spark):
    """Sets the session's broadcast threshold; the old value is restored
    after the test."""
    old = spark.conf.get(THRESHOLD)
    try:
        yield lambda value: spark.conf.set(THRESHOLD, value)
    finally:
        spark.conf.set(THRESHOLD, old)


def test_broadcast_gate_respects_ceiling(spark, pairs, set_threshold):
    # above the ceiling the hint must NOT fire (cluster posture: plan
    # byte-identical to the unhinted one); the session's 64 MB threshold
    # over 16-byte rows is a 4M-node ceiling
    set_threshold(str(64 * 1024 * 1024))
    ceiling = 64 * 1024 * 1024 // 16
    assert graph._maybe_broadcast(pairs, ceiling + 1) is pairs
    assert graph._maybe_broadcast(pairs, ceiling) is not pairs


def test_broadcast_ceiling_is_read_at_call_time(spark, pairs, set_threshold):
    """A threshold set after the module was imported still moves the
    ceiling; it is read parsed, and a threshold <= 0 turns the hint off."""
    set_threshold("80")
    assert graph._maybe_broadcast(pairs, 5) is not pairs
    assert graph._maybe_broadcast(pairs, 6) is pairs
    set_threshold("1KB")  # 1024 bytes: 64 nodes
    assert graph._maybe_broadcast(pairs, 64) is not pairs
    assert graph._maybe_broadcast(pairs, 65) is pairs
    set_threshold("-1")
    assert graph._maybe_broadcast(pairs, 1) is pairs
