"""Iterative graph loops over a pair table: connected-components
results, and the static broadcast gate on the |V|-row side of each
round's join (SPARK_GRAFT_GRAPH_BROADCAST_NODES, read per call).
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


def test_broadcast_gate_respects_ceiling(spark, pairs, monkeypatch):
    # above the ceiling the hint must NOT fire (cluster posture: plan
    # byte-identical to the unhinted one)
    monkeypatch.delenv("SPARK_GRAFT_GRAPH_BROADCAST_NODES", raising=False)
    hinted = graph._maybe_broadcast(pairs, graph._DEFAULT_BROADCAST_NODES)
    unhinted = graph._maybe_broadcast(pairs, graph._DEFAULT_BROADCAST_NODES + 1)
    assert unhinted is pairs
    assert hinted is not pairs


def test_broadcast_ceiling_is_read_at_call_time(spark, pairs, monkeypatch):
    """SPARK_GRAFT_GRAPH_BROADCAST_NODES set after the module was imported
    still moves the ceiling."""
    monkeypatch.setenv("SPARK_GRAFT_GRAPH_BROADCAST_NODES", "5")
    assert graph._maybe_broadcast(pairs, 5) is not pairs
    assert graph._maybe_broadcast(pairs, 6) is pairs
