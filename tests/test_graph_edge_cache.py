"""SPARK_GRAFT_GRAPH_EDGE_CACHE (r09, VERDICT r08 item 7): the
cluster-scale opt-in edge layout for the iterative graph loops.

Pins both plan shapes: flag OFF (default — bench posture, the r08 A/B
measured the pre-partitioned layout 1.27x slower locally because AQE
broadcasts the |V| side and the edge table is never exchanged) leaves
the edge frame untouched; flag ON pre-partitions it on the round-join
key and persists it under the bounded cache registry. Results must be
identical under both flags.
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


def test_flag_off_is_a_passthrough(spark, pairs, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_GRAPH_EDGE_CACHE", raising=False)
    out = graph._edge_layout(pairs, "doc_a")
    assert out is pairs  # no hidden exchange, no persist


def test_flag_on_partitions_and_persists(spark, pairs, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_GRAPH_EDGE_CACHE", "1")
    out = graph._edge_layout(pairs, "doc_a")
    try:
        assert out.storageLevel.useMemory  # persisted (cachereg-bounded)
        plan = out._jdf.queryExecution().analyzed().toString()
        assert "repartitionbyexpression" in plan.lower().replace(" ", "")
    finally:
        out.unpersist()


def test_results_identical_under_both_flags(spark, pairs, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_GRAPH_EDGE_CACHE", raising=False)
    off = sorted(
        graph.connected_components_rounds(pairs, rounds=3).collect()
    )
    monkeypatch.setenv("SPARK_GRAFT_GRAPH_EDGE_CACHE", "1")
    on = sorted(graph.connected_components_rounds(pairs, rounds=3).collect())
    assert off == on
    assert {(r["node"], r["component"]) for r in off} == {
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
