"""Tests for the benchmark's own helpers (no Spark session needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
import types

import numpy as np
import pyarrow as pa
import pytest

from perfbench import inputs, stats
from perfbench.harness import Recorder
from perfbench.trace import Span, Tracer, _covered, patch_everywhere, unpatch

T0 = inputs.MONTH_START_MS


def test_tail_percentiles_need_ten_samples_beyond():
    assert stats.tail_percentiles(list(range(50))) == {"n": 50}
    out = stats.tail_percentiles([float(i) for i in range(100)])
    assert out["n"] == 100 and set(out) == {"n", "p90"}
    assert out["p90"] == pytest.approx(89.1)
    out = stats.tail_percentiles([float(i) for i in range(1000)])
    assert set(out) == {"n", "p90", "p99"}
    assert stats.tail_percentiles([]) == {"n": 0}


def _events(rows):
    """rows: (event_id, seconds after T0, user, event_type)."""
    ids, secs, users, kinds = zip(*rows)
    ts = (np.array(secs, dtype=np.int64) * 1000 + T0) * 1000
    return pa.table({
        "event_id": np.array(ids, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": np.array(users, dtype=np.int64),
        "event_type": list(kinds),
    })


def test_expected_cells_counts_distinct_cells_in_whole_hours():
    ev = _events([
        (0, 10, 1, "click"),
        (1, 10, 1, "click"),  # second version of the same cell
        (20, 10, 1, "view"),  # other metric: its own cell
        (3, 10, 2, "click"),  # other user: its own cell
        (4, 11, 1, "click"),  # other second: its own cell
        (5, 3599, 1, "click"),  # last second of hour 0
        (6, 3600, 1, "click"),  # hour 1: outside [T0, T0 + 1h)
    ])
    # the window keeps whole hours: [floor_hour(start), floor_hour(end))
    assert inputs.expected_cells(ev, T0 + 5_000, T0 + 3_600_000 + 1) == 5
    assert inputs.expected_cells(ev, T0, T0 + 2 * 3_600_000) == 6
    # versions: 6 events in hour 0, and ids 0 and 20 get a synthetic twin
    assert inputs.cell_versions(ev, T0, T0 + 3_600_000) == 8


def test_self_time_subtracts_the_union_of_children():
    parent = Span("p", 0.0, 10.0, None, 1)
    kids = [Span("a", 1.0, 3.0, 0, 1), Span("b", 2.0, 4.0, 0, 1),
            Span("c", 9.0, 12.0, 0, 1)]
    assert _covered(parent, kids) == pytest.approx(4.0)  # [1,4] + [9,10]

    tr = Tracer()
    tr.request = 7
    clock = iter([0.0, 1.0, 2.0, 5.0, 6.0, 10.0])
    import perfbench.trace as trace_mod

    real = trace_mod.time.perf_counter
    trace_mod.time.perf_counter = lambda: next(clock)
    try:
        with tr.span("outer"):
            with tr.span("inner"):
                with tr.span("leaf"):
                    pass
    finally:
        trace_mod.time.perf_counter = real
    assert tr.self_times(7) == {
        "outer": [pytest.approx(10.0 - 5.0)],
        "inner": [pytest.approx(5.0 - 3.0)],
        "leaf": [pytest.approx(3.0)],
    }
    assert tr.counts(7) == {"outer": 1, "inner": 1, "leaf": 1}
    assert tr.self_times(8) == {}


def test_patch_everywhere_catches_from_imports(monkeypatch):
    def f():
        return "real"

    a = types.ModuleType("pbfake.a")
    a.f = f
    b = types.ModuleType("pbfake.b")
    b.f = f  # what ``from pbfake.a import f`` leaves in b

    class Service:
        method = f

    Service.__module__ = "pbfake.b"
    b.Service = Service
    other = types.ModuleType("otherpkg")
    other.f = f
    for m in (a, b, other):
        monkeypatch.setitem(sys.modules, m.__name__, m)

    patched = patch_everywhere(f, lambda: "traced", ("pbfake",))
    assert a.f() == b.f() == Service.method() == "traced"
    assert other.f is f  # outside the prefixes: untouched
    assert len(patched) == 3
    unpatch(patched, f)
    assert a.f is b.f is Service.method is f


def test_failed_cells_of_counts_as_failed_not_as_fast_request(tmp_path):
    from hbase_bulkload_service_spark.api import BulkloadService

    from perfbench.workloads import bulkload_op

    def cells_of(table):
        raise RuntimeError("source unavailable")

    svc = BulkloadService(None, cells_of, str(tmp_path))
    rec = Recorder(None)
    checked = []
    rec.run(bulkload_op(None, svc, "t", T0, T0 + 3_600_000,
                        lambda manifest, out: checked.append(manifest) or True))
    assert (rec.attempted, rec.failed, rec.wrong) == (1, 1, 0)
    assert not rec.samples and not rec.sequence and not checked
    assert not svc.queue.failures  # taken over by the recorder's count
    with pytest.raises(RuntimeError):
        rec.end_to_end()


def test_overhead_leaves_out_the_first_request_of_each_kind():
    from perfbench.run import overhead_pct

    seq = [("a", 900.0, False), ("a", 110.0, True), ("a", 100.0, False),
           ("b", 50.0, False), ("b", 20.0, True), ("b", 20.0, False)]
    # a: 110 / 100, b: 20 / 20; the slow first requests do not count
    assert overhead_pct(seq) == pytest.approx(100.0 * ((1.1 * 1.0) ** 0.5 - 1.0))
    assert overhead_pct([("a", 900.0, False), ("a", 110.0, True)]) == 0.0


def test_lookup_join_rows_is_an_inner_join(tmp_path):
    import pyarrow.parquet as pq

    def put(name, cols):
        pq.write_table(pa.table(cols), tmp_path / f"{name}.parquet")

    put("orders", {"o_orderkey": np.arange(7, dtype=np.int64),
                   "o_custkey": np.array([0, 1, 2, 3, 9, 1, 1], dtype=np.int64)})
    put("customer", {"c_custkey": np.arange(4, dtype=np.int64),
                     "c_nationkey": pa.array([0, 1, 5, 1], pa.int32())})
    put("nation", {"n_nationkey": pa.array([0, 1], pa.int32())})
    # orders 0, 3, 6 probe; customer 2 has no nation, 3 is past the limit
    assert inputs.lookup_join_rows(str(tmp_path), 3) == 2  # orders 0 and 6
    assert inputs.lookup_join_rows(str(tmp_path), 4) == 3  # and order 3
