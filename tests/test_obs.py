"""The one query-run path (``obs.run_query``): its record is read from
``StatusTracker`` and the status store, so it works on the UI-off test
session; and ``tools/profile_stages.py`` runs on it end to end."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from hbase_bulkload_service_spark import obs, registry

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_query_record_counts_jobs_stages_and_shuffle(spark, sf_dir):
    assert spark.conf.get("spark.ui.enabled") == "false"
    rec = obs.run_query(spark, "q13_rollup_5m", sf_dir, group="obs-q13")
    assert rec["err"] is None
    assert rec["jobs"] >= 1 and rec["stages"] >= 1 and rec["tasks"] >= 1
    assert rec["shuffle_write_bytes"] > 0
    assert rec["wall_s"] >= rec["exec_s"] > 0
    assert rec["stages"] == len(rec["per_stage"])
    assert rec["shuffle_write_bytes"] == sum(
        s["shuffle_write_bytes"] for s in rec["per_stage"]
    )


def test_consecutive_groups_have_disjoint_stages(spark, sf_dir):
    a = obs.run_query(spark, "q01_pricing_summary", sf_dir, group="obs-a")
    b = obs.run_query(spark, "q01_pricing_summary", sf_dir, group="obs-b")
    sa = {s["stage"] for s in a["per_stage"]}
    sb = {s["stage"] for s in b["per_stage"]}
    assert sa and sb and not sa & sb
    assert obs.group_record(spark, "obs-b")["jobs"] == b["jobs"] - b["build_jobs"]


def _fails_at_build(spark, sf_dir):
    raise ValueError("bad input")


def _fails_at_exec(spark, sf_dir):
    return spark.range(3).select(F.raise_error(F.lit("bad row")).alias("x"))


@pytest.mark.parametrize("query", [_fails_at_build, _fails_at_exec])
def test_failed_query_is_recorded_not_raised(spark, sf_dir, monkeypatch, query):
    monkeypatch.setitem(registry.QUERIES, "obs_failing", query)
    rec = obs.run_query(spark, "obs_failing", sf_dir, group=query.__name__)
    assert rec["err"] and "bad" in rec["err"]
    assert rec["wall_s"] == pytest.approx(rec["build_s"] + rec["exec_s"], abs=2e-3)


def test_profile_stages_tool_runs(sf_dir, tmp_path):
    out = tmp_path / "profile.json"
    env = dict(os.environ, SPARK_GRAFT_CPUS="2")
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "profile_stages.py"),
         sf_dir, str(out), "--only", "q13_rollup_5m",
         "--no-respread"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    rec = json.loads(out.read_text())["q13_rollup_5m"]
    assert rec["stages"] >= 1 and rec["err"] is None
    assert isinstance(rec["flagged"], list)
    assert "AUDIT 1 queries" in proc.stdout
