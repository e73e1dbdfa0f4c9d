"""session.get_spark: the engine runs from any working directory."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import hbase_bulkload_service_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(
    hbase_bulkload_service_spark.__file__
)))


def test_python_workers_import_the_package_from_any_cwd(sf_dir, tmp_path):
    """A driver that reaches the package through ``sys.path`` only, run
    from an unrelated cwd, must still run an Arrow UDF: the workers find
    the package through the path get_spark hands them."""
    driver = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from hbase_bulkload_service_spark.operators import tsdb
        from hbase_bulkload_service_spark.session import get_spark
        from hbase_bulkload_service_spark.sources.tables import load_events

        spark = get_spark(master="local[1]", **{{
            "spark.ui.enabled": "false", "spark.driver.memory": "1g",
        }})
        cells = tsdb.derive_tsdb_cells(load_events(spark, {sf_dir!r}))
        # a filter on the encoded value keeps its Arrow UDF in the plan
        print("cells", cells.filter("length(value) = 8").count())
    """)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != REPO
    )
    run = subprocess.run(
        [sys.executable, "-c", driver], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    assert int(run.stdout.split("cells")[-1]) > 0, run.stdout
