"""End-to-end service facade: request → queue → pipeline → HFile layout →
adoption stub, mirroring the reference's POST /tsdb/bulkload lifecycle."""

from __future__ import annotations

import pytest

from hbase_bulkload_service_spark.api import BulkloadRequest, BulkloadService
from hbase_bulkload_service_spark.operators import tsdb
from hbase_bulkload_service_spark.sources.tables import load_events

START = 1704067200000  # 2024-01-01
END = 1706745600000  # 2024-02-01


@pytest.fixture()
def service(spark, sf_dir, tmp_path):
    cells_of = lambda table: tsdb.derive_tsdb_cells(load_events(spark, sf_dir))
    return BulkloadService(spark, cells_of, str(tmp_path))


def test_bulkload_end_to_end(service):
    req = BulkloadRequest("tsdb", "bucket-tsdb", START, END, parallelism=4)
    job_id = service.bulkload(req)
    results = service.run_pending()
    assert job_id in results and not service.queue.failures
    manifest = results[job_id]
    assert sum(r["rows"] for r in manifest["regions"].values()) > 0
    # adoption stub re-validates the layout and returns the same manifest
    out = f"{service.output_root}/bucket-tsdb/{START}"
    assert service.load_hfiles(out) == manifest


def test_rollup_routing_uses_8_bucket_regions(service):
    req = BulkloadRequest("tsdb", "bucket-tsdb-rollup-5m", START, END, rollup=True)
    service.bulkload(req)
    (manifest,) = service.run_pending().values()
    # 8 buckets per region (HadoopOutputFormat3.java:24,97) ⇒ region ids
    # live in [0, 64) instead of [0, 512)
    assert manifest["regions"]
    assert all(int(r) < 64 for r in manifest["regions"])


def test_sliced_batch_enqueues_newest_first(service):
    week = 7 * 24 * 3600 * 1000
    req = BulkloadRequest("tsdb", "bucket-tsdb", START, END, parallelism=2)
    ids = service.batch_bulkload_sliced(req, week)
    starts = [int(i.rsplit("-", 1)[1]) for i in ids]
    assert starts == sorted(starts, reverse=True)  # newest first (J2)
    assert len(ids) == 5  # ceil(31d / 7d), oldest slice overshoots START


def test_failed_job_is_logged_and_dropped(service):
    bad = BulkloadRequest("missing", "t", START, END)
    service.cells_of = lambda table: (_ for _ in ()).throw(RuntimeError("boom"))
    jid = service.bulkload(bad)
    results = service.run_pending()
    assert jid not in results and jid in service.queue.failures


def test_request_validation():
    with pytest.raises(ValueError):
        BulkloadRequest("s", "t", END, START).validate()
    with pytest.raises(ValueError):
        BulkloadRequest("s", "t", START, END, parallelism=0).validate()


def test_merge_cron_routes_to_df_walk(service, spark):
    """The facade's K2 cron must accept the catalog as a DataFrame and
    agree with the sequential reference walk."""
    from hbase_bulkload_service_spark.operators import maintenance as mnt

    rows = [
        ("r1", 0, 0, 100, 200, 10 * 1024 * 1024),
        ("r2", 0, 0, 200, 300, 20 * 1024 * 1024),
        ("r3", 1, 1, 100, 200, 10 * 1024 * 1024),
        ("r4", 1, 1, 200, 300, 6 * 1024**3),
    ]
    schema = (
        "region_name string, start_bucket int, end_bucket int, "
        "start_time_sec long, end_time_sec long, size_bytes long"
    )
    catalog = spark.createDataFrame(rows, schema)
    now = 300_000 + mnt.LONG_INTERVAL_MS  # every region inside the window
    got = sorted(
        (r["region_a"], r["region_b"])
        for r in service.merge_small_regions(catalog, now).collect()
    )
    want = mnt.plan_merges(
        [mnt.Region(*r) for r in rows], now
    )
    assert got == sorted(want)


def test_compact_cron_rewrites_partition_dirs(service, spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    d = str(tmp_path / "table")
    load_events(spark, "/root/testdata/sf0.001").select(
        (F.col("event_id") % 3).cast("int").alias("region"), "event_id"
    ).repartition(4).write.partitionBy("region").parquet(d)
    rewritten = service.compact_table(d)
    assert sorted(rewritten) == ["region=0", "region=1", "region=2"]
    for sub in rewritten:
        files = [
            f for f in os.listdir(os.path.join(d, sub)) if f.endswith(".parquet")
        ]
        assert len(files) == 1


def test_duplicate_pending_request_is_refused(service):
    """Two requests with the same target and start share a job id and an
    output dir: the second is refused while the first is pending."""
    service.bulkload(BulkloadRequest("tsdb", "bucket-tsdb", START, END))
    with pytest.raises(ValueError, match="already pending"):
        service.bulkload(BulkloadRequest("tsdb", "bucket-tsdb", START, END + 1))
    assert len(service.queue.jobs) == 1


def test_job_id_is_free_again_after_its_run():
    from hbase_bulkload_service_spark.plans.jobs import JobQueue

    queue = JobQueue()
    queue.submit("j", lambda: 1)
    queue.run_all()
    queue.submit("j", lambda: 2)
    assert queue.run_all() == {"j": 2}
