"""Service facade — the reference's REST surface as a callable engine API.

One method per endpoint/cron of `controller/HBaseController.java` (file:line
cites are relative to /root/reference/). The HTTP layer, YARN submission,
and live-HBase RPCs are out of engine scope (BASELINE.json); everything the
*dataflow* does is real: request validation, newest-first time slicing,
sequential queued execution, the salt→sort→dedup→HFile-layout pipeline, and
the maintenance planners.

Scale posture: each queued job is an independent Spark action tagged with a
job group (the YARN-per-job analog); on a cluster the queue can run jobs
concurrently by dropping the sequential runner for a thread pool — the
reference serializes only because its YARN cluster was sized per-job.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from hbase_bulkload_service_spark.operators import maintenance, tsdb
from hbase_bulkload_service_spark.plans.jobs import JobQueue, time_slices
from hbase_bulkload_service_spark.sources import hfile


@dataclass(frozen=True)
class BulkloadRequest:
    """pojo/BulkloadBean.java:8-17, field-for-field (times are epoch ms).

    ``parallelism`` pins the writer's range-partition count (each
    partition writes one file per region it spans). ``None`` sizes it
    from the data: the exchange starts at the session's shuffle width and
    AQE merges it by shuffled bytes, so a small request writes about one
    file per region.
    """

    source_table: str
    target_table: str
    start_time: int
    end_time: int
    parallelism: int | None = None
    rollup: bool = False

    def validate(self) -> None:
        if self.end_time <= self.start_time:
            raise ValueError("endTime must exceed startTime")
        if self.parallelism is not None and self.parallelism <= 0:
            raise ValueError("parallelism must be positive")


class BulkloadService:
    """POST /tsdb/bulkload + /tsdb/batch/bulkload2 + /tsdb/load + the
    maintenance crons (HBaseController.java:126-154), as one object.

    ``cells_of(source_table) -> DataFrame`` injects the scan source (in
    production an HBase snapshot scan; in fixtures
    ``tsdb.derive_tsdb_cells``), keeping the service free of any storage
    binding — same seam as the reference's HBaseInputFormat constructor.
    """

    def __init__(self, spark: SparkSession, cells_of, output_root: str):
        self.spark = spark
        self.cells_of = cells_of
        self.output_root = output_root
        self.queue = JobQueue()

    # -- POST /tsdb/bulkload (HBaseController.java:180-189) ----------------
    def bulkload(self, req: BulkloadRequest) -> str:
        req.validate()
        job_id = f"{req.target_table}-{req.start_time}"
        out = f"{self.output_root}/{req.target_table}/{req.start_time}"
        self.queue.submit(job_id, lambda: self._run_pipeline(req, out))
        return job_id

    # -- POST /tsdb/batch/bulkload (:191-205) ------------------------------
    def batch_bulkload(self, reqs: list[BulkloadRequest]) -> list[str]:
        return [self.bulkload(r) for r in reqs]

    # -- POST /tsdb/batch/bulkload2 (:207-229, J2 slicing) -----------------
    def batch_bulkload_sliced(
        self, req: BulkloadRequest, interval_ms: int
    ) -> list[str]:
        """Split [start, end] into interval slices **newest first** and
        enqueue one job per slice (HBaseController.java:209-229)."""
        req.validate()
        return [
            self.bulkload(
                BulkloadRequest(
                    req.source_table,
                    req.target_table,
                    s.slice_start,
                    s.slice_end,
                    req.parallelism,
                    req.rollup,
                )
            )
            for s in time_slices(req.start_time, req.end_time, interval_ms)
        ]

    # -- queue runner (J1: sequential, failed jobs logged + dropped, J5) ---
    def run_pending(self) -> dict[str, object]:
        return self.queue.run_all(self.spark)

    # -- POST /tsdb/load (:232-254, H7 external contract) ------------------
    def load_hfiles(self, path: str, rollup: bool = False) -> dict:
        """Adoption stub: validate the non-overlapping layout that
        LoadIncrementalHFiles requires from the files (either container,
        ``hfile.validate_layout``) and return the manifest, which must
        equal the one the writer committed."""
        return hfile.validate_layout(path, rollup=rollup)

    # -- maintenance crons (:126-154 → manager/HBaseManager.java) ----------
    def merge_small_regions(self, regions: DataFrame, now_ms: int) -> DataFrame:
        """K2 cron: merge plan over the region-catalog DataFrame via the
        partition-parallel walk (plan_merges_df; the list-based
        plan_merges is the unit-test twin for bounded catalogs)."""
        return maintenance.plan_merges_df(regions, now_ms)

    def compact_table(self, path: str, **kwargs) -> list[str]:
        """K2 file-level cron: small-file compaction over a partitioned
        table dir (compact_small_partitions; each partition commits
        through ``hfile.commit_dir``). Returns rewritten partition dirs."""
        return maintenance.compact_small_partitions(self.spark, path, **kwargs)

    def backup_hfiles(self, regions: DataFrame, now_ms: int) -> DataFrame:
        return maintenance.backup_candidates(regions, now_ms)

    def remove_backed_regions(
        self, regions: DataFrame, backup_status: DataFrame
    ) -> DataFrame:
        return maintenance.removal_plan(regions, backup_status)

    def recovery_table(
        self, backups: DataFrame, live_regions: DataFrame
    ) -> DataFrame:
        return maintenance.restore_plan(backups, live_regions)

    # -- the pipeline itself (TsdbBulkload.java:35-165) --------------------
    def _run_pipeline(self, req: BulkloadRequest, out: str) -> dict:
        cells = self.cells_of(req.source_table)
        sliced = tsdb.hour_range_filter(cells, req.start_time, req.end_time)
        kv = tsdb.bulkload_kv(sliced)
        # rollup routing (TsdbBulkload.java:62-69): rollup jobs write the
        # 8-buckets-per-region layout (autoLoad = !rollup, :163). The
        # writer checks the layout adoption needs before it commits.
        return hfile.write_hfiles(
            kv, out, rollup=req.rollup, num_partitions=req.parallelism
        )
