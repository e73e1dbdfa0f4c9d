"""Maintenance / storage operators (SURVEY.md §2.K) — region merge policy,
tiered backup/restore planning, and small-partition compaction, re-expressed
over a partitions catalog.

Reference: manager/HBaseManager.java — cron jobs that (K2) merge adjacent
undersized regions, (K3) back up frozen regions to OSS via DistCp, (K4)
delete backed-up regions, (K5) restore them. The Spark analog operates on a
*catalog* DataFrame of partitions/regions:

    regions(region_name STRING, start_bucket INT, end_bucket INT,
            start_time_sec BIGINT, end_time_sec BIGINT, size_bytes BIGINT)

Policy constants (configuration/HBaseProperties.java:16-20).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame

from hbase_bulkload_service_spark.session import local_frame
from hbase_bulkload_service_spark.sources.hfile import commit_dir, recover_dirs
from pyspark.sql import functions as F

LOWER_SIZE = 100 * 1024 * 1024  # 100 MB — HBaseProperties.java:18
UPPER_SIZE = 5 * 1024 * 1024 * 1024  # 5 GB — HBaseProperties.java:17
LONG_INTERVAL_MS = 3 * 365 * 24 * 3600 * 1000  # 3 years — :19
SHORT_INTERVAL_MS = 3 * 30 * 24 * 3600 * 1000  # 3 months — :20
BACKUP_MIN_BYTES = 10 * 1024 * 1024  # 10 MB — HBaseManager.java:221-223


@dataclass(frozen=True)
class Region:
    name: str
    start_bucket: int | None
    end_bucket: int | None
    start_time_sec: int
    end_time_sec: int | None  # None = open-ended end key
    size_bytes: int


def plan_merges(
    regions: list[Region],
    now_ms: int,
    lower_size: int = LOWER_SIZE,
    upper_size: int = UPPER_SIZE,
    short_interval_ms: int = SHORT_INTERVAL_MS,
    long_interval_ms: int = LONG_INTERVAL_MS,
) -> list[tuple[str, str]]:
    """K2 — faithful walk of HBaseManager.mergeSmallRegion (:75-181).

    Walk regions in key order holding at most one pending region A:
    - a region whose 2-byte bucket prefix differs between start and end key
      (cross-bucket) resets A and is skipped (:89-103);
    - if no A pending and size < lowerSize → A := current (:131-136);
    - if A pending and sizeA < lowerSize → merge(A, current) regardless of
      current's own size/age (:138-145);
    - else hot-window rule (:155-166): region merges only when its time
      range lies inside [now-longInterval, now-shortInterval] and
      size ≤ upperSize; outside → reset A;
    - a region with a short/empty end key terminates the walk (:120-122).
    """
    merges: list[tuple[str, str]] = []
    region_a: Region | None = None
    range_new = now_ms - short_interval_ms
    range_old = now_ms - long_interval_ms
    for info in regions:
        if info.end_bucket is None or (
            info.start_bucket is not None and info.start_bucket != info.end_bucket
        ):
            region_a = None
            continue
        if info.end_time_sec is None:
            break
        size = info.size_bytes
        if region_a is None and size < lower_size:
            region_a = info
            continue
        if region_a is not None and region_a.size_bytes < lower_size:
            merges.append((region_a.name, info.name))
            region_a = None
            continue
        if (
            info.end_time_sec * 1000 < range_old
            or info.start_time_sec * 1000 > range_new
            or size > upper_size
        ):
            region_a = None
        else:
            if region_a is None:
                region_a = info
            else:
                merges.append((region_a.name, info.name))
                region_a = None
    return merges


def backup_candidates(
    regions: DataFrame,
    now_ms: int,
    already_backing_up: list[str] | None = None,
    long_interval_ms: int = LONG_INTERVAL_MS,
    min_bytes: int = BACKUP_MIN_BYTES,
) -> DataFrame:
    """K3 — backup qualification (HBaseManager.backupHFileToOSS:186-263):
    single-bucket region AND end time older than (now - 3y) AND not already
    in flight AND size > 10 MB. Returns the qualifying catalog rows."""
    cond = (
        (F.col("start_bucket") == F.col("end_bucket"))
        & (F.col("end_time_sec") * 1000 < F.lit(now_ms - long_interval_ms))
        & (F.col("size_bytes") > F.lit(min_bytes))
    )
    out = regions.filter(cond)
    if already_backing_up:
        out = out.filter(~F.col("region_name").isin(already_backing_up))
    return out


def removal_plan(regions: DataFrame, backup_status: DataFrame) -> DataFrame:
    """K4 — remove backed-up regions (HBaseManager.removeBackupedHFile
    :268-288 + deleteRegions :462-513): a region is removable once its
    backup job reports SUCCEEDED. Join the catalog to the job-status table;
    the physical delete + merge-away of the emptied region is the caller's
    partition-drop action.

    backup_status: (region_name STRING, status STRING).
    """
    ok = backup_status.filter(F.col("status") == "SUCCEEDED").select("region_name")
    return regions.join(ok, "region_name")


def restore_plan(backups: DataFrame, live_regions: DataFrame) -> DataFrame:
    """K5/K6 — restore grafting (HbaseRepairRunner.java:41-121): each
    backed-up region's HFiles are copied into the live region whose key
    range covers the backup's bucket. K6 bucket mapping (:54-67) is the
    2-byte-prefix parse — here the catalog carries buckets directly, so the
    graft is an equi-range join: backup.bucket ∈ [live.start, live.end].

    backups:      (backup_name STRING, bucket INT, size_bytes BIGINT)
    live_regions: (region_name STRING, start_bucket INT, end_bucket INT)
    → one row per backup with its target region (inner: a backup whose
    bucket no live region covers is surfaced by the caller as an error,
    like the reference's missing-region log).
    """
    cond = (F.col("b.bucket") >= F.col("r.start_bucket")) & (
        F.col("b.bucket") <= F.col("r.end_bucket")
    )
    return (
        backups.alias("b")
        .join(live_regions.alias("r"), cond)
        .select(
            "b.backup_name",
            "b.bucket",
            "b.size_bytes",
            F.col("r.region_name").alias("target_region"),
        )
    )


def split_keys(bucket_count: int = 512, step: int = 1) -> list[bytes]:
    """K1/D4 — pre-split boundaries: 2-byte prefixes i*step for i in
    1..(bucket_count/step - 1) (HBaseManager.getSplitKeys:351-368; step 8
    for the rollup table)."""
    count = bucket_count // step
    return [(i * step).to_bytes(4, "big")[2:4] for i in range(1, count)]


def compact_small_partitions(
    spark,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    lower_bytes: int = LOWER_SIZE,
    max_concurrent: int = 8,
) -> list[str]:
    """K2 executor analog for parquet layouts — the small-file compaction
    pass (HBase minor compaction's file-count job, HBaseManager.java
    merge walk's file-level sibling): rewrite partition directories whose
    total size is under ``lower_bytes`` into ``ceil(size/target)`` files.
    Returns the rewritten partition dirs.

    The directory walk is driver-side bounded metadata (one entry per
    partition dir, same class as the region catalog); each rewrite is a
    distributed read→coalesce→write. Rewrites run CONCURRENTLY
    (``max_concurrent`` driver threads submitting independent Spark
    jobs — a small compaction job uses few task slots, so serial
    submission leaves the cluster idle; HBase likewise compacts regions
    in parallel). Each rewrite commits through ``hfile.commit_dir``, so a
    partition always holds its old files or its compacted ones; the root
    is swept once with ``hfile.recover_dirs`` before the partitions are
    listed, which restores any partition a crash left mid-swap.
    """
    from concurrent.futures import ThreadPoolExecutor

    recover_dirs(path)

    def rewrite(d: str) -> str | None:
        full = os.path.join(path, d)
        files = [f for f in os.listdir(full) if f.endswith(".parquet")]
        size = sum(os.path.getsize(os.path.join(full, f)) for f in files)
        if size >= lower_bytes or len(files) <= 1:
            return None
        df = spark.read.parquet(full)
        n = max(1, -(size // -target_bytes))  # ceil
        commit_dir(full, lambda staging: df.coalesce(int(n)).write.parquet(staging))
        return d

    dirs = [
        d
        for d in sorted(os.listdir(path))
        if os.path.isdir(os.path.join(path, d)) and "=" in d
    ]
    with ThreadPoolExecutor(max_workers=max(1, max_concurrent)) as pool:
        done = list(pool.map(rewrite, dirs))
    return [d for d in done if d is not None]


def create_bucketed_table(
    df,
    name: str,
    path: str | None = None,
    file_buckets: int = 64,
    bucket_col: str = "bucket",
):
    """K1 analog at full strength — the pre-split table as a Spark
    *bucketed* table (HBaseManager.java:56-70 creates the 512-way pre-split
    HBase table; `CLUSTERED BY (bucket) INTO n BUCKETS` is the same
    contract for Spark: data physically co-located by the salt bucket).

    Why it matters at 100 TB: every downstream groupBy/join keyed on the
    bucket column plans ZERO exchanges — the scan's bucketing satisfies
    the distribution requirement, so the latest-version dedup and the
    bucket-key lookup join run shuffle-free on re-read
    (tests/test_maintenance_schema.py pins the Exchange-free plans).
    ``file_buckets`` defaults to 64 (= 512 salt buckets / 8, the rollup
    region layout) to keep fixture file counts sane; at cluster scale use
    512 to mirror the region count exactly.
    """
    w = df.write.bucketBy(file_buckets, bucket_col).sortBy(bucket_col).mode(
        "overwrite"
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(name)
    return df.sparkSession.table(name)


# ---------------------------------------------------------------------------
# K3-K5 execution — the file lifecycle behind the plans
# ---------------------------------------------------------------------------
#
# The reference executes its plans with DistCp + HDFS deletes driven from
# the service (backup: HBaseManager.java:186-263 + distcp :436-446; remove:
# :268-288 + deleteRegions :462-513; restore graft:
# HbaseRepairRunner.java:41-121). Here the table is the HFile-layout sink's
# `region=N/` partition tree (sources/hfile.py), and the same lifecycle is
# driver-orchestrated filesystem work — copy/delete/graft whole partition
# directories, never row-level Spark jobs (metadata-scale, like the
# reference; the data plane is untouched).

def _region_dir(table_path: str, region: int) -> str:
    return os.path.join(table_path, f"region={int(region)}")


def _dir_stats(path: str) -> tuple[int, int]:
    n, size = 0, 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            n += 1
            size += os.path.getsize(os.path.join(root, fn))
    return n, size


def execute_backup(table_path: str, regions: list[int], backup_path: str) -> list[dict]:
    """K3 — copy each region's partition dir to backup storage (DistCp
    analog: directory-level copy, idempotent overwrite like -update).
    Returns one manifest entry per region: name, files, bytes.

    Each region's copy commits through ``hfile.commit_dir``, so a failure
    at any point never destroys the last good backup; the backup root is
    swept once with ``hfile.recover_dirs`` first, for ALL regions, not
    only this call's, so a re-run after any crash converges and
    execute_restore sees every backup."""
    recover_dirs(backup_path)
    out = []
    for region in regions:
        src = _region_dir(table_path, region)
        dst = _region_dir(backup_path, region)
        commit_dir(dst, lambda staging: shutil.copytree(src, staging))
        n, size = _dir_stats(dst)
        out.append(
            {"backup_name": f"region={int(region)}", "region": int(region),
             "n_files": n, "size_bytes": size}
        )
    return out


def execute_removal(table_path: str, regions: list[int]) -> list[int]:
    """K4 — drop backed-up region dirs from the live table (the partition-
    drop behind removal_plan; only call with SUCCEEDED backups)."""
    dropped = []
    for region in regions:
        d = _region_dir(table_path, region)
        if os.path.isdir(d):
            shutil.rmtree(d)
            dropped.append(int(region))
    return dropped


def execute_restore(backup_path: str, table_path: str, regions: list[int]) -> list[dict]:
    """K5/K6 — graft backed-up HFiles back into the live table at the
    bucket-matched placement (HbaseRepairRunner copies recovered files into
    the region dir covering their bucket; with 1:1 region=bucket layout the
    target dir IS region=<bucket>). Files are added, existing files kept —
    like the reference's copy-into-region-dir."""
    out = []
    for region in regions:
        src = _region_dir(backup_path, region)
        dst = _region_dir(table_path, region)
        os.makedirs(dst, exist_ok=True)
        copied = 0
        for fn in os.listdir(src):
            sp = os.path.join(src, fn)
            if os.path.isfile(sp):
                shutil.copy2(sp, os.path.join(dst, fn))
                copied += 1
        out.append({"region": int(region), "n_files": copied})
    return out


# ---------------------------------------------------------------------------
# K2 at catalog scale — distributed plan_merges
# ---------------------------------------------------------------------------

_PREV_SENTINEL = "\x00PREV"
_MERGE_WALK_SCHEMA = (
    "pid int, start_tag string, kind string, seq long, "
    "a_name string, b_name string, end_tag string, last_name string"
)


def _simulate_merge_walk(rows, start_tag, lower, upper, r_new, r_old):
    """Run the mergeSmallRegion automaton (plan_merges' exact branch order)
    over one partition's key-ordered rows from a given entry state.

    The automaton state after ANY processed row is one of three tags —
    no pending (N), pending-small (PS), pending-big (PB) — plus the
    pending region's identity, which is always the most recent row that
    set it. That bounded state is what makes the partition-parallel
    transfer-function scan in :func:`plan_merges_df` exact."""
    import pandas as pd

    tag = start_tag
    pending = _PREV_SENTINEL if start_tag in ("PS", "PB") else None
    pending_small = start_tag == "PS"
    merges = []
    for row in rows:
        sb, eb = row.start_bucket, row.end_bucket
        if pd.isna(eb) or (not pd.isna(sb) and int(sb) != int(eb)):
            tag, pending = "N", None
            continue
        if pd.isna(row.end_time_sec):
            tag = "T"
            break
        size = int(row.size_bytes)
        if pending is None and size < lower:
            pending, pending_small, tag = row.region_name, True, "PS"
            continue
        if pending is not None and pending_small:
            merges.append((pending, row.region_name))
            pending, tag = None, "N"
            continue
        if (
            int(row.end_time_sec) * 1000 < r_old
            or int(row.start_time_sec) * 1000 > r_new
            or size > upper
        ):
            pending, tag = None, "N"
        else:
            if pending is None:
                pending, pending_small, tag = row.region_name, False, "PB"
            else:
                merges.append((pending, row.region_name))
                pending, tag = None, "N"
    last = pending if (tag in ("PS", "PB") and pending != _PREV_SENTINEL) else None
    return merges, tag, last


def plan_merges_df(
    regions: DataFrame,
    now_ms: int,
    lower_size: int = LOWER_SIZE,
    upper_size: int = UPPER_SIZE,
    short_interval_ms: int = SHORT_INTERVAL_MS,
    long_interval_ms: int = LONG_INTERVAL_MS,
    order_cols: tuple[str, ...] = ("start_bucket", "start_time_sec", "region_name"),
    num_partitions: int | None = None,
) -> DataFrame:
    """K2 — :func:`plan_merges` for catalogs too big to collect (a
    million-region table's catalog is still a DataFrame, not a list).

    The walk is sequential, but its cross-row state is a 3-tag automaton
    (none / pending-small / pending-big) whose pending region is always
    the previous row — so it parallelizes as a classic transfer-function
    scan:

    1. range-partition + sort the catalog on ``order_cols`` (key order,
       one shuffle);
    2. each partition simulates the automaton ONCE PER ENTRY TAG (3 runs
       over metadata rows), emitting its merge pairs per variant and a
       tiny summary (entry tag → exit tag + pending identity); a merge
       whose A-side is the carried-in pending region uses a sentinel;
    3. the driver composes ONLY the per-partition summaries (3 rows per
       partition — metadata of metadata) to pick each partition's true
       entry tag and carried pending name;
    4. a broadcast join selects the matching variant's merge rows and
       resolves the sentinel.

    Data rows are never collected; the sequential walk in
    :func:`plan_merges` (kept verbatim) is the unit-test oracle.
    The reference's walk terminates at a short/empty end key
    (HBaseManager.java:120-122) — modeled as an absorbing T tag that
    silences every later partition.
    """
    import pandas as pd
    from pyspark.sql import functions as F

    spark = regions.sparkSession
    n = num_partitions or min(32, max(1, regions.rdd.getNumPartitions()))
    r_new = now_ms - short_interval_ms
    r_old = now_ms - long_interval_ms

    ordered = (
        regions.repartitionByRange(n, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .withColumn("pid", F.spark_partition_id())
    )

    def walk(batches):
        parts = [b for b in batches]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        if pdf.empty:
            return
        pid = int(pdf["pid"].iloc[0])
        out = []
        for start_tag in ("N", "PS", "PB"):
            merges, end_tag, last = _simulate_merge_walk(
                pdf.itertuples(index=False), start_tag,
                lower_size, upper_size, r_new, r_old,
            )
            for i, (a, b) in enumerate(merges):
                out.append((pid, start_tag, "m", i, a, b, None, None))
            out.append((pid, start_tag, "s", -1, None, None, end_tag, last))
        yield pd.DataFrame(
            out,
            columns=["pid", "start_tag", "kind", "seq",
                     "a_name", "b_name", "end_tag", "last_name"],
        )

    # The walk feeds two consumers (driver-side summary composition +
    # the merge-row join below): persist so the catalog scans ONCE, with
    # the cache registered for bounded eviction (cachereg's release
    # contract replaces the old "two metadata-scale scans instead of a
    # cache-lifetime promise" trade this code used to make).
    from hbase_bulkload_service_spark import cachereg

    walked = ordered.mapInPandas(walk, _MERGE_WALK_SCHEMA).persist()
    cachereg.register(walked, family="maintenance")
    # First pass: ONLY the 3-rows-per-partition summaries reach the driver.
    summaries = {
        (r["pid"], r["start_tag"]): r
        for r in walked.filter(F.col("kind") == "s").collect()
    }
    pids = sorted({p for p, _ in summaries})
    tag, last = "N", None
    picks = []
    for pid in pids:
        picks.append((pid, tag, last))
        if tag == "T":
            continue
        s = summaries[(pid, tag)]
        tag = s["end_tag"]
        last = (s["last_name"] or last) if tag in ("PS", "PB") else None
    picks_df = local_frame(spark,
        picks, "pid int, chosen_tag string, prev_name string"
    )
    return (
        walked.filter(F.col("kind") == "m")
        .join(
            F.broadcast(picks_df),
            (walked["pid"] == picks_df["pid"])
            & (walked["start_tag"] == picks_df["chosen_tag"]),
        )
        .select(
            walked["pid"],
            "seq",
            F.when(F.col("a_name") == _PREV_SENTINEL, F.col("prev_name"))
            .otherwise(F.col("a_name"))
            .alias("region_a"),
            F.col("b_name").alias("region_b"),
        )
        .orderBy("pid", "seq")
        .select("region_a", "region_b")
    )


# ---------------------------------------------------------------------------
# Cell retention: maxVersions + TTL (the reference pins maxVersions=1 on
# its column family, HBaseManager.java:380; HBase applies both knobs at
# compaction/read — here they are one explicit flagging operator)
# ---------------------------------------------------------------------------

def retention_flags(
    cells: DataFrame,
    key_cols: tuple[str, ...] = ("rowkey", "qualifier"),
    version_col: str = "version_ts",
    max_versions: int = 1,
    ttl_ms: int | None = None,
    now_ms: int | None = None,
    tiebreak_cols: tuple[str, ...] = (),
) -> DataFrame:
    """HBase column-family retention semantics as a flagging pass: per
    cell, newest ``max_versions`` versions survive; anything older than
    ``now_ms - ttl_ms`` expires regardless of rank (HBase evaluates TTL
    before version counting — an in-TTL-window older version does NOT
    inherit an expired newer one's slot, mirrored here by ranking ALL
    versions and filtering independently).

    Adds ``version_rank`` (1 = newest) and ``retain_state`` in
    {'kept', 'ttl_expired', 'version_evicted'}; callers filter
    ``retain_state = 'kept'`` for the compacted view or aggregate the
    states for a retention audit. ONE keyed shuffle + partition-local
    sort (the rank window), same cost profile as latest_version_dedup —
    which stays the cheaper plan for the max_versions=1/no-TTL case (hash
    agg, no sort). ``tiebreak_cols`` must make the ordering unique per
    cell or ranks are nondeterministic.
    """
    if max_versions < 1:
        raise ValueError("max_versions must be >= 1")
    from pyspark.sql import Window

    order = [F.col(version_col).desc()] + [
        F.col(c).desc() for c in tiebreak_cols
    ]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    ranked = cells.withColumn("version_rank", F.row_number().over(w))
    if ttl_ms is not None:
        if now_ms is None:
            raise ValueError("ttl_ms requires now_ms")
        expired = F.col(version_col) < F.lit(int(now_ms) - int(ttl_ms))
    else:
        expired = F.lit(False)
    state = (
        F.when(expired, F.lit("ttl_expired"))
        .when(F.col("version_rank") > max_versions, F.lit("version_evicted"))
        .otherwise(F.lit("kept"))
    )
    return ranked.withColumn("retain_state", state)


def collect_file_stats(spark, path: str, cols: list[str]):
    """Build a file-skipping manifest over a parquet layout: one scan
    emitting per-file (file, n_rows, min_<col>, max_<col>, ...) — the
    zone-map/manifest structure lakehouse metadata layers keep so query
    planners can prune files by predicate range without opening footers
    one by one (the engine-side analog of K1's region catalog, but at
    file granularity).

    Scale shape: a single pass with `input_file_name()` as the grouping
    key — partial aggregation collapses each file's rows inside the scan
    tasks (a task reads whole files, so the per-file partials rarely
    cross a partition boundary), and the exchange carries one row per
    (task, file). Output is |files| rows — metadata-sized. Re-run after
    compaction/ingest to refresh the manifest; the q72 z-order layout is
    what makes these min/max ranges tight enough to skip on."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(path).withColumn("_file", F.input_file_name())
    aggs = [F.count("*").alias("n_rows")]
    for c in cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    return df.groupBy(F.col("_file").alias("file")).agg(*aggs)


def layout_pruning_audit(
    df,
    key_col: str,
    natural_col: str,
    probes: list[tuple[int, int, int]],
    n_files: int = 64,
):
    """Sort-key pruning planner: quantify, BEFORE rewriting 100 TB, how
    many files a zone-map scan (q112's manifest) would touch under two
    candidate layouts — ``natural`` (insertion order: files bucketed
    equi-width on ``natural_col``) vs ``keysorted`` (files bucketed
    equi-width on ``key_col``) — for a set of range probes on
    ``key_col``. The decision input for a sort/cluster rewrite: if
    ``files_touched`` barely drops, the rewrite isn't worth the shuffle.

    File assignment is the equi-width simulation
    ``file = min(F-1, (v - min)·F // (max - min + 1))`` — a pure
    map-side expression off broadcast global bounds, so the audit never
    global-sorts (the real rewrite would repartitionByRange; the
    simulated min/max per file is identical for pruning purposes).
    Heavy key skew concentrates rows in few simulated files — that is
    signal, not error (a skewed key prunes poorly near its mode).

    Two passes over the fact: the 2-way layout melt → one (layout,
    file) agg, and the probe-match count (row-level k vs range — not
    derivable from file stats); probes are a tiny broadcast relation.
    Output per (layout, probe):
    files_total, files_touched, rows_scanned (Σ rows of touched files —
    the I/O actually paid), rows_matched (exact predicate hits),
    skip_ppm and waste_ppm (read amplification).

    Parameters: probes = [(probe_id, lo, hi)] inclusive on key_col.
    """
    spark = df.sparkSession
    probe_df = local_frame(spark,
        list(probes), "probe_id int, lo long, hi long"
    )
    bounds = df.agg(
        F.min(key_col).cast("long").alias("kmin"),
        F.max(key_col).cast("long").alias("kmax"),
        F.min(natural_col).cast("long").alias("nmin"),
        F.max(natural_col).cast("long").alias("nmax"),
    )

    def file_of(v: str, lo: str, hi: str):
        return F.least(
            F.lit(n_files - 1),
            F.expr(f"({v} - {lo}) * {n_files} div ({hi} - {lo} + 1)"),
        ).cast("int")

    tagged = (
        df.select(
            F.col(key_col).cast("long").alias("k"),
            F.col(natural_col).cast("long").alias("nat"),
        )
        .crossJoin(F.broadcast(bounds))
        .select(
            "k",
            file_of("k", "kmin", "kmax").alias("f_key"),
            file_of("nat", "nmin", "nmax").alias("f_nat"),
        )
    )
    melted = tagged.select(
        "k",
        F.explode(
            F.array(
                F.struct(
                    F.lit("keysorted").alias("layout"),
                    F.col("f_key").alias("file_id"),
                ),
                F.struct(
                    F.lit("natural").alias("layout"),
                    F.col("f_nat").alias("file_id"),
                ),
            )
        ).alias("s"),
    ).select("k", "s.layout", "s.file_id")
    stats = melted.groupBy("layout", "file_id").agg(
        F.min("k").alias("fmin"),
        F.max("k").alias("fmax"),
        F.count("*").alias("n_rows"),
    )
    per_layout = stats.groupBy("layout").agg(
        F.count("*").alias("files_total")
    )
    touched = (
        stats.join(
            F.broadcast(probe_df),
            (F.col("fmin") <= F.col("hi")) & (F.col("fmax") >= F.col("lo")),
        )
        .groupBy("layout", "probe_id")
        .agg(
            F.count("*").alias("files_touched"),
            F.sum("n_rows").alias("rows_scanned"),
        )
    )
    matched = (
        tagged.select("k")
        .join(
            F.broadcast(probe_df),
            (F.col("k") >= F.col("lo")) & (F.col("k") <= F.col("hi")),
        )
        .groupBy("probe_id")
        .agg(F.count("*").alias("rows_matched"))
    )
    grid = per_layout.crossJoin(F.broadcast(probe_df))
    # every post-agg relation is (layouts × probes)-bounded metadata —
    # broadcast so no SMJ/exchange ever forms over them
    return (
        grid.join(F.broadcast(touched), ["layout", "probe_id"], "left")
        .join(F.broadcast(matched), "probe_id", "left")
        .select(
            "layout",
            "probe_id",
            "lo",
            "hi",
            "files_total",
            F.coalesce("files_touched", F.lit(0).cast("long")).alias(
                "files_touched"
            ),
            F.coalesce("rows_scanned", F.lit(0).cast("long")).alias(
                "rows_scanned"
            ),
            F.coalesce("rows_matched", F.lit(0).cast("long")).alias(
                "rows_matched"
            ),
        )
        .withColumn(
            "skip_ppm",
            F.expr(
                "(files_total - files_touched) * 1000000 div files_total"
            ),
        )
        .withColumn(
            "waste_ppm",
            F.expr(
                "CASE WHEN rows_scanned = 0 THEN 0 ELSE"
                " (rows_scanned - rows_matched) * 1000000 div rows_scanned"
                " END"
            ),
        )
    )
