"""K3-K5 execution lifecycle over the HFile-layout partition tree:
backup (copy out) → removal (partition drop) → restore (bucket-matched
graft) must round-trip the table's contents exactly."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hbase_bulkload_service_spark.operators import maintenance as mnt
from hbase_bulkload_service_spark.operators import tsdb
from hbase_bulkload_service_spark.sources import hfile
from hbase_bulkload_service_spark.sources.tables import load_events


@pytest.fixture(scope="module")
def table(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("maint") / "table")
    cells = tsdb.derive_tsdb_cells(load_events(spark, sf_dir))
    kv = tsdb.bulkload_kv(cells)
    hfile.write_hfiles(kv, path, num_partitions=8)
    return path


def _rows(spark, path):
    return sorted(
        (r.region, r.key_hex, r.qualifier_hex, bytes(r.value).hex())
        for r in spark.read.parquet(path).select(
            "region", "key_hex", "qualifier_hex", "value"
        ).collect()
    )


def test_backup_remove_restore_roundtrip(spark, table, tmp_path):
    backup = str(tmp_path / "backup")
    before = _rows(spark, table)
    regions = sorted(
        int(d.split("=")[1]) for d in os.listdir(table) if d.startswith("region=")
    )[:3]

    manifest = mnt.execute_backup(table, regions, backup)
    assert [m["region"] for m in manifest] == regions
    assert all(m["n_files"] > 0 and m["size_bytes"] > 0 for m in manifest)

    dropped = mnt.execute_removal(table, regions)
    assert dropped == regions
    remaining = _rows(spark, table)
    assert 0 < len(remaining) < len(before)
    assert not any(r[0] in regions for r in remaining)

    grafted = mnt.execute_restore(backup, table, regions)
    assert all(g["n_files"] > 0 for g in grafted)
    assert _rows(spark, table) == before


def test_restore_is_additive_not_clobbering(spark, table, tmp_path):
    # grafting into a live region keeps its existing files (the reference
    # copies recovered HFiles INTO the region dir, it does not replace it)
    backup = str(tmp_path / "backup2")
    regions = sorted(
        int(d.split("=")[1]) for d in os.listdir(table) if d.startswith("region=")
    )[:1]
    region_dir = os.path.join(table, f"region={regions[0]}")
    mnt.execute_backup(table, regions, backup)
    files_before = set(os.listdir(region_dir))
    mnt.execute_restore(backup, table, regions)
    assert files_before <= set(os.listdir(region_dir))


def test_backup_recovers_from_crash_orphaned_old(spark, table, tmp_path):
    """ADVICE round 2: a crash between rename(dst, old) and rename(tmp, dst)
    leaves only region=N.old; the next execute_backup run must recover it
    (rename back) for ALL regions in the backup root, then proceed."""
    backup = str(tmp_path / "bk")
    regions = sorted(
        int(d.split("=")[1]) for d in os.listdir(table) if d.startswith("region=")
    )[:2]
    ra, rb = regions
    manifest = mnt.execute_backup(table, regions, backup)
    assert {m["region"] for m in manifest} == set(regions)
    # simulate mid-swap crash for rb: dst gone, .old holds the backup
    db = os.path.join(backup, f"region={rb}")
    os.rename(db, db + ".old")
    # recovery sweep runs even when rb is NOT in this call's list
    mnt.execute_backup(table, [ra], backup)
    assert os.path.isdir(db), ".old orphan was not recovered"
    assert not os.path.isdir(db + ".old")
    # and a subsequent restore sees it
    restored = mnt.execute_restore(backup, table, [rb])
    assert restored[0]["n_files"] >= 1


# ---------------------------------------------------------------------------
# compact_small_partitions (q99) + retention_flags (q100)
# ---------------------------------------------------------------------------

def _part_files(path, d):
    full = os.path.join(path, d)
    return [f for f in os.listdir(full) if f.endswith(".parquet")]


def test_compaction_preserves_content_and_reduces_files(spark, sf_dir, tmp_path):
    path = str(tmp_path / "frag")
    ev = load_events(spark, sf_dir).select(
        (F.col("event_id") % 6).cast("int").alias("region"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    ev.repartition(4).write.partitionBy("region").parquet(path)
    before = {
        r["region"]: (r["cnt"], r["s"])
        for r in spark.read.parquet(path)
        .groupBy("region").agg(F.count("*").alias("cnt"), F.sum("cents").alias("s"))
        .collect()
    }
    dirs = [d for d in os.listdir(path) if d.startswith("region=")]
    assert all(len(_part_files(path, d)) > 1 for d in dirs)
    rewritten = mnt.compact_small_partitions(spark, path)
    assert sorted(rewritten) == sorted(dirs)
    assert all(len(_part_files(path, d)) == 1 for d in dirs)
    after = {
        r["region"]: (r["cnt"], r["s"])
        for r in spark.read.parquet(path)
        .groupBy("region").agg(F.count("*").alias("cnt"), F.sum("cents").alias("s"))
        .collect()
    }
    assert before == after


def test_compaction_recovers_from_crash_orphaned_old(spark, sf_dir, tmp_path):
    import shutil

    path = str(tmp_path / "frag2")
    ev = load_events(spark, sf_dir).select(
        (F.col("event_id") % 3).cast("int").alias("region"),
        F.col("event_id"),
    )
    ev.repartition(3).write.partitionBy("region").parquet(path)
    total = spark.read.parquet(path).count()
    # simulate a crash between rename(full, .old) and rename(.inprogress,
    # full): region=1 exists only as the .old copy
    os.rename(os.path.join(path, "region=1"), os.path.join(path, "region=1.old"))
    # plus a stale half-written .inprogress for region=2
    shutil.copytree(
        os.path.join(path, "region=2"), os.path.join(path, "region=2.inprogress")
    )
    mnt.compact_small_partitions(spark, path)
    assert not any(
        d.endswith((".old", ".inprogress")) for d in os.listdir(path)
    )
    assert spark.read.parquet(path).count() == total


def test_retention_flags_ttl_precedes_version_eviction(spark):
    rows = [
        # cell A: three versions; newest inside TTL, middle inside TTL,
        # oldest expired — kept / version_evicted / ttl_expired
        ("a", "q", 3000, 30.0, 3),
        ("a", "q", 2000, 20.0, 2),
        ("a", "q", 500, 10.0, 1),
        # cell B: newest version ITSELF expired → ttl_expired even at rank 1,
        # and the in-window older version is rank 2 → version_evicted
        # (TTL does not free the newer one's slot)... but B's older row is
        # in-window at rank 2 with max_versions=1 → version_evicted
        ("b", "q", 900, 5.0, 4),
        ("b", "q", 1500, 6.0, 5),
    ]
    df = spark.createDataFrame(
        rows, "rowkey string, qualifier string, version_ts long, dvalue double, event_id long"
    )
    out = {
        (r["rowkey"], r["version_ts"]): (r["version_rank"], r["retain_state"])
        for r in mnt.retention_flags(
            df, max_versions=1, ttl_ms=2000, now_ms=3000,
            tiebreak_cols=("dvalue", "event_id"),
        ).collect()
    }
    assert out[("a", 3000)] == (1, "kept")
    assert out[("a", 2000)] == (2, "version_evicted")
    assert out[("a", 500)] == (3, "ttl_expired")
    assert out[("b", 1500)] == (1, "kept")
    assert out[("b", 900)] == (2, "ttl_expired")  # TTL precedence over rank
    with pytest.raises(ValueError):
        mnt.retention_flags(df, max_versions=0)
    with pytest.raises(ValueError):
        mnt.retention_flags(df, ttl_ms=1000)  # now_ms missing


def test_retention_flags_max_versions_keeps_newest_n(spark):
    rows = [("k", "q", t, float(t), t) for t in (100, 200, 300, 400)]
    df = spark.createDataFrame(
        rows, "rowkey string, qualifier string, version_ts long, dvalue double, event_id long"
    )
    kept = {
        r["version_ts"]
        for r in mnt.retention_flags(df, max_versions=2, tiebreak_cols=("event_id",))
        .filter(F.col("retain_state") == "kept")
        .collect()
    }
    assert kept == {300, 400}
