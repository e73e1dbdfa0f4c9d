"""End-to-end bulkload pipeline + HFile-layout invariants (SURVEY.md §5
test strategy items 3 & 4)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from hbase_bulkload_service_spark.operators import tsdb
from hbase_bulkload_service_spark.sources import hfile
from hbase_bulkload_service_spark.sources.tables import load_events


@pytest.fixture(scope="module")
def kv(spark, sf_dir):
    cells = tsdb.derive_tsdb_cells(load_events(spark, sf_dir))
    return tsdb.bulkload_kv(cells).cache()


def test_kv_is_deduped(kv):
    dup = kv.groupBy("key", "qualifier").count().filter(F.col("count") > 1).count()
    assert dup == 0


def test_salt_prefix_matches_bucket(kv):
    from hbase_bulkload_service_spark.functions.codec import key_bucket

    bad = kv.filter(key_bucket(F.col("key")) != F.col("bucket")).count()
    assert bad == 0
    assert kv.select("bucket").distinct().filter(
        (F.col("bucket") < 0) | (F.col("bucket") >= 512)
    ).count() == 0


def test_parquet_hfile_layout(spark, kv, tmp_path):
    path = str(tmp_path / "hfiles")
    manifest = hfile.write_hfiles(kv, path, num_partitions=8)
    assert os.path.exists(os.path.join(path, "_manifest.json"))
    assert manifest["regions"]
    hfile.validate_layout(path)  # in-region, non-overlapping, capped


def test_rollup_region_step(spark, kv, tmp_path):
    path = str(tmp_path / "hfiles_rollup")
    hfile.write_hfiles(kv, path, rollup=True, num_partitions=8)
    df = spark.read.parquet(path)
    bad = df.filter(F.expr("bucket div 8") != F.col("region")).count()
    assert bad == 0
    hfile.validate_layout(path, rollup=True)


def test_parquet_row_in_wrong_region_dir_is_caught(spark, kv, tmp_path):
    """One row copied into another region's dir must fail the footer
    check that each file's bucket span sits in its region."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "hf_wrong_region")
    hfile.write_hfiles(kv, path, num_partitions=8)
    region_dirs = sorted(
        d for d in os.listdir(path) if d.startswith("region=")
    )
    src_dir = os.path.join(path, region_dirs[0])
    src = next(f for f in os.listdir(src_dir) if f.endswith(".parquet"))
    row = pq.read_table(os.path.join(src_dir, src)).slice(0, 1)
    pq.write_table(row, os.path.join(path, region_dirs[-1], "stray.parquet"))
    with pytest.raises(AssertionError, match="wrong region"):
        hfile.validate_layout(path)


def _kv_of(spark, rows):
    """A KV stream of the given (bucket, key) rows."""
    return spark.createDataFrame(
        [(bucket, key, key.hex().upper(), b"t", b"q", "71", b"v") for bucket, key in rows],
        "bucket int, key binary, key_hex string, family binary,"
        " qualifier binary, qualifier_hex string, value binary",
    )


# regions 0 and 1 overlap in key space although every row sits in its
# bucket's region
_OVERLAPPING = [
    (0, bytes.fromhex("0000AA")), (0, bytes.fromhex("0000CC")), (1, bytes.fromhex("0000BB"))
]


def test_parquet_overlapping_regions_are_caught(spark, tmp_path):
    """Region dirs whose key spans overlap must fail even when every row
    sits in its bucket's region (the parquet branch checks spans, not
    key prefixes): the writer refuses to commit such a layout, and
    adoption refuses one that reaches it by another way."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "hf_overlap")
    with pytest.raises(AssertionError, match="overlap"):
        hfile.write_hfiles(_kv_of(spark, _OVERLAPPING), path, num_partitions=2)
    assert not os.path.exists(path)
    assert not os.path.exists(path + ".inprogress")

    for bucket, key in _OVERLAPPING:
        key_hex = key.hex().upper()
        region = os.path.join(path, f"region={bucket}")
        os.makedirs(region, exist_ok=True)
        pq.write_table(
            pa.table({"bucket": [bucket], "key_hex": [key_hex]}),
            os.path.join(region, f"{key_hex}.parquet"),
        )
    hfile.write_manifest(path, {"regions": {}})
    with pytest.raises(AssertionError, match="overlap"):
        hfile.validate_layout(path)


def test_refused_rewrite_keeps_the_committed_output(spark, kv, tmp_path):
    """A write whose layout adoption would refuse raises before its
    commit: the output already at the path stays adoptable and
    unchanged."""
    path = str(tmp_path / "hf_keep")
    first = hfile.write_hfiles(kv, path, num_partitions=8)
    with pytest.raises(AssertionError, match="overlap"):
        hfile.write_hfiles(_kv_of(spark, _OVERLAPPING), path, num_partitions=2)
    assert hfile.validate_layout(path) == first


def test_load_hfiles_returns_written_manifest(spark, kv, tmp_path):
    """Adoption returns the manifest its own validation pass derived; it
    must equal the one the writer persisted."""
    from hbase_bulkload_service_spark.api import BulkloadService

    path = str(tmp_path / "hf_adopt")
    hfile.write_hfiles(kv, path, num_partitions=8)
    svc = BulkloadService(spark, lambda table: None, str(tmp_path))
    with open(os.path.join(path, "_manifest.json")) as f:
        assert svc.load_hfiles(path) == json.load(f)


def _remap_v3_regions(path):
    """Rename every v3 file under ``path`` to region ``region div 8`` — a
    wrong-but-monotone mapping under rollup=False — with unique names, and
    commit a manifest that matches the renamed files."""
    with open(os.path.join(path, "_manifest.json")) as f:
        files = json.load(f)["files"]
    assert any(m["region"] >= 8 for m in files)
    renamed = []
    for i, m in enumerate(files):
        name = f"region_{m['region'] // 8:05d}_x{i:05d}.hfile"
        os.rename(os.path.join(path, m["file"]), os.path.join(path, name))
        renamed.append({**m, "file": name, "region": m["region"] // 8})
    renamed.sort(key=lambda m: m["file"])
    hfile.write_manifest(path, {**hfile._manifest(renamed), "files": renamed})


def test_v3_wrong_region_mapping_is_caught(spark, kv, tmp_path):
    """A regression that maps rows to wrong-but-monotone regions (e.g.
    region = bucket div 8 while claiming rollup=False) must fail the
    bucket-prefix check, even with a manifest that agrees with the files:
    region key spans alone stay non-overlapping."""
    from hbase_bulkload_service_spark.sources import hfilev3

    path = str(tmp_path / "v3_badregion")
    hfilev3.write_hfilev3_files(kv, path, num_partitions=8)
    _remap_v3_regions(path)
    with pytest.raises(AssertionError, match="not in region"):
        hfile.validate_layout(path, rollup=False)


def test_v3_wrong_region_mapping_is_caught_deep(spark, kv, tmp_path):
    """The same wrong-but-monotone region mapping under the writer's
    default partitioning."""
    from hbase_bulkload_service_spark.sources import hfilev3

    path = str(tmp_path / "v3_badregion_deep")
    hfilev3.write_hfilev3_files(kv, path)
    _remap_v3_regions(path)
    with pytest.raises(AssertionError, match="not in region"):
        hfile.validate_layout(path, rollup=False)


# bucket-0 rows whose keys do not start with their bucket: the 2-byte
# prefix b"00" reads as bucket 12336
_UNSALTED = [(0, b"00key%d" % i) for i in range(3)]


def test_v3_writer_refuses_a_layout_adoption_would_refuse(spark, kv, tmp_path):
    """The v3 writer runs adoption's checks before it commits: a layout
    whose keys sit outside their region raises, leaves nothing on a fresh
    path, and leaves an earlier good write adoptable and unchanged."""
    from hbase_bulkload_service_spark.sources import hfilev3

    fresh = str(tmp_path / "v3_fresh")
    with pytest.raises(AssertionError, match="wrong region"):
        hfilev3.write_hfilev3_files(_kv_of(spark, _UNSALTED), fresh, num_partitions=1)
    assert not os.path.exists(fresh)
    assert not os.path.exists(fresh + ".inprogress")

    path = str(tmp_path / "v3_keep")
    first = hfilev3.write_hfilev3_files(kv, path, num_partitions=8)
    with pytest.raises(AssertionError, match="wrong region"):
        hfilev3.write_hfilev3_files(_kv_of(spark, _UNSALTED), path, num_partitions=1)
    assert hfile.validate_layout(path) == first
    with open(os.path.join(path, "_manifest.json")) as f:
        assert json.load(f) == first


def test_empty_v3_write_adopts_as_empty(spark, kv, tmp_path):
    """A v3 write with no cells commits the empty layout's one manifest;
    adoption and the distributed readback both accept it."""
    from hbase_bulkload_service_spark.sources import hfilev3

    path = str(tmp_path / "v3_empty")
    assert hfilev3.write_hfilev3_files(kv.filter("false"), path) == {"regions": {}}
    assert hfile.validate_layout(path) == {"regions": {}}
    assert hfilev3.read_hfilev3_dir(spark, path).count() == 0


def _unsorted_files(path):
    """Files under ``path/region=*/`` whose rows are not in ascending
    (key, qualifier) byte order — the order HBase adopts a file in."""
    import glob

    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(path, "region=*", "*.parquet")))
    assert files, path
    bad = []
    for f in files:
        t = pq.read_table(f, columns=["key", "qualifier"])
        rows = list(zip(t.column("key").to_pylist(), t.column("qualifier").to_pylist()))
        if any(a > b for a, b in zip(rows, rows[1:])):
            bad.append(os.path.relpath(f, path))
    return bad, len(files)


@pytest.mark.parametrize("layout", ["raw", "rollup", "service"])
def test_files_are_sorted_by_key_and_qualifier(spark, sf_dir, kv, tmp_path, layout):
    """Inside every written file, (key, qualifier) never decreases: the
    raw and rollup writer layouts, and one service request end to end."""
    path = str(tmp_path / layout)
    if layout == "service":
        from hbase_bulkload_service_spark.api import BulkloadRequest, BulkloadService

        start, end = 1704067200000, 1706745600000  # 2024-01
        svc = BulkloadService(
            spark,
            lambda table: tsdb.derive_tsdb_cells(load_events(spark, sf_dir)),
            str(tmp_path),
        )
        svc.bulkload(BulkloadRequest("tsdb", layout, start, end))
        svc.run_pending()
        assert not svc.queue.failures
        path = f"{path}/{start}"
    else:
        hfile.write_hfiles(kv, path, rollup=layout == "rollup")
    bad, total = _unsorted_files(path)
    assert not bad, f"{len(bad)} of {total} files out of order, e.g. {bad[:3]}"


@pytest.mark.parametrize("layout", ["raw", "rollup"])
def test_default_write_is_one_file_per_region(spark, kv, tmp_path, layout):
    """Without a pinned count the range exchange is sized by its shuffled
    bytes: a small KV stream lands as exactly one file per region dir, the
    reference's one-file-per-prefix shape."""
    import glob

    path = str(tmp_path / layout)
    hfile.write_hfiles(kv, path, rollup=layout == "rollup")
    region_dirs = glob.glob(os.path.join(path, "region=*"))
    assert region_dirs, path
    counts = {
        os.path.basename(d): len(glob.glob(os.path.join(d, "*.parquet")))
        for d in region_dirs
    }
    assert set(counts.values()) == {1}, counts


@pytest.mark.parametrize("rollup", [False, True], ids=["raw", "rollup"])
def test_empty_window_request_adopts_nothing(spark, sf_dir, tmp_path, rollup):
    """A request whose window holds no cells writes no region dir; the job
    still succeeds, and it and adoption both return an empty manifest
    (the reference loads an empty dir as a no-op)."""
    from hbase_bulkload_service_spark.api import BulkloadRequest, BulkloadService

    start, end = 1_000_000_000_000, 1_000_003_600_000  # 2001: no events
    svc = BulkloadService(
        spark,
        lambda table: tsdb.derive_tsdb_cells(load_events(spark, sf_dir)),
        str(tmp_path),
    )
    job = svc.bulkload(BulkloadRequest("tsdb", "empty", start, end, rollup=rollup))
    results = svc.run_pending()
    assert not svc.queue.failures, svc.queue.failures
    assert results[job] == {"regions": {}}
    out = f"{tmp_path}/empty/{start}"
    assert svc.load_hfiles(out, rollup=rollup) == {"regions": {}}
    with open(os.path.join(out, "_manifest.json")) as f:
        assert json.load(f) == {"regions": {}}


def test_uncommitted_dir_without_regions_is_refused(spark, tmp_path):
    """Only a committed empty write adopts as empty: a dir with no
    ``_manifest.json`` and no region dirs still fails adoption."""
    path = tmp_path / "uncommitted"
    (path / "_temporary").mkdir(parents=True)
    with pytest.raises(Exception, match="no _manifest.json"):
        hfile.validate_layout(str(path))


@pytest.mark.parametrize("tamper", ["deleted", "edited", "v3-deleted", "v3-edited"])
def test_adoption_needs_the_written_manifest(spark, kv, tmp_path, tamper):
    """``_manifest.json`` is the commit marker: a committed write without
    it, or with one its files disagree with, is not adopted — for the
    parquet and the HFile v3 container alike."""
    from hbase_bulkload_service_spark.sources import hfilev3

    path = str(tmp_path / "hf")
    write = hfilev3.write_hfilev3_files if tamper.startswith("v3-") else hfile.write_hfiles
    write(kv, path, num_partitions=8)
    mpath = os.path.join(path, "_manifest.json")
    if tamper.endswith("deleted"):
        os.remove(mpath)
        with pytest.raises(FileNotFoundError, match="no _manifest.json"):
            hfile.validate_layout(path)
    else:
        with open(mpath) as f:
            manifest = json.load(f)
        next(iter(manifest["regions"].values()))["rows"] += 1
        hfile.write_manifest(path, manifest)
        with pytest.raises(AssertionError, match="disagree"):
            hfile.validate_layout(path)


@pytest.mark.parametrize("rollup", [False, True], ids=["raw", "rollup"])
def test_adoption_runs_no_spark_job(spark, kv, tmp_path, rollup):
    """Adoption reads file footers only: no Spark job runs under its job
    group, and its manifest equals an aggregate over every row."""
    import pyarrow.dataset as ds

    path = str(tmp_path / "hf")
    hfile.write_hfiles(kv, path, rollup=rollup)
    sc = spark.sparkContext
    group = f"adopt-{'rollup' if rollup else 'raw'}"
    sc.setJobGroup(group, "adoption")
    try:
        manifest = hfile.validate_layout(path, rollup=rollup)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    rows = (
        ds.dataset(path, format="parquet", partitioning="hive")
        .to_table(columns=["region", "key_hex"])
        .group_by("region")
        .aggregate([("key_hex", "count"), ("key_hex", "min"), ("key_hex", "max")])
        .to_pylist()
    )
    assert rows
    assert manifest == {
        "regions": {
            str(r["region"]): {
                "rows": r["key_hex_count"],
                "min_key_hex": r["key_hex_min"],
                "max_key_hex": r["key_hex_max"],
            }
            for r in rows
        }
    }


def test_region_file_without_statistics_is_refused(spark, kv, tmp_path):
    """A region file whose footer has no min/max statistics cannot be
    checked from metadata: adoption fails and names the file."""
    import glob

    import pyarrow.parquet as pq

    path = str(tmp_path / "hf_nostats")
    hfile.write_hfiles(kv, path, num_partitions=8)
    victim = sorted(glob.glob(os.path.join(path, "region=*", "*.parquet")))[0]
    pq.write_table(pq.read_table(victim), victim, write_statistics=False)
    with pytest.raises(ValueError, match=os.path.relpath(victim, path)):
        hfile.validate_layout(path)


def test_failed_rewrite_keeps_the_committed_output(spark, kv, tmp_path, monkeypatch):
    """A write that fails after Spark's commit (here: building the
    manifest) must leave the previously committed output adoptable, and
    on a fresh path leave no final dir at all; the next good write
    leaves no staging or ``.old`` entry behind."""
    from hbase_bulkload_service_spark.api import BulkloadService

    path = str(tmp_path / "hf_committed")
    fresh = str(tmp_path / "hf_fresh")
    first = hfile.write_hfiles(kv, path, num_partitions=8)

    def fail(_path, _rollup):
        raise RuntimeError("manifest build failed")

    with monkeypatch.context() as m:
        m.setattr(hfile, "build_manifest", fail)
        for target in (path, fresh):
            with pytest.raises(RuntimeError, match="manifest build failed"):
                hfile.write_hfiles(kv, target)
            assert not os.path.exists(target + ".inprogress")
    svc = BulkloadService(spark, lambda table: None, str(tmp_path))
    assert svc.load_hfiles(path) == first
    assert not os.path.exists(fresh)
    hfile.write_hfiles(kv, path)
    hfile.write_hfiles(kv, fresh)
    assert not [
        e for e in os.listdir(tmp_path) if e.endswith((".inprogress", ".old"))
    ]


def test_retry_gives_the_same_output(spark, kv, tmp_path):
    """Writing the same KV twice to one path gives an equal manifest and
    equal rows in every region."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "hf_retry")

    def write_and_read():
        manifest = hfile.write_hfiles(kv, path)
        rows = {
            d: pq.read_table(os.path.join(path, d)).sort_by(
                [("key_hex", "ascending"), ("qualifier_hex", "ascending")]
            )
            for d in sorted(os.listdir(path))
            if d.startswith("region=")
        }
        return manifest, rows

    first_manifest, first_rows = write_and_read()
    second_manifest, second_rows = write_and_read()
    assert second_manifest == first_manifest
    assert second_rows.keys() == first_rows.keys()
    for d, table in first_rows.items():
        assert second_rows[d].equals(table), d
