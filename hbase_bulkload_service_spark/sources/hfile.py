"""HFile-layout sink (SURVEY.md §2.H H1-H3) — sorted, per-region,
non-overlapping KV files + manifest.

Reference writers:
- H1 stock `HFileOutputFormat2` config (bulkload/HFileOutputUtil.java:17-39:
  snappy, replication 1, ≤2048 files/region/family);
- H2 rolling writer, one file per 2-byte salt prefix
  (bulkload/HadoopOutputFormat2.java:85-160 — roll on prefix change in the
  sorted stream);
- H3 same with 8 buckets per file (HadoopOutputFormat3.java:87-104, step 8
  — the rollup table's 64-region layout, HBaseManager.java:360-368).

Spark-first design (SURVEY.md §4.2): instead of relying on each task's
stream being sorted and hoping partitions don't overlap (the reference's
contract), the writers lay the stream out themselves, once, in
:func:`assign_region` — ``repartitionByRange(region, key, qualifier) +
sortWithinPartitions`` — giving globally non-overlapping, internally
sorted files per region. This module writes the layout as sorted parquet
(snappy) per region directory; the real HFile v3 byte format over the
same layout lives in ``sources/hfilev3.py`` (PySpark cannot instantiate
HFileOutputFormat2 without HBase jars, so that writer is pure Python).

File count follows the data, not a literal: unless the caller pins a
count, the range exchange starts at ``spark.sql.shuffle.partitions`` and
AQE coalesces adjacent ranges by shuffled bytes, so a small job writes
about one file per region (the H2 writer's one-file-per-prefix shape)
and a big one rolls files at AQE's target partition size. Byte-based
coalescing is the trap the dedup pins its width against, but it is right
here: after this exchange each task runs a JVM sort and a parquet
encode, no Python, so its cost tracks the bytes it is given.

The adoption step (LoadIncrementalHFiles, HBaseController.java:232-254, H7)
is an external contract: `validate_layout` is the no-op load stub that
checks exactly what adoption requires — ordering, non-overlap, file caps.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_FILES_PER_REGION = 2048  # HFileOutputUtil.java:20
ROLLUP_BUCKETS_PER_REGION = 8  # HadoopOutputFormat3.java:24,97


def assign_region(
    kv: DataFrame, rollup: bool, num_partitions: int | None
) -> DataFrame:
    """The one layout step of both writers: region id = bucket (raw
    table: 512 regions) or bucket div 8 (rollup: 64 regions) — mirrors the
    two writers' roll keys — then range-partition and sort by (region,
    key, qualifier).

    ``num_partitions=None`` plans the exchange without a count: it starts
    at the session's shuffle width and AQE merges adjacent ranges by
    shuffled bytes. Merged ranges stay contiguous and the sort runs above
    the merged read, so files stay non-overlapping and sorted inside. A
    count pins the width (AQE leaves a numbered exchange alone)."""
    step = ROLLUP_BUCKETS_PER_REGION if rollup else 1
    keys = ("region", "key", "qualifier")
    kv = kv.withColumn("region", F.expr(f"bucket div {step}").cast("int"))
    ranged = (
        kv.repartitionByRange(*keys)
        if num_partitions is None
        else kv.repartitionByRange(num_partitions, *keys)
    )
    return ranged.sortWithinPartitions(*keys)


def write_hfiles(
    kv: DataFrame,
    path: str,
    rollup: bool = False,
    num_partitions: int | None = None,
    manifest: bool = True,
) -> dict | None:
    """Write the KV stream as one sorted parquet directory per region +
    manifest.json. Input: columns (bucket, key, key_hex, family, qualifier,
    qualifier_hex, value) — e.g. from operators.tsdb.bulkload_kv.

    Scale: range partitioning on (region, key, qualifier) — raw binary,
    Spark's unsigned-lexicographic BinaryType order == HBase
    Bytes.compareTo, and order-isomorphic to the old hex sort (round 8) —
    keeps each region's data in contiguous partitions; the
    dynamic-partition writer rolls files on region change exactly like
    HadoopOutputFormat2.writeRecord. The sort keys start with ``region``:
    otherwise ``partitionBy("region")`` plans its own Sort on region alone,
    which drops the key order inside each file.

    ``num_partitions=None`` (the default) sizes the exchange from the
    shuffled bytes (see :func:`assign_region`): at small scale one file
    per region. Pass a count only to pin a layout.

    ``manifest=False`` skips the readback pass; a caller that re-reads the
    output anyway can derive the same stats from its own scan and persist
    them with :func:`write_manifest` (avoids scanning the data twice).
    """
    (
        assign_region(kv, rollup, num_partitions)
        .write.partitionBy("region")
        .option("compression", "snappy")
        .mode("overwrite")
        .parquet(path)
    )
    if not manifest:
        return None
    m = build_manifest(kv.sparkSession, path)
    write_manifest(path, m)
    return m


def write_manifest(path: str, manifest: dict | list) -> None:
    with open(os.path.join(path, "_manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)


def manifest_from_region_stats(rows) -> dict:
    """Build the manifest dict from per-region stats rows carrying
    ``region``, ``n_cells`` (or ``rows``), ``min_key_hex``, ``max_key_hex``
    — lets a caller that already aggregated a readback persist the manifest
    without a second scan."""
    return {
        "regions": {
            str(r["region"]): {
                "rows": r["n_cells"] if "n_cells" in r else r["rows"],
                "min_key_hex": r["min_key_hex"],
                "max_key_hex": r["max_key_hex"],
            }
            for r in rows
        }
    }


def _region_stats(spark, path: str, step: int = 1) -> list:
    """The one readback pass over a parquet layout: per region, its row
    count, key span, and the count of rows whose ``bucket div step`` is not
    the region they landed in. Sorted by region in the driver (a few
    hundred rows), so the pass is a single aggregation job. A committed
    write (``_SUCCESS``) of a window that held no cells leaves no
    ``region=*`` dir: that layout has no regions, and adopting it is a
    no-op. A dir with neither still fails the read."""
    names = os.listdir(path)
    if "_SUCCESS" in names and not any(n.startswith("region=") for n in names):
        return []
    rows = (
        spark.read.parquet(path)
        .groupBy("region")
        .agg(
            F.count("*").alias("rows"),
            F.min("key_hex").alias("min_key_hex"),
            F.max("key_hex").alias("max_key_hex"),
            F.count_if(F.expr(f"bucket div {step}") != F.col("region")).alias(
                "wrong_region"
            ),
        )
        .collect()
    )
    return sorted(rows, key=lambda r: r["region"])


def build_manifest(spark, path: str) -> dict:
    return manifest_from_region_stats(_region_stats(spark, path))


def validate_layout(spark, path: str, rollup: bool = False, deep: bool = True):
    """No-op `load` stub (H7): assert what LoadIncrementalHFiles needs —
    per-region files internally sorted, regions non-overlapping in key
    space, region == its keys' bucket prefix, ≤2048 files per region.

    Dispatches on the container. A parquet layout is checked in one
    Spark pass and the manifest that pass derived is returned; that pass
    sees region spans, not the order inside a file, which
    :func:`assign_region` guarantees. An HFile
    v3 dir (``sources/hfilev3.py``) gets the manifest-level checks of
    :func:`validate_manifest_layout`; ``deep=True`` also parses every
    file back in the driver (adoption/test scale only). It returns the
    check summary."""
    if any(n.endswith(".hfile") for n in os.listdir(path)):
        summary = validate_manifest_layout(path, rollup)
        if deep:
            from hbase_bulkload_service_spark.sources import hfilev3

            with open(os.path.join(path, "_manifest.json")) as f:
                for m in json.load(f):
                    _, meta = hfilev3.read_hfile_v3(os.path.join(path, m["file"]))
                    if (meta["rows"], meta["min_key_hex"], meta["max_key_hex"]) != (
                        m["rows"], m["min_key_hex"], m["max_key_hex"]
                    ):
                        raise AssertionError(f"{m['file']}: manifest/meta disagree")
            summary["per_record_validated"] = True
            summary["pending"] = None
            summary["checked"].append("hfilev3-per-file-parse")
        return summary
    step = ROLLUP_BUCKETS_PER_REGION if rollup else 1
    stats = _region_stats(spark, path, step)

    bad_bucket = sum(r["wrong_region"] for r in stats)
    if bad_bucket:
        raise AssertionError(f"{bad_bucket} rows landed in the wrong region")

    prev_hi, prev_region = None, None
    for r in stats:
        if prev_hi is not None and r["min_key_hex"] < prev_hi:
            raise AssertionError(
                f"regions {prev_region} and {r['region']} overlap in key space"
            )
        prev_hi, prev_region = r["max_key_hex"], r["region"]

    for region_dir in sorted(os.listdir(path)):
        if not region_dir.startswith("region="):
            continue
        files = [
            f
            for f in os.listdir(os.path.join(path, region_dir))
            if f.endswith(".parquet")
        ]
        if len(files) > MAX_FILES_PER_REGION:
            raise AssertionError(
                f"{region_dir}: {len(files)} files > {MAX_FILES_PER_REGION}"
            )
    return manifest_from_region_stats(stats)


def _check_bucket_prefix(key_hex: str, region: int, step: int, where: str) -> None:
    """Region == bucket-prefix contract: the key's first 2 bytes are the
    BE bucket id (tsdb.with_salt), and region = bucket div step."""
    if int(key_hex[:4], 16) // step != region:
        raise AssertionError(f"{where}: key {key_hex[:4]} not in region {region}")


def validate_manifest_layout(path: str, rollup: bool = False) -> dict:
    """Adoption check over a per-file ``_manifest.json`` (the list of
    ``{file, region, rows, min_key_hex, max_key_hex}`` a rolling writer
    emits): each file's key span sits in its region's bucket prefix (div
    8 under ``rollup``), per-region file count ≤ 2048, and regions are
    non-overlapping in key space. O(files) metadata, no file is opened.

    Returns a summary of what WAS checked: ``per_record_validated`` is
    False and ``pending`` names the distributed step the caller still
    owes — gates assert on it instead of silently assuming full coverage
    (VERDICT r04 advice)."""
    step = ROLLUP_BUCKETS_PER_REGION if rollup else 1
    with open(os.path.join(path, "_manifest.json")) as f:
        manifest = json.load(f)
    per_region: dict[int, list[dict]] = {}
    for m in manifest:
        per_region.setdefault(m["region"], []).append(m)
        _check_bucket_prefix(m["min_key_hex"], m["region"], step, m["file"])
        _check_bucket_prefix(m["max_key_hex"], m["region"], step, m["file"])
    for region, files in per_region.items():
        if len(files) > MAX_FILES_PER_REGION:
            raise AssertionError(
                f"region {region}: {len(files)} files > {MAX_FILES_PER_REGION}"
            )
    # region key ranges must not overlap (region order = key order)
    spans = sorted(
        (
            min(f["min_key_hex"] for f in files),
            max(f["max_key_hex"] for f in files),
            region,
        )
        for region, files in per_region.items()
    )
    for (_lo_a, hi_a, ra), (lo_b, _hi_b, rb) in zip(spans, spans[1:]):
        if lo_b < hi_a and ra != rb:
            raise AssertionError(f"regions {ra} and {rb} overlap in key space")
    return {
        "files": len(manifest),
        "regions": len(per_region),
        "checked": [
            "manifest-span-bucket-prefix",
            "files-per-region-cap",
            "region-span-disjointness",
        ],
        "per_record_validated": False,
        "pending": "read_hfilev3_dir — distributed per-file trailer/index/"
        "checksum/sort invariants",
    }
