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
is an external contract, and this module is its one home for both
containers: per-file records, one check over them (:func:`_check_records`:
rows in their region, ≤2048 files per region, disjoint region spans) and
one manifest shape. Both writers check before they commit, and
`validate_layout`, the no-op load stub, rebuilds the records from the
files. Like H7, which reads each HFile's first and last key and never its
cells, a parquet layout's records come from its footers; a v3 layout's
come from its writer's tasks, and at adoption from a parse of each file.

Every directory writer of the engine commits through :func:`commit_dir`,
so the adopted dir holds either the last complete output or the new
complete one, never a mix: the callback writes the whole output,
``_manifest.json`` included, into ``<final>.inprogress``, and the staging
dir is then swapped into place (``final → final.old``, ``staging →
final``, delete ``final.old``). The manifest is written before the swap
because it is the commit marker adoption requires: a dir renamed into
place is complete by construction. A callback that raises leaves
``final`` as it was and its staging dir deleted. A crash at any point
leaves a state the next commit (or :func:`recover_dirs`) rolls back: a
``.old`` whose ``final`` is missing is renamed back, any other ``.old``
and any ``.inprogress`` are deleted.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
from collections import Counter

import pyarrow.parquet as pq
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
) -> dict:
    """Write the KV stream as one sorted parquet directory per region +
    ``_manifest.json``, and return that manifest. Input: columns (bucket,
    key, key_hex, family, qualifier, qualifier_hex, value) — e.g. from
    operators.tsdb.bulkload_kv.

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

    The manifest is built from the written files' parquet footers after
    Spark's commit (:func:`build_manifest`), no data is read back, and
    that pass also runs adoption's checks: a layout :func:`validate_layout`
    would refuse raises here, before the commit. The manifest is the
    commit marker :func:`validate_layout` requires. Files and manifest
    land in a staging dir that :func:`commit_dir` swaps into ``path``, so
    a write that fails at any step leaves the previous output adoptable
    and a retry replaces it whole.
    """

    def write(staging: str) -> dict:
        (
            assign_region(kv, rollup, num_partitions)
            .write.partitionBy("region")
            .option("compression", "snappy")
            .parquet(staging)
        )
        m = build_manifest(staging, rollup)
        write_manifest(staging, m)
        return m

    return commit_dir(path, write)


def _recover(final: str) -> None:
    """Roll back what a crashed :func:`commit_dir` on ``final`` left: a
    ``.old`` is the last complete output when ``final`` is missing (crash
    between the two renames) and stale otherwise; an ``.inprogress`` is
    always incomplete."""
    old, staging = final + ".old", final + ".inprogress"
    if os.path.exists(old):
        if os.path.exists(final):
            shutil.rmtree(old)
        else:
            os.rename(old, final)
    if os.path.exists(staging):
        shutil.rmtree(staging)


def commit_dir(final: str, write):
    """The engine's one directory commit: recover ``final``, call
    ``write(final + ".inprogress")`` to write the complete output, then
    swap it into place and return ``write``'s result (see the module
    docstring). A failing ``write`` leaves ``final`` untouched: its
    staging dir is deleted and the error re-raised."""
    final = os.path.normpath(final)
    _recover(final)
    staging, old = final + ".inprogress", final + ".old"
    try:
        result = write(staging)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    if os.path.exists(final):
        os.rename(final, old)
        os.rename(staging, final)
        shutil.rmtree(old)
    else:
        os.rename(staging, final)
    return result


def recover_dirs(root: str) -> None:
    """:func:`commit_dir`'s recovery for every ``*.old`` and
    ``*.inprogress`` entry directly under ``root`` — for writers that
    commit many sibling dirs concurrently and sweep the root once first."""
    if not os.path.isdir(root):
        return
    for entry in sorted(os.listdir(root)):
        for suffix in (".old", ".inprogress"):
            if entry.endswith(suffix):
                _recover(os.path.join(root, entry[: -len(suffix)]))


def write_manifest(path: str, manifest: dict | list) -> None:
    with open(os.path.join(path, "_manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)


def _span(md, col: str, file: str) -> tuple:
    """(min, max) of ``col`` over a parquet footer's row-group statistics."""
    j = md.schema.names.index(col)
    stats = [md.row_group(rg).column(j).statistics for rg in range(md.num_row_groups)]
    if any(st is None or not st.has_min_max for st in stats):
        raise ValueError(f"{file}: no min/max statistics for {col}")
    return min(st.min for st in stats), max(st.max for st in stats)


def _file_records(path: str) -> list[dict]:
    """One record per ``region=*/*.parquet`` file of a parquet layout:
    ``(file, region, rows, min/max key_hex, min/max bucket)``, from the
    row-group statistics in its footer — no row is read, as
    LoadIncrementalHFiles reads only an HFile's first and last key. Names
    starting with ``.`` or ``_`` are skipped, as Spark's reader does; a
    file with no rows yields no record, as H7 skips an HFile with no
    entries."""
    records = []
    for full in sorted(glob.glob(os.path.join(path, "region=*", "[!_]*.parquet"))):
        md = pq.read_metadata(full)
        if not md.num_rows:
            continue
        file = os.path.relpath(full, path)
        (min_key, max_key), (min_bucket, max_bucket) = (
            _span(md, "key_hex", file), _span(md, "bucket", file)
        )
        records.append({
            "file": file,
            "region": int(os.path.dirname(file).split("=", 1)[1]),
            "rows": md.num_rows,
            "min_key_hex": min_key,
            "max_key_hex": max_key,
            "min_bucket": min_bucket,
            "max_bucket": max_bucket,
        })
    return records


def _manifest(records: list[dict]) -> dict:
    """``{"regions": {"<region>": {rows, min_key_hex, max_key_hex}}}``."""
    regions: dict[str, dict] = {}
    for r in records:
        g = regions.setdefault(
            str(r["region"]),
            {"rows": 0, "min_key_hex": r["min_key_hex"], "max_key_hex": r["max_key_hex"]},
        )
        g["rows"] += r["rows"]
        g["min_key_hex"] = min(g["min_key_hex"], r["min_key_hex"])
        g["max_key_hex"] = max(g["max_key_hex"], r["max_key_hex"])
    return {"regions": regions}


def _check_records(records: list[dict], rollup: bool) -> dict:
    """The adoption checks of both containers, over per-file records, in
    order: every file's bucket span sits in its region (region = bucket,
    or bucket div 8 under ``rollup``), ≤2048 files per region, and region
    key spans are disjoint. Returns the records' :func:`_manifest`."""
    step = ROLLUP_BUCKETS_PER_REGION if rollup else 1
    for r in records:
        lo, hi = r["min_bucket"], r["max_bucket"]
        if lo // step != r["region"] or hi // step != r["region"]:
            raise AssertionError(
                f"wrong region: {r['file']} holds buckets {lo}..{hi}, "
                f"not in region {r['region']}"
            )
    for region, n in Counter(r["region"] for r in records).items():
        if n > MAX_FILES_PER_REGION:
            raise AssertionError(f"region {region}: {n} files > {MAX_FILES_PER_REGION}")
    manifest = _manifest(records)
    spans = sorted(
        (g["min_key_hex"], g["max_key_hex"], region)
        for region, g in manifest["regions"].items()
    )
    for (_lo_a, hi_a, ra), (lo_b, _hi_b, rb) in zip(spans, spans[1:]):
        if lo_b < hi_a:
            raise AssertionError(f"regions {ra} and {rb} overlap in key space")
    return manifest


def build_manifest(path: str, rollup: bool) -> dict:
    """``{"regions": {"<region>": {rows, min_key_hex, max_key_hex}}}`` of
    a parquet layout, from its file footers, after adoption's checks on
    them (:func:`_check_records`)."""
    return _check_records(_file_records(path), rollup)


def v3_manifest(files: list[dict], rollup: bool) -> dict:
    """An HFile v3 layout's manifest from its per-file entries ``{file,
    region, rows, min_key_hex, max_key_hex}``, after :func:`_check_records`
    with each bucket span read off the keys' 2-byte salt prefix: the
    parquet manifest plus the ``files`` list the v3 readers plan from (an
    empty layout has none, so both containers give it one manifest)."""
    manifest = _check_records(
        [
            {
                **f,
                "min_bucket": int(f["min_key_hex"][:4], 16),
                "max_bucket": int(f["max_key_hex"][:4], 16),
            }
            for f in files
        ],
        rollup,
    )
    if files:
        manifest["files"] = files
    return manifest


def _v3_files(path: str) -> list[dict]:
    """A v3 layout's :func:`v3_manifest` entries from its files: the
    region from the ``region_RRRRR_pPPPPP.hfile`` name, rows and key span
    from a full parse in the driver (``hfilev3.read_hfile_v3``)."""
    from hbase_bulkload_service_spark.sources.hfilev3 import read_hfile_v3

    files = []
    for full in sorted(glob.glob(os.path.join(path, "region_*.hfile"))):
        file = os.path.basename(full)
        _, meta = read_hfile_v3(full)
        files.append({
            "file": file,
            "region": int(file.split("_")[1]),
            **{k: meta[k] for k in ("rows", "min_key_hex", "max_key_hex")},
        })
    return files


def validate_layout(path: str, rollup: bool = False) -> dict:
    """No-op `load` stub (H7): assert what LoadIncrementalHFiles needs —
    regions non-overlapping in key space, each file's buckets in its
    region, ≤2048 files per region — and return the layout's manifest.
    The order inside a file is :func:`assign_region`'s guarantee.

    One path for both containers: the dir must hold a committed
    ``_manifest.json``; the records rebuilt from its files (parquet
    footers, or parsed v3 files) are checked, and the manifest they give
    must equal the committed one."""
    mpath = os.path.join(path, "_manifest.json")
    if not os.path.exists(mpath):
        raise FileNotFoundError(f"{path}: no _manifest.json, the write never committed")
    files = _v3_files(path)
    manifest = (
        v3_manifest(files, rollup)
        if files
        else _check_records(_file_records(path), rollup)
    )
    with open(mpath) as f:
        if json.load(f) != manifest:
            raise AssertionError(f"{path}: files disagree with _manifest.json")
    return manifest
