"""Registry wave 17 (round 5): the REAL Apache HFile v3 container gate.

q167 drives the q56/q116 flagship bulkload pipeline through
sources/hfilev3.py — the actual HBase on-disk v3 byte format (33-byte
checksummed block headers, root index, PBUF file info, 4096-byte
protobuf trailer) that ``LoadIncrementalHFiles`` adopts (reference
``controller/HBaseController.java:232-254``, ``HFileOutputUtil.java``)
— and verifies it against the same container-agnostic first-principles
oracle as q116 (the oracle recomputes from source data; only the bytes
on disk differ between the two gates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hbase_bulkload_service_spark.functions.codec import decode_double_be
from hbase_bulkload_service_spark.registry import register
from hbase_bulkload_service_spark.registry_ext import flagship_kv, region_summary
from hbase_bulkload_service_spark.registry_wave4 import _scratch
from hbase_bulkload_service_spark.registry_wave8 import HFL_CONTAINER_ORACLE
from hbase_bulkload_service_spark.sources import hfile, hfilev3


def v3_gate(spark: SparkSession, sf_dir: str, name: str, **codec) -> DataFrame:
    """The v3 container gates' shared round trip: the flagship KV written
    as REAL v3 files (``codec``: write_hfilev3_files' compression /
    encoding / bloom arguments), checked at manifest level in the driver
    (bucket-prefix spans, file caps, region disjointness), read back with
    the per-file container invariants checked inside the distributed
    reading tasks, and summarized per region."""
    d = _scratch(name)
    hfilev3.write_hfilev3_files(
        flagship_kv(spark, sf_dir), d, rollup=True, num_partitions=16, **codec
    )
    summary = hfile.validate_manifest_layout(d, rollup=True)
    # the manifest check covers no record; the readback below owes them
    assert not summary["per_record_validated"] and summary["pending"]
    return region_summary(hfilev3.read_hfilev3_dir(spark, d))


# ===========================================================================
# q167 — bulkload e2e through the REAL HFile v3 byte format
# ===========================================================================


@register("q167_hfilev3_container", HFL_CONTAINER_ORACLE)
def q167_hfilev3_container(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q56's flagship pipeline emitted as REAL HFile v3 bytes: salt →
    dedup → range-partition+sort → one HFile per region per task
    (sources/hfilev3.py: DATA blocks with the 33-byte v2/v3 header and
    CRC chunk checksums, single-level root index, PBUF-framed file
    info, 4096-byte protobuf fixed trailer with the v3 version word),
    then read BACK by opening each file exactly as HBase's HFile.Reader
    does — trailer magic/version, load-on-open walk, index→block
    agreement, per-block CRC verify, global cell order, entry-count and
    LASTKEY agreement — one task per file, plus the manifest-level
    layout checks adoption requires. Summarized per region against the
    SAME container-agnostic oracle as q116: a bug anywhere in the block
    framing, index arithmetic, protobuf encoding, or trailer breaks the
    readback and the row (reference HBaseController.java:232-254,
    HFileOutputUtil.java:17-39)."""
    return v3_gate(spark, sf_dir, "q167hfilev3")


# ===========================================================================
# q168 — same e2e gate under the GZ codec (compressed-block framing path)
# ===========================================================================


@register("q168_hfilev3_gz", HFL_CONTAINER_ORACLE)
def q168_hfilev3_gz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q167 under ``Compression.Algorithm.GZ``: every block's payload is
    a gzip member, so onDiskSizeWithoutHeader and
    uncompressedSizeWithoutHeader genuinely diverge — the compressed-
    block arithmetic (checksums over compressed bytes, index sizes in
    on-disk terms, trailer codec ordinal 1) is exercised end-to-end and
    must reproduce the same per-region summary as the uncompressed gate
    and the shared container-agnostic oracle. (The reference DDL's own
    SNAPPY codec is gated by q221; GZ remains as the deflate-family
    codec gate.)"""
    return v3_gate(spark, sf_dir, "q168hfilev3gz", compression="GZ")


# ===========================================================================
# q169 — the reference DDL's FULL feature set in one file: DIFF data
# block encoding + block compression + ROW bloom (round 6)
# ===========================================================================


@register("q169_hfilev3_ddl", HFL_CONTAINER_ORACLE)
def q169_hfilev3_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q167 with every feature the reference's table DDL enables
    composed in the REAL v3 container (``HBaseManager.java:379-385``
    sets DataBlockEncoding.DIFF + compression + ROW bloom;
    ``HFileOutputUtil.java:23`` carries them to the bulkload writer; GZ
    stands in for snappy — same framing, one trailer ordinal): every
    DATA block is a DIFF-encoded ENCODED_DATA block ("DATABLKE", the
    DiffKeyDeltaEncoder stream), gzip-compressed, CRC-chunk-checksummed;
    BLOOM_CHUNK blocks ride the scanned section with the
    GENERAL_BLOOM_META in load-on-open; FileInfo announces
    DATA_BLOCK_ENCODING=DIFF and BLOOM_FILTER_TYPE=ROW. The distributed
    readback decodes all three layers, checks the bloom against every
    block's first row, and must reproduce the same container-agnostic
    oracle as q167/q168 — a bug in the delta codec, the bloom bit math
    (golden-tested against Hadoop's own MurmurHash), or their
    composition with the codec breaks the row."""
    return v3_gate(
        spark, sf_dir, "q169hfilev3ddl",
        compression="GZ", encoding="DIFF", bloom=True,
    )


# ===========================================================================
# q170 — container-level point reads (bloom + block index seek), oracle-
# gated at the byte level (round 6; VERDICT r05 item 7)
# ===========================================================================

from hbase_bulkload_service_spark.registry import (  # noqa: E402
    DUCK_SALT_BUCKET,
    TSDB_CELLS_CTE,
)

_POINT_READ_ORACLE = f"""
    WITH {TSDB_CELLS_CTE},
    c1 AS (
      SELECT metric_id, ts_hour, tags, offset_sec, version_ts,
             MAX(dvalue) AS dvalue
      FROM cells
      GROUP BY metric_id, ts_hour, tags, offset_sec, version_ts
    ),
    ded AS (
      SELECT metric_id, ts_hour, tags, offset_sec,
             arg_max(dvalue, version_ts) AS dvalue
      FROM c1 GROUP BY metric_id, ts_hour, tags, offset_sec
    ),
    b AS (SELECT *, {DUCK_SALT_BUCKET} AS bucket FROM ded),
    kv AS (
      SELECT upper(lpad(to_hex(bucket), 4, '0') || lpad(to_hex(ts_hour), 8, '0')
                   || lpad(to_hex(metric_id), 6, '0') || lpad(to_hex(ts_hour), 8, '0')
                   || hex(tags)) AS key_hex,
             upper(lpad(to_hex(offset_sec), 4, '0')) AS qualifier_hex,
             dvalue
      FROM b
    ),
    probes AS (SELECT DISTINCT key_hex FROM kv ORDER BY key_hex LIMIT 24)
    SELECT key_hex, qualifier_hex,
           CAST(FLOOR(dvalue * 100) AS BIGINT) AS value_cents
    FROM kv JOIN probes USING (key_hex)
    """


@register("q170_hfilev3_point_reads", _POINT_READ_ORACLE)
def q170_hfilev3_point_reads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8/L1 at the BYTE level: bulkload the flagship pipeline into
    full-DDL v3 files (DIFF + GZ + ROW bloom), then serve point-gets
    through ``seek_row_hfile_v3`` exactly as a region server would —
    trailer → load-on-open → bloom probe → index binary-search → one
    data block — for 24 planted rowkeys AND 24 absent ones. Planted
    rows must decode their exact cells (the oracle recomputes them from
    source SQL); absent rows must return nothing, and the in-task
    asserts pin that the bloom was consulted on every seek. Seeks run
    DISTRIBUTED (one task per probe×file), probes are metadata-scale
    (48 keys collected). Reference parity: the point-get read path
    (``HBaseController.java`` get endpoints) served from bulkloaded
    files."""
    import os

    kv = flagship_kv(spark, sf_dir)
    d = _scratch("q170hfilev3pt")
    manifest = hfilev3.write_hfilev3_files(
        kv, d, rollup=True, num_partitions=16,
        compression="GZ", encoding="DIFF", bloom=True,
    )
    # probe set: 24 smallest distinct rowkeys (deterministic, matches
    # the oracle's ORDER BY/LIMIT) + 24 absent variants (suffix-extended
    # rows — inside the keyspace, never written)
    probes = [
        r["key_hex"]
        for r in kv.select("key_hex").distinct().orderBy("key_hex")
        .limit(24).collect()
    ]
    tasks = []
    for hexkey, must_hit in [(p, True) for p in probes] + [
        (p + "FF", False) for p in probes
    ]:
        for m in manifest:
            # files are globally non-overlapping (the §4.2 layout), so
            # at most the boundary-straddling pair covers a probe
            if m["min_key_hex"] <= hexkey <= m["max_key_hex"]:
                tasks.append((os.path.join(d, m["file"]), hexkey, must_hit))

    def run(task):
        fname, hexkey, must_hit = task
        st: dict = {}
        got = hfilev3.seek_row_hfile_v3(fname, bytes.fromhex(hexkey), st)
        if not st["bloom_checked"]:
            raise AssertionError(f"bloom not consulted seeking {hexkey}")
        if must_hit and not got:
            raise AssertionError(f"planted rowkey missing: {hexkey}")
        if not must_hit and got:
            raise AssertionError(f"phantom cells for absent row {hexkey}")
        for _row, _fam, qual, _ts, value in got:
            yield (hexkey, qual.hex().upper(), bytes(value))

    sc = spark.sparkContext
    rdd = sc.parallelize(tasks, max(1, min(len(tasks), 32))).flatMap(run)
    out = spark.createDataFrame(
        rdd, "key_hex string, qualifier_hex string, value binary"
    )
    return out.select(
        "key_hex",
        "qualifier_hex",
        F.floor(decode_double_be(F.col("value")) * 100)
        .cast("long")
        .alias("value_cents"),
    )
