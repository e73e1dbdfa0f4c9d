"""Python DataSource (DSv2) over the HFile-layout sink output — the
engine's own re-implementation of the reference's scan source, not a
parquet passthrough.

Reference parity (file:line in /root/reference/src/main/java):
- A1 split planning — one input split per region, intersected with the
  scan's key range: `org/apache/flink/connector/hbase2/source/
  AbstractTableInputFormat.java:219-283`. Here: one `InputPartition` per
  ``region=N`` directory, elided via the manifest's per-region
  [min_key_hex, max_key_hex] when the pushed rowkey-range filter excludes
  it (the `:248-273` skip-regions-outside-range logic).
- B2 scan range restriction (split ∩ range) — `:235-273`; here the pushed
  bounds also row-filter inside surviving regions (pyarrow predicate).
- A2 row iterator — `:141-166`; here `read()` yields Arrow record batches
  (columnar upgrade of the row-at-a-time iterator; Spark's task retry
  replaces the scanner-timeout resume).
- C1 projection pushdown — Spark prunes columns above any Python data
  source; combined with B-filters this matches
  `AbstractHBaseDynamicTableSource.java:92-98`.

Requires ``spark.sql.python.filterPushdown.enabled=true`` (set in
`session.get_spark` defaults).

Scale: at 100 TB the manifest holds one row per region (512 per table);
planning is O(regions) on the driver exactly like the reference's
`createInputSplits`, and each task reads one region's files (sorted by
the writer, `hfile.assign_region`) — locality comes from the storage
layer (HDFS/S3 block placement) rather than the reference's per-split
hostname hints (`TableInputSplit.java:51-62`), which Spark's scheduler
handles natively for file sources.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)

SCHEMA = (
    "region int, bucket int, key binary, key_hex string, family binary, "
    "qualifier binary, qualifier_hex string, value binary"
)


class RegionPartition(InputPartition):
    """One split per region dir (TableInputSplit.java:29-62 analog)."""

    def __init__(self, region: int, path: str):
        self.region = region
        self.path = path


class HFileScanReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("hfilescan requires option('path', <sink dir>)")
        self.lo: str | None = None  # inclusive key_hex lower bound
        self.hi: str | None = None  # inclusive key_hex upper bound

    def pushFilters(self, filters):
        """Capture rowkey-range bounds for split elision; every filter is
        returned as unsupported so Spark re-applies it exactly (the pushed
        bounds are a pruning hint, never the source of truth — same
        contract as parquet row-group stats)."""
        for f in filters:
            if getattr(f, "attribute", None) == ("key_hex",):
                if isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                    v = f.value
                    self.lo = v if self.lo is None else max(self.lo, v)
                elif isinstance(f, (LessThan, LessThanOrEqual)):
                    v = f.value
                    self.hi = v if self.hi is None else min(self.hi, v)
                elif isinstance(f, EqualTo):
                    self.lo = self.hi = f.value
        return filters

    def partitions(self):
        with open(os.path.join(self.path, "_manifest.json")) as fh:
            manifest = json.load(fh)
        parts = []
        for region, info in sorted(
            manifest["regions"].items(), key=lambda kv: int(kv[0])
        ):
            # split ∩ scan-range elision (AbstractTableInputFormat:248-273)
            if self.hi is not None and info["min_key_hex"] > self.hi:
                continue
            if self.lo is not None and info["max_key_hex"] < self.lo:
                continue
            parts.append(
                RegionPartition(int(region), os.path.join(self.path, f"region={region}"))
            )
        if not parts:
            # every region elided: Spark's Python-source contract calls
            # read(None) when partitions() is empty — hand it an explicit
            # empty split instead
            parts.append(RegionPartition(-1, ""))
        return parts

    def read(self, part: RegionPartition):
        import pyarrow as pa
        import pyarrow.dataset as ds

        if part is None or part.region < 0:
            return  # empty split (all regions elided)
        dataset = ds.dataset(part.path, format="parquet")
        # row-level range restriction inside the surviving region (B2)
        expr = None
        if self.lo is not None:
            expr = ds.field("key_hex") >= self.lo
        if self.hi is not None:
            e2 = ds.field("key_hex") <= self.hi
            expr = e2 if expr is None else expr & e2
        table = dataset.to_table(filter=expr)
        region_col = pa.array([part.region] * len(table), pa.int32())
        table = table.add_column(0, "region", region_col)
        yield from table.to_batches()


class HFileScanDataSource(DataSource):
    """``spark.read.format("hfilescan").option("path", dir)`` over a
    `sources.hfile.write_hfiles` output directory."""

    @classmethod
    def name(cls) -> str:
        return "hfilescan"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> HFileScanReader:
        return HFileScanReader(self.options)


def register(spark) -> None:
    """Register the ``hfilescan`` DSv2 source.

    Side effect (documented): a reader that implements ``pushFilters()``
    hard-fails unless ``spark.sql.python.filterPushdown.enabled`` is true,
    so registration self-provisions the flag in sessions that lack
    session.py's defaults (the driver imports us into a vanilla session).
    The flag is only written when currently unset/false — an explicit
    user ``true`` is left untouched, and we never flip it back, so a
    user's deliberate setting is only ever widened to what this source
    requires to function at all."""
    flag = "spark.sql.python.filterPushdown.enabled"
    if spark.conf.get(flag, "false").lower() != "true":
        spark.conf.set(flag, "true")
    spark.dataSource.register(HFileScanDataSource)
