"""PySpark-native analytics engine with the data-processing capabilities of
xlblog/hbase-bulkload-service (reference: /root/reference, read-only).

The reference is a Flink/HBase time-series bulk-ingestion service; this
package re-expresses its full query + data-processing surface Spark-first:

- ``session``    — SparkSession builder tuned for large-scale batch (AQE on).
- ``schema``     — HBase-style table schema (rowkey + family structs) with the
                   reference's validation rules (HBaseTableSchema analog).
- ``functions``  — byte-codec kernel (big-endian serde, Java hash, hex/rowkey
                   helpers) as native Column expressions.
- ``operators``  — salting/dedup/rollup bulkload pipeline, scan/lookup query
                   surface, maintenance policies, LLM-data ops (dedup families,
                   similarity search, text analysis, multimodal columns).
- ``sources``    — cell-table (long-form KV) source/sink + HFile-layout writer.
- ``plans``      — job orchestration (queue, time slicing).
- ``streaming``  — Structured Streaming variants (windowed rollup, dedup).
- ``obs``        — one query-run path and its Spark counters (bench, tools).
- ``queries``    — the registered queries, one module per domain; they
                   register into ``registry`` on import.
"""

__version__ = "0.1.0"

from hbase_bulkload_service_spark import queries  # noqa: E402,F401
