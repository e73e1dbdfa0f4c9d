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
"""

__version__ = "0.1.0"

# Query-registry import chain — DEPENDENCY ORDER. Living here (the
# package __init__) rather than at registry.py's bottom makes direct
# submodule imports safe: Python initializes the parent package before
# any submodule, so by the time `import ..registry_wave13` (or a test's
# `from ..registry_wave8 import q125...`) resolves, every earlier wave —
# and the shared fragments they export (DOCS_NORM_CTE, _sh_cte, the
# fuzzy-edges CTE) — is fully initialized. Registration order is also
# the driver-facing query order, so this list is load-bearing twice.
from hbase_bulkload_service_spark import registry  # noqa: E402,F401
from hbase_bulkload_service_spark import registry_llm  # noqa: E402,F401
from hbase_bulkload_service_spark import registry_ext  # noqa: E402,F401
from hbase_bulkload_service_spark import registry_wave4  # noqa: E402,F401
from hbase_bulkload_service_spark import registry_wave7  # noqa: E402,F401
from hbase_bulkload_service_spark import registry_wave8  # noqa: E402,F401
from hbase_bulkload_service_spark import registry_wave9  # noqa: E402,F401
from hbase_bulkload_service_spark import registry_wave10  # noqa: E402,F401
from hbase_bulkload_service_spark import registry_wave11  # noqa: E402,F401
from hbase_bulkload_service_spark import registry_wave12  # noqa: E402,F401
from hbase_bulkload_service_spark import registry_wave13  # noqa: E402,F401
from hbase_bulkload_service_spark import registry_wave14  # noqa: E402,F401
from hbase_bulkload_service_spark import registry_wave15  # noqa: E402,F401
from hbase_bulkload_service_spark import registry_wave16  # noqa: E402,F401
from hbase_bulkload_service_spark import registry_wave17  # noqa: E402,F401
from hbase_bulkload_service_spark import registry_wave18  # noqa: E402,F401
from hbase_bulkload_service_spark import registry_wave19  # noqa: E402,F401
from hbase_bulkload_service_spark import registry_wave20  # noqa: E402,F401
from hbase_bulkload_service_spark import registry_wave21  # noqa: E402,F401
from hbase_bulkload_service_spark import registry_wave22  # noqa: E402,F401
from hbase_bulkload_service_spark import registry_wave23  # noqa: E402,F401
from hbase_bulkload_service_spark import registry_wave24  # noqa: E402,F401
from hbase_bulkload_service_spark import registry_wave25  # noqa: E402,F401
from hbase_bulkload_service_spark import registry_wave26  # noqa: E402,F401
from hbase_bulkload_service_spark import registry_wave27  # noqa: E402,F401
from hbase_bulkload_service_spark import registry_wave28  # noqa: E402,F401
from hbase_bulkload_service_spark import registry_wave29  # noqa: E402,F401
from hbase_bulkload_service_spark import registry_wave30  # noqa: E402,F401
from hbase_bulkload_service_spark import registry_wave31  # noqa: E402,F401
from hbase_bulkload_service_spark import registry_wave32  # noqa: E402,F401
from hbase_bulkload_service_spark import registry_wave33  # noqa: E402,F401
from hbase_bulkload_service_spark import registry_wave34  # noqa: E402,F401
