"""The registered queries, one module per domain.

Importing this package registers every query into ``registry.QUERIES``
and ``registry.ORACLE``. No domain module imports another; what they
share lives in ``registry`` (Spark side) and ``oracle_frags`` (oracle
SQL). The order below is only the registration order, which breaks age
ties in ``__spark_entry__._rotation_order``.
"""

from hbase_bulkload_service_spark.queries import (  # noqa: F401
    analytics,
    bulkload,
    curation,
    dedup,
    similarity,
    streaming,
    text,
    tsdb,
)
