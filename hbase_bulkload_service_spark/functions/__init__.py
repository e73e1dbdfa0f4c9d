"""Scalar-function kernel (SURVEY.md §2.I) — native Column expressions first,
pandas UDFs only where bit-level layouts can't be expressed natively."""

from hbase_bulkload_service_spark.functions.codec import (  # noqa: F401
    decode_int_be,
    encode_int_be,
    encode_double_be,
    decode_double_be,
    encode_string,
    decode_string,
    key_bucket,
    key_time,
    floor_to_hour_ms,
    NULL_STRING_LITERAL,
)
from hbase_bulkload_service_spark.functions.hashes import (  # noqa: F401
    ascii_byte_ints,
    int_byte_ints,
    java_arrays_hashcode,
)
