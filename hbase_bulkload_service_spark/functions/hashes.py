"""Bit-exact Java hash kernels as native Column expressions (SURVEY.md §2.I I3).

The reference's salting hash is ``java.util.Arrays.hashCode(byte[])``
(reference: bulkload/TsdbBulkload.java:94): a left fold ``h = 31*h + b`` over
*signed* bytes starting at ``h = 1`` with 32-bit two's-complement overflow.

Implementation strategy: keep the accumulator as an unsigned 64-bit value
reduced mod 2**32 at every step (``pmod`` handles negative byte addends), and
convert to signed 32-bit once at the end. ``31*acc + b`` with ``acc < 2**32``
fits comfortably in a long, so the fold is exact. Everything runs JVM-side
via ``aggregate`` over an int array — no Python in the hot path, so salting
scales to 100 TB. ``aggregate`` and ``transform`` are ``CodegenFallback``
expressions: whole-stage codegen evaluates them interpreted, per row.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_MOD32 = 4294967296  # 2**32
_SIGN32 = 2147483648  # 2**31


def _to_signed32(h: Column) -> Column:
    return F.when(h >= F.lit(_SIGN32), h - F.lit(_MOD32)).otherwise(h)


def _to_signed_byte(b: Column) -> Column:
    return F.when(b > F.lit(127), b - F.lit(256)).otherwise(b)


def ascii_byte_ints(s: Column) -> Column:
    """UTF-8 bytes of an ASCII string as array<long> of signed byte values.

    ASCII only (codepoint == byte): the TSDB tag strings the reference
    hashes are ASCII, and there is no path for general binary input.
    """
    idx = F.sequence(F.lit(1), F.length(s))
    chars = F.transform(idx, lambda i: _to_signed_byte(F.ascii(s.substr(i, F.lit(1)))).cast("long"))
    return F.when(F.length(s) == 0, F.array().cast("array<long>")).otherwise(chars)


def int_byte_ints(v: Column, width: int) -> Column:
    """Big-endian signed-byte decomposition of an integer column.

    ``width`` bytes, most significant first — e.g. width=3 gives the 3-byte
    TSDB metric-uid field (reference rowkey layout, TsdbBulkload.java:84-93).
    """
    shifts = [(width - 1 - i) * 8 for i in range(width)]
    bytes_ = [
        _to_signed_byte(F.shiftrightunsigned(v.cast("long"), s).bitwiseAND(F.lit(255))).cast("long")
        for s in shifts
    ]
    return F.array(*bytes_)


def java_arrays_hashcode(byte_ints: Column) -> Column:
    """``Arrays.hashCode(byte[])`` over an array<long> of signed byte values.

    Bit-exact vs the JVM including 32-bit overflow
    (reference: bulkload/TsdbBulkload.java:94). Returns int.
    """
    h = F.aggregate(
        byte_ints,
        F.lit(1).cast("long"),
        lambda acc, b: F.pmod(acc * F.lit(31) + b, F.lit(_MOD32)),
    )
    return _to_signed32(h).cast("int")


def salt_bucket(byte_ints: Column, bucket_count: int = 512) -> Column:
    """Reference bucket assignment (TsdbBulkload.java:94-98).

    ``modulo = Arrays.hashCode(salt_base) % bucket; if (modulo < 0) modulo *= -1``
    — note the Java ``%`` keeps the dividend's sign, *then* negates; this is
    abs(h % n), NOT abs(h) % n.
    """
    h = java_arrays_hashcode(byte_ints)
    return F.abs(h % F.lit(bucket_count))
