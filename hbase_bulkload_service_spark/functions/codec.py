"""Byte-codec kernel (SURVEY.md §1.3, §2.I) — HBase ``Bytes``-compatible
big-endian serde as Column expressions.

Reference codecs (all big-endian `Bytes.toBytes` layouts):
- connector/hbase/util/HBaseSerde.java:280-352 (encode), :391-464 (decode)
- connector/hbase/util/HBaseTypeUtils.java:48-118 (legacy 14-type codec)

Null conventions (HBaseSerde.java:251-278 / :365-389): non-string null ↔
empty byte[]; string null ↔ the configurable ``null-string-literal``
(default "null", HBase2DynamicTableFactory.java:68-74). Zero-length rowkey
⇒ dirty record, dropped (HBaseSerde.java:122-126).

Integer widths use hex round-trips (``hex``/``unhex``/``conv``) so encoding
stays JVM-side in whole-stage codegen. Floating-point bit layouts have no
native bit-cast in Spark SQL, so those go through vectorized Arrow pandas
UDFs (still batch-columnar, acceptable off the hot path).
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BinaryType, DoubleType, FloatType

NULL_STRING_LITERAL = "null"  # HBase2DynamicTableFactory.java:68-74


# ---------------------------------------------------------------------------
# integers (TINYINT/SMALLINT/INT/BIGINT — HBaseSerde.java:292-300,313-317)
# ---------------------------------------------------------------------------

def encode_int_be(v: Column, width: int) -> Column:
    """Big-endian two's-complement encoding of an integer column, ``width``
    bytes (1/2/3/4/8; 3 is the TSDB metric-uid width). Returns binary.

    Null ⇒ empty byte[] (non-string null convention).
    """
    # hex() of a long gives two's-complement; keep the low `width` bytes.
    hx = F.lpad(F.hex(v.cast("long")), 16, "0").substr(F.lit(17 - 2 * width), F.lit(2 * width))
    return F.when(v.isNull(), F.lit(b"")).otherwise(F.unhex(hx))


def decode_int_be(b: Column, width: int, signed: bool = True) -> Column:
    """Inverse of :func:`encode_int_be`. Empty byte[] ⇒ null. Returns long."""
    unsigned = F.conv(F.hex(b), 16, 10).cast("decimal(20,0)")
    if signed:
        half = str(1 << (8 * width - 1))
        full = str(1 << (8 * width))
        # adjust in decimal space: 8-byte unsigned values exceed long range
        signed_v = (
            F.when(unsigned >= F.lit(half).cast("decimal(20,0)"),
                   unsigned - F.lit(full).cast("decimal(21,0)"))
            .otherwise(unsigned)
            .cast("long")
        )
    else:
        signed_v = unsigned.cast("long")
    return F.when(F.length(b) == 0, F.lit(None).cast("long")).otherwise(signed_v)


# ---------------------------------------------------------------------------
# floating point (FLOAT/DOUBLE — HBaseSerde.java:333-336; IEEE-754 BE)
# ---------------------------------------------------------------------------

def _pack_fp_be(s: pd.Series, np_dtype: str, width: int, fmt: str) -> pd.Series:
    # bulk path: one astype + one tobytes for the whole Arrow batch; nulls
    # (and NaN, which the legacy codec also folded to the null convention)
    # drop to b"" per the non-string null rule (HBaseSerde.java:251-278)
    mask = s.isna().to_numpy()
    raw = memoryview(s.to_numpy(dtype=np_dtype, na_value=0.0, copy=True).astype(f">{fmt}").tobytes())
    return pd.Series(
        [b"" if mask[i] else bytes(raw[width * i : width * i + width]) for i in range(len(mask))],
        dtype=object,
    )


def _unpack_fp_be(s: pd.Series, width: int, fmt: str, struct_ch: str) -> pd.Series:
    vals = s.tolist()
    if all(v is not None and len(v) == width for v in vals):
        # bulk path: single frombuffer over the concatenated batch
        return pd.Series(np.frombuffer(b"".join(vals), dtype=f">{fmt}").astype(f"float{8 * width}"))
    return s.map(
        lambda b: None if b is None or len(b) == 0 else struct.unpack(f">{struct_ch}", bytes(b))[0]
    )


@pandas_udf(BinaryType())
def _pack_double_be(s: pd.Series) -> pd.Series:
    return _pack_fp_be(s, "float64", 8, "f8")


@pandas_udf(DoubleType())
def _unpack_double_be(s: pd.Series) -> pd.Series:
    return _unpack_fp_be(s, 8, "f8", "d")


@pandas_udf(BinaryType())
def _pack_float_be(s: pd.Series) -> pd.Series:
    return _pack_fp_be(s, "float32", 4, "f4")


@pandas_udf(FloatType())
def _unpack_float_be(s: pd.Series) -> pd.Series:
    return _unpack_fp_be(s, 4, "f4", "f")


def encode_double_be(v: Column) -> Column:
    return _pack_double_be(v.cast("double"))


def decode_double_be(b: Column) -> Column:
    return _unpack_double_be(b)


def encode_float_be(v: Column) -> Column:
    return _pack_float_be(v.cast("float"))


def decode_float_be(b: Column) -> Column:
    return _unpack_float_be(b)


# ---------------------------------------------------------------------------
# booleans (HBaseSerde.java:287-290 — 1 byte \x01/\x00)
# ---------------------------------------------------------------------------

def encode_boolean(v: Column) -> Column:
    return F.when(v.isNull(), F.lit(b"")).otherwise(
        F.when(v, F.unhex(F.lit("01"))).otherwise(F.unhex(F.lit("00")))
    )


def decode_boolean(b: Column) -> Column:
    return F.when(F.length(b) == 0, F.lit(None).cast("boolean")).otherwise(
        F.hex(b) != F.lit("00")
    )


# ---------------------------------------------------------------------------
# strings (CHAR/VARCHAR — charset bytes; null ↔ null-string-literal)
# ---------------------------------------------------------------------------

def encode_string(
    v: Column, null_literal: str = NULL_STRING_LITERAL, charset: str = "UTF-8"
) -> Column:
    """Charset bytes (per-table configurable, HBaseTableSchema.java:55,
    126-128; default UTF-8); SQL NULL encodes as the null-string-literal's
    bytes (HBaseSerde.java:251-260)."""
    return F.encode(F.coalesce(v, F.lit(null_literal)), charset)


def decode_string(
    b: Column, null_literal: str = NULL_STRING_LITERAL, charset: str = "UTF-8"
) -> Column:
    """Inverse: bytes equal to the null literal decode to SQL NULL
    (HBaseSerde.java:365-374)."""
    s = F.decode(b, charset)
    return F.when(s == F.lit(null_literal), F.lit(None).cast("string")).otherwise(s)


# ---------------------------------------------------------------------------
# timestamps (epoch-millis long — HBaseSerde.java:319-332; ms precision)
# ---------------------------------------------------------------------------

def encode_timestamp_ms(ts: Column) -> Column:
    """TIMESTAMP → 8-byte big-endian epoch-millis (truncates to ms)."""
    return encode_int_be(F.unix_millis(ts), 8)


def decode_timestamp_ms(b: Column) -> Column:
    return F.timestamp_millis(decode_int_be(b, 8))


# ---------------------------------------------------------------------------
# rowkey helpers (SURVEY.md I2/I5 — hex ordering proxy + composite slicing)
# ---------------------------------------------------------------------------

def key_hex(key: Column) -> Column:
    """Uppercase hex of a binary rowkey — the ordering proxy the reference
    sorts on (Bytes.toHex at TsdbBulkload.java:113). Hex order == unsigned
    byte order, which is HBase's rowkey comparator."""
    return F.hex(key)


def key_bucket(salted_key: Column) -> Column:
    """2-byte bucket prefix of a salted rowkey as int
    (HbaseRepairRunner.java:54-67 parses the same prefix)."""
    return decode_int_be(salted_key.substr(F.lit(1), F.lit(2)), 2, signed=False).cast("int")


def key_time(salted_key: Column) -> Column:
    """4-byte big-endian epoch-seconds field at offset 2 of a salted key
    (offset 3 of an unsalted key — HBaseManager.java:118,124)."""
    return decode_int_be(salted_key.substr(F.lit(3), F.lit(4)), 4, signed=False)


def floor_to_hour_ms(ts_ms: Column) -> Column:
    """Hour floor in epoch-millis (TsdbScanner.java:55-57: t - t % 3_600_000)."""
    return ts_ms - ts_ms % F.lit(3600 * 1000)


def ts_literal(dt, ms: int) -> Column | None:
    """A literal of timestamp type ``dt`` at epoch millis ``ms``, or None
    when ``dt`` cannot hold it: a long of nanos for a ``ts`` read as long,
    else a typed literal, which a scan can push down. An NTZ literal is the
    UTC wall clock (the :func:`epoch_millis` convention) and an LTZ one
    names UTC, so neither depends on the session timezone. The literal
    text is parsed by SQL, never built through ``F.lit(datetime)``: that
    converts through the OS timezone and an NTZ cast then re-renders in the
    SESSION timezone, which agree only when the two zones do.
    """
    import datetime as _dt

    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    if isinstance(dt, LongType):  # nanos read as long
        nanos = ms * 1_000_000
        return F.lit(nanos) if -(2**63) <= nanos < 2**63 else None
    try:
        wall = (_dt.datetime(1970, 1, 1) + _dt.timedelta(milliseconds=ms)).isoformat(" ")
    except OverflowError:
        return None
    if isinstance(dt, TimestampNTZType):
        return F.expr(f"TIMESTAMP_NTZ '{wall}'")
    if isinstance(dt, TimestampType):
        return F.expr(f"TIMESTAMP '{wall}Z'")
    return None


def ts_at_most_ms(df, colname: str, ms: int) -> Column:
    """Pushdown-friendly ``col <= epoch-millis`` predicate on a timestamp
    column: compares against a typed timestamp literal (:func:`ts_literal`)
    instead of wrapping the column in epoch arithmetic (a wrapped column
    defeats parquet row-group pruning — the scan would push only
    IsNotNull).

    NTZ columns compare wall-clock-as-UTC (same convention as
    :func:`epoch_millis`); LTZ columns compare in absolute time. Both are
    session-timezone-proof.
    """
    bound = ts_literal(df.schema[colname].dataType, ms)
    if bound is None:
        raise ValueError(f"{colname}: no timestamp literal at {ms} ms")
    return F.col(colname) <= bound


def epoch_millis(df, colname: str) -> Column:
    """Timezone-proof epoch-millis of a timestamp column.

    Parquet timestamps may surface as TIMESTAMP_NTZ (Spark 4 default
    inference), TIMESTAMP_LTZ, or a long of nanos (a TIMESTAMP(NANOS) file
    read with ``spark.sql.legacy.parquet.nanosAsLong``). For NTZ the
    wall-clock is treated as UTC (matching DuckDB's ``epoch_ms`` on naive
    timestamps) via pure wall-clock arithmetic — no session-timezone
    dependency either way.
    """
    from pyspark.sql.types import LongType, TimestampNTZType

    dt = df.schema[colname].dataType
    if isinstance(dt, LongType):
        return F.expr(f"{colname} div 1000000")
    if isinstance(dt, TimestampNTZType):
        return F.expr(
            f"timestampdiff(MILLISECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {colname})"
        )
    return F.unix_millis(F.col(colname))


# ---------------------------------------------------------------------------
# L2 — the "decode with a user-defined scalar function" escape hatch
# (HBaseTableSchema.java:76-83,107-114 tells users to store byte[] and
# decode with UDFs; this registers the codec family under SQL names)
# ---------------------------------------------------------------------------

def register_sql_udfs(spark) -> list[str]:
    """Expose the codec kernel to ``spark.sql`` as named functions.

    Width-specialized int codecs ``hb_decode_int{1,2,3,4,8}(b)`` /
    ``hb_encode_int{1,2,3,4,8}(v)``, plus ``hb_decode_string`` /
    ``hb_encode_string`` / ``hb_decode_bool`` / ``hb_key_hex`` /
    ``hb_key_bucket`` / ``hb_key_time``, are **SQL scalar functions**
    (``CREATE TEMPORARY FUNCTION … RETURN expr``) — they inline into the
    calling query's plan and stay inside whole-stage codegen, unlike any
    Python UDF. Only the IEEE-754 pair ``hb_decode_double`` /
    ``hb_encode_double`` crosses to Arrow (no SQL bitcast exists).
    Returns the registered names."""
    names: list[str] = []

    def sqlf(name: str, args: str, ret: str, body: str) -> None:
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({args}) "
            f"RETURNS {ret} RETURN {body}"
        )
        names.append(name)

    for w in (1, 2, 3, 4, 8):
        half, full = str(1 << (8 * w - 1)), str(1 << (8 * w))
        u = "CAST(conv(hex(b),16,10) AS DECIMAL(20,0))"
        sqlf(
            f"hb_decode_int{w}",
            "b BINARY",
            "BIGINT",
            f"CASE WHEN length(b)=0 THEN NULL ELSE CAST(CASE WHEN {u} >= "
            f"CAST('{half}' AS DECIMAL(20,0)) THEN {u} - "
            f"CAST('{full}' AS DECIMAL(21,0)) ELSE {u} END AS BIGINT) END",
        )
        sqlf(
            f"hb_encode_int{w}",
            "v BIGINT",
            "BINARY",
            f"CASE WHEN v IS NULL THEN X'' ELSE "
            f"unhex(substr(lpad(hex(v), 16, '0'), {17 - 2 * w}, {2 * w})) END",
        )
    lit = NULL_STRING_LITERAL
    sqlf(
        "hb_decode_string",
        "b BINARY",
        "STRING",
        f"CASE WHEN decode(b, 'UTF-8') = '{lit}' THEN NULL "
        "ELSE decode(b, 'UTF-8') END",
    )
    sqlf(
        "hb_encode_string", "s STRING", "BINARY",
        f"encode(coalesce(s, '{lit}'), 'UTF-8')",
    )
    sqlf(
        "hb_decode_bool", "b BINARY", "BOOLEAN",
        "CASE WHEN length(b)=0 THEN NULL ELSE hex(b) != '00' END",
    )
    # date / time / interval codecs (LogicalType widths; HBaseSerde.java
    # :298-313) and the legacy long variants (HBaseTypeUtils.java:70-76)
    sqlf(
        "hb_encode_date", "d DATE", "BINARY",
        "CASE WHEN d IS NULL THEN X'' ELSE "
        "unhex(substr(lpad(hex(CAST(datediff(d, DATE'1970-01-01') AS BIGINT)), 16, '0'), 9, 8)) END",
    )
    sqlf(
        "hb_decode_date", "b BINARY", "DATE",
        "CASE WHEN length(b)=0 THEN NULL ELSE "
        "date_add(DATE'1970-01-01', CAST(hb_decode_int4(b) AS INT)) END",
    )
    sqlf(
        "hb_encode_date_legacy", "d DATE", "BINARY",
        "hb_encode_int8(CAST(datediff(d, DATE'1970-01-01') AS BIGINT) * 86400000)",
    )
    sqlf(
        "hb_decode_date_legacy", "b BINARY", "DATE",
        "CASE WHEN length(b)=0 THEN NULL ELSE "
        "date_add(DATE'1970-01-01', CAST(FLOOR(hb_decode_int8(b) / 86400000) AS INT)) END",
    )
    sqlf("hb_encode_interval_ym", "months INT", "BINARY", "hb_encode_int4(CAST(months AS BIGINT))")
    sqlf("hb_decode_interval_ym", "b BINARY", "INT", "CAST(hb_decode_int4(b) AS INT)")
    sqlf("hb_encode_interval_dt", "millis BIGINT", "BINARY", "hb_encode_int8(millis)")
    sqlf("hb_decode_interval_dt", "b BINARY", "BIGINT", "hb_decode_int8(b)")
    sqlf("hb_key_hex", "k BINARY", "STRING", "hex(k)")
    sqlf(
        "hb_key_bucket", "k BINARY", "INT",
        "CAST(conv(hex(substr(k, 1, 2)), 16, 10) AS INT)",
    )
    sqlf(
        "hb_key_time", "k BINARY", "BIGINT",
        "CAST(conv(hex(substr(k, 3, 4)), 16, 10) AS BIGINT)",
    )
    spark.udf.register("hb_decode_double", _unpack_double_be)
    spark.udf.register("hb_encode_double", _pack_double_be)
    names += ["hb_decode_double", "hb_encode_double"]
    return sorted(names)


# ---------------------------------------------------------------------------
# DECIMAL / BigInteger (HBaseSerde.java:338-345 `Bytes.toBytes(BigDecimal)`:
# 4-byte big-endian scale ‖ unscaled BigInteger minimal two's-complement;
# legacy BigInteger codec HBaseTypeUtils.java type 13 = bare two's-complement)
# ---------------------------------------------------------------------------

def _signed_min_bytes(v: int) -> bytes:
    """Java BigInteger.toByteArray(): minimal two's-complement length."""
    n = (v.bit_length() if v >= 0 else (~v).bit_length()) // 8 + 1
    return v.to_bytes(n, "big", signed=True)


def encode_decimal_be(v: Column) -> Column:
    """DECIMAL → 4-byte BE scale ‖ unscaled two's-complement. Null ⇒ empty
    byte[] (non-string null convention)."""

    @pandas_udf(BinaryType())
    def _pack(s: pd.Series) -> pd.Series:
        def pack(d):
            if d is None:
                return b""
            scale = -d.as_tuple().exponent
            unscaled = int(d.scaleb(scale))
            return struct.pack(">i", scale) + _signed_min_bytes(unscaled)

        return s.map(pack)

    return _pack(v)


def decode_decimal_be(b: Column, precision: int = 38, scale: int = 18) -> Column:
    """Inverse: the embedded scale rescales into the declared (p, s)."""
    import decimal

    from pyspark.sql.types import DecimalType

    @pandas_udf(DecimalType(precision, scale))
    def _unpack(s: pd.Series) -> pd.Series:
        def unpack(raw):
            if raw is None or len(raw) == 0:
                return None
            emb_scale = struct.unpack(">i", bytes(raw[:4]))[0]
            unscaled = int.from_bytes(bytes(raw[4:]), "big", signed=True)
            return decimal.Decimal(unscaled).scaleb(-emb_scale)

        return s.map(unpack)

    return _unpack(b)


def encode_bigint_unscaled_be(v: Column) -> Column:
    """Legacy BigInteger codec (HBaseTypeUtils type 13): bare minimal
    two's-complement bytes of a DECIMAL(38,0) value."""

    @pandas_udf(BinaryType())
    def _pack(s: pd.Series) -> pd.Series:
        return s.map(lambda d: b"" if d is None else _signed_min_bytes(int(d)))

    return _pack(v)


def decode_bigint_unscaled_be(b: Column) -> Column:
    import decimal

    from pyspark.sql.types import DecimalType

    @pandas_udf(DecimalType(38, 0))
    def _unpack(s: pd.Series) -> pd.Series:
        return s.map(
            lambda raw: None
            if raw is None or len(raw) == 0
            else decimal.Decimal(int.from_bytes(bytes(raw), "big", signed=True))
        )

    return _unpack(b)


# ---------------------------------------------------------------------------
# DATE / TIME (LogicalType codec: DATE as epoch-days int, TIME as
# millis-of-day int, precision 0-3 — HBaseSerde.java:302-311)
# ---------------------------------------------------------------------------

def encode_date(v: Column) -> Column:
    """DATE → 4-byte big-endian epoch-days int."""
    return encode_int_be(F.datediff(v, F.lit("1970-01-01")), 4)


def decode_date(b: Column) -> Column:
    return F.date_add(F.lit("1970-01-01").cast("date"), decode_int_be(b, 4).cast("int"))


def encode_time_millis(v: Column) -> Column:
    """TIME (millis-of-day int) → 4-byte big-endian int."""
    return encode_int_be(v.cast("int"), 4)


def decode_time_millis(b: Column) -> Column:
    return decode_int_be(b, 4).cast("int")


# ---------------------------------------------------------------------------
# INTERVAL (LogicalType codec: INTERVAL_YEAR_MONTH shares the INTEGER
# encoding — total months as 4-byte BE int, HBaseSerde.java:298-300;
# INTERVAL_DAY_TIME shares the BIGINT encoding — total millis as 8-byte BE
# long, HBaseSerde.java:312-313. Decode mirrors :409-411/:423-424.)
# ---------------------------------------------------------------------------

def interval_ym_months(v: Column) -> Column:
    """Spark YearMonthIntervalType → total-months int (the codec's domain).
    Integer columns pass through unchanged."""
    return v.cast("int")


def interval_dt_millis(v: Column) -> Column:
    """Spark DayTimeIntervalType → total-millis long.

    ``cast(dt AS BIGINT)`` yields whole SECONDS (the interval's end-field
    unit), losing the fraction — so sum the extracted components instead.
    ``extract`` returns sign-consistent components for negative intervals,
    so the sum is exact; sub-millisecond fractions floor (ms-precision
    codec, same truncation family as encode_timestamp_ms)."""
    return (
        F.date_part(F.lit("DAY"), v).cast("long") * F.lit(86400000)
        + F.date_part(F.lit("HOUR"), v).cast("long") * F.lit(3600000)
        + F.date_part(F.lit("MINUTE"), v).cast("long") * F.lit(60000)
        + F.floor(F.date_part(F.lit("SECOND"), v) * F.lit(1000)).cast("long")
    )


def millis_to_interval_dt(millis: Column) -> Column:
    """total-millis long → Spark DayTimeIntervalType (exact to the ms)."""
    return F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0), millis / F.lit(1000.0))


def encode_interval_ym(months: Column) -> Column:
    """INTERVAL_YEAR_MONTH → 4-byte BE int of total months
    (HBaseSerde.java:300 routes through the INTEGER branch)."""
    return encode_int_be(months.cast("int"), 4)


def decode_interval_ym(b: Column) -> Column:
    """Inverse → total months int (HBaseSerde.java:411)."""
    return decode_int_be(b, 4).cast("int")


def encode_interval_dt(millis: Column) -> Column:
    """INTERVAL_DAY_TIME → 8-byte BE long of total millis
    (HBaseSerde.java:313 routes through the BIGINT branch)."""
    return encode_int_be(millis.cast("long"), 8)


def decode_interval_dt(b: Column) -> Column:
    """Inverse → total millis long (HBaseSerde.java:424)."""
    return decode_int_be(b, 8)


# ---------------------------------------------------------------------------
# legacy class-indexed codec variants (HBaseTypeUtils.java:48-118):
# sql.Date / sql.Time are 8-byte epoch-millis LONGS (type idx 10/11,
# HBaseTypeUtils.java:70-76) — unlike the LogicalType codec's 4-byte ints
# above. Exposed as named `*_legacy` codecs; the cell serde selects them
# via its ``legacy=True`` flag.
# ---------------------------------------------------------------------------

def encode_date_legacy(v: Column) -> Column:
    """DATE → 8-byte BE epoch-millis long (midnight UTC of the date —
    `new Date(long)` semantics, HBaseTypeUtils.java:72)."""
    days = F.datediff(v, F.lit("1970-01-01"))
    return encode_int_be((days.cast("long") * F.lit(86400000)), 8)


def decode_date_legacy(b: Column) -> Column:
    millis = decode_int_be(b, 8)
    return F.date_add(
        F.lit("1970-01-01").cast("date"),
        F.floor(millis / F.lit(86400000)).cast("int"),
    )


def encode_time_legacy(v: Column) -> Column:
    """TIME (millis-of-day int) → 8-byte BE long (`new Time(long)`
    semantics, HBaseTypeUtils.java:74-76)."""
    return encode_int_be(v.cast("long"), 8)


def decode_time_legacy(b: Column) -> Column:
    return decode_int_be(b, 8).cast("int")


def encode_timestamp_legacy(v: Column) -> Column:
    """TIMESTAMP → 8-byte BE epoch-millis long (type idx 9,
    HBaseTypeUtils.java:70) — same layout as the LogicalType codec's
    ms-precision encoding, named for parity with the legacy table."""
    return encode_timestamp_ms(v)


def decode_timestamp_legacy(b: Column) -> Column:
    return decode_timestamp_ms(b)
