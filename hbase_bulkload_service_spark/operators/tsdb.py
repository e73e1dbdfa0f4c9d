"""TSDB compute core (SURVEY.md §2.B/§2.D/§2.E) — salting, hour-window
filtering, latest-version dedup, and 5-minute rollup, Spark-first.

Reference pipeline (bulkload/TsdbBulkload.java:81-155):
scan → map(salt rowkey, D1) → sortPartition(hex key, D2) → flatMap(dedup to
latest version + per-qualifier KeyValue, D3) → HFile output.

Spark design: everything is a declarative DataFrame transform —
- salting is a pure column-expression chain (bit-exact Java Arrays.hashCode),
  no shuffle;
- dedup is one aggregate ``max_by(value, version_ts)`` with map-side
  partial aggregation (strictly better than the reference's per-row
  NavigableMap walk); over the bulkload's binary values Spark plans it
  as a SortAggregate, because a hash aggregate cannot hold a binary
  ``max_by`` buffer;
- ordering for the HFile sink is NOT decided here: the writers own it
  (``sources/hfile.assign_region`` range-partitions and sorts by region,
  key, qualifier — globally non-overlapping sorted files per region,
  SURVEY.md §4.2, a correctness upgrade over the reference's
  partition-local sort).

Scale notes (100 TB): the only shuffle here is the dedup aggregate (keyed
on (key, qualifier) — high cardinality, well-spread because the salt prefix
is in the key); the writer adds the one range exchange (512 buckets ≈
reference's region spread, HBaseProperties.java:16). Salting exists
precisely to spread monotonically-increasing time keys; we preserve it
unchanged.
"""

from __future__ import annotations

import datetime
import threading

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from hbase_bulkload_service_spark.functions.codec import (
    encode_double_be,
    encode_int_be,
    key_hex,
)
from hbase_bulkload_service_spark.functions.hashes import (
    ascii_byte_ints,
    int_byte_ints,
    salt_bucket,
)
from hbase_bulkload_service_spark.session import local_frame
from hbase_bulkload_service_spark.sources.tables import TS_LINEAGE, derived_from_ts

DEFAULT_BUCKET_COUNT = 512  # configuration/HBaseProperties.java:16
DEFAULT_FAMILY = b"t"  # manager/HBaseManager.java:372 (column family "t")
HOUR_SEC = 3600
HOUR_MS = 3600 * 1000
_EPOCH = datetime.datetime(1970, 1, 1)


# ---------------------------------------------------------------------------
# fixture derivation: events → long-form OpenTSDB cells (FIXTURES.md §2)
# ---------------------------------------------------------------------------

#: Metric dictionary rows ``(event_type, metric_id)`` by source
#: (:func:`_source_key`), oldest first; guarded by ``_DICTIONARIES_LOCK``.
_DICTIONARIES: dict[tuple, tuple[tuple, ...]] = {}
_DICTIONARIES_MAX = 8
_DICTIONARIES_LOCK = threading.Lock()


def _source_key(events: DataFrame) -> tuple | None:
    """What a dictionary of ``events`` depends on: the analyzed plan's
    semantic hash (so a filtered frame has its own key) plus the size and
    mtime of every input file (so a rewritten source has a new one).
    ``None`` for a frame that reads no files."""
    files = sorted(events.inputFiles())
    if not files:
        return None
    jvm = events.sparkSession._jvm
    conf = events.sparkSession._jsc.hadoopConfiguration()
    stamps = []
    for f in files:
        path = jvm.org.apache.hadoop.fs.Path(f)
        st = path.getFileSystem(conf).getFileStatus(path)
        stamps.append((f, st.getLen(), st.getModificationTime()))
    return events.semanticHash(), tuple(stamps)


def _remember(key: tuple, rows: tuple[tuple, ...]) -> None:
    """Store ``rows`` under ``key``, dropping the oldest entry when full."""
    with _DICTIONARIES_LOCK:
        _DICTIONARIES.pop(key, None)
        if len(_DICTIONARIES) >= _DICTIONARIES_MAX:
            _DICTIONARIES.pop(next(iter(_DICTIONARIES)))
        _DICTIONARIES[key] = rows


def metric_dictionary(events: DataFrame) -> DataFrame:
    """Dense ids for event_type, deterministic (ordered by name).

    The dictionary is whole-source, so ids stay stable across time
    windows, like the reference's tsdb-uid table. A file-backed source's
    dictionary is computed once per source version (:func:`_source_key`)
    and served after that as a driver-local relation, with no scan.
    Frames that read no files compute it every time.

    Scale note: the dictionary is tiny (distinct metric names); the ranking
    window runs over a handful of rows and the result broadcast-joins back.
    """
    key = _source_key(events)
    with _DICTIONARIES_LOCK:
        rows = _DICTIONARIES.get(key) if key is not None else None
    if rows is None:
        w = Window.orderBy("event_type")
        ranked = (
            events.select("event_type").distinct()
            .withColumn("metric_id", (F.row_number().over(w) - 1).cast("int"))
        )
        if key is None:
            return ranked
        rows = tuple(tuple(r) for r in ranked.collect())
        _remember(key, rows)
    schema = StructType([
        StructField("event_type", events.schema["event_type"].dataType),
        StructField("metric_id", IntegerType(), nullable=False),
    ])
    return local_frame(events.sparkSession, rows, schema)


def derive_tsdb_cells(events: DataFrame, dup_fraction_mod: int = 20) -> DataFrame:
    """events (with ``ts_ms``, see sources.tables.load_events) → tsdb_cells
    long form (one row per cell version).

    Models HBaseResult (bulkload/HBaseResult.java:6-9) exploded: rowkey is
    the OpenTSDB v2 layout ``[3B metric][4B hour][tags]``
    (TsdbBulkload.java:84-113), qualifier is the 2-byte offset-in-hour,
    value is the big-endian double. Every 1/dup_fraction_mod event gets a
    synthetic newer duplicate version (value*2, version_ts+1000) to
    exercise latest-version dedup (D3); both versions come from one scan
    (an ``explode``). The raw ``ts`` is passed through, and ``ts_sec``
    keeps the :data:`TS_LINEAGE` mark when ``ts_ms`` has it, so
    :func:`hour_range_filter` can bound the scan.
    """
    dict_df = F.broadcast(metric_dictionary(events))
    raw_ts = ["ts"] if "ts" in events.columns else []
    ts_sec = F.expr("ts_ms div 1000").alias(
        "ts_sec",
        metadata=(
            {TS_LINEAGE: "ts_sec"}
            if derived_from_ts(events, "ts_ms", "ts_ms")
            else {}
        ),
    )
    versions = F.when(
        F.col("event_id") % dup_fraction_mod == 0, F.array(F.lit(0), F.lit(1))
    ).otherwise(F.array(F.lit(0)))
    base = events.join(dict_df, "event_type").select(
        "event_id",
        "metric_id",
        ts_sec,
        F.concat(F.lit("user="), F.col("user_id")).alias("tags"),
        "ts_ms",
        "value",
        *raw_ts,
        F.explode(versions).alias("version"),
    )
    ts_hour = F.col("ts_sec") - F.col("ts_sec") % HOUR_SEC
    offset_sec = (F.col("ts_sec") % HOUR_SEC).cast("int")
    dvalue = F.when(F.col("version") == 1, F.col("value") * 2).otherwise(F.col("value"))
    return base.select(
        "event_id",
        "metric_id",
        ts_hour.alias("ts_hour"),
        "ts_sec",
        "tags",
        offset_sec.alias("offset_sec"),
        (F.col("ts_ms") + 1000 * F.col("version")).alias("version_ts"),
        dvalue.alias("dvalue"),
        *raw_ts,
        F.concat(
            encode_int_be(F.col("metric_id"), 3),
            encode_int_be(ts_hour, 4),
            F.encode(F.col("tags"), "UTF-8"),
        ).alias("rowkey"),
        encode_int_be(offset_sec, 2).alias("qualifier"),
        encode_double_be(dvalue).alias("value"),
    )


# ---------------------------------------------------------------------------
# B1 — whole-hour time-range filter (TsdbScanner.java:16-57)
# ---------------------------------------------------------------------------

#: Widening of the raw-``ts`` bound on each side of the hour window. A kept
#: row's ``ts_ms`` lies less than an hour and a second from its hour's
#: start (``div`` and ``%`` truncate toward zero, at the second and at the
#: hour), so this bound is a superset of the window for every ``ts`` type.
_BOUND_PAD_MS = HOUR_MS + 60_000


def _ts_literal(dt, ms: int) -> Column | None:
    """A literal of ``ts``'s type at epoch millis ``ms``, or None when that
    type cannot hold it."""
    if isinstance(dt, LongType):  # nanos read as long
        nanos = ms * 1_000_000
        return F.lit(nanos) if -(2**63) <= nanos < 2**63 else None
    try:
        wall = (_EPOCH + datetime.timedelta(milliseconds=ms)).isoformat(" ")
    except OverflowError:
        return None
    if isinstance(dt, TimestampNTZType):  # wall clock = UTC (load_events)
        return F.expr(f"TIMESTAMP_NTZ '{wall}'")
    if isinstance(dt, TimestampType):
        return F.expr(f"TIMESTAMP '{wall}Z'")
    return None


def _raw_ts_bound(df: DataFrame, ts_sec_col: str, lo_ms: int, hi_ms: int) -> Column | None:
    """``lo_ms <= ts < hi_ms`` on ``df``'s raw ``ts`` when ``ts_sec_col`` is
    marked as derived from it and ``ts``'s type can hold both ends, else
    None.

    Spark 4.1 lists this bound in ``PushedFilters`` for all three types,
    but prunes row groups only on a UTC-adjusted ``ts`` (LTZ). On a
    TIMESTAMP(MICROS, isAdjustedToUTC=false) file (NTZ: the fixtures' and
    the benchmark's type) and on nanos read as long it reads every row
    group. Either way the bound is cheap to test and, placed first, spares
    the rows outside it the hour expression.
    """
    if not derived_from_ts(df, ts_sec_col, "ts_sec"):
        return None
    dt = df.schema["ts"].dataType
    lo, hi = _ts_literal(dt, lo_ms), _ts_literal(dt, hi_ms)
    if lo is None or hi is None:
        return None
    return (F.col("ts") >= lo) & (F.col("ts") < hi)


def hour_range_filter(df: DataFrame, start_ms: int, end_ms: int, ts_sec_col: str = "ts_sec") -> DataFrame:
    """Reference FuzzyRowFilter semantics: one pattern per whole hour in
    [floor_hour(start), floor_hour(end)) — rows match iff their hour bucket
    falls in that half-open hour range, regardless of sub-hour offsets
    (TsdbScanner.java:22-43; hours floored :55-57).

    The exact test is an expression of ``ts_sec``, so parquet cannot prune
    on it. When ``ts_sec_col`` is marked as derived from the frame's raw
    ``ts`` (``load_events`` → ``derive_tsdb_cells``), a bound on ``ts``
    about an hour wider than the window is filtered first: it reaches the
    scan's ``PushedFilters``, and the exact test, which stays on top, runs
    only on the rows inside it.
    """
    start_hour = (start_ms - start_ms % HOUR_MS) // 1000
    end_hour = (end_ms - end_ms % HOUR_MS) // 1000
    bound = _raw_ts_bound(
        df, ts_sec_col, start_hour * 1000 - _BOUND_PAD_MS, end_hour * 1000 + _BOUND_PAD_MS
    )
    if bound is not None:
        df = df.filter(bound)
    hour = F.col(ts_sec_col) - F.col(ts_sec_col) % HOUR_SEC
    return df.filter((hour >= F.lit(start_hour)) & (hour < F.lit(end_hour)))


# ---------------------------------------------------------------------------
# D1 — salt/bucket assignment (TsdbBulkload.java:81-114)
# ---------------------------------------------------------------------------

def salt_base_bytes(metric_id: Column, tags: Column) -> Column:
    """Signed-byte array of the salt base = metric(3B) ‖ tags-utf8 — the
    rowkey with the 4-byte time field excised (TsdbBulkload.java:88-93)."""
    return F.concat(int_byte_ints(metric_id, 3), ascii_byte_ints(tags))


def with_salt(
    cells: DataFrame,
    bucket_count: int = DEFAULT_BUCKET_COUNT,
    metric_col: str = "metric_id",
    tags_col: str = "tags",
    rowkey_col: str = "rowkey",
    time_col: str = "ts_hour",
) -> DataFrame:
    """Adds ``bucket`` (abs(Arrays.hashCode(salt_base) % n), bit-exact),
    ``salt`` (low-2-bytes(bucket) ‖ 4B time, getSaltBytes
    TsdbBulkload.java:167-173) and ``salted_key`` (salt ‖ original rowkey).

    Pure narrow transform — no shuffle; scales linearly.
    """
    bucket = salt_bucket(salt_base_bytes(F.col(metric_col), F.col(tags_col)), bucket_count)
    salt = F.concat(
        encode_int_be(F.col("bucket"), 2),
        encode_int_be(F.col(time_col), 4),
    )
    return (
        cells.withColumn("bucket", bucket)
        .withColumn("salt", salt)
        .withColumn("salted_key", F.concat(F.col("salt"), F.col(rowkey_col)))
    )


# ---------------------------------------------------------------------------
# D3/E1 — latest-version dedup (TsdbBulkload.java:129-139)
# ---------------------------------------------------------------------------

def latest_version_dedup(
    cells: DataFrame,
    key_cols: tuple[str, ...] = ("rowkey", "qualifier"),
    value_col: str = "value",
    version_col: str = "version_ts",
    tie_col: str | None = None,
) -> DataFrame:
    """Keep only the newest version per cell: ``max_by(value, version_ts)``.

    The reference walks the time-ascending NavigableMap and takes the last
    element (TsdbBulkload.java:135-136); the Spark-first equivalent is an
    aggregate with map-side combine — one shuffle keyed on the cell. Over
    a binary value (``bulkload_kv``) it plans as a SortAggregate: the
    ``max_by`` buffer is not fixed-width, so a hash aggregate cannot hold it.
    Also keeps the max version_ts for auditability.

    ``max_by`` on version alone is non-deterministic when two rows carry
    the SAME version: pass ``tie_col`` to order by
    ``struct(version, tie)`` so same-version collisions resolve to the
    max tie value in the SAME aggregate — one shuffle where a separate
    pre-collapse groupBy would cost a second.

    The exchange is WIDTH-PINNED (repartition(width, keys) feeding the
    groupBy — same single shuffle, but a user-specified partition count
    is exempt from AQE's byte-based coalescing): the dedup's shuffle
    payload is byte-small binary keys, but the reduce side carries the
    post-agg codec expressions, and AQE was serializing ~15 s of that
    CPU onto 3 tasks at sf0.1 (artifacts/STAGE_AUDIT_r07.json; same class as the q69
    trap's CPU sibling). Width scales with the cluster via
    session.pinned_width.
    """
    from hbase_bulkload_service_spark.session import pinned_width

    order = (
        F.struct(F.col(version_col), F.col(tie_col))
        if tie_col
        else F.col(version_col)
    )
    width = pinned_width(cells.sparkSession)
    return (
        cells.repartition(width, *[F.col(c) for c in key_cols])
        .groupBy(*key_cols)
        .agg(
            F.max_by(value_col, order).alias(value_col),
            F.max(version_col).alias(version_col),
        )
    )


# ---------------------------------------------------------------------------
# bulkload KV stream (the D2/H2 ordering is the writers', hfile.assign_region)
# ---------------------------------------------------------------------------

def bulkload_kv(
    cells: DataFrame,
    bucket_count: int = DEFAULT_BUCKET_COUNT,
    family: bytes = DEFAULT_FAMILY,
    tie_col: str | None = None,
) -> DataFrame:
    """Flagship pipeline up to the sink: salt → dedup-to-latest →
    (bucket, key, family, qualifier, value) projection — the stream H1-H3
    write. The writers (``sources/hfile.assign_region``) lay it out; this
    function adds no exchange beyond the dedup's.

    Keys stay RAW BINARY (round 8, VERDICT r07 item 2): Spark compares
    BinaryType unsigned-lexicographically — exactly HBase's
    Bytes.compareTo order — and uppercase-hex encoding is
    order-isomorphic to it, so the writers sort on (key, qualifier) and
    get the byte-identical stream a (key_hex, qualifier_hex) sort would,
    on half the sort-key bytes. The hex columns are display/oracle/
    manifest projections computed once per SURVIVING row after the dedup
    instead of once per input row before it. test_composed_tsdb pins
    hex-order == binary-order on adversarial high-bit keys.

    ``tie_col`` is forwarded to :func:`latest_version_dedup` so callers
    with same-version collisions get a deterministic winner without a
    separate pre-collapse shuffle.
    """
    salted = with_salt(cells, bucket_count)
    deduped = latest_version_dedup(
        salted,
        key_cols=("bucket", "salted_key", "qualifier"),
        tie_col=tie_col,
    )
    return deduped.select(
        F.col("bucket"),
        F.col("salted_key").alias("key"),
        key_hex(F.col("salted_key")).alias("key_hex"),
        F.lit(family).alias("family"),
        F.col("qualifier"),
        key_hex(F.col("qualifier")).alias("qualifier_hex"),
        F.col("value"),
    )


# ---------------------------------------------------------------------------
# E2 — 5-minute rollup (HBaseProperties.java:24 rollup table; made explicit)
# ---------------------------------------------------------------------------

def rollup_5m(events: DataFrame, window_sec: int = 300) -> DataFrame:
    """Tumbling-window downsample: the reference routes rollup output to the
    ``*rollup*`` table (TsdbBulkload.java:62-69) but leaves the aggregation
    to the OpenTSDB convention; we implement it explicitly as a tumbling
    window aggregate. Sums are computed in integer cents so results are
    bit-exact and order-independent (safe for the DuckDB oracle)."""
    wsec = F.expr("ts_ms div 1000")
    wstart = (wsec - wsec % window_sec).alias("window_start_sec")
    return (
        events.groupBy(wstart, F.col("event_type"))
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("sum_value_cents"),
            F.min(F.floor(F.col("value") * 100).cast("long")).alias("min_value_cents"),
            F.max(F.floor(F.col("value") * 100).cast("long")).alias("max_value_cents"),
        )
    )


def merge_rollups(*rollups: DataFrame) -> DataFrame:
    """Merge partial rollup tables into the rollup of the union — the
    mergeable-aggregate property that makes 5-minute rollups cheap to
    MAINTAIN at 100 TB: roll up only the newly-arrived partition, then
    merge with the standing rollup (count/sum re-sum; min/max re-min/max),
    instead of recomputing over all history. One keyed hash aggregate over
    rollup-sized (not event-sized) input; the merge is associative and
    commutative, so it also parallelizes across any number of partials
    (the same shape as Spark's own partial-agg → final-agg split).

    Correct because every column of :func:`rollup_5m` is a decomposable
    aggregate; pinned through the gate by q70 (partial rollups merged ==
    full rollup, via q13's oracle)."""
    from functools import reduce

    u = reduce(lambda a, b: a.unionByName(b), rollups)
    return u.groupBy("window_start_sec", "event_type").agg(
        F.sum("cnt").alias("cnt"),
        F.sum("sum_value_cents").alias("sum_value_cents"),
        F.min("min_value_cents").alias("min_value_cents"),
        F.max("max_value_cents").alias("max_value_cents"),
    )


# ---------------------------------------------------------------------------
# J3 extension — session windows (gaps-and-islands)
# ---------------------------------------------------------------------------

def sessionize(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts_ms",
    gap_ms: int = 30 * 60 * 1000,
) -> DataFrame:
    """Session-window aggregation: consecutive events of one key belong to
    the same session while the gap between them stays ≤ ``gap_ms``.

    The reference's windowing is tumbling only (hour-aligned scan slices
    TsdbScanner.java:22-43; 5-min rollup §E2) — session windows are the
    new-capability member of the J3 family.

    Spark-first gaps-and-islands: lag() marks session starts, a running
    sum numbers them, then one hash aggregate per (key, session). All
    three steps share the SAME partitioning (key), so Catalyst plans ONE
    shuffle and partition-local sorts — linear at 100 TB, skew bounded by
    the busiest single key (salt or sub-window if one key dominates).
    Streaming twin: ``groupBy(session_window(ts, gap))`` with watermark.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col)
    run = Window.partitionBy(key_col).orderBy(ts_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    prev = F.lag(ts_col).over(w)
    is_start = (prev.isNull() | (F.col(ts_col) - prev > gap_ms)).cast("int")
    return (
        events.withColumn("__new", is_start)
        .withColumn("session_seq", F.sum("__new").over(run))
        .groupBy(key_col, "session_seq")
        .agg(
            F.min(ts_col).alias("session_start_ms"),
            F.max(ts_col).alias("session_end_ms"),
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("sum_value_cents"),
        )
    )


def rollup_cascade_1h(rollup5m: DataFrame) -> DataFrame:
    """E2 cascade — the 1-hour rollup computed FROM the 5-minute rollup,
    not from raw cells (the OpenTSDB downsample-chain convention the
    rollup table exists for: coarser granularities re-aggregate the finer
    pre-aggregate). count/sum/min/max are decomposable, so the cascade is
    exact — and at 100 TB it reads |5m-rollup| rows instead of |raw|,
    which is the entire point of maintaining the rollup table
    (HBaseProperties.java:24)."""
    hour = (
        F.col("window_start_sec") - F.col("window_start_sec") % HOUR_SEC
    ).alias("window_start_sec")
    return rollup5m.groupBy(hour, "event_type").agg(
        F.sum("cnt").alias("cnt"),
        F.sum("sum_value_cents").alias("sum_value_cents"),
        F.min("min_value_cents").alias("min_value_cents"),
        F.max("max_value_cents").alias("max_value_cents"),
    )


def rollup_sliding(
    events: DataFrame,
    width: str = "10 minutes",
    slide: str = "5 minutes",
) -> DataFrame:
    """Sliding-window downsample via Spark's built-in ``window()`` with a
    slide — each event lands in ``width/slide`` overlapping windows (the
    J3 window family's remaining member after tumbling q13 and session
    q18). ``window()`` plans an Expand (one replica per overlap — pure
    map) + a single keyed hash aggregate; state is output-sized, and the
    epoch-aligned boundaries make the result timezone-proof
    (``timestamp_millis`` input is epoch-based, never NTZ-cast — the q19
    trap). Requires ``ts_ms`` + ``cents`` columns.
    """
    w = F.window(F.timestamp_millis(F.col("ts_ms")), width, slide)
    return (
        events.groupBy(w.alias("w"), "event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("cents").alias("sum_cents"),
        )
        .select(
            F.expr("unix_millis(w.start) div 1000").alias("window_start_sec"),
            "event_type",
            "cnt",
            "sum_cents",
        )
    )


# ---------------------------------------------------------------------------
# Counter → rate conversion (the OpenTSDB `rate`/`delta` read-path operator;
# the reference loads counters (TsdbBulkload.java value stream) and leaves
# rate conversion to the TSDB query layer — here it is a first-class op)
# ---------------------------------------------------------------------------

def counter_deltas(
    events: DataFrame,
    key_cols: tuple[str, ...] = ("event_type", "user_id"),
    ts_col: str = "ts_ms",
    cents_col: str = "cents",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Per-series delta between consecutive samples: for each key the
    time-ordered ``lag`` of value and timestamp, emitting
    ``(delta_cents, dt_ms)`` per interior sample (the first sample of a
    series has no predecessor and is dropped). Rate is then
    ``delta/dt`` — left to the caller so the gate output stays
    integer-exact.

    ONE keyed shuffle + partition-local sort (the two lags share a
    single Window), identical cost profile to D2's per-partition sort.
    ``(ts, tiebreak)`` must be unique per key for a deterministic
    predecessor — event_id serves here.
    """
    w = Window.partitionBy(*key_cols).orderBy(ts_col, tiebreak_col)
    return (
        events.select(
            *key_cols,
            tiebreak_col,
            F.col(ts_col),
            F.col(cents_col),
            (F.col(cents_col) - F.lag(cents_col).over(w)).alias("delta_cents"),
            (F.col(ts_col) - F.lag(ts_col).over(w)).alias("dt_ms"),
        )
        .filter(F.col("dt_ms").isNotNull())
    )


def time_weighted_avg(
    samples: DataFrame,
    series_col: str = "event_type",
    ts_col: str = "ts_ms",
    value_col: str = "cents",
    id_col: str = "event_id",
    bucket_ms: int = 3_600_000,
) -> DataFrame:
    """Time-weighted average downsample over IRREGULAR samples — the
    aggregation plain AVG gets wrong on telemetry (a sensor that reports
    once per second while idle and once per hour while steady would
    otherwise drown the steady state): each sample's value holds until
    the NEXT sample in its bucket (last sample holds to bucket end), so
    the mean is weighted by holding time. OpenTSDB's downsample-with-
    interpolation family (reference domain: Aggregators/Downsampler);
    this is the zero-order-hold variant, which stays integer-exact.

    Output per (series, bucket): ``n`` samples, ``num`` = Σ value·hold_ms,
    ``span_ms`` = bucket_end − first_sample_ts, and ``twa`` = num div
    span_ms (exact truncating quotient — equals floor for the
    non-negative values this is defined over). Duplicate-timestamp
    samples get hold time 0 except the last by ``id_col`` order
    (deterministic, engine-portable).

    Plan: ONE keyed exchange — the lead() window on (series, bucket) and
    the final agg share the partitioning. int64 bound: |value|·bucket_ms
    per row, Σ per bucket ≤ max|value|·bucket_ms — at cents·1-hour
    buckets that is ~4e10, five decades inside int64.
    """
    if bucket_ms < 1:
        raise ValueError("bucket_ms must be >= 1")
    ts, v = F.col(ts_col), F.col(value_col)
    x = samples.filter(ts.isNotNull() & v.isNotNull()).select(
        series_col,
        ts.alias("__ts"),
        v.alias("__v"),
        F.col(id_col).alias("__id"),
        F.expr(f"{ts_col} div {bucket_ms}").alias("bucket"),
    )
    w = Window.partitionBy(series_col, "bucket").orderBy("__ts", "__id")
    bucket_end = (F.col("bucket") + 1) * bucket_ms
    hold = F.coalesce(F.lead("__ts").over(w), bucket_end) - F.col("__ts")
    held = x.select(series_col, "bucket", "__v", "__ts", hold.alias("__hold"))
    return held.groupBy(series_col, "bucket").agg(
        F.count("*").alias("n"),
        F.sum(F.col("__v") * F.col("__hold")).alias("num"),
        ((F.max(F.col("bucket")) + 1) * bucket_ms - F.min("__ts")).alias(
            "span_ms"
        ),
    ).select(
        series_col,
        "bucket",
        "n",
        "num",
        "span_ms",
        F.expr("num div span_ms").alias("twa"),
    )


def grid_fill(
    samples: DataFrame,
    series_col: str = "event_type",
    ts_col: str = "ts_ms",
    value_col: str = "cents",
    id_col: str = "event_id",
    step_ms: int = 900_000,
) -> DataFrame:
    """Dense-grid resample with zero-order-hold fill — the OpenTSDB
    downsample *fill policy* (reference domain: the Downsampler's
    FillPolicy; complements time_weighted_avg, which aggregates within
    observed buckets but leaves gaps as missing rows): emit EVERY
    ``step_ms`` slot between a series' first and last observation, each
    slot carrying the latest observed value at-or-before its range
    (forward fill). Dashboards, joins against other regular series, and
    window models all need the regular grid, not the sparse samples.

    Output per (series, bucket): ``filled`` — the held value (never
    NULL: the grid starts at an observed bucket) — and ``is_observed``
    (FALSE = gap slot synthesized by the fill). Within an observed
    bucket the representative is the LAST sample by ``(ts, id)`` —
    deterministic and engine-portable.

    Scale shape: the corpus collapses to per-bucket representatives at
    the (series, bucket)-keyed window exchange; the grid left-join then
    runs between two GRID-sized relations (at bench scale the planner
    broadcasts the representative side; at larger grids it falls back
    to the shared (series, bucket) keying — either way no corpus-sized
    side reaches the join), and the fill window re-keys on series
    alone. Every post-scan structure is GRID-sized (n_series x
    span/step), not corpus-sized:
    100 TB of raw samples collapse to per-bucket representatives at the
    first exchange. The grid explode is map-side from the per-series
    span row. Caller guards: step_ms must be coarse enough that
    span/step per series stays executor-friendly (a 10-year span at 1 ms
    steps is a 3e11-row grid — raise step_ms, don't shard the fill).
    """
    if step_ms < 1:
        raise ValueError("step_ms must be >= 1")
    ts, v = F.col(ts_col), F.col(value_col)
    x = samples.filter(ts.isNotNull() & v.isNotNull()).select(
        series_col,
        ts.alias("__ts"),
        v.alias("__v"),
        F.col(id_col).alias("__id"),
        F.expr(f"{ts_col} div {step_ms}").alias("bucket"),
    )
    w = Window.partitionBy(series_col, "bucket").orderBy(
        F.col("__ts").desc(), F.col("__id").desc()
    )
    obs = (
        x.select(series_col, "bucket", "__v", F.row_number().over(w).alias("__rn"))
        .filter(F.col("__rn") == 1)
        .select(series_col, "bucket", F.col("__v").alias("__obs"))
    )
    # span from the RAW filtered samples, not from obs: min/max observed
    # bucket is identical either way, but deriving it from obs would make
    # the whole representative-window subtree a SECOND plan occurrence
    # (Spark does not share it across the grid side and the join side —
    # the stage audit caught the doubled window as the query's dominant
    # cost); from x it is one cheap map-side-combined agg
    span = x.groupBy(series_col).agg(
        F.min("bucket").alias("__lo"), F.max("bucket").alias("__hi")
    )
    grid = span.select(
        series_col,
        F.explode(F.sequence(F.col("__lo"), F.col("__hi"))).alias("bucket"),
    )
    j = grid.join(obs, [series_col, "bucket"], "left")
    wf = (
        Window.partitionBy(series_col)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        series_col,
        "bucket",
        F.last("__obs", ignorenulls=True).over(wf).alias("filled"),
        F.col("__obs").isNotNull().alias("is_observed"),
    )


def counter_rate(
    events: DataFrame,
    key_cols: tuple[str, ...] = ("event_type", "user_id"),
    ts_col: str = "ts_ms",
    value_col: str = "cents",
    tiebreak_col: str = "event_id",
    drop_resets: bool = False,
    counter_max: int | None = None,
) -> DataFrame:
    """Rate conversion for MONOTONIC counters with reset detection — the
    OpenTSDB RateOptions{counter=true} semantics (reference domain:
    tsdb rate queries; complements :func:`counter_deltas`, which is the
    gauge-delta primitive with no counter interpretation): a counter
    only ever increases, so a NEGATIVE consecutive delta means the
    process restarted and the counter rebased at zero — or, for a
    fixed-width hardware counter, WRAPPED at its maximum. Per interior
    sample this emits

    - ``delta``: the counter increase over the interval — the raw lag
      difference normally; on a negative delta, one of the three
      OpenTSDB RateOptions modes: the post-reset VALUE itself (the
      rebase rule, default), ``raw + counter_max`` (the ROLLOVER rule
      for fixed-width counters, ``counter_max=...`` — OpenTSDB's
      counterMax), or the row dropped entirely (``drop_resets=True``,
      the conservative mode when restarts carry pre-reset residue);
      the two non-default modes are mutually exclusive;
    - ``dt_ms`` and ``rate_micros``: ``delta * 1_000_000_000 div
      dt_ms`` = micro-units per SECOND, integer-exact.

    Zero-width intervals (duplicate timestamps within a series) have no
    defined rate and are dropped — callers needing them must de-dup
    first (latest_version_dedup). Values must be non-negative (counter
    semantics; also keeps `div` floor==trunc so DuckDB `//` agrees).
    int64 bound: |delta| must stay under ~9.2e9 (delta * 1e9 headroom).

    Scale shape: identical to counter_deltas — ONE keyed exchange
    feeding a shared lag window, then map-side arithmetic. Nothing
    after the exchange is wider than the input row.
    """
    if drop_resets and counter_max is not None:
        raise ValueError("drop_resets and counter_max are mutually exclusive")
    if counter_max is not None and counter_max < 1:
        raise ValueError("counter_max must be >= 1")
    w = Window.partitionBy(*key_cols).orderBy(ts_col, tiebreak_col)
    v = F.col(value_col)
    x = events.select(
        *key_cols,
        tiebreak_col,
        F.col(ts_col),
        v,
        (v - F.lag(value_col).over(w)).alias("__raw_delta"),
        (F.col(ts_col) - F.lag(ts_col).over(w)).alias("dt_ms"),
    ).filter(F.col("dt_ms").isNotNull() & (F.col("dt_ms") > 0))
    reset = F.col("__raw_delta") < 0
    if drop_resets:
        x = x.filter(~reset)
        delta = F.col("__raw_delta")
        is_reset = F.lit(False)
    elif counter_max is not None:
        delta = F.when(
            reset, F.col("__raw_delta") + F.lit(counter_max)
        ).otherwise(F.col("__raw_delta"))
        is_reset = reset
    else:
        delta = F.when(reset, v).otherwise(F.col("__raw_delta"))
        is_reset = reset
    return x.select(
        *key_cols,
        tiebreak_col,
        ts_col,
        value_col,
        delta.alias("delta"),
        "dt_ms",
        is_reset.alias("is_reset"),
    ).withColumn(
        "rate_micros", F.expr("(delta * 1000000000) div dt_ms")
    )


def align_series_ratio(
    samples: DataFrame,
    series_a: str,
    series_b: str,
    series_col: str = "event_type",
    ts_col: str = "ts_ms",
    value_col: str = "cents",
    id_col: str = "event_id",
    step_ms: int = 900_000,
) -> DataFrame:
    """Binary expression over two ALIGNED series — the OpenTSDB
    expression / Graphite divideSeries surface (reference domain: tsdb
    multi-metric queries): resample both series onto the same
    zero-order-hold grid (:func:`grid_fill` semantics) and emit, per
    bucket where BOTH are defined, the held values and their ratio in
    integer ppm (``a * 1_000_000 div b``; NULL when b = 0 — a CASE, not
    an error, so a flat-zero denominator doesn't kill the query).
    Values must be non-negative (keeps div floor==trunc engine-portable,
    same contract as time_weighted_avg).

    Plan: ONE pass builds the shared grid — the two series ride the
    same grid_fill subtree and a conditional-aggregate pivot on
    (bucket) separates them WITHOUT a self-join (a filter-and-self-join
    would recompute the grid subtree twice). Exchanges: the per-bucket
    representative window, the grid left-join, the per-series fill
    window, then one bucket-keyed agg — all grid- or sample-sized,
    never corpus-sized.
    """
    two = samples.filter(F.col(series_col).isin([series_a, series_b]))
    g = grid_fill(
        two,
        series_col=series_col,
        ts_col=ts_col,
        value_col=value_col,
        id_col=id_col,
        step_ms=step_ms,
    )
    s = F.col(series_col)
    pivoted = g.groupBy("bucket").agg(
        F.max(F.when(s == series_a, F.col("filled"))).alias("a_val"),
        F.max(F.when(s == series_b, F.col("filled"))).alias("b_val"),
        F.max(F.when(s == series_a, F.col("is_observed"))).alias("a_observed"),
        F.max(F.when(s == series_b, F.col("is_observed"))).alias("b_observed"),
    )
    return pivoted.filter(
        F.col("a_val").isNotNull() & F.col("b_val").isNotNull()
    ).select(
        "bucket",
        "a_val",
        "b_val",
        "a_observed",
        "b_observed",
        F.when(
            F.col("b_val") != 0, F.expr("(a_val * 1000000) div b_val")
        ).alias("ratio_ppm"),
    )


def grid_fill_linear(
    samples: DataFrame,
    series_col: str = "event_type",
    ts_col: str = "ts_ms",
    value_col: str = "cents",
    id_col: str = "event_id",
    step_ms: int = 900_000,
) -> DataFrame:
    """Dense-grid resample with LINEAR interpolation fill — the other
    OpenTSDB fill policy (complement of :func:`grid_fill`'s zero-order
    hold): every ``step_ms`` slot between a series' first and last
    observation appears; gap slots carry the integer-truncating linear
    interpolation between the surrounding observed buckets,

        ``prev_v + ((next_v - prev_v) * (bucket - prev_b))
                    div (next_b - prev_b)``

    which is engine-portable even for DECREASING series because Spark's
    ``div`` and DuckDB's ``//`` both truncate toward zero. Within the
    span every gap slot has both neighbors by construction (the grid
    starts and ends at observed buckets), so ``filled`` is never NULL.

    Scale shape: identical to grid_fill — per-bucket representative
    window + grid left-join keyed on (series, bucket), then TWO fill
    windows (forward prev-pair, backward next-pair) that share the
    series re-key; post-scan state is grid-sized, never corpus-sized.
    Same caller guard: step_ms must keep span/step executor-friendly.
    """
    if step_ms < 1:
        raise ValueError("step_ms must be >= 1")
    ts, v = F.col(ts_col), F.col(value_col)
    x = samples.filter(ts.isNotNull() & v.isNotNull()).select(
        series_col,
        ts.alias("__ts"),
        v.alias("__v"),
        F.col(id_col).alias("__id"),
        F.expr(f"{ts_col} div {step_ms}").alias("bucket"),
    )
    w = Window.partitionBy(series_col, "bucket").orderBy(
        F.col("__ts").desc(), F.col("__id").desc()
    )
    obs = (
        x.select(series_col, "bucket", "__v", F.row_number().over(w).alias("__rn"))
        .filter(F.col("__rn") == 1)
        .select(series_col, "bucket", F.col("__v").alias("__obs"))
    )
    # span from the RAW filtered samples, not from obs: min/max observed
    # bucket is identical either way, but deriving it from obs would make
    # the whole representative-window subtree a SECOND plan occurrence
    # (Spark does not share it across the grid side and the join side —
    # the stage audit caught the doubled window as the query's dominant
    # cost); from x it is one cheap map-side-combined agg
    span = x.groupBy(series_col).agg(
        F.min("bucket").alias("__lo"), F.max("bucket").alias("__hi")
    )
    grid = span.select(
        series_col,
        F.explode(F.sequence(F.col("__lo"), F.col("__hi"))).alias("bucket"),
    )
    j = grid.join(obs, [series_col, "bucket"], "left")
    wf = (
        Window.partitionBy(series_col)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wb = (
        Window.partitionBy(series_col)
        .orderBy("bucket")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_b = F.when(F.col("__obs").isNotNull(), F.col("bucket"))
    h = j.select(
        series_col,
        "bucket",
        F.col("__obs").isNotNull().alias("is_observed"),
        F.last("__obs", ignorenulls=True).over(wf).alias("__pv"),
        F.last(obs_b, ignorenulls=True).over(wf).alias("__pb"),
        F.first("__obs", ignorenulls=True).over(wb).alias("__nv"),
        F.first(obs_b, ignorenulls=True).over(wb).alias("__nb"),
    )
    filled = F.when(F.col("is_observed"), F.col("__pv")).otherwise(
        F.expr("__pv + ((__nv - __pv) * (bucket - __pb)) div (__nb - __pb)")
    )
    return h.select(
        series_col, "bucket", filled.alias("filled"), "is_observed"
    )


def stale_series(
    samples: DataFrame,
    series_col: str = "event_type",
    ts_col: str = "ts_ms",
    stale_after_ms: int = 3_600_000,
    now_ms: int | None = None,
) -> DataFrame:
    """Dead-metric detection — the monitoring sweep every TSDB runs
    against its catalog (which series stopped reporting?): per series the
    last sample timestamp, its age against ``now_ms`` (defaults to the
    newest sample corpus-wide, so a replayed fixture needs no wall
    clock), and ``is_stale`` when the age exceeds ``stale_after_ms``.

    Scale shape: one map-side-combined MAX agg per series (output =
    series cardinality), plus — only in the default-now mode — a 1-row
    global MAX joined by broadcast cross join. Nothing is corpus-sized
    after the first combine.
    """
    if stale_after_ms < 1:
        raise ValueError("stale_after_ms must be >= 1")
    last = samples.filter(F.col(ts_col).isNotNull()).groupBy(series_col).agg(
        F.max(ts_col).alias("last_ts_ms")
    )
    if now_ms is None:
        now = last.agg(F.max("last_ts_ms").alias("__now"))
        last = last.crossJoin(F.broadcast(now))
        now_col = F.col("__now")
    else:
        now_col = F.lit(now_ms)
    return last.select(
        series_col,
        "last_ts_ms",
        (now_col - F.col("last_ts_ms")).alias("age_ms"),
        ((now_col - F.col("last_ts_ms")) > stale_after_ms).alias("is_stale"),
    )


def percentile_downsample(
    samples: DataFrame,
    series_col: str = "event_type",
    ts_col: str = "ts_ms",
    value_col: str = "cents",
    bucket_ms: int = 3_600_000,
    ps: tuple[float, ...] = (0.5, 0.95, 0.99),
) -> DataFrame:
    """Percentile downsample — the OpenTSDB percentile aggregator family
    (p50/p95/p99 per series per bucket, the latency-dashboard staple):
    exact PERCENTILE_DISC per (series, bucket) — for each p the value at
    rank ``ceil(p*n)`` ascending, always an actual element, no
    interpolation convention to disagree on across engines (the
    group_quantiles discipline over a composite time key).

    Plan: ONE exchange on (series, bucket) — the rank and count windows
    share it — then a map-side probe-rank explode + equality filter.
    Per-bucket state is a partition-local sort; buckets bound the group
    size, so skew is capped by sample rate x bucket width.
    """
    if bucket_ms < 1:
        raise ValueError("bucket_ms must be >= 1")
    bad = [p for p in ps if not 0.0 < float(p) <= 1.0]
    if bad:
        raise ValueError(f"percentile probes must be in (0, 1], got {bad}")
    ts, v = F.col(ts_col), F.col(value_col)
    x = samples.filter(ts.isNotNull() & v.isNotNull()).select(
        series_col,
        F.expr(f"{ts_col} div {bucket_ms}").alias("bucket"),
        v.alias("__v"),
    )
    w = Window.partitionBy(series_col, "bucket").orderBy("__v")
    wall = Window.partitionBy(series_col, "bucket")
    ranked = x.select(
        series_col,
        "bucket",
        "__v",
        F.row_number().over(w).alias("__rn"),
        F.count("*").over(wall).alias("n"),
    )
    probes = F.array(*[F.lit(float(p)) for p in ps])
    return (
        ranked.withColumn("p", F.explode(probes))
        .filter(F.col("__rn") == F.ceil(F.col("p") * F.col("n")).cast("int"))
        .select(
            series_col,
            "bucket",
            "p",
            F.col("__v").alias("quantile_value"),
            F.col("n").alias("bucket_n"),
        )
    )


def threshold_episodes(
    samples: DataFrame,
    threshold: int,
    series_col: str = "event_type",
    ts_col: str = "ts_ms",
    value_col: str = "cents",
    id_col: str = "event_id",
) -> DataFrame:
    """Threshold-breach episodes — the alerting primitive every TSDB
    monitor runs (how long was the metric above the line, how many
    times, how bad?): consecutive above-threshold samples (in
    ``(ts, id)`` order per series) collapse into one episode row with
    its start/end timestamps, sample count, and peak value. The classic
    gaps-and-islands shape, done with TWO same-keyed windows instead of
    a self-join.

    Island identity: ``rn - rn_breach`` — row number over ALL samples
    minus row number over breach samples only — is constant within a
    run of consecutive breaches and distinct across runs (both windows
    are partitioned by series alone, so they SHARE one exchange; the
    breach rank is conditional, not re-partitioned).

    Scale shape: ONE series-keyed exchange (two windows + the episode
    aggregate all reuse it); output is episode-cardinality. Episodes do
    not cross partition keys — a series is one window partition, the
    same bound as every lag/rank operator here.
    """
    ts, v = F.col(ts_col), F.col(value_col)
    x = samples.filter(ts.isNotNull() & v.isNotNull()).select(
        series_col,
        ts.alias("__ts"),
        v.alias("__v"),
        F.col(id_col).alias("__id"),
        (v > threshold).alias("__breach"),
    )
    w = Window.partitionBy(series_col).orderBy("__ts", "__id")
    ranked = x.select(
        series_col,
        "__ts",
        "__v",
        "__breach",
        F.row_number().over(w).alias("__rn"),
        F.sum(F.col("__breach").cast("int")).over(w).alias("__rnb"),
    )
    episodes = (
        ranked.filter(F.col("__breach"))
        .withColumn("__grp", F.col("__rn") - F.col("__rnb"))
        .groupBy(series_col, "__grp")
        .agg(
            F.min("__ts").alias("start_ts"),
            F.max("__ts").alias("end_ts"),
            F.count("*").alias("n_samples"),
            F.max("__v").alias("peak"),
        )
        .drop("__grp")
    )
    return episodes


def time_weighted_percentile(
    samples: DataFrame,
    series_col: str = "event_type",
    ts_col: str = "ts_ms",
    value_col: str = "cents",
    id_col: str = "event_id",
    bucket_ms: int = 3_600_000,
    p_ppm: int = 500_000,
) -> DataFrame:
    """Time-weighted percentile downsample — the percentile sibling of
    :func:`time_weighted_avg`, completing the downsampler family (avg,
    rank percentile, time-weighted avg, time-weighted percentile): each
    sample is weighted by its zero-order-hold duration within the
    bucket, and the percentile is the smallest value whose cumulative
    hold reaches ``p_ppm`` of the bucket's total hold. This is the
    estimator that ignores sampling-rate bias — a sensor reporting
    every second while idle cannot drag the median away from the steady
    state it reports hourly (plain rank percentiles, q159, weight every
    sample equally).

    Integer-exact winner rule: smallest ``value`` (ties by ts, id) with
    ``cum_hold * 1_000_000 >= p_ppm * total_hold``. Duplicate-timestamp
    samples carry hold 0 except the last by id (the TWA discipline) —
    they never move the percentile.

    Plan: ONE (series, bucket) exchange — the hold window (time order),
    the cumulative-hold window (value order), and the winner rank all
    share it; per-bucket state is a partition-local sort, capped by
    sample rate x bucket width.
    """
    if bucket_ms < 1:
        raise ValueError("bucket_ms must be >= 1")
    if not 0 < p_ppm <= 1_000_000:
        raise ValueError("p_ppm must be in (0, 1e6]")
    ts, v = F.col(ts_col), F.col(value_col)
    x = samples.filter(ts.isNotNull() & v.isNotNull()).select(
        series_col,
        ts.alias("__ts"),
        v.alias("__v"),
        F.col(id_col).alias("__id"),
        F.expr(f"{ts_col} div {bucket_ms}").alias("bucket"),
    )
    w_time = Window.partitionBy(series_col, "bucket").orderBy("__ts", "__id")
    bucket_end = (F.col("bucket") + 1) * bucket_ms
    hold = F.coalesce(F.lead("__ts").over(w_time), bucket_end) - F.col("__ts")
    held = x.select(
        series_col, "bucket", "__v", "__ts", "__id", hold.alias("__hold")
    )
    w_val = (
        Window.partitionBy(series_col, "bucket")
        .orderBy("__v", "__ts", "__id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(series_col, "bucket")
    cum = held.select(
        series_col,
        "bucket",
        "__v",
        "__ts",
        "__id",
        F.sum("__hold").over(w_val).alias("__cum"),
        F.sum("__hold").over(w_all).alias("total_hold_ms"),
        F.count("*").over(w_all).alias("n"),
    )
    candidates = cum.filter(
        F.col("__cum") * 1_000_000 >= F.lit(p_ppm) * F.col("total_hold_ms")
    )
    w_rank = Window.partitionBy(series_col, "bucket").orderBy(
        "__v", "__ts", "__id"
    )
    return (
        candidates.withColumn("__rk", F.row_number().over(w_rank))
        .filter(F.col("__rk") == 1)
        .select(
            series_col,
            "bucket",
            F.lit(p_ppm).alias("p_ppm"),
            F.col("__v").alias("twp"),
            "total_hold_ms",
            "n",
        )
    )


def slo_compliance(
    samples: DataFrame,
    threshold: int,
    series_col: str = "event_type",
    ts_col: str = "ts_ms",
    value_col: str = "cents",
    id_col: str = "event_id",
    step_ms: int = 900_000,
    period_ms: int = 86_400_000,
) -> DataFrame:
    """SLO compliance report — the SRE reporting surface over a
    REGULARIZED series (composition: :func:`grid_fill` then a period
    aggregate): per (series, period) the share of grid slots whose
    zero-order-held value sits at or under ``threshold``, in integer
    ppm. Computing compliance on the dense grid — not on raw samples —
    is the point: a sensor that goes quiet while breaching still
    accrues breach time through the held value, where a raw-sample
    ratio would count the silence as compliant by omission.

    Output per (series, period): ``slots``, ``ok_slots``,
    ``compliance_ppm`` (ok · 1e6 div slots). Periods are
    ``bucket·step_ms div period_ms`` — step must divide the period for
    calendar-aligned windows (validated).

    Scale shape: grid_fill's exchanges (see its docstring), then one
    combiner-bounded (series, period) aggregate over the GRID-sized
    fill — nothing after the fill is wider than the grid.
    """
    if period_ms % step_ms != 0:
        raise ValueError("step_ms must divide period_ms")
    g = grid_fill(
        samples,
        series_col=series_col,
        ts_col=ts_col,
        value_col=value_col,
        id_col=id_col,
        step_ms=step_ms,
    )
    period = F.expr(f"(bucket * {step_ms}) div {period_ms}")
    return (
        g.groupBy(F.col(series_col), period.alias("period"))
        .agg(
            F.count("*").alias("slots"),
            F.sum((F.col("filled") <= threshold).cast("long")).alias(
                "ok_slots"
            ),
        )
        .withColumn(
            "compliance_ppm", F.expr("(ok_slots * 1000000) div slots")
        )
    )


def rate_bursts(
    events: DataFrame,
    key_cols: tuple[str, ...] = ("event_type", "user_id"),
    ts_col: str = "ts_ms",
    value_col: str = "cents",
    tiebreak_col: str = "event_id",
    window_n: int = 4,
    factor_num: int = 3,
    factor_den: int = 1,
) -> DataFrame:
    """Burst detection over counter rates — the spike alert that
    completes the alerting family (episodes = sustained level breach,
    bursts = sudden CHANGE): a sample bursts when its rate is at least
    ``factor_num/factor_den`` times the mean of its own series'
    previous ``window_n`` rates. The comparison is division-free —
    ``rate · den · n >= num · Σ(previous rates)`` — so it is integer-
    exact and engine-portable with no quotient convention at all.
    Samples without a full trailing window never flag (a baseline of
    one noisy point is not a baseline).

    Built on :func:`counter_rate` (default rebase mode); the trailing
    window shares the rate window's series keying, so the whole
    detector is ONE keyed exchange end to end.

    Output: the counter_rate columns plus ``base_sum``/``base_n`` (the
    trailing evidence) and ``is_burst``.
    """
    if window_n < 1:
        raise ValueError("window_n must be >= 1")
    if factor_num < 1 or factor_den < 1:
        raise ValueError("factor_num and factor_den must be >= 1")
    rates = counter_rate(
        events,
        key_cols=key_cols,
        ts_col=ts_col,
        value_col=value_col,
        tiebreak_col=tiebreak_col,
    )
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(ts_col, tiebreak_col)
        .rowsBetween(-window_n, -1)
    )
    x = rates.withColumn(
        "base_sum", F.sum("rate_micros").over(w)
    ).withColumn("base_n", F.count("rate_micros").over(w))
    burst = (
        (F.col("base_n") == window_n)
        & (
            F.col("rate_micros") * factor_den * F.col("base_n")
            >= factor_num * F.col("base_sum")
        )
    )
    return x.withColumn("is_burst", F.coalesce(burst, F.lit(False)))
