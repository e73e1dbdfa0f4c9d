"""Streaming operators: windowed rollup, watermark dedup, stateful
latest-version upsert, and a foreachBatch keyed-snapshot sink.

Scale posture: every operator here is keyed state over a shuffle on the
same keys the batch pipeline uses (rowkey/qualifier, event_type), so state
is partitioned exactly like the batch shuffle — no skew surprises beyond
what the batch plan already has. Watermarks bound state size; the
stateful-latest operator stores one (version_ts, value) pair per key.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# simplified long-form cell for streaming demos/tests; the batch pipeline's
# binary rowkey form (operators/tsdb.py) maps 1:1 — string keys keep the
# state-schema declarations readable
CELL_SCHEMA = "key string, qualifier string, version_ts long, value double"

_LATEST_OUT_SCHEMA = CELL_SCHEMA
_LATEST_STATE_SCHEMA = "version_ts long, value double"


def await_finite(query, timeout_sec: int = 300) -> None:
    """Block until a finite (availableNow-triggered) streaming query stops.

    ``awaitTermination(timeout)`` returns False on timeout with the query
    still running — reading the sink at that point silently yields partial
    results. Stop the query and fail loudly instead."""
    if not query.awaitTermination(timeout_sec):
        query.stop()
        raise TimeoutError(
            f"streaming query {query.name or query.id} did not finish within "
            f"{timeout_sec}s; sink contents would be partial"
        )


def streaming_rollup_5m(
    events,
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    watermark: str = "10 minutes",
):
    """E2 streaming variant — tumbling 5-minute rollup with late-data bound.

    Same output shape as the batch tsdb.rollup_5m (integer cents, epoch
    seconds) so downstream consumers can union batch + streaming results.
    Reference constant: 5-minute granularity of the rollup table
    (configuration/HBaseProperties.java:24).
    """
    cents = F.floor(F.col(value_col) * 100).cast("long")
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), "5 minutes").alias("w"), type_col)
        .agg(
            F.count("*").alias("cnt"),
            F.sum(cents).alias("sum_value_cents"),
            F.min(cents).alias("min_value_cents"),
            F.max(cents).alias("max_value_cents"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_sec"),
            type_col,
            "cnt",
            "sum_value_cents",
            "min_value_cents",
            "max_value_cents",
        )
    )


def streaming_first_seen_dedup(
    cells,
    key_cols: tuple[str, ...] = ("key", "qualifier"),
    ts_col: str = "event_time",
    watermark: str = "10 minutes",
):
    """D3-adjacent streaming dedup: keep the FIRST arrival per key within
    the watermark window (`dropDuplicatesWithinWatermark` — state expires
    once the watermark passes, so state size is bounded by the window).

    Note the semantic difference from the batch D3 (latest-version-wins,
    TsdbBulkload.java:135-136): first-seen is the right primitive for
    at-least-once ingestion dedup; latest-version-wins over a stream is
    :func:`streaming_latest_version`.
    """
    return cells.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def _latest_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Keep max-version cell per key; emit only on change (upsert stream)."""
    if state.exists:
        cur_ts, cur_val = state.get
    else:
        cur_ts, cur_val = None, None
    best_ts, best_val = cur_ts, cur_val
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        # same-version ties resolve to max VALUE (the batch operator's
        # tie_col=value ordering) — associative, so the survivor is
        # independent of row order and micro-batch boundaries
        mx = pdf["version_ts"].max()
        ts = int(mx)
        val = float(pdf.loc[pdf["version_ts"] == mx, "value"].max())
        if (
            best_ts is None
            or ts > best_ts
            or (ts == best_ts and val > best_val)
        ):
            best_ts, best_val = ts, val
    if best_ts is not None and (best_ts, best_val) != (cur_ts, cur_val):
        state.update((best_ts, best_val))
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "qualifier": [key[1]],
                "version_ts": [best_ts],
                "value": [best_val],
            }
        )


def streaming_latest_version(cells):
    """D3/E1/H4 streaming variant — true latest-version-wins upsert over an
    unbounded cell stream via `applyInPandasWithState`: one (version_ts,
    value) state row per (key, qualifier); a change emits the new latest
    cell downstream (= the HBase Put upsert, HBaseSerde.java:119-144, as a
    changelog). Arrow-batched; state partitioned by the group-by keys.
    """
    return cells.groupBy("key", "qualifier").applyInPandasWithState(
        _latest_fn,
        outputStructType=_LATEST_OUT_SCHEMA,
        stateStructType=_LATEST_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def upsert_batch_writer(path: str, key_cols: tuple[str, ...] = ("key", "qualifier")):
    """H4/H6 sink analog for parquet fixtures: a foreachBatch function that
    merges each micro-batch into a keyed snapshot with latest-version-wins
    semantics (old snapshot ∪ batch → arg-max per key), committed through
    ``hfile.commit_dir``. The old snapshot is read inside the commit, after
    its recovery, so replaying a batch after a crash mid-swap merges into
    the restored snapshot instead of an empty one.

    The reference buffers Puts and flushes at 2 MB / 1000 rows / 1 s
    (HBase2DynamicTableFactory.java:76-102); micro-batches ARE that buffer
    in Structured Streaming. At scale the snapshot-rewrite becomes a
    MERGE INTO on a table format with row-level upserts; the per-batch
    dedup logic is identical.
    """
    from hbase_bulkload_service_spark.sources.hfile import commit_dir

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        cells = batch_df.select(*key_cols, "version_ts", "value")

        def merge(staging: str) -> None:
            merged = cells
            if os.path.isdir(path):
                merged = spark.read.parquet(path).unionByName(cells)
            (
                merged.groupBy(*key_cols)
                .agg(
                    F.max_by(
                        F.struct("version_ts", "value"), F.col("version_ts")
                    ).alias("s")
                )
                .select(*key_cols, "s.version_ts", "s.value")
                .write.parquet(staging)
            )

        commit_dir(path, merge)

    return write


def streaming_lookup_join(
    probe_stream: DataFrame,
    probe_key: str,
    dim: DataFrame,
    dim_key: str = "rowkey",
    how: str = "inner",
) -> DataFrame:
    """F1 in its native habitat: the reference's lookup join is a Flink
    *streaming* SQL operator (``JOIN … FOR SYSTEM_TIME AS OF proc_time``,
    AbstractHBaseDynamicTableSource.java:66-84) — per probe row a point
    Get, misses emit nothing (HBaseRowDataLookupFunction.java:76-86).

    Spark-first: a stream-static equi-join. The static side is broadcast
    to every task, replacing the reference's per-row RPC + open connection
    (open():112-128) with an in-memory hash map; the join is stateless, so
    there is no streaming state to watermark. Keyed strictly on the single
    rowkey, like the reference's validation."""
    if how not in ("inner", "left"):
        raise ValueError(
            "JOIN HBase table requires inner (reference) or left semantics"
        )
    return probe_stream.join(
        F.broadcast(dim), probe_stream[probe_key] == dim[dim_key], how
    )


def streaming_bulkload(
    base_path: str,
    bucket_count: int = 512,
    rollup: bool = False,
    num_partitions: int | None = None,
):
    """J1 × H1-H3 — the reference's production loop (bulkload jobs enqueued
    over time, each producing an adoption unit: HFile set + manifest,
    HBaseController.java:49-124) as a Structured Streaming foreachBatch:
    every micro-batch runs the FULL flagship pipeline (salt → dedup →
    range-sorted per-region files: tsdb.bulkload_kv, hfile.write_hfiles)
    into its own ``batch=<id>/`` dir — one adoption unit per batch,
    exactly the queue's one-job-at-a-time contract (micro-batches are
    sequential). ``write_hfiles`` commits each unit through
    ``hfile.commit_dir``, so a replayed batch replaces its unit whole.

    Cross-batch versions are NOT merged here: like the reference, each
    job's HFile set is self-consistent and HBase resolves versions at read
    time (multiple files per region are expected — the 2048/region cap).
    For a merged snapshot view, compact with latest_version_dedup over the
    union of batches (see upsert_batch_writer for the snapshot pattern).

    ``num_partitions=None`` lets each batch's range exchange be sized by
    its shuffled bytes (about one file per region for a small batch); a
    count pins every batch to that many range partitions.

    Returns the foreachBatch callable; wire it as
    ``stream.writeStream.foreachBatch(streaming_bulkload(...))``.
    """
    from hbase_bulkload_service_spark.operators import tsdb as _tsdb
    from hbase_bulkload_service_spark.sources import hfile as _hfile

    def write(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return  # empty trigger: no adoption unit
        _hfile.write_hfiles(
            _tsdb.bulkload_kv(batch_df, bucket_count=bucket_count),
            os.path.join(base_path, f"batch={int(batch_id)}"),
            rollup=rollup,
            num_partitions=num_partitions,
        )

    return write


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    within_ms: int,
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-STREAM join: each left event matched to right events of
    the same key arriving within ``[left_ts, left_ts + within_ms]`` — the
    click→purchase attribution shape. Both sides are unbounded, so BOTH
    carry watermarks and the time-interval condition bounds how long each
    side's state is retained (Spark derives state TTL from the watermark +
    interval; without the interval the join would buffer both streams
    forever).

    Inner-join matches emit as soon as both rows have arrived (no
    watermark holdback — that's only for outer sides), so a finite
    replay produces exactly the batch join's rows. ``how="left_outer"``
    adds the null-padded row for every unmatched left event — but that
    row can only emit once the watermark proves no match can still
    arrive, i.e. after the global watermark passes ``left_ts +
    within_ms`` AND a further micro-batch runs to evict the state
    (measured semantics, same one-batch-late rule as append-mode window
    eviction — tests/test_streaming_latedata.py). A finite replay that
    wants the full outer result must therefore push the watermark past
    the data with a late sentinel batch on BOTH streams (min-across-
    streams watermark) and rely on the availableNow no-data final batch
    for the flush; see q231_stream_stream_outer.

    The reference has no stream-stream surface at all (its lookup join
    probes a static table); this is the F1-family member Spark adds
    outright.

    Scale: state is keyed on the join key — the same salt-spread keys as
    every batch shuffle — and bounded by (event rate × interval width).
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[key] == rw[key])
        & (rw[right_ts] >= lw[left_ts])
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {within_ms} MILLISECONDS"))
    )
    # drop the right-side key: it duplicates the left's (and is NULL on
    # outer-padded rows), and the collision makes `user_id` unselectable
    return lw.join(rw, cond, how).drop(rw[key])


# ---------------------------------------------------------------------------
# Streaming counter → delta (the live twin of tsdb.counter_deltas)
# ---------------------------------------------------------------------------

SAMPLE_SCHEMA = "event_type string, user_id long, event_id long, ts_ms long, cents long"
_DELTA_OUT_SCHEMA = (
    "event_type string, user_id long, event_id long, ts_ms long, cents long, "
    "delta_cents long, dt_ms long"
)
_DELTA_STATE_SCHEMA = "last_ts long, last_event_id long, last_cents long"


def _delta_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-series streaming delta: carry (last_ts, last_event_id,
    last_cents); each in-order sample emits (delta_cents, dt_ms) vs the
    carried predecessor. A sample at or before the carried position
    (late arrival across batches) is DROPPED — monotonic-state rate
    semantics; within a batch, rows are sorted so intra-batch disorder
    costs nothing."""
    if state.exists:
        last_ts, last_eid, last_cents = state.get
    else:
        last_ts, last_eid, last_cents = None, None, None
    out = []
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        pdf = pdf.sort_values(["ts_ms", "event_id"])
        for r in pdf.itertuples(index=False):
            ts, eid, cents = int(r.ts_ms), int(r.event_id), int(r.cents)
            if last_ts is not None and (ts, eid) <= (last_ts, last_eid):
                continue  # late/duplicate sample — state stays monotonic
            if last_ts is not None:
                out.append(
                    (key[0], key[1], eid, ts, cents, cents - last_cents, ts - last_ts)
                )
            last_ts, last_eid, last_cents = ts, eid, cents
    if last_ts is not None:
        state.update((last_ts, last_eid, last_cents))
    if out:
        yield pd.DataFrame(
            out,
            columns=[
                "event_type", "user_id", "event_id", "ts_ms", "cents",
                "delta_cents", "dt_ms",
            ],
        )


def streaming_counter_deltas(samples):
    """Streaming twin of ``tsdb.counter_deltas`` (the OpenTSDB ``rate``
    read op as a LIVE derivative): per (event_type, user_id) series the
    state is one carried sample — O(1) per key, watermark-free (state
    never grows with history). Replaying a corpus in one availableNow
    batch reproduces the batch operator exactly (pinned in
    test_streaming); across micro-batches the boundary delta is carried
    by state, and late samples are dropped rather than re-ordering
    emitted history (a batch recompute is the repair path, as with any
    streaming changelog)."""
    return samples.groupBy("event_type", "user_id").applyInPandasWithState(
        _delta_fn,
        outputStructType=_DELTA_OUT_SCHEMA,
        stateStructType=_DELTA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_incremental_dedup(
    doc_stream,
    corpus_hashes: DataFrame,
    text_col: str = "text",
    ts_col: str = "event_time",
    watermark: str = "10 minutes",
):
    """Live twin of :func:`operators.dedup.incremental_dedup`'s exact
    layer — the continuous-ingest shape: a stream of new documents
    deduped against (a) the EXISTING corpus and (b) ITSELF within the
    watermark window.

    ``corpus_hashes`` is the persisted corpus artifact — one row per
    known content hash, columns (h, exact_match) exactly as the batch
    operator's hash set (md5 of normalized text, smallest owning doc).
    The stream-static LEFT join against it is stateless (re-planned per
    micro-batch, so a corpus refresh is picked up without restarting);
    rows that miss then pass `dropDuplicatesWithinWatermark` on the
    content hash, which keeps the FIRST arrival of each new text and
    drops replays/simulcasts — state bounded by the watermark window,
    keyed by the 32-byte hash, never the text.

    Returns the keep-stream: (doc_id, ts, h) for documents seen neither
    in the corpus nor earlier in the stream window. The near-dup layer
    stays batch-side by design: LSH banding needs the corpus bucket
    index, and verification Jaccard is a per-candidate join — run
    :func:`incremental_dedup` over the keeps as a micro-batch/daily
    compaction instead of holding corpus-sized state in the stream.
    """
    from hbase_bulkload_service_spark.operators.textops import norm_text

    hashed = doc_stream.select(
        "doc_id",
        F.col(ts_col),
        F.md5(norm_text(F.col(text_col))).alias("h"),
    )
    # stream-static left join; no broadcast hint — the corpus hash set is
    # corpus-sized (one row per document) and force-broadcasting it every
    # micro-batch would OOM at the scale this operator serves. The
    # planner picks broadcast on its own when the set is actually small.
    missed = (
        hashed.join(corpus_hashes, "h", "left")
        .filter(F.col("exact_match").isNull())
        .select("doc_id", ts_col, "h")
    )
    return missed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["h"]
    )


def streaming_expectations(stream_df, row_checks):
    """Streaming data-quality monitor — the continuous twin of
    quality.expectations_audit's row-check layer: each micro-batch folds
    its rows into running per-expectation (n_checked, n_failed)
    counters, so a pipeline can watch quality degrade in-flight instead
    of discovering it in tomorrow's batch audit. NULL predicate results
    count as failures (same three-valued-logic stance as the batch op).

    Only ROW predicates stream: uniqueness and FK checks need
    corpus-wide distinct state, which unbounded streams cannot hold
    exactly — run those in the periodic batch audit (the split is the
    standard lambda posture and is documented in SCALE.md).

    Shape: one explode to (expectation, fail) pairs — width = number of
    checks, a constant — then a streaming groupBy agg on the expectation
    name (bounded state: one row per check). Works with complete-mode
    sinks and availableNow finite replays.
    """
    from pyspark.sql import functions as F

    if not row_checks:
        raise ValueError("streaming_expectations: no row checks given")
    names = [n for n, _ in row_checks]
    if len(set(names)) != len(names):
        # same stance as the batch twin: merged counters under one name
        # would report 2x n_checked and summed unrelated failures
        raise ValueError(f"duplicate expectation names in {names}")
    pairs = F.array(
        *[
            F.struct(
                F.lit(name).alias("expectation"),
                F.when(~F.coalesce(cond, F.lit(False)), 1)
                .otherwise(0)
                .alias("fail"),
            )
            for name, cond in row_checks
        ]
    )
    return (
        stream_df.select(F.explode(pairs).alias("e"))
        .select("e.expectation", "e.fail")
        .groupBy("expectation")
        .agg(
            F.count("*").cast("long").alias("n_checked"),
            F.sum("fail").cast("long").alias("n_failed"),
        )
        .select(
            "expectation",
            "n_checked",
            "n_failed",
            (F.col("n_failed") == 0).alias("ok"),
        )
    )


def streaming_counter_rate(
    samples, drop_resets: bool = False, counter_max: int | None = None
):
    """Streaming twin of ``tsdb.counter_rate`` — the LIVE monotonic-
    counter rate (OpenTSDB RateOptions{counter=true} over an unbounded
    stream): :func:`streaming_counter_deltas` carries one sample per
    series in state (O(1), watermark-free), and the reset/rebase/rate
    layer is pure map-side arithmetic on its output — the stateful and
    stateless layers split exactly as in the batch operator, so the two
    cannot drift semantically (all three RateOptions modes: rebase,
    counter_max rollover, drop). Zero-width intervals are dropped
    (no defined rate); a finite availableNow replay reproduces the
    batch operator exactly (gated by q156 against q151's oracle).
    """
    from pyspark.sql import functions as F

    if drop_resets and counter_max is not None:
        raise ValueError("drop_resets and counter_max are mutually exclusive")
    if counter_max is not None and counter_max < 1:
        raise ValueError("counter_max must be >= 1")
    d = streaming_counter_deltas(samples).filter(F.col("dt_ms") > 0)
    reset = F.col("delta_cents") < 0
    if drop_resets:
        d = d.filter(~reset)
        delta = F.col("delta_cents")
        is_reset = F.lit(False)
    elif counter_max is not None:
        delta = F.when(
            reset, F.col("delta_cents") + F.lit(counter_max)
        ).otherwise(F.col("delta_cents"))
        is_reset = reset
    else:
        delta = F.when(reset, F.col("cents")).otherwise(F.col("delta_cents"))
        is_reset = reset
    return d.select(
        "event_type",
        "user_id",
        "event_id",
        "ts_ms",
        "cents",
        delta.alias("delta"),
        "dt_ms",
        is_reset.alias("is_reset"),
    ).withColumn("rate_micros", F.expr("(delta * 1000000000) div dt_ms"))


# ---------------------------------------------------------------------------
# Streaming EWMA control chart (the live twin of analytics.ewma_control)
# ---------------------------------------------------------------------------

EWMA_SAMPLE_SCHEMA = "user_id long, event_id long, ts_ms long, x_cents long"
_EWMA_OUT_SCHEMA = (
    "user_id long, event_id long, rn long, x_cents long, "
    "ewma_cents long, spike long"
)
_EWMA_STATE_SCHEMA = "last_ts long, last_event_id long, e long, n long"


def _make_ewma_fn(spike_factor: int):
    """Per-series streaming EWMA: carry (position, EWMA register, row
    count); each in-order sample emits its chart row and folds into the
    register with the truncating half-life recurrence — the SAME
    arithmetic as the batch loop (analytics.ewma_control), so the two
    cannot drift. Late samples (at or before the carried position) are
    DROPPED, as in every monotonic-state operator here."""

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            last_ts, last_eid, e, n = state.get
        else:
            last_ts, last_eid, e, n = None, None, 0, 0
        out = []
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values(["ts_ms", "event_id"])
            for r in pdf.itertuples(index=False):
                ts, eid, x = int(r.ts_ms), int(r.event_id), int(r.x_cents)
                if last_ts is not None and (ts, eid) <= (last_ts, last_eid):
                    continue  # late/duplicate sample
                if n == 0:
                    e, spike = x, 0
                else:
                    spike = 1 if x > spike_factor * e else 0
                    e = (e + x) // 2  # nonneg ints: // == truncating div
                n += 1
                out.append((key[0], eid, n, x, e, spike))
                last_ts, last_eid = ts, eid
        if last_ts is not None:
            state.update((last_ts, last_eid, e, n))
        if out:
            yield pd.DataFrame(
                out,
                columns=[
                    "user_id", "event_id", "rn", "x_cents",
                    "ewma_cents", "spike",
                ],
            )

    return fn


def streaming_ewma_chart(samples, spike_factor: int = 2):
    """Streaming twin of ``analytics.ewma_control`` — the LIVE smoothed-
    baseline alert: per-series state is (position, EWMA register, count)
    — O(1) per key, watermark-free — and a finite availableNow replay of
    the corpus reproduces the batch operator bit-for-bit (gated by q180
    against q178's recursive-CTE oracle, the q156 idiom)."""
    if spike_factor < 1:
        raise ValueError("spike_factor must be >= 1")
    return samples.groupBy("user_id").applyInPandasWithState(
        _make_ewma_fn(spike_factor),
        outputStructType=_EWMA_OUT_SCHEMA,
        stateStructType=_EWMA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_blocklist_audit(stream_df, blocklist, flag_threshold=1):
    """Streaming token-blocklist monitor — the continuous twin of
    textops.blocklist_audit (q196): each document's severity-weighted
    violation score is computed STATELESS map-side (the blocklist is a
    literal expression over the token array — no join, nothing to
    broadcast into a stream), then a streaming groupBy folds per-source
    (n_docs, flagged_docs, total_score) counters. State is bounded at
    one row per source, so the monitor runs forever; complete-mode
    sinks and availableNow finite replays both work, and a finite
    replay must reproduce the batch audit exactly (the q137/q180
    idiom — this operator inherits q196's oracle).
    """
    from pyspark.sql import functions as F

    from hbase_bulkload_service_spark.operators.textops import words_of

    if not blocklist:
        raise ValueError("streaming_blocklist_audit: empty blocklist")
    if any(v <= 0 for v in blocklist.values()):
        raise ValueError("severities must be positive")
    ws = words_of(F.col("text"))
    score = None
    for word, sev in sorted(blocklist.items()):
        term = F.lit(sev) * F.size(
            F.filter(ws, lambda t: t == F.lit(word))
        )
        score = term if score is None else score + term
    scored = stream_df.select(
        F.col("source"), score.cast("long").alias("__score")
    )
    return scored.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("__score") >= flag_threshold).cast("long")).alias(
            "flagged_docs"
        ),
        F.sum("__score").alias("total_score"),
    )
