"""Physical-plan contracts — assert the plan SHAPE, not just the result:
filters reach the parquet scan, projections prune the read schema, small
dims broadcast, the bulkload sink sees range-partitioned sorted input.
These are the properties that decide 100 TB behavior; a regression here
can stay invisible at test scale."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from hbase_bulkload_service_spark import registry

SF_DIR = "/root/testdata/sf0.001"


def formatted_plan(df) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_point_get_filter_pushed(spark):
    plan = formatted_plan(registry.QUERIES["q04_point_get"](spark, SF_DIR))
    assert re.search(r"PushedFilters:.*EqualTo\(c_custkey,42\)", plan), plan


def test_pricing_summary_range_pushed_and_pruned(spark):
    plan = formatted_plan(registry.QUERIES["q01_pricing_summary"](spark, SF_DIR))
    assert re.search(r"PushedFilters:.*LessThanOrEqual\(l_shipdate", plan), plan
    m = re.search(r"ReadSchema: (.*)", plan)
    # 7 referenced columns, not the full 16-column lineitem schema
    assert m and m.group(1).count(":") == 7, m.group(1) if m else plan


def test_lookup_join_broadcasts_and_pushes_both_sides(spark):
    plan = formatted_plan(registry.QUERIES["q05_lookup_join"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert re.search(r"PushedFilters:.*LessThan\(c_custkey,500\)", plan)
    # the dim filter propagates to the probe side through join inference
    assert re.search(r"PushedFilters:.*LessThan\(o_custkey,500\)", plan)


def test_htable_scan_prunes_to_referenced_leaves(spark):
    plan = formatted_plan(registry.QUERIES["q06_htable_scan_project"](spark, SF_DIR))
    read_schemas = re.findall(r"ReadSchema: (.*)", plan)
    joined = " ".join(read_schemas)
    assert "c_acctbal" not in joined  # unreferenced qualifier not read
    assert "c_mktsegment" not in joined


def test_revenue_query_broadcasts_small_dim(spark):
    plan = formatted_plan(registry.QUERIES["q02_revenue_by_nation"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_bulkload_kv_is_range_partitioned_and_sorted(spark):
    """The writers own the KV layout: ``assign_region`` adds the one range
    exchange, on the RAW BINARY (region, key, qualifier) — round 8:
    binary order == hex order, half the sort-key bytes
    (BINSORT_AB_r08.json) — with a partition-local sort on the same keys
    directly above it. ``bulkload_kv`` itself adds none."""
    from hbase_bulkload_service_spark.operators import tsdb
    from hbase_bulkload_service_spark.sources import hfile
    from hbase_bulkload_service_spark.sources.tables import load_events

    kv = tsdb.bulkload_kv(tsdb.derive_tsdb_cells(load_events(spark, SF_DIR)))
    assert "rangepartitioning(" not in formatted_plan(kv)
    keys = (
        r"region#\d+ ASC NULLS FIRST, key#\d+ ASC NULLS FIRST, "
        r"qualifier#\d+ ASC NULLS FIRST"
    )

    def assert_range_then_sort(plan, width):
        assert plan.count("rangepartitioning(") == 1, plan
        exchange = re.search(
            rf"\((\d+)\) Exchange\nInput .*\n"
            rf"Arguments: rangepartitioning\({keys}, {width}\)",
            plan,
        )
        assert exchange, plan
        above = re.search(
            rf"Sort \((\d+)\)\n\s*\+- Exchange \({exchange.group(1)}\)\n", plan
        )
        assert above, plan
        assert re.search(
            rf"\({above.group(1)}\) Sort\nInput .*\nArguments: \[{keys}\], false",
            plan,
        ), plan

    pinned = hfile.assign_region(kv, rollup=True, num_partitions=16)
    assert_range_then_sort(formatted_plan(pinned), 16)

    # the default: no count — the exchange starts at the session's shuffle
    # width and AQE coalesces adjacent ranges once it has run
    sized = hfile.assign_region(kv, rollup=True, num_partitions=None)
    assert_range_then_sort(
        formatted_plan(sized), spark.conf.get("spark.sql.shuffle.partitions")
    )
    sized._jdf.queryExecution().toRdd().count()  # runs the adaptive plan
    final = formatted_plan(sized)
    assert "isFinalPlan=true" in final, final
    assert re.search(r"AQEShuffleRead\n.*\nArguments: coalesced", final), final


def test_latest_version_dedup_is_one_keyed_exchange(spark):
    """q11: a same-version tie resolves inside the dedup aggregate, so the
    only keyed shuffle is the dedup's own pinned exchange, directly below
    its aggregate — no collapse shuffle before it."""
    plan = formatted_plan(
        registry.QUERIES["q11_latest_version_dedup"](spark, SF_DIR)
    )
    assert plan.count("hashpartitioning(") == 1, plan
    assert re.search(
        r"SortAggregate \(\d+\)\n\s*\+- SortAggregate \(\d+\)\n"
        r"(\s*\+- Sort \(\d+\)\n)?\s*\+- Exchange \(\d+\)\n",
        plan,
    ), plan


def test_topk_avoids_global_sort(spark):
    plan = formatted_plan(registry.QUERIES["q03_topk_orders"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_spread_scan_keeps_filter_pushdown(spark):
    """spread_scan's round-robin exchange must not block pushdown: the
    filter written AFTER the repartition still reaches the parquet scan."""
    from hbase_bulkload_service_spark.sources.tables import load

    df = load(spark, SF_DIR, "customer", spread=True).filter(
        F.col("c_custkey") == 42
    )
    plan = formatted_plan(df)
    assert re.search(r"PushedFilters:.*EqualTo\(c_custkey,42\)", plan), plan


def test_curation_ledger_is_single_scan_two_columns(spark):
    # the enriched ledger (lang + tokens + content hash) must FUSE into one
    # documents scan reading only (doc_id, text) — no per-derivation
    # self-joins, no extra columns (lang/source/n_chars stay unread)
    from hbase_bulkload_service_spark.operators.curation import curate_corpus
    from hbase_bulkload_service_spark.sources.tables import load

    plan = formatted_plan(curate_corpus(load(spark, SF_DIR, "documents")))
    scans = [s for s in re.findall(r"ReadSchema: (.*)", plan) if "text" in s]
    assert scans, plan
    for s in scans:
        assert s.count(":") == 2, s  # doc_id + text only


def test_interval_join_is_equi_join_not_nested_loop(spark):
    plan = formatted_plan(registry.QUERIES["q22_interval_join"](spark, SF_DIR))
    # bucketed rewrite: a hash equi-join on the coarse bucket, never the
    # O(probe x intervals) BroadcastNestedLoopJoin a raw range predicate plans
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "HashJoin" in plan, plan


def test_stratified_sample_has_no_shuffle(spark):
    from hbase_bulkload_service_spark.operators.curation import stratified_sample
    from hbase_bulkload_service_spark.sources.tables import load

    # measured WITHOUT the fixture spread repartition: the operator itself
    # is a map-side filter — zero exchanges between scan and output
    docs = load(spark, SF_DIR, "documents")
    plan = formatted_plan(stratified_sample(docs, {"en": 250}, 600))
    assert "Exchange" not in plan, plan


def test_orc_readback_pushes_filter(spark, tmp_path):
    """q67's scale contract: the predicate reaches the ORC scan (stripe
    min/max elision, the ORC twin of parquet row-group pruning)."""
    from pyspark.sql import functions as F

    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).cast("string").alias("event_type")
    )
    df.write.mode("overwrite").orc(str(tmp_path / "o"))
    back = (
        spark.read.schema("id long, event_type string")
        .orc(str(tmp_path / "o"))
        .filter(F.col("event_type") >= "3")
    )
    plan = formatted_plan(back)
    assert re.search(r"PushedFilters:.*GreaterThanOrEqual\(event_type,3\)", plan), plan


# ---------------------------------------------------------------------------
# q94/q96/q97 plan shapes: one Expand for the cube, one Window (single
# sort+shuffle) for the deltas, one hash-aggregate pair for the histogram
# ---------------------------------------------------------------------------

def test_cube_plans_one_expand_one_aggregate(spark):
    df = registry.QUERIES["q94_cube_grouping"](spark, SF_DIR)
    plan = formatted_plan(df)
    # all 4 grouping sets share one Expand node (formatted output prints
    # each node twice: tree line + detail header — count the headers)
    assert len(re.findall(r"\(\d+\) Expand", plan)) == 1
    # one partial + one final hash aggregate, not one job per grouping set
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) == 2


def test_counter_deltas_single_window_exchange(spark):
    from hbase_bulkload_service_spark.operators import tsdb
    from hbase_bulkload_service_spark.sources.tables import load_events

    ev = load_events(spark, SF_DIR).withColumn(
        "cents", F.floor(F.col("value") * 100).cast("long")
    )
    plan = formatted_plan(tsdb.counter_deltas(ev))
    # both lags share ONE Window operator over one keyed exchange + sort
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "hashpartitioning(event_type" in plan
    assert len(re.findall(r"\(\d+\) Sort", plan)) == 1


def test_histogram_is_one_aggregate_no_sort(spark):
    from hbase_bulkload_service_spark.operators import analytics
    from hbase_bulkload_service_spark.sources.tables import load_events

    ev = load_events(spark, SF_DIR).withColumn(
        "cents", F.floor(F.col("value") * 100).cast("long")
    )
    plan = formatted_plan(
        analytics.fixed_width_histogram(ev, "event_type", "cents", 0, 40000, 16)
    )
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) == 2  # partial+final
    assert len(re.findall(r"\(\d+\) Sort", plan)) == 0  # never sorts


# ---------------------------------------------------------------------------
# wave-7 plan shapes
# ---------------------------------------------------------------------------

def test_span_dedup_has_no_pair_join(spark):
    """q101's quadratic surface must be absorbed by group-bys: the only
    join is the hash-keyed totals equi-join — never a nested-loop or
    cartesian pair comparison."""
    plan = formatted_plan(registry.QUERIES["q101_span_dedup"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_corpus_shuffle_single_keyed_exchange(spark):
    """q103: exactly one hashpartitioning exchange (the shard key); no
    global sort, no single-partition window."""
    plan = formatted_plan(registry.QUERIES["q103_corpus_shuffle"](spark, SF_DIR))
    assert len(re.findall(r"hashpartitioning\(shard", plan)) == 1
    assert "SinglePartition" not in plan
    assert "rangepartitioning" not in plan
    # the only other exchange allowed is the deliberate scan-spreading
    # round-robin from load(spread=True)
    others = [
        l for l in plan.splitlines()
        if "Arguments:" in l and "partitioning" in l.lower()
        and "hashpartitioning(shard" not in l
    ]
    assert all("RoundRobinPartitioning" in l for l in others), others


def test_bm25_global_topk_is_take_ordered(spark):
    """q104's global top-k must be TakeOrderedAndProject (per-partition
    heaps), never a global sort or a single-partition rank window over
    the full corpus."""
    plan = formatted_plan(registry.QUERIES["q104_bm25_topk"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_fuzzy_linkage_is_equi_join(spark):
    """q107: deletion-neighborhood blocking must compile to an equi-join
    on the variant hash — a theta-join on levenshtein would appear as a
    nested-loop over n^2 pairs."""
    plan = formatted_plan(registry.QUERIES["q107_fuzzy_linkage"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ngram_verify_spread_survives_aqe(spark):
    """q36's exact-verify stream ends in a user-numbered repartition
    (REPARTITION_BY_NUM) — exempt from AQE coalescing, so the
    CPU-heavy array_intersect can never serialize onto one task.
    The pin must MATERIALIZE in the final adaptive plan: if its keys
    and width both match the child exchange, Catalyst elides it as
    already-satisfied and AQE re-coalesces the survivor (the
    pinned_width collision bug, round 6) — so assert the executed
    partition count, which only the real pin can produce."""
    from hbase_bulkload_service_spark.session import pinned_width

    df = registry.QUERIES["q36_ngram_jaccard"](spark, SF_DIR)
    width = pinned_width(spark)
    assert width != int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert df.rdd.getNumPartitions() == width


def test_triangle_counts_no_cartesian(spark):
    """q113: wedge + closing joins are keyed equi-joins."""
    plan = formatted_plan(
        registry.QUERIES["q113_triangle_counts"](spark, SF_DIR)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_canonical_selection_single_exchange(spark):
    """q123's agg+join-free shape: both windows share the md5 hash
    partitioning, so the whole verdict table costs ONE Exchange."""
    from hbase_bulkload_service_spark.operators import curation
    from hbase_bulkload_service_spark.sources.tables import load

    import re

    plan = formatted_plan(
        curation.canonical_selection(load(spark, SF_DIR, "documents"))
    )
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "rangepartitioning" not in plan  # no global sort crept in


def test_quantized_topk_broadcasts_queries_not_corpus(spark):
    """q122: the query side broadcasts; the corpus is never shuffled
    before scoring (only the final per-query top-k window exchanges)."""
    from hbase_bulkload_service_spark.operators import similarity
    from hbase_bulkload_service_spark.sources.tables import load

    plan = formatted_plan(
        similarity.quantized_topk(load(spark, SF_DIR, "embeddings"), k=5)
    )
    assert "BroadcastExchange" in plan
    assert "WindowGroupLimit" in plan  # top-k heap path, not full sort+filter


def test_heavy_hitters_candidate_join_is_broadcast(spark):
    """q117 pass 2: candidates broadcast onto the stream — the full
    distinct-item space must not hash-shuffle on the scan side."""
    from hbase_bulkload_service_spark.operators import analytics
    from hbase_bulkload_service_spark.sources.tables import load

    words = load(spark, SF_DIR, "documents").selectExpr(
        "explode(split(trim(regexp_replace(lower(text), '\\\\s+', ' ')), ' ')) AS word"
    )
    plan = formatted_plan(analytics.heavy_hitters(words, "word", phi_ppm=34_000))
    assert "BroadcastExchange" in plan
    assert "BroadcastHashJoin" in plan


def test_concat_packing_single_exchange_no_join(spark):
    """q173: ONE shard exchange total — the rank and running-sum windows
    ride it, and even the (shard, seq) rollup is satisfied by the shard
    partitioning (grouping keys are a superset), so no second exchange
    ever appears. Nothing joins."""
    from hbase_bulkload_service_spark.operators import textops
    from hbase_bulkload_service_spark.sources.tables import load

    plan = formatted_plan(
        textops.concat_pack_stats(load(spark, SF_DIR, "documents"), seq_len=64)
    )
    assert "Join" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert len(re.findall(r"\(\d+\) Window", plan)) == 2


def test_stl_decompose_single_exchange_no_join(spark):
    """q182: ONE series exchange total — the (series, phase) seasonal
    window's clustering is satisfied by the series partitioning
    (superset keys), so Catalyst re-sorts the same partitions instead
    of re-exchanging. Zero joins (both means are windows, not
    agg-then-join-back)."""
    from hbase_bulkload_service_spark.operators import analytics
    from hbase_bulkload_service_spark.sources.tables import load_events

    plan = formatted_plan(analytics.stl_decompose(load_events(spark, SF_DIR)))
    assert "Join" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_vocab_coverage_broadcasts_the_vocab_and_take_orders_the_cut(spark):
    """q177: the V-cut is TakeOrderedAndProject (never a global sort)
    and the vocabulary joins back by BroadcastExchange."""
    from hbase_bulkload_service_spark.operators import textops
    from hbase_bulkload_service_spark.sources.tables import load

    plan = formatted_plan(
        textops.vocab_coverage(load(spark, SF_DIR, "documents"), 100)
    )
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_ivfpq_broadcasts_probe_list_and_adc_table(spark):
    """q175: the only sort-merge-eligible join is the id-keyed
    codes x cells join; probe list and ADC table broadcast."""
    from hbase_bulkload_service_spark.operators import similarity
    from hbase_bulkload_service_spark.sources.tables import load

    plan = formatted_plan(
        similarity.ivfpq_topk(load(spark, SF_DIR, "embeddings"))
    )
    assert "BroadcastExchange" in plan
    # raw vectors never shuffle: no exchange output carries the vm array
    assert len(re.findall(r"BroadcastHashJoin", plan)) >= 2


def test_char_diversity_two_agg_levels_no_joins(spark):
    """q212: explode → (doc, char) partial agg → doc agg — exactly two
    shuffle exchanges beyond the spread fixture's, zero joins, zero
    windows. The whole gate is agg-only by design."""
    plan = formatted_plan(
        registry.QUERIES["q212_char_diversity"](spark, SF_DIR)
    )
    assert "Join" not in plan and "Window" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 3  # spread + 2


def test_layout_pruning_all_small_joins_broadcast(spark):
    """q211: every post-agg relation is (layouts × probes)-bounded and
    must broadcast — a SortMergeJoin over the metadata tables would
    mean the planner lost the hints; the probe range-joins are
    broadcast nested-loop by construction."""
    plan = formatted_plan(
        registry.QUERIES["q211_layout_pruning"](spark, SF_DIR)
    )
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # probe range joins


def test_countmin_estimation_rides_broadcasts_and_take_ordered(spark):
    """q215: the top-n cut is TakeOrderedAndProject (never a global
    sort) and every estimation join is broadcast — the sketch cells
    and the top keys are metadata-sized by construction."""
    plan = formatted_plan(
        registry.QUERIES["q215_countmin_sketch"](spark, SF_DIR)
    )
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_token_tvd_no_cartesian_no_window(spark):
    """q216: the absent-mass algebra keeps the plan join+agg only —
    no source×vocab grid (cartesian) ever forms, and no window runs;
    the 1-row corpus total rides a broadcast nested loop."""
    plan = formatted_plan(registry.QUERIES["q216_token_tvd"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_cluster_split_fold_is_pure_map_over_ledger_join(spark):
    """q210: one doc_id-keyed ledger join (broadcastable), fold hashing
    map-side — no cartesian, no extra window beyond the ledger's
    cluster_size count."""
    plan = formatted_plan(
        registry.QUERIES["q210_cluster_split"](spark, SF_DIR)
    )
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1


def test_tokenizer_fertility_vocab_join_broadcasts(spark):
    """q213: the per-word token counts join the corpus via broadcast
    (vocabulary ≪ corpus — bpe_encode's memoization contract), and the
    lang rollup is agg-only."""
    plan = formatted_plan(
        registry.QUERIES["q213_tokenizer_fertility"](spark, SF_DIR)
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan


def test_nprobe_recall_gating_joins_broadcast(spark):
    """q217: the (nprobe, query, cell) allow-list, ground truth, and
    per-budget tallies all broadcast; the only corpus-sized join is
    alld⋈assignment on vec_id. No cartesian anywhere (the query side
    is an explicit tiny broadcast)."""
    plan = formatted_plan(
        registry.QUERIES["q217_nprobe_recall"](spark, SF_DIR)
    )
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 4


def test_lookup_join_big_dim_bucketed_no_dim_side_exchange(spark, tmp_path):
    """F1's actual 100 TB shape (VERDICT r06 item 5): a dim past the
    broadcast threshold, stored bucketed BY rowkey, joins as a
    sort-merge/shuffled-hash join in which ONLY the probe side
    exchanges — the bucketed scan satisfies the dim side's distribution
    (the Spark analog of the reference's per-row RPC lookup,
    HBaseRowDataLookupFunction.java:76-86, without the per-row RPC)."""
    from hbase_bulkload_service_spark.operators.table import lookup_join

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        dim = spark.range(0, 20000).select(
            F.col("id").alias("rowkey"), (F.col("id") * 7).alias("val")
        )
        spark.sql("DROP TABLE IF EXISTS dim_bucketed_pin")
        dim.write.bucketBy(8, "rowkey").sortBy("rowkey").mode(
            "overwrite"
        ).option("path", str(tmp_path / "dimtbl")).saveAsTable(
            "dim_bucketed_pin"
        )
        dimt = spark.table("dim_bucketed_pin")
        probe = spark.range(0, 5000).select(
            (F.col("id") % 20000).alias("k"), F.lit(1).alias("x")
        )
        j = lookup_join(probe, "k", dimt, broadcast=False)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan), plan
        assert "BroadcastHashJoin" not in plan
        # exactly ONE exchange — the probe side; the bucketed dim scan
        # satisfies its distribution requirement directly
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert "Bucketed: true" in plan, plan
        # and the single exchange is keyed on the PROBE column
        import re as _re

        m = _re.search(r"Exchange hashpartitioning\((\w+)#", plan)
        assert m and m.group(1) == "k", plan
        # result sanity: every probe key under 20000 matches
        assert j.count() == 5000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS dim_bucketed_pin")


def test_lookup_join_default_still_broadcasts(spark):
    """The default small-dim path keeps the broadcast hint (q05's
    pinned shape) — the bucketed fallback is opt-in."""
    plan = formatted_plan(registry.QUERIES["q05_lookup_join"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_aqe_splits_skewed_join_partition(spark):
    """AQE skew-join is the engine's AUTOMATIC answer to the hot-key
    shape q28 mitigates manually with salting: one probe-side key
    carrying most of the rows gets its shuffle partition split at
    runtime (OptimizeSkewedJoin; 'skew=true' in the final adaptive
    plan). Pinned so a conf regression that silently disables AQE skew
    handling fails a test, not a production job. Thresholds are lowered
    locally because the fixture is MBs, not GBs — the mechanism, not
    the default trigger sizes, is the contract."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        from pyspark.sql import functions as F

        # 50k rows on ONE key vs a trickle on 50 others
        probe = spark.range(50_000).select(
            F.when(F.col("id") % 50 == 0, F.col("id") % 50)
            .otherwise(F.lit(7))
            .alias("k"),
            F.col("id").alias("payload"),
        )
        dim = spark.range(50).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("dv")
        )
        # the downstream aggregate must NOT need the join's hash
        # partitioning (a groupBy on the join key would make AQE refuse
        # the split — splitting breaks the partitioning it requires)
        out = probe.join(dim, "k").agg(F.sum("payload").alias("s"))
        out.collect()  # AQE finalizes only on execution
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# -- the service read: a raw-``ts`` bound ahead of the hour expression -----

_WINDOW_DAY0_MS = 1704067200000  # 2024-01-01T00:00Z
_DAY_MS = 86_400_000


def _write_events(path, ts_type, n=4000, days=8, row_group_size=None):
    """``n`` events evenly over ``days`` days from 2024-01-01, in time order."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    step_ms = days * _DAY_MS // n
    ms = [_WINDOW_DAY0_MS + i * step_ms for i in range(n)]
    scale = 1_000_000 if ts_type.unit == "ns" else 1000
    table = pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array([m * scale for m in ms], ts_type),
        "user_id": pa.array([i % 2 for i in range(n)], pa.int64()),
        "event_type": ["view" if i % 3 else "click" for i in range(n)],
        "value": pa.array([float(i % 97) for i in range(n)]),
        "props": ["{}"] * n,
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        table, os.path.join(path, "events.parquet"), row_group_size=row_group_size
    )


def _service_kv(spark, src, start_ms, end_ms):
    """The frame a bulkload request writes (``api._run_pipeline``)."""
    from hbase_bulkload_service_spark.operators import tsdb
    from hbase_bulkload_service_spark.sources.tables import load_events

    cells = tsdb.derive_tsdb_cells(load_events(spark, src))
    return tsdb.bulkload_kv(tsdb.hour_range_filter(cells, start_ms, end_ms))


@pytest.mark.parametrize("kind", ["ntz", "ltz", "nanos"])
def test_service_scan_bounds_raw_ts_before_the_hour_test(spark, tmp_path, kind):
    """The window reaches the scan as a bound on the raw ``ts`` (a
    ``timestamp_ntz``, ``timestamp`` or long literal), and the scan's filter
    tests it BEFORE the ``div`` hour expression: the bound spares the rows
    outside it that expression, which is most of the request's scan time
    on a file Spark cannot prune (NTZ)."""
    import pyarrow as pa

    ts_type = {
        "ntz": pa.timestamp("us"),
        "ltz": pa.timestamp("us", tz="UTC"),
        "nanos": pa.timestamp("ns"),
    }[kind]
    src = str(tmp_path / kind)
    _write_events(src, ts_type)
    start = _WINDOW_DAY0_MS + 2 * _DAY_MS
    plan = formatted_plan(_service_kv(spark, src, start, start + _DAY_MS))
    assert re.search(r"PushedFilters: \[.*GreaterThanOrEqual\(ts,", plan), plan
    assert re.search(r"PushedFilters: \[.*LessThan\(ts,", plan), plan
    conds = [
        c for c in re.findall(r"\) Filter\nInput \[.*?\]\nCondition : (.*)\n", plan)
        if " div " in c
    ]
    assert len(conds) == 1, plan
    c = conds[0]
    lo, hi = re.search(r"ts#\d+L? >= ", c), re.search(r"ts#\d+L? < ", c)
    assert lo and hi, c
    assert max(lo.start(), hi.start()) < c.index(" div "), c


def test_service_scan_prunes_row_groups_of_a_utc_ts(spark, tmp_path):
    """On a UTC-adjusted ``ts`` (LTZ) parquet prunes by row-group stats: a
    window inside one of four row groups reads that group only."""
    import pyarrow as pa

    from hbase_bulkload_service_spark import obs

    src = str(tmp_path / "ltz")
    _write_events(src, pa.timestamp("us", tz="UTC"), n=4000, row_group_size=1000)
    # row group 1 holds days 2-3; the window and its hour of slack stay inside
    start = _WINDOW_DAY0_MS + 2 * _DAY_MS + 12 * 3_600_000
    kv = _service_kv(spark, src, start, start + _DAY_MS)
    sc = spark.sparkContext
    sc.setJobGroup("ltz-prune", "ltz-prune")
    try:
        kv.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    records = obs.group_record(spark, "ltz-prune")["input_records"]
    assert 0 < records <= 1000, records
