"""Wave-8 operators: sketch accuracy verdicts, exact heavy hitters.
(The HFile containers are covered in test_hfilev3.py and test_bulkload_hfile.py.)"""

from __future__ import annotations

import collections
import random

from pyspark.sql import functions as F

from hbase_bulkload_service_spark.operators import analytics


def test_heavy_hitters_exact_on_skew(spark):
    """Skewed stream with far more distinct items than MG counters —
    decrement steps must fire and the result must still be EXACT."""
    rng = random.Random(11)
    items = (
        ["hot"] * 4000
        + ["warm"] * 1500
        + ["mild"] * 700
        + [f"rare-{rng.randrange(5000)}" for _ in range(4000)]
    )
    rng.shuffle(items)
    df = spark.createDataFrame([(i,) for i in items], "item string").repartition(7)
    phi_ppm = 60_000  # 6% of 10200 rows = 612; k = 2*ceil(1/phi) = 34 counters
    got = {
        r["item"]: r["cnt"]
        for r in analytics.heavy_hitters(df, "item", phi_ppm=phi_ppm).collect()
    }
    exact = collections.Counter(items)
    want = {
        i: c for i, c in exact.items() if c * 1_000_000 >= phi_ppm * len(items)
    }
    assert got == want
    assert "hot" in got and "mild" in got  # non-degenerate split


def test_heavy_hitters_ignores_nulls_and_handles_empty(spark):
    df = spark.createDataFrame(
        [("a",), (None,), ("a",), ("b",), (None,)], "item string"
    )
    got = {
        r["item"]: r["cnt"]
        for r in analytics.heavy_hitters(df, "item", phi_ppm=500_000).collect()
    }
    assert got == {"a": 2}  # threshold base = 3 non-null rows; b (1/3) misses
    empty = spark.createDataFrame([], "item string")
    assert analytics.heavy_hitters(empty, "item", phi_ppm=10_000).count() == 0


def test_heavy_hitters_rejects_bad_phi(spark):
    import pytest

    df = spark.createDataFrame([("a",)], "item string")
    with pytest.raises(ValueError):
        analytics.heavy_hitters(df, "item", phi_ppm=0)
    with pytest.raises(ValueError):
        analytics.heavy_hitters(df, "item", phi_ppm=2_000_000)


def test_sketch_accuracy_bounds_hold_and_are_exactly_typed(spark, sf_dir):
    from hbase_bulkload_service_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir).withColumn(
        "cents", F.floor(F.col("value") * 100).cast("long")
    )
    out = analytics.sketch_accuracy(ev, "event_type", "user_id", "cents")
    rows = out.collect()
    assert rows and all(r["hll_within_bound"] for r in rows)
    assert all(r["gk_rank_within_bound"] for r in rows)
    # exact side really is exact
    exact = {
        (r["event_type"]): (r["n"], r["d"])
        for r in ev.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.countDistinct("user_id").alias("d"))
        .collect()
    }
    for r in rows:
        assert exact[r["event_type"]] == (r["n_rows"], r["exact_distinct"])


def test_sketch_accuracy_flags_a_violated_bound(spark):
    """With an absurdly tight distinct bound (0 ppm) the HLL verdict must
    go False whenever the estimate differs at all — proving the boolean
    actually tests something (not hardwired TRUE)."""
    rows = [(i % 3, i * 37 % 1009, i % 101) for i in range(5000)]
    df = spark.createDataFrame(rows, "k int, u int, v int")
    out = analytics.sketch_accuracy(
        df, "k", "u", "v", distinct_err_ppm=0, rank_err_ppm=0
    ).collect()
    est = {
        r["k"]: r["approx_distinct"]
        for r in analytics.sketch_profile(df, "k", "u", "v").collect()
    }
    for r in out:
        should = est[r["k"]] == r["exact_distinct"]
        assert r["hll_within_bound"] == should


# ---------------------------------------------------------------------------
# iterative k-means (kmeans_lloyd)
# ---------------------------------------------------------------------------

def test_kmeans_lloyd_separates_blobs_and_is_deterministic(spark):
    from hbase_bulkload_service_spark.operators import similarity

    # two tight, far-apart blobs; ids interleaved so init (2 lowest ids)
    # starts with one centroid in each blob
    rows = []
    for i in range(20):
        base = 0.9 if i % 2 == 0 else -0.9
        rows.append((i, [base + 0.001 * (i % 5), base, base]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out1 = {
        r["vec_id"]: r["cluster"]
        for r in similarity.kmeans_lloyd(df, k=2, iters=2).collect()
    }
    assert set(out1.values()) == {0, 1}
    for i, c in out1.items():
        assert c == (0 if i % 2 == 0 else 1)  # blob == parity of id
    out2 = {
        r["vec_id"]: r["cluster"]
        for r in similarity.kmeans_lloyd(df, k=2, iters=2).collect()
    }
    assert out1 == out2


def test_kmeans_lloyd_empty_cluster_keeps_centroid(spark):
    from hbase_bulkload_service_spark.operators import similarity

    # k=3 but only two real blobs: init centroids 0,1,2 — vec 2 sits in
    # blob A, so some centroid is starved after round 1; must not crash
    # and must still assign every vector
    rows = [(i, [1.0, 1.0]) for i in range(0, 6)] + [
        (i, [-1.0, -1.0]) for i in range(6, 12)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.kmeans_lloyd(df, k=3, iters=2).collect()
    assert len(out) == 12
    assert all(r["d2"] >= 0 for r in out)


def test_kmeans_lloyd_rejects_bad_args(spark):
    import pytest

    from hbase_bulkload_service_spark.operators import similarity

    df = spark.createDataFrame([(1, [0.0])], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError):
        similarity.kmeans_lloyd(df, k=0)
    with pytest.raises(ValueError):
        similarity.kmeans_lloyd(df, k=2, iters=-1)


# ---------------------------------------------------------------------------
# bigram-LM quality scoring
# ---------------------------------------------------------------------------

def test_bigram_lm_scores_exact_tiny_corpus(spark):
    from hbase_bulkload_service_spark.operators import textops

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "z"), (4, "")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["n_bigrams"], r["score_ppb"])
           for r in textops.bigram_lm_scores(docs).collect()}
    # corpus: words a,b,a,b,a,b,z -> c1(a)=3, c1(b)=3, c1(z)=1, V=3
    # doc1 bigrams (a,b),(b,a),(a,b); doc2 (a,b) -> c2(a,b)=3, c2(b,a)=1
    p_ab = (3 + 1) * 1_000_000_000 // (3 + 3)   # 666666666
    p_ba = (1 + 1) * 1_000_000_000 // (3 + 3)   # 333333333
    d1 = (2 * p_ab + p_ba) // 3                  # 555555555
    assert out[1] == (3, d1)
    assert out[2] == (1, p_ab)
    assert 3 not in out and 4 not in out  # <2 words -> no row


# ---------------------------------------------------------------------------
# fixed-round connected components + key skew profile
# ---------------------------------------------------------------------------

def test_connected_components_rounds_labels_within_radius(spark):
    from hbase_bulkload_service_spark.operators import graph

    # path 1-2-3-4-5-6 plus isolated edge 10-11
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11)],
        "doc_a long, doc_b long",
    )
    out = {
        r["node"]: r["component"]
        for r in graph.connected_components_rounds(pairs, rounds=4).collect()
    }
    # distance from node 1: node 5 is 4 hops, node 6 is 5 hops -> after 4
    # rounds everything but 6 reaches label 1; 6 sees only label 2's min
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 2, 10: 10, 11: 10}
    # one more round closes the path
    out5 = {
        r["node"]: r["component"]
        for r in graph.connected_components_rounds(pairs, rounds=5).collect()
    }
    assert out5[6] == 1
    import pytest

    with pytest.raises(ValueError):
        graph.connected_components_rounds(pairs, rounds=0)


def test_key_skew_profile_buckets_exact(spark):
    from hbase_bulkload_service_spark.operators import analytics

    rows = [("hot",)] * 9 + [("warm",)] * 2 + [("a",), ("b",), ("c",)]
    df = spark.createDataFrame(rows, "k string")
    out = {
        r["log2_bucket"]: (r["n_keys"], r["n_rows"], r["min_cnt"], r["max_cnt"])
        for r in analytics.key_skew_profile(df, "k").collect()
    }
    # cnt=9 -> bucket 3; cnt=2 -> bucket 1; cnt=1 x3 -> bucket 0
    assert out == {3: (1, 9, 9, 9), 1: (1, 2, 2, 2), 0: (3, 3, 1, 1)}


# ---------------------------------------------------------------------------
# int8 quantization ANN
# ---------------------------------------------------------------------------

def test_quantize_int8_codes_and_zero_vector(spark):
    from hbase_bulkload_service_spark.operators import similarity

    df = spark.createDataFrame(
        [(1, [0.5, -0.25, 0.0]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    out = {r["vec_id"]: (list(r["qvec"]), r["qscale"])
           for r in similarity.quantize_int8(df).collect()}
    # vec 1: micros (500000, -250000, 0), scale 500000
    #   codes: 500000*127//500000=127, -250000*127 div 500000 = -63 (trunc)
    assert out[1] == ([127, -63, 0], 500000)
    assert out[2] == ([0, 0, 0], 0)  # zero vector: scale 0, no div-by-zero
    assert all(-127 <= c <= 127 for codes, _ in out.values() for c in codes)


def test_quantized_topk_agrees_with_float_on_separated_data(spark):
    """Quantization preserves ranking when gaps are large: nearest
    neighbor in quantized space == nearest in float space."""
    from hbase_bulkload_service_spark.operators import similarity

    rows = [
        (0, [1.0, 0.0, 0.0]),    # query (id % 2 == 0 with every=2)
        (1, [0.99, 0.1, 0.0]),   # near
        (3, [0.0, 1.0, 0.0]),    # orthogonal
        (5, [-1.0, 0.0, 0.0]),   # opposite
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = [
        (r["rank"], r["neighbor_id"])
        for r in similarity.quantized_topk(df, k=3, every=2)
        .orderBy("query_id", "rank")
        .collect()
    ]
    assert out == [(1, 1), (2, 3), (3, 5)]


def test_canonical_selection_picks_longest_then_lowest_id(spark):
    from hbase_bulkload_service_spark.operators import curation

    docs = spark.createDataFrame(
        [
            (1, "Hello   world"),   # normalizes same as 3 but SHORTER norm? no:
            (3, "hello world"),     # same normalized text as 1 -> group of 2
            (2, "hello world!!"),   # distinct text, singleton
            (5, "aaa"), (4, "aaa"),  # equal length -> lowest id wins
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["canonical_id"], r["group_n"], r["keep"])
           for r in curation.canonical_selection(docs).collect()}
    assert out[1] == (1, 2, True) and out[3] == (1, 2, False)
    assert out[2] == (2, 1, True)
    assert out[4] == (4, 2, True) and out[5] == (4, 2, False)


def test_ann_recall_counts_hits_and_zero_hit_queries(spark):
    from hbase_bulkload_service_spark.operators import similarity

    truth = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 20), (2, 21), (2, 22)],
        "query_id long, neighbor_id long",
    )
    approx = spark.createDataFrame(
        [(1, 10), (1, 99), (1, 12), (2, 97), (2, 98), (2, 99)],
        "query_id long, neighbor_id long",
    )
    out = {r["query_id"]: (r["hits"], r["recall_ppm"])
           for r in similarity.ann_recall(truth, approx, k=3).collect()}
    assert out[1] == (2, 666666)
    assert out[2] == (0, 0)  # zero-hit query still present
    import pytest

    with pytest.raises(ValueError):
        similarity.ann_recall(truth, approx, k=0)


def test_q125_permissive_corrupt_classification(spark, sf_dir):
    """The q125 gate query round-trips a CSV with planted corruptions:
    PERMISSIVE mode must capture EXACTLY the every-7th planted rows in
    `_corrupt` (no false positives from well-formed lines) and parse
    every clean row losslessly, so the good-row checksum equals the one
    computed straight off the parquet base table."""
    from hbase_bulkload_service_spark.queries.bulkload import q125_corrupt_records
    from hbase_bulkload_service_spark.sources.tables import load_events

    out = q125_corrupt_records(spark, sf_dir).collect()[0]
    base = (
        load_events(spark, sf_dir)
        .filter(F.col("user_id") % 53 == 0)
        .withColumn("cents", F.floor(F.col("value") * 100).cast("long"))
        .agg(
            F.count("*").alias("n"),
            F.count(F.when(F.col("event_id") % 7 == 0, 1)).alias("bad"),
            F.sum(
                F.when(F.col("event_id") % 7 != 0, F.col("cents"))
            ).alias("good_sum"),
        )
        .collect()[0]
    )
    assert out["n_rows"] == base["n"]
    assert out["n_bad"] == base["bad"]
    assert out["n_good"] == base["n"] - base["bad"]
    assert out["sum_cents_good"] == base["good_sum"]


def test_sketch_accuracy_keeps_null_key_group(spark):
    """NULL-key groups must survive the profile join (null-safe <=>):
    DuckDB's GROUP BY keeps the NULL group, so dropping it would break
    the q115 gate the moment the key column goes nullable."""
    rows = [(None if i % 5 == 0 else f"k{i % 3}", i * 7 % 97, i) for i in range(500)]
    df = spark.createDataFrame(rows, "k string, u int, v long")
    out = analytics.sketch_accuracy(df, "k", "u", "v").collect()
    keys = {r["k"] for r in out}
    assert None in keys and len(keys) == 4
    nrow = next(r for r in out if r["k"] is None)
    assert nrow["n_rows"] == 100
    assert nrow["hll_within_bound"] and nrow["gk_rank_within_bound"]


def test_gate_scratch_dirs_are_unique_per_call():
    """A re-run must not overwrite part files an earlier call's lazy
    readback frame still references."""
    from hbase_bulkload_service_spark.queries.bulkload import _scratch

    a, b = _scratch("probe"), _scratch("probe")
    assert a != b


def test_bench_compare_survives_disjoint_query_sets():
    import sys

    sys.path.insert(0, "/root/repo/tools")
    try:
        import bench_compare
    finally:
        sys.path.pop(0)

    cal = {"spark_shuffle_ms": 100.0, "py_loop_ms": 100.0}
    old = {"queries": {"q1": 1.0}, "calibration": cal}
    new = {"queries": {"q2": 2.0}, "calibration": cal}
    rep = bench_compare.compare(old, new)
    assert rep["n_common"] == 0 and rep["total_raw_ratio"] is None
    assert "note" in rep
