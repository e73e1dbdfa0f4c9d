"""Wave-10 operators: data-quality expectations audit, ROLLUP totals,
PMI-lift term cooccurrence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hbase_bulkload_service_spark.operators import quality, textops


# ---------------------------------------------------------------------------
# expectations_audit
# ---------------------------------------------------------------------------


def _audit_map(df_out):
    return {
        r["expectation"]: (r["n_checked"], r["n_failed"], r["ok"])
        for r in df_out.collect()
    }


def test_audit_row_checks_null_predicate_is_failure(spark):
    """NULL predicate results (e.g. range check on a NULL value) must
    count as FAILED, not silently pass through three-valued logic."""
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, -5)], "id long, v int"
    )
    out = _audit_map(
        quality.expectations_audit(
            df, row_checks=[("v_nonneg", F.col("v") >= 0)]
        )
    )
    assert out == {"v_nonneg": (3, 2, False)}  # NULL row + negative row


def test_audit_uniqueness_surplus_and_null_keys(spark):
    """Uniqueness counts the duplicate surplus over NON-NULL key tuples;
    NULL-keyed rows are excluded from both checked and failed."""
    df = spark.createDataFrame(
        [(1,), (1,), (1,), (2,), (None,)], "k int"
    )
    out = _audit_map(
        quality.expectations_audit(df, unique_keys=[("k_unique", ["k"])])
    )
    # 4 non-null rows, 2 distinct -> surplus 2
    assert out == {"k_unique": (4, 2, False)}


def test_audit_composite_uniqueness(spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (1, "b"), (None, "a")], "k int, s string"
    )
    out = _audit_map(
        quality.expectations_audit(
            df, unique_keys=[("ks_unique", ["k", "s"])]
        )
    )
    assert out == {"ks_unique": (3, 1, False)}


def test_audit_fk_ignores_null_children(spark):
    child = spark.createDataFrame(
        [(1,), (2,), (99,), (None,)], "fk int"
    )
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk int")
    out = _audit_map(
        quality.expectations_audit(
            child, fk_checks=[("fk_ok", "fk", parent, "pk")]
        )
    )
    assert out == {"fk_ok": (3, 1, False)}  # NULL excluded, 99 orphan


def test_audit_all_green_and_fused_single_scan(spark):
    """All ROW checks over one table must plan as a SINGLE scan of that
    table (one fused aggregate), not one scan per predicate. Each
    uniqueness check adds exactly ONE key-pruned scan whose distinct
    aggregation rides a width-pinned numbered repartition (the r05
    verdict's q130 fix: the old count_distinct expand branch let AQE
    byte-coalesce the CPU-heavy distinct agg onto 3-6 tasks at 10×)."""
    df = spark.createDataFrame(
        [(i, i % 7, f"s{i}") for i in range(100)], "id long, v long, s string"
    )
    rows_only = quality.expectations_audit(
        df,
        row_checks=[
            ("id_not_null", F.col("id").isNotNull()),
            ("v_range", F.col("v").between(0, 6)),
            ("s_prefix", F.col("s").startswith("s")),
        ],
    )
    plan = rows_only._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("LogicalRDD") == 1  # one scan feeds every row check

    audit = quality.expectations_audit(
        df,
        row_checks=[
            ("id_not_null", F.col("id").isNotNull()),
            ("v_range", F.col("v").between(0, 6)),
            ("s_prefix", F.col("s").startswith("s")),
        ],
        unique_keys=[("id_unique", ["id"])],
    )
    out = _audit_map(audit)
    assert all(v == (100, 0, True) for v in out.values()) and len(out) == 4
    plan = audit._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("LogicalRDD") == 2  # fused row scan + 1 unique scan
    assert "Expand" not in plan  # no count_distinct expand branch
    # AQE-coalesce-exempt numbered repartition carries the distinct agg
    assert "RepartitionByExpression [id" in plan
    phys = audit._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in phys


def test_audit_rejects_empty_and_duplicate_names(spark):
    df = spark.createDataFrame([(1,)], "k int")
    with pytest.raises(ValueError, match="no expectations"):
        quality.expectations_audit(df)
    with pytest.raises(ValueError, match="duplicate expectation"):
        quality.expectations_audit(
            df,
            row_checks=[("x", F.col("k") > 0)],
            unique_keys=[("x", ["k"])],
        )
    with pytest.raises(ValueError, match="empty key list"):
        quality.expectations_audit(df, unique_keys=[("u", [])])


def test_audit_empty_table(spark):
    df = spark.createDataFrame([], "k int")
    out = _audit_map(
        quality.expectations_audit(
            df,
            row_checks=[("k_pos", F.col("k") > 0)],
            unique_keys=[("k_unique", ["k"])],
        )
    )
    assert out == {"k_pos": (0, 0, True), "k_unique": (0, 0, True)}


# ---------------------------------------------------------------------------
# term_cooccurrence
# ---------------------------------------------------------------------------


def test_cooccurrence_exact_lift_small(spark):
    """Hand-checkable corpus: 4 docs; 'a b' co-occur in 2 docs,
    df_a=3, df_b=2, N=4 -> lift = 2*4/(3*2) = 1.333... -> 1333333333
    ppb (truncating integer div)."""
    docs = spark.createDataFrame(
        [
            (1, "a b x1"),
            (2, "a b x2"),
            (3, "a x3"),
            (4, "c x4"),
        ],
        "doc_id long, text string",
    )
    out = textops.term_cooccurrence(docs, min_df=1, max_df=10, min_co=2)
    rows = {(r["term_a"], r["term_b"]): r for r in out.collect()}
    ab = rows[("a", "b")]
    assert (ab["df_a"], ab["df_b"], ab["co_df"]) == (3, 2, 2)
    assert ab["score_ppb"] == 2 * 1_000_000_000 * 4 // (3 * 2)
    # pairs below min_co are pruned
    assert ("a", "c") not in rows


def test_cooccurrence_band_excludes_stopwords_and_hapaxes(spark):
    """df-band blocking: 'the' (in every doc) and 'rare' (one doc) never
    enter the pair join — the scale contract, asserted via output."""
    docs = spark.createDataFrame(
        [
            (
                i,
                f"the w{i % 2}"
                + (" mid" if i < 9 else "")
                + (" rare" if i == 0 else ""),
            )
            for i in range(10)
        ],
        "doc_id long, text string",
    )
    out = textops.term_cooccurrence(docs, min_df=2, max_df=9, min_co=2)
    rows = out.collect()
    terms = {t for r in rows for t in (r["term_a"], r["term_b"])}
    assert terms == {"w0", "w1", "mid"}  # 'the' (df=10), 'rare' (df=1) out
    co = {(r["term_a"], r["term_b"]): r["co_df"] for r in rows}
    assert co == {("mid", "w0"): 5, ("mid", "w1"): 4}  # w0/w1 never co-occur


def test_cooccurrence_relative_band_matches_absolute(spark):
    """rel_ppm band == the equivalent absolute band on a known corpus
    (N=10: [200000, 900000] ppm == df in [2, 9])."""
    docs = spark.createDataFrame(
        [(i, f"x y{'y' * (i % 3)} z{i % 5}") for i in range(10)],
        "doc_id long, text string",
    )
    rel = textops.term_cooccurrence(
        docs, min_df=200_000, max_df=900_000, min_co=2, rel_ppm=True
    )
    ab = textops.term_cooccurrence(docs, min_df=2, max_df=9, min_co=2)
    assert sorted(map(tuple, rel.collect())) == sorted(map(tuple, ab.collect()))


def test_cooccurrence_distinct_per_doc(spark):
    """Repeated terms inside one doc count once (document cooccurrence,
    not token cooccurrence)."""
    docs = spark.createDataFrame(
        [(1, "a a a b b"), (2, "a b")], "doc_id long, text string"
    )
    out = textops.term_cooccurrence(docs, min_df=1, max_df=10, min_co=1)
    r = out.collect()
    assert len(r) == 1 and r[0]["co_df"] == 2 and r[0]["df_a"] == 2


def test_cooccurrence_rejects_bad_band(spark):
    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError, match="min_df <= max_df"):
        textops.term_cooccurrence(docs, min_df=5, max_df=2)


# ---------------------------------------------------------------------------
# rollup gate plan contract
# ---------------------------------------------------------------------------


def test_rollup_gate_plans_single_expand_aggregate(spark, sf_dir):
    """q131 must plan ONE Expand + hash aggregate over ONE scan — not a
    union of three separate aggregations."""
    from hbase_bulkload_service_spark.queries.analytics import q131_rollup_totals

    df = q131_rollup_totals(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Expand") == 1
    assert plan.count("ReadSchema") == 1  # exactly one parquet scan
    gids = {r["gid"] for r in df.collect()}
    assert gids == {0, 1, 3}  # detail, per-source subtotal, grand total


def test_audit_rejects_injection_prone_names(spark):
    """Expectation names are spliced into stack(...) SQL as literals —
    quotes/parens must be rejected, not silently break the expression."""
    df = spark.createDataFrame([(1,)], "k int")
    with pytest.raises(ValueError, match="alphanumeric"):
        quality.expectations_audit(
            df, row_checks=[("bad'name", F.col("k") > 0)]
        )
