"""Curation and sampling queries: corpus builds, weighted and stratified
samples, mixture allocation, packing (``operators.curation``) and the
data-quality audits (``operators.quality``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hbase_bulkload_service_spark.functions.codec import epoch_millis
from hbase_bulkload_service_spark.operators import curation, quality, textops
from hbase_bulkload_service_spark.oracle_frags import (
    _BANDS_SQL,
    _LANG_SCORE_SQL,
    _SIG_COLS,
    CHAR_DIVERSITY_ORACLE,
    DOCS_NORM_CTE,
    NT,
    _sh_cte,
)
from hbase_bulkload_service_spark.registry import _orders_row_checks, cents, register
from hbase_bulkload_service_spark.sources.tables import load, load_events


CORPUS_CURATION_ORACLE = f"""
    WITH RECURSIVE {DOCS_NORM_CTE},
    padded AS (SELECT doc_id, text, ' ' || nt || ' ' AS pt FROM w),
    scores AS ({_LANG_SCORE_SQL}),
    best AS (
      SELECT doc_id, lang, score,
             row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
      FROM scores
    ),
    li AS (
      SELECT b.doc_id,
             CASE WHEN octet_length(encode(d.text)) > length(d.text) * 2
                  THEN 'zh' ELSE b.lang END AS pred_lang
      FROM best b JOIN documents d ON d.doc_id = b.doc_id
      WHERE rn = 1
    ),
    led AS (
      SELECT w.doc_id, li.pred_lang, len(w.ws) AS n_tokens, md5(w.nt) AS content_md5,
             li.pred_lang = 'en' AS lang_ok,
             len(w.ws) BETWEEN 25 AND 2000 AS tok_ok
      FROM w JOIN li ON li.doc_id = w.doc_id
    ),
    ex AS (
      SELECT *, MIN(CASE WHEN lang_ok AND tok_ok THEN doc_id END)
                  OVER (PARTITION BY content_md5) AS keeper
      FROM led
    ),
    s2 AS (SELECT doc_id FROM ex WHERE lang_ok AND tok_ok AND doc_id = keeper),
    {_sh_cte("w JOIN s2 USING (doc_id)")},
    sig AS (SELECT doc_id, {_SIG_COLS} FROM sh GROUP BY doc_id),
    bk AS ({_BANDS_SQL}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket
      WHERE a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY c.doc_a, c.doc_b
    ),
    pairs AS (
      SELECT i.doc_a, i.doc_b FROM inter i
      JOIN sizes za ON za.doc_id = i.doc_a
      JOIN sizes zb ON zb.doc_id = i.doc_b
      WHERE i.inter * 1.0 / (za.n + zb.n - i.inter) >= 0.5
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, comp) AS (
      SELECT DISTINCT a, a FROM edges
      UNION
      SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.node
    ),
    lab AS (SELECT node AS doc_id, MIN(comp) AS cluster_id FROM reach GROUP BY node),
    drop3 AS (SELECT doc_id FROM lab WHERE doc_id <> cluster_id)
    SELECT e.doc_id, e.pred_lang, e.n_tokens,
           CASE WHEN NOT e.lang_ok THEN 'lang'
                WHEN NOT e.tok_ok THEN 'quality'
                WHEN e.doc_id <> e.keeper THEN 'exact_dup'
                WHEN e.doc_id IN (SELECT doc_id FROM drop3) THEN 'near_dup'
                ELSE 'kept' END AS verdict
    FROM ex e
    """


@register("q45_corpus_curation", CORPUS_CURATION_ORACLE)
def q45_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation funnel: language filter → token-count
    quality gate → exact dedup (content-md5 keeper) → MinHash-LSH near-dup
    cluster resolution — one verdict per document."""
    from hbase_bulkload_service_spark.operators.curation import curate_corpus

    return curate_corpus(load(spark, sf_dir, "documents", spread=True))


# ===========================================================================
# q47 — corpus subsampling
# ===========================================================================

SAMPLE_RATES = {"en": 250, "zh": 900}
SAMPLE_DEFAULT = 600

_RATE_CASE = (
    "CASE lang WHEN 'en' THEN 250 WHEN 'zh' THEN 900 ELSE 600 END"
)


@register(
    "q47_stratified_sample",
    f"""
    WITH hb AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000
               AS sample_bucket
      FROM documents
    )
    SELECT doc_id, lang, sample_bucket
    FROM hb WHERE sample_bucket < {_RATE_CASE}
    """,
)
def q47_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified corpus subsampling (class balancing):
    keep-rate per language stratum, decided by a portable md5 hash bucket.
    Map-side filter, ZERO shuffle — the sampling shape that survives
    100 TB (see operators/curation.py:stratified_sample)."""
    from hbase_bulkload_service_spark.operators.curation import (
        hash_bucket,
        stratified_sample,
    )

    docs = load(spark, sf_dir, "documents", spread=True)
    return stratified_sample(docs, SAMPLE_RATES, SAMPLE_DEFAULT).select(
        "doc_id", "lang", hash_bucket(F.col("doc_id")).alias("sample_bucket")
    )


# ===========================================================================
# q103 — deterministic training-order shuffle
# ===========================================================================

SHUFFLE_SEED = 7
SHUFFLE_SHARDS = 64


@register(
    "q103_corpus_shuffle",
    f"""
    WITH h AS (
      SELECT doc_id,
             md5('{SHUFFLE_SEED}:' || CAST(doc_id AS VARCHAR)) AS ok
      FROM documents
    ),
    s AS (
      SELECT doc_id, ok,
             ('0x' || substr(ok, 1, 8))::BIGINT % {SHUFFLE_SHARDS} AS shard
      FROM h
    )
    SELECT doc_id, shard,
           row_number() OVER (PARTITION BY shard ORDER BY ok, doc_id) AS pos
    FROM s
    """,
)
def q103_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pseudo-random epoch ordering of the corpus: md5
    shard + in-shard rank (operators/curation.py:deterministic_shuffle —
    one keyed exchange, per-shard parallel sorts, reproducible across
    retries)."""
    return curation.deterministic_shuffle(
        load(spark, sf_dir, "documents", spread=True).select("doc_id"),
        seed=SHUFFLE_SEED,
        n_shards=SHUFFLE_SHARDS,
    ).select("doc_id", "shard", "pos")


# ===========================================================================
# q106 — quality-weighted importance resampling
# ===========================================================================

WS_SEED = 11


@register(
    "q106_weighted_sample",
    f"""
    WITH wgt AS (
      SELECT doc_id, lang, n_chars,
             LEAST(1000000, CAST(n_chars AS BIGINT) * 4000) AS weight_ppm,
             ('0x' || substr(md5('{WS_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % 1000000 AS bucket
      FROM documents
    )
    SELECT doc_id, lang, n_chars, weight_ppm
    FROM wgt WHERE bucket < weight_ppm
    """,
)
def q106_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted importance resampling: keep probability scales
    with document length (weight_ppm = min(1e6, n_chars * 4000)) via the
    deterministic md5 bucket (operators/curation.py:weighted_sample —
    zero-shuffle map filter; retries/reruns keep the identical subset)."""
    docs = load(spark, sf_dir, "documents")
    w = F.least(F.lit(1_000_000), F.col("n_chars").cast("long") * 4000)
    return curation.weighted_sample(docs, w, seed=WS_SEED).select(
        "doc_id", "lang", "n_chars", w.alias("weight_ppm")
    )


# ===========================================================================
# q123 — quality-aware canonical selection over duplicate groups
# ===========================================================================

@register(
    "q123_canonical_selection",
    """
    WITH t AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
      FROM documents
    ),
    x AS (SELECT doc_id, md5(nt) AS h, length(nt) AS ln FROM t)
    SELECT doc_id,
           first_value(doc_id) OVER (PARTITION BY h ORDER BY ln DESC, doc_id)
             AS canonical_id,
           CAST(COUNT(*) OVER (PARTITION BY h) AS BIGINT) AS group_n,
           doc_id = first_value(doc_id)
             OVER (PARTITION BY h ORDER BY ln DESC, doc_id) AS keep
    FROM x
    """,
)
def q123_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus keep/drop verdicts with a quality-chosen canonical per
    exact-duplicate group (operators/curation.py:canonical_selection) —
    the selection step between dedup detection (q30) and the curated
    write: longest normalized copy wins, ties to lowest doc_id, one
    md5-keyed window (single exchange, no join-back)."""
    from hbase_bulkload_service_spark.sources.tables import load as _load

    return curation.canonical_selection(
        _load(spark, sf_dir, "documents", spread=True)
    )


# ===========================================================================
# q127 — token-budget data mix (largest remainder + greedy prefix cut)
# ===========================================================================

_BUDGET = 3_000
_MIX_W = {"src0": 3, "src1": 2, "src2": 2, "src3": 1}


def _mix_w_sql() -> str:
    return (
        "CASE source "
        + " ".join(f"WHEN '{s}' THEN {w}" for s, w in sorted(_MIX_W.items()))
        + " ELSE 0 END"
    )


@register(
    "q127_token_budget_mix",
    f"""
    WITH d AS (
      SELECT doc_id, source,
             len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))
               AS n_tokens
      FROM documents
    ),
    src AS (
      SELECT source, {_mix_w_sql()} AS w FROM d GROUP BY source
      HAVING {_mix_w_sql()} > 0
    ),
    a0 AS (
      SELECT source,
             ({_BUDGET}::BIGINT * w) // SUM(w) OVER () AS base,
             ({_BUDGET}::BIGINT * w) % SUM(w) OVER () AS rem
      FROM src
    ),
    a1 AS (
      SELECT source, base, rem,
             {_BUDGET} - SUM(base) OVER () AS extra,
             ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
      FROM a0
    ),
    a2 AS (
      SELECT source,
             CAST(base + CASE WHEN rk <= extra THEN 1 ELSE 0 END AS BIGINT)
               AS alloc_tokens
      FROM a1
    ),
    cut AS (
      SELECT d.doc_id, d.source, d.n_tokens, a2.alloc_tokens,
             SUM(d.n_tokens) OVER (
               PARTITION BY d.source ORDER BY d.doc_id
             ) AS cum
      FROM d JOIN a2 USING (source)
    )
    SELECT source,
           CAST(MAX(alloc_tokens) AS BIGINT) AS alloc_tokens,
           CAST(COUNT(CASE WHEN cum <= alloc_tokens THEN 1 END) AS BIGINT)
             AS kept_docs,
           CAST(SUM(CASE WHEN cum <= alloc_tokens THEN n_tokens END) AS BIGINT)
             AS kept_tokens
    FROM cut GROUP BY source
    """,
)
def q127_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3k-token training-mix build over 4 weighted sources:
    largest-remainder integer allocation (3:2:2:1), then each source
    keeps docs in doc_id order while whole docs still fit. Verifies the
    allocation arithmetic AND the grouped prefix-sum cut hash-exactly
    against the window-function twin."""
    docs = load(spark, sf_dir, "documents", spread=True)
    d = docs.select(
        "doc_id",
        "source",
        F.size(textops.words_of(F.col("text"))).cast("long").alias("n_tokens"),
    )
    out = curation.token_budget_mix(
        d, _BUDGET, token_col="n_tokens", source_col="source",
        order_cols=["doc_id"], weights=_MIX_W, n_shards=8,
    )
    return out.groupBy("source").agg(
        F.max("alloc_tokens").alias("alloc_tokens"),
        F.count(F.when(F.col("keep"), 1)).alias("kept_docs"),
        F.sum(F.when(F.col("keep"), F.col("n_tokens"))).alias("kept_tokens"),
    )


@register(
    "q130_expectations_audit",
    """
    WITH ck AS (SELECT DISTINCT c_custkey FROM customer),
         ok_ AS (SELECT DISTINCT o_orderkey FROM orders),
         u AS (
    SELECT 'orders_key_not_null' AS expectation,
           CAST(COUNT(*) AS BIGINT) AS n_checked,
           CAST(SUM(CASE WHEN NOT COALESCE(o_orderkey IS NOT NULL, FALSE)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_failed
    FROM orders
    UNION ALL
    SELECT 'orders_status_domain',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN NOT COALESCE(o_orderstatus IN ('F','O','P'),
                                           FALSE)
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orders_price_positive',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN NOT COALESCE(o_totalprice > 0, FALSE)
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orders_priority_urgent',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN NOT COALESCE(o_orderpriority = '1-URGENT',
                                           FALSE)
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orders_key_unique',
           CAST(COUNT(CASE WHEN o_orderkey IS NOT NULL THEN 1 END) AS BIGINT),
           CAST(COUNT(CASE WHEN o_orderkey IS NOT NULL THEN 1 END)
                - COUNT(DISTINCT o_orderkey) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orders_custkey_fk',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN ck.c_custkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM orders LEFT JOIN ck ON o_custkey = c_custkey
    WHERE o_custkey IS NOT NULL
    UNION ALL
    SELECT 'lineitem_discount_range',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN NOT COALESCE(l_discount BETWEEN 0 AND 0.5,
                                           FALSE)
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem_qty_positive',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN NOT COALESCE(l_quantity > 0, FALSE)
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem_line_unique',
           CAST(COUNT(CASE WHEN l_orderkey IS NOT NULL
                            AND l_linenumber IS NOT NULL THEN 1 END)
                AS BIGINT),
           CAST(COUNT(CASE WHEN l_orderkey IS NOT NULL
                            AND l_linenumber IS NOT NULL THEN 1 END)
                - (SELECT COUNT(*) FROM
                    (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem
                     WHERE l_orderkey IS NOT NULL
                       AND l_linenumber IS NOT NULL))
                AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem_orderkey_fk',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN ok_.o_orderkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM lineitem LEFT JOIN ok_ ON l_orderkey = ok_.o_orderkey
    WHERE l_orderkey IS NOT NULL
    )
    SELECT expectation, n_checked, n_failed, n_failed = 0 AS ok FROM u
    """,
)
def q130_expectations_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style expectation suite over the TPC-H fact tables: orders
    gets 4 row predicates + key uniqueness + customer FK, lineitem gets
    2 row predicates + composite-key uniqueness + orders FK. One fused
    aggregate scan per table plus one keyed join per FK; the
    intentionally-mixed 'orders_priority_urgent' check reports real
    failure counts (audit, not assert). The oracle rebuilds every count
    from first-principles SQL."""
    orders = load(spark, sf_dir, "orders", spread=True)
    customer = load(spark, sf_dir, "customer")
    lineitem = load(spark, sf_dir, "lineitem", spread=True)
    a1 = quality.expectations_audit(
        orders,
        row_checks=_orders_row_checks(),
        unique_keys=[("orders_key_unique", ["o_orderkey"])],
        fk_checks=[("orders_custkey_fk", "o_custkey", customer, "c_custkey")],
    )
    a2 = quality.expectations_audit(
        lineitem,
        row_checks=[
            (
                "lineitem_discount_range",
                F.col("l_discount").between(0, 0.5),
            ),
            ("lineitem_qty_positive", F.col("l_quantity") > 0),
        ],
        unique_keys=[
            ("lineitem_line_unique", ["l_orderkey", "l_linenumber"])
        ],
        fk_checks=[
            ("lineitem_orderkey_fk", "l_orderkey", orders, "o_orderkey")
        ],
    )
    return a1.unionByName(a2)


# ===========================================================================
# q133 — exact k-per-stratum deterministic sample
# ===========================================================================

_CAP = 30
_CAP_SEED = 7
_CAP_PREFILTER_PPM = 900_000


@register(
    "q133_capped_stratum_sample",
    f"""
    WITH r AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5('{_CAP_SEED}:' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rk
      FROM documents
    )
    SELECT doc_id, lang FROM r WHERE rk <= {_CAP}
    """,
)
def q133_capped_stratum_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly {_CAP} docs per language, drawn by deterministic md5 order
    — the evaluation-set / per-stratum-quota builder. The engine runs
    WITH the map-side prefilter enabled (only ~90% of rows reach the
    window here; at production ppm only ~cap/stratum-size does) and its
    in-plan losslessness guard live; the oracle is the naive full
    window — the hash match proves the prefilter changed nothing."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return curation.capped_stratum_sample(
        docs,
        cap=_CAP,
        strata_col="lang",
        key_col="doc_id",
        seed=_CAP_SEED,
        prefilter_ppm=_CAP_PREFILTER_PPM,
    ).select("doc_id", "lang")


_CAP139 = 40
_SEED139 = 11


@register(
    "q139_corpus_build_e2e",
    f"""
    WITH funnel AS ({CORPUS_CURATION_ORACLE}),
    kept AS (
      SELECT f.doc_id, f.n_tokens, d.lang
      FROM funnel f JOIN documents d USING (doc_id)
      WHERE f.verdict = 'kept'
    ),
    kc AS (SELECT lang, COUNT(*) AS n_kept FROM kept GROUP BY lang),
    r AS (
      SELECT doc_id, lang, n_tokens,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5('{_SEED139}:' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rk
      FROM kept
    ),
    s AS (SELECT * FROM r WHERE rk <= {_CAP139})
    SELECT s.lang,
           CAST(MAX(kc.n_kept) AS BIGINT) AS n_kept,
           CAST(COUNT(*) AS BIGINT) AS n_sampled,
           CAST(SUM(s.n_tokens) AS BIGINT) AS sampled_tokens,
           md5(string_agg(CAST(s.doc_id AS VARCHAR), ','
               ORDER BY s.doc_id)) AS manifest_md5
    FROM s JOIN kc ON kc.lang = s.lang
    GROUP BY s.lang
    """,
)
def q139_corpus_build_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE training-corpus build verified as ONE hash: q45's
    curation funnel (lang -> quality -> exact dedup -> LSH near-dedup)
    feeds the exact k-per-stratum sampler (q133's operator, cap {_CAP139}
    per source-language label), and each stratum emits its kept count,
    sampled count, sampled token total, and an md5 MANIFEST of the
    sorted sampled doc_ids — so the oracle match proves the composed
    pipeline selects the IDENTICAL document set end-to-end, not merely
    matching aggregates per stage. This is the gate a user of the
    composed engine actually cares about: operators verified in
    isolation can still disagree after composition (column drift, NULL
    leaks, order assumptions); this row pins the composition."""
    docs = load(spark, sf_dir, "documents", spread=True)
    led = curation.curate_corpus(docs)
    kept = (
        led.filter(F.col("verdict") == "kept")
        .select("doc_id", "n_tokens")
        .join(docs.select("doc_id", "lang"), "doc_id")
    )
    samp = curation.capped_stratum_sample(
        kept, cap=_CAP139, strata_col="lang", key_col="doc_id",
        seed=_SEED139,
    )
    kc = kept.groupBy("lang").agg(F.count("*").alias("n_kept"))
    return (
        samp.groupBy("lang")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum("n_tokens").cast("long").alias("sampled_tokens"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.col("doc_id"))),
                        lambda x: x.cast("string"),
                    ),
                    ",",
                )
            ).alias("manifest_md5"),
        )
        .join(kc, "lang")
        .select(
            "lang",
            F.col("n_kept").cast("long").alias("n_kept"),
            F.col("n_sampled").cast("long").alias("n_sampled"),
            "sampled_tokens",
            "manifest_md5",
        )
    )


# ===========================================================================
# q140 — dataset snapshot diff (corpus versioning)
# ===========================================================================

_NT140 = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


@register(
    "q140_snapshot_diff",
    f"""
    WITH base AS (SELECT doc_id, text FROM documents),
    v2 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
      FROM base WHERE doc_id % 11 <> 0
      UNION ALL
      SELECT doc_id + 1000000, text || ' new'
      FROM base WHERE doc_id % 13 = 0
    ),
    od AS (
      SELECT doc_id AS key, md5(COALESCE({_NT140}, '')) AS old_md5 FROM base
    ),
    nd AS (
      SELECT doc_id AS key, md5(COALESCE({_NT140}, '')) AS new_md5 FROM v2
    ),
    j AS (
      SELECT COALESCE(od.key, nd.key) AS key, old_md5, new_md5
      FROM od FULL OUTER JOIN nd ON od.key = nd.key
    ),
    c AS (
      SELECT key,
             CASE WHEN old_md5 IS NULL THEN 'added'
                  WHEN new_md5 IS NULL THEN 'removed'
                  WHEN old_md5 <> new_md5 THEN 'changed'
                  ELSE 'unchanged' END AS change
      FROM j
    )
    SELECT change, CAST(COUNT(*) AS BIGINT) AS n,
           md5(string_agg(CAST(key AS VARCHAR), ',' ORDER BY key))
             AS manifest_md5
    FROM c GROUP BY change
    """,
)
def q140_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus release diff: a deterministic v2 snapshot (every 11th doc
    removed, every 7th survivor edited, every 13th doc re-added under a
    new id) is diffed against v1 with curation.snapshot_diff — per
    change class the row count AND an md5 manifest of the sorted keys,
    so the hash match proves the exact membership of added / removed /
    changed / unchanged, not just their sizes. One keyed full-outer
    join of (key, md5) digests — raw text never shuffles."""
    base = load(spark, sf_dir, "documents", spread=True).select(
        "doc_id", "text"
    )
    v2 = base.filter(F.col("doc_id") % 11 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    ).unionByName(
        base.filter(F.col("doc_id") % 13 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" new")).alias("text"),
        )
    )
    d = curation.snapshot_diff(base, v2, key_col="doc_id", text_col="text")
    return d.groupBy("change").agg(
        F.count("*").cast("long").alias("n"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.col("key"))),
                    lambda x: x.cast("string"),
                ),
                ",",
            )
        ).alias("manifest_md5"),
    )


# ===========================================================================
# q145 — deterministic class-balance resample (exact target per class)
# ===========================================================================

_TGT145 = 120
_SEED145 = 7


@register(
    "q145_balanced_oversample",
    f"""
    WITH r AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('{_SEED145}' || ':' || CAST(doc_id AS VARCHAR)),
                        doc_id
             ) AS rk,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM documents
    ),
    reps AS (
      SELECT doc_id, lang,
             {_TGT145} // n
               + CASE WHEN rk <= {_TGT145} % n THEN 1 ELSE 0 END AS nrep
      FROM r
    ),
    x AS (
      SELECT doc_id, lang, unnest(generate_series(1, CAST(nrep AS BIGINT)))
               AS rep
      FROM reps WHERE nrep >= 1
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           md5(string_agg(CAST(doc_id AS VARCHAR) || ':'
                          || CAST(rep AS VARCHAR), ',' ORDER BY
                          CAST(doc_id AS VARCHAR) || ':'
                          || CAST(rep AS VARCHAR))) AS manifest_md5
    FROM x GROUP BY lang
    """,
)
def q145_balanced_oversample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced resample of the corpus to exactly _TGT145=120 rows
    per language — minority langs replicate deterministically, the
    majority lang subsamples, same md5-draw formula both ways
    (curation.balanced_oversample). The manifest hash pins the exact
    replica MULTISET per class, not just its size."""
    docs = load(spark, sf_dir, "documents", spread=True).select(
        "doc_id", "lang"
    )
    s = curation.balanced_oversample(
        docs, class_col="lang", key_col="doc_id",
        target=_TGT145, seed=_SEED145,
    )
    tagged = s.select(
        "lang",
        "doc_id",
        F.concat_ws(
            ":", F.col("doc_id").cast("string"), F.col("rep").cast("string")
        ).alias("tag"),
    )
    return tagged.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.md5(
            F.array_join(F.array_sort(F.collect_list("tag")), ",")
        ).alias("manifest_md5"),
    )


# ===========================================================================
# q154 — deterministic exact-quota dataset split
# ===========================================================================

_SPLITS = {"train": 800_000, "valid": 100_000, "test": 100_000}
_SPLIT_SEED = 7


@register(
    "q154_dataset_split",
    f"""
    WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    splits(idx, split, w) AS (VALUES
      (0, 'train', 800000), (1, 'valid', 100000), (2, 'test', 100000)),
    alloc AS (
      SELECT lang, n, idx, split,
             (n * w) // 1000000 AS fl, (n * w) % 1000000 AS rem
      FROM counts CROSS JOIN splits
    ),
    a2 AS (
      SELECT *,
             n - SUM(fl) OVER (PARTITION BY lang) AS leftover,
             row_number() OVER (
               PARTITION BY lang ORDER BY rem DESC, idx ASC) AS rr
      FROM alloc
    ),
    q AS (
      SELECT lang, idx, split,
             fl + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS quota
      FROM a2
    ),
    t AS (
      SELECT lang, split,
             SUM(quota) OVER (PARTITION BY lang ORDER BY idx
                              ROWS UNBOUNDED PRECEDING) AS hi,
             SUM(quota) OVER (PARTITION BY lang ORDER BY idx
                              ROWS UNBOUNDED PRECEDING) - quota AS lo
      FROM q
    ),
    r AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('{_SPLIT_SEED}:' || CAST(doc_id AS VARCHAR)),
                        doc_id
             ) AS rk
      FROM documents
    )
    SELECT r.doc_id, r.lang, t.split
    FROM r JOIN t
      ON r.lang IS NOT DISTINCT FROM t.lang
     AND r.rk > t.lo AND r.rk <= t.hi
    """,
)
def q154_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 split per language with EXACT largest-remainder quotas
    (curation.dataset_split): every row assigned, split sizes exact to
    the row, stable across runs/retries/partitionings. One stratum-keyed
    exchange; the quota table is broadcast."""
    docs = load(spark, sf_dir, "documents", spread=True).select(
        "doc_id", "lang"
    )
    return curation.dataset_split(
        docs, _SPLITS, strata_col="lang", key_col="doc_id", seed=_SPLIT_SEED
    )


# ===========================================================================
# q155 — source reputation (mirror-source dup rate)
# ===========================================================================


@register(
    "q155_source_reputation",
    """
    WITH corpus AS (
      SELECT source, text, n_chars FROM documents
      UNION ALL
      SELECT 'mirror_src' AS source, text, n_chars
      FROM documents WHERE doc_id % 4 = 0
    ),
    d AS (
      SELECT source, md5(COALESCE(text, '')) AS dg,
             COALESCE(n_chars, 0) AS ch
      FROM corpus
    ),
    sd AS (
      SELECT source, dg, COUNT(*) AS cnt, SUM(ch) AS chr
      FROM d GROUP BY source, dg
    ),
    g AS (SELECT dg, SUM(cnt) AS gcnt FROM sd GROUP BY dg),
    s AS (
      SELECT source,
             CAST(SUM(cnt) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN gcnt > 1 THEN cnt ELSE 0 END) AS BIGINT)
               AS n_dup_docs,
             CAST(SUM(chr) AS BIGINT) AS total_chars
      FROM sd JOIN g USING (dg) GROUP BY source
    )
    SELECT source, n_docs, n_dup_docs, total_chars,
           CAST((n_dup_docs * 1000000) // n_docs AS BIGINT) AS dup_ppm,
           (n_dup_docs * 1000000) // n_docs > 500000 AS flagged
    FROM s
    """,
)
def q155_source_reputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication rate against the whole corpus
    (curation.source_reputation) — the RefinedWeb-style domain trust
    gate. The fixture derives a ``mirror_src`` (every 4th doc re-sourced)
    in BOTH engines, so the mirror flags at 1e6 ppm while originals sit
    at 250k ppm under the 500k threshold — both verdict branches are
    live in the gate. Raw text never shuffles (map-side md5)."""
    docs = load(spark, sf_dir, "documents", spread=True)
    corpus = docs.select("source", "text", "n_chars").unionByName(
        docs.filter(F.col("doc_id") % 4 == 0).select(
            F.lit("mirror_src").alias("source"), "text", "n_chars"
        )
    )
    return curation.source_reputation(corpus, dup_threshold_ppm=500_000)


# ===========================================================================
# q161 — cross-source content-overlap matrix
# ===========================================================================


@register(
    "q161_source_overlap",
    """
    WITH corpus AS (
      SELECT source, text FROM documents
      UNION ALL
      SELECT 'mirror_src' AS source, text
      FROM documents WHERE doc_id % 4 = 0
    ),
    sd AS (
      SELECT source AS src, md5(COALESCE(text, '')) AS d, COUNT(*) AS cnt
      FROM corpus GROUP BY 1, 2
    )
    SELECT a.src AS source_a, b.src AS source_b,
           CAST(COUNT(*) AS BIGINT) AS shared_digests,
           CAST(SUM(a.cnt) AS BIGINT) AS docs_a,
           CAST(SUM(b.cnt) AS BIGINT) AS docs_b
    FROM sd a JOIN sd b ON a.d = b.d AND a.src < b.src
    GROUP BY 1, 2
    """,
)
def q161_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which source pairs share content, and how much
    (curation.source_overlap): digest-keyed self-join whose per-key
    fan-out is bounded by SOURCE count, not document count. The fixture
    derives q155's mirror source in BOTH engines, so every original
    source overlaps the mirror on its every-4th docs while original
    pairs share nothing — both the hit and miss shapes are live."""
    docs = load(spark, sf_dir, "documents", spread=True)
    corpus = docs.select("source", "text").unionByName(
        docs.filter(F.col("doc_id") % 4 == 0).select(
            F.lit("mirror_src").alias("source"), "text"
        )
    )
    return curation.source_overlap(corpus)


# ===========================================================================
# q171 — DSIR importance resampling (hashed-bigram domain matching)
# ===========================================================================

_DSIR_BUCKETS = 4096
_DSIR_KEEP = 100
_DSIR_TARGET = "zh"


@register(
    "q171_dsir_importance",
    f"""
    WITH t AS (
      SELECT doc_id, lang,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
      FROM documents
    ),
    w AS (SELECT doc_id, lang, string_split(nt, ' ') AS ws FROM t),
    bg AS (
      SELECT doc_id, lang,
             unnest(list_transform(range(1, len(ws)),
                                   i -> ws[i] || ' ' || ws[i + 1])) AS bigram
      FROM w WHERE len(ws) >= 2
    ),
    fb AS MATERIALIZED (
      SELECT doc_id, lang,
             ('0x' || substr(md5(bigram), 1, 8))::BIGINT % {_DSIR_BUCKETS}
               AS bucket
      FROM bg
    ),
    stats AS (
      SELECT bucket,
             SUM(CASE WHEN lang = '{_DSIR_TARGET}' THEN 1 ELSE 0 END) AS ct,
             SUM(CASE WHEN lang = '{_DSIR_TARGET}' THEN 0 ELSE 1 END) AS cr
      FROM fb GROUP BY 1
    ),
    df AS (
      SELECT doc_id, bucket, COUNT(*) AS c
      FROM fb WHERE lang <> '{_DSIR_TARGET}' GROUP BY 1, 2
    ),
    wgt AS (
      SELECT df.doc_id,
             CAST(SUM(df.c) AS BIGINT) AS n_feats,
             CAST(SUM(df.c * (((stats.ct + 1) * 1000000) // (stats.cr + 1)))
                  AS BIGINT) AS weight_ppm
      FROM df JOIN stats USING (bucket) GROUP BY 1
    )
    SELECT doc_id, n_feats, weight_ppm
    FROM wgt ORDER BY weight_ppm DESC, doc_id LIMIT {_DSIR_KEEP}
    """,
)
def q171_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (operators/curation.py:dsir_importance): rank
    the non-'{target}' document pool by hashed-bigram likelihood-ratio
    similarity to the '{target}' stratum and keep the top 100 — the
    domain-matching selection stage of a pretraining pipeline, with an
    integer-exact ratio twin so the verdict is hash-exact. Plan: bucket
    aggs collapse to 4096 rows, score table broadcasts, final top-N is
    TakeOrderedAndProject."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return curation.dsir_importance(
        docs,
        target_value=_DSIR_TARGET,
        n_buckets=_DSIR_BUCKETS,
        keep_n=_DSIR_KEEP,
    )


# ===========================================================================
# q187 / q188 — privacy & governance: k-anonymity audit, forget plan
# ===========================================================================

_KANON_K = 5
_KANON_BAL = 2000
_FORGET_MOD = 37


@register(
    "q187_k_anonymity",
    f"""
    SELECT c_nationkey, c_mktsegment, bal_bucket,
           CAST(group_n AS BIGINT) AS group_n
    FROM (
      SELECT c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal / {_KANON_BAL}) AS BIGINT) AS bal_bucket,
             COUNT(*) AS group_n
      FROM customer GROUP BY 1, 2, 3
    ) WHERE group_n < {_KANON_K}
    """,
)
def q187_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity risk audit (operators/quality.py:k_anonymity_audit):
    every (nation, market segment, balance-bucket) equivalence class
    with fewer than {_KANON_K} members — the indirect-identifier
    release gate complementing q58's direct-identifier scrub. One
    map-side-combined keyed agg filtered to the risky tail."""
    cust = load(spark, sf_dir, "customer")
    return quality.k_anonymity_audit(
        cust.withColumn(
            "bal_bucket",
            F.floor(F.col("c_acctbal") / _KANON_BAL).cast("long"),
        ).select("c_nationkey", "c_mktsegment", "bal_bucket"),
        ["c_nationkey", "c_mktsegment", "bal_bucket"],
        k=_KANON_K,
    )


@register(
    "q188_forget_plan",
    f"""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT epoch_ms(ts) // 300000) AS BIGINT)
             AS n_rollup_slots,
           CAST(MIN(epoch_ms(ts)) AS BIGINT) AS first_ts,
           CAST(MAX(epoch_ms(ts)) AS BIGINT) AS last_ts
    FROM events WHERE user_id % {_FORGET_MOD} = 0
    GROUP BY 1
    """,
)
def q188_forget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten work order
    (operators/quality.py:forget_plan): per deletion-cohort user, the
    raw row count, the derived 5-minute rollup slots that must be
    recomputed, and the affected time span (the regions to rewrite).
    Cohort predicate prunes at the scan; one keyed agg, cohort-sized
    output."""
    ev = load_events(spark, sf_dir, spread=True)
    return quality.forget_plan(
        ev, F.col("user_id") % _FORGET_MOD == 0
    )


# ===========================================================================
# q193 — temperature-based multilingual resampling (alpha = 0.5)
# ===========================================================================

_TMP_BUDGET = 200
_TMP_SEED = 0


@register(
    "q193_temperature_mix",
    f"""
    WITH counts AS (
      SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1
    ),
    wts AS (
      SELECT lang, n_docs,
             CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE))) AS BIGINT) AS weight
      FROM counts
    ),
    alloc AS (
      SELECT lang, n_docs, weight,
             ({_TMP_BUDGET} * weight) // SUM(weight) OVER () AS bse,
             ({_TMP_BUDGET} * weight) % SUM(weight) OVER () AS rem
      FROM wts
    ),
    quotas AS MATERIALIZED (
      SELECT lang, n_docs, weight,
             CAST(bse + CASE WHEN row_number() OVER (ORDER BY rem DESC, lang)
                              <= {_TMP_BUDGET} - SUM(bse) OVER ()
                         THEN 1 ELSE 0 END AS BIGINT) AS quota
      FROM alloc
    ),
    ranked AS (
      SELECT doc_id, lang,
             CAST(row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('{_TMP_SEED}:' || CAST(doc_id AS VARCHAR)),
                        doc_id) AS BIGINT) AS rnk
      FROM documents
    )
    SELECT r.doc_id, r.lang, r.rnk, q.n_docs, q.weight, q.quota
    FROM ranked r JOIN quotas q USING (lang)
    WHERE r.rnk <= q.quota
    """,
)
def q193_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based multilingual resampling
    (operators/curation.py:temperature_sample, the XLM-R alpha=0.5
    move): a {_TMP_BUDGET}-doc budget apportioned across languages by
    floor(sqrt(n_lang)) weights (largest-remainder, sums exactly to
    budget), each language keeping its first quota docs by the
    reproducible md5 draw. The language histogram and every
    apportionment window are metadata-scale; the corpus pays one rank
    exchange."""
    return curation.temperature_sample(
        load(spark, sf_dir, "documents", spread=True),
        budget=_TMP_BUDGET,
        seed=_TMP_SEED,
    )


# ===========================================================================
# q195 — DoReMi-lite domain reweighting (multiplicative weights, 3 rounds)
# ===========================================================================

_DRM_ROUNDS = 3
_DRM_V = 5
_DRM_SCALE = 1_000_000


def _drm_round_ctes(t: int) -> str:
    """One multiplicative-weights round: update vs the CURRENT mixture
    average, then largest-remainder renormalize back to ppm."""
    prev = f"w{t - 1}_ppm"
    carry = ", ".join(f"w{i}_ppm" for i in range(t))
    return f"""
    u{t} AS (
      SELECT source, loss, {carry},
             ({prev} * ({_DRM_SCALE} + greatest(
                loss - (SUM({prev} * loss) OVER ()) // 1000000, 0)))
               // {_DRM_SCALE} AS raw
      FROM r{t - 1}
    ),
    b{t} AS (
      SELECT source, loss, {carry},
             (1000000 * raw) // SUM(raw) OVER () AS bse,
             (1000000 * raw) % SUM(raw) OVER () AS rem
      FROM u{t}
    ),
    r{t} AS MATERIALIZED (
      SELECT source, loss, {carry},
             CAST(bse + CASE WHEN row_number() OVER (ORDER BY rem DESC, source)
                              <= 1000000 - SUM(bse) OVER ()
                         THEN 1 ELSE 0 END AS BIGINT) AS w{t}_ppm
      FROM b{t}
    )"""


@register(
    "q195_doremi_mix",
    f"""
    WITH t AS (
      SELECT source,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                          ' ') AS ws
      FROM documents
    ),
    tok AS (SELECT source, unnest(ws) AS w FROM t),
    vocab AS MATERIALIZED (
      SELECT w FROM (SELECT w, COUNT(*) AS cnt FROM tok GROUP BY 1
                     ORDER BY cnt DESC, w LIMIT {_DRM_V})
    ),
    loss AS MATERIALIZED (
      SELECT tok.source,
             (SUM(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END) * 1000000)
               // COUNT(*) AS loss
      FROM tok LEFT JOIN vocab ON tok.w = vocab.w GROUP BY 1
    ),
    b0 AS (
      SELECT source, loss,
             1000000 // COUNT(*) OVER () AS bse,
             1000000 % COUNT(*) OVER () AS rem
      FROM loss
    ),
    r0 AS MATERIALIZED (
      SELECT source, loss,
             CAST(bse + CASE WHEN row_number() OVER (ORDER BY rem DESC, source)
                              <= 1000000 - SUM(bse) OVER ()
                         THEN 1 ELSE 0 END AS BIGINT) AS w0_ppm
      FROM b0
    ),{",".join(_drm_round_ctes(t) for t in range(1, _DRM_ROUNDS + 1))}
    SELECT source, CAST(loss AS BIGINT) AS loss,
           {", ".join(f"w{t}_ppm" for t in range(_DRM_ROUNDS + 1))}
    FROM r{_DRM_ROUNDS}
    """,
)
def q195_doremi_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-lite mixture optimization
    (operators/curation.py:doremi_weights, after Xie et al. 2023):
    {_DRM_ROUNDS} multiplicative-weights rounds over the source axis,
    each upweighting domains whose proxy loss (mean OOV-ppm against the
    corpus top-{_DRM_V} vocabulary) exceeds the CURRENT mixture's
    weighted average — so every round depends on the last — with a
    largest-remainder ppm renormalization per round (weights sum to
    exactly 1e6 every round). One corpus pass builds the loss table;
    every round is window arithmetic on the |sources|-row relation."""
    return curation.doremi_weights(
        load(spark, sf_dir, "documents", spread=True),
        rounds=_DRM_ROUNDS,
        vocab_size=_DRM_V,
        scale=_DRM_SCALE,
    )


# ===========================================================================
# q198 — ANALYZE-style table profile (catalog statistics pass). Every
# column is canonicalized to an engine-portable string BEFORE the
# profile: raw float/timestamp formatting differs between engines and
# would poison the min/max verdict.
# ===========================================================================

_PRF_INT = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"]
_PRF_CENTS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
_PRF_STR = ["l_returnflag", "l_linestatus"]

def lineitem_canon(li: DataFrame) -> dict[str, F.Column]:
    """Canonical string-able expressions for every lineitem column
    (shared by q198's exact profile and q202's sketch profile)."""
    canon = {c: F.col(c) for c in _PRF_INT + _PRF_STR}
    canon.update(
        {c: F.floor(F.col(c) * 100).cast("long") for c in _PRF_CENTS}
    )
    canon["l_shipdate"] = epoch_millis(li, "l_shipdate")
    return canon


_PRF_MELT = " UNION ALL ".join(
    [
        f"SELECT '{c}' AS col_name, CAST({c} AS VARCHAR) AS val FROM lineitem"
        for c in _PRF_INT
    ]
    + [
        f"SELECT '{c}', CAST(CAST(FLOOR({c} * 100) AS BIGINT) AS VARCHAR) "
        "FROM lineitem"
        for c in _PRF_CENTS
    ]
    + [f"SELECT '{c}', {c} FROM lineitem" for c in _PRF_STR]
    + [
        "SELECT 'l_shipdate', CAST(epoch_ms(l_shipdate) AS VARCHAR) "
        "FROM lineitem"
    ]
)


@register(
    "q198_table_profile",
    f"""
    WITH m AS ({_PRF_MELT})
    SELECT col_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN val IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nulls,
           CAST(COUNT(DISTINCT val) AS BIGINT) AS n_distinct,
           MIN(val) AS min_val,
           MAX(val) AS max_val,
           CAST(SUM(CASE WHEN val IS NULL THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS null_ppm
    FROM m GROUP BY 1
    """,
)
def q198_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style table profiler (operators/quality.py:column_profile)
    over all 11 lineitem columns: per column, row/null counts, EXACT
    distinct count, lexicographic min/max of the canonical string form
    (ints as decimals, doubles as floor-cents, l_shipdate as epoch
    millis). One pass: the melt is map-side, the exact-NDV shuffle is
    bounded by a (col, val) pre-agg (per-column cardinality, not row
    count), output is catalog-sized."""
    li = load(spark, sf_dir, "lineitem", spread=True)
    return quality.column_profile(li, lineitem_canon(li))


# ===========================================================================
# q202 — sketch-mode profiler accuracy gate (q115 device over q198's melt)
# ===========================================================================


@register(
    "q202_sketch_profile",
    f"""
    WITH m AS ({_PRF_MELT})
    SELECT col_name,
           CAST(COUNT(DISTINCT val) AS BIGINT) AS n_distinct,
           TRUE AS hll_within_bound
    FROM m GROUP BY 1
    """,
)
def q202_sketch_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-mode table profiler
    (operators/quality.py:column_profile_sketch): HLL++ NDV estimates
    next to the exact counts over the same (col, val) pre-agg, emitting
    a per-column boolean that the sketch landed within 5% — the q115
    device: the oracle computes the exact side and asserts the bound as
    literal TRUE, so a sketch out of contract breaks the hash. At
    100 TB the sketch path skips q198's exact-NDV shuffle entirely;
    this gate is the evidence it may."""
    li = load(spark, sf_dir, "lineitem", spread=True)
    return quality.column_profile_sketch(li, lineitem_canon(li))


# ===========================================================================
# q203 — dedup savings report (prices what q123's verdicts delete)
# ===========================================================================


@register(
    "q203_dedup_savings",
    """
    WITH x AS (
      SELECT doc_id, source,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS h,
             length(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
               AS ln
      FROM documents
    ),
    v AS (
      SELECT doc_id, source, ln,
             first_value(doc_id) OVER (
               PARTITION BY h ORDER BY ln DESC, doc_id) AS canonical_id
      FROM x
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id <> canonical_id THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_dropped,
           CAST(SUM(CASE WHEN doc_id <> canonical_id THEN ln ELSE 0 END)
                AS BIGINT) AS chars_dropped,
           CAST(SUM(ln) AS BIGINT) AS chars_total,
           CAST(SUM(CASE WHEN doc_id <> canonical_id THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS drop_ppm
    FROM v GROUP BY 1
    """,
)
def q203_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup savings report (operators/curation.py:dedup_savings): per
    source, the documents and characters exact-dedup would drop
    (non-canonical duplicate-group members, q123's verdicts) and the
    drop ppm — q199's matrix shows WHO copies whom, this prices what
    deleting the copies saves. One md5-keyed window + one thin id join
    + one source rollup."""
    return curation.dedup_savings(
        load(spark, sf_dir, "documents", spread=True)
    )


# ===========================================================================
# q204 — rollup reconciliation audit (backfill validation)
# ===========================================================================

_RC_SLOT = 300_000
_RC_DROP = 97
_RC_CORRUPT = 101
_RC_PHANTOM = 89
_RC_PHANTOM_SLOT = 999_999_999


@register(
    "q204_rollup_reconcile",
    f"""
    WITH e AS (
      SELECT user_id, epoch_ms(ts) // {_RC_SLOT} AS slot,
             SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2
    ),
    st AS (
      SELECT user_id, slot,
             CASE WHEN (user_id + slot) % {_RC_CORRUPT} = 0
                  THEN cents + 1 ELSE cents END AS cents
      FROM e WHERE user_id % {_RC_DROP} <> 3
      UNION ALL
      SELECT DISTINCT user_id, {_RC_PHANTOM_SLOT} AS slot,
             CAST(42 AS BIGINT)
      FROM e WHERE user_id % {_RC_PHANTOM} = 7
    ),
    j AS (
      SELECT COALESCE(e.user_id, st.user_id) AS user_id,
             COALESCE(e.slot, st.slot) AS slot,
             e.cents AS ec, st.cents AS sc,
             e.user_id IS NULL AS eno, st.user_id IS NULL AS sno
      FROM e FULL OUTER JOIN st
        ON e.user_id = st.user_id AND e.slot = st.slot
    )
    SELECT user_id, slot,
           CAST(ec AS BIGINT) AS expected_cents,
           CAST(sc AS BIGINT) AS stored_cents,
           CASE WHEN sno THEN 'missing_in_stored'
                WHEN eno THEN 'missing_in_expected'
                ELSE 'value_mismatch' END AS status
    FROM j WHERE eno OR sno OR ec <> sc
    """,
)
def q204_rollup_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup reconciliation audit
    (operators/quality.py:reconcile_rollup): the recomputed 5-minute
    per-user rollup full-outer-joined against a stored copy with three
    DETERMINISTIC fault injections (dropped slots, +1-cent corruption,
    phantom slots — the test fixture for the auditor; in deployment
    ``stored`` is the warehouse table), emitting only the
    disagreements, each classified. All three discrepancy classes are
    live at sf0.01. One rollup-grain full-outer exchange; the report
    is discrepancy-sized."""
    from hbase_bulkload_service_spark import cachereg

    ev = load_events(spark, sf_dir, spread=True)
    # expected feeds three consumers (two fault-injection branches + the
    # reconcile join) with different prunings — the q214/q216
    # exchange-reuse class (r07 sweep: events scanned 3x before the
    # persist). Rollup-grain (user x slot), cachereg-bounded.
    expected = (
        ev.groupBy("user_id", F.expr(f"ts_ms div {_RC_SLOT}").alias("slot"))
        .agg(F.sum(cents(F.col("value"))).alias("cents"))
        .persist()
    )
    cachereg.register(expected, family="reconcile")
    stored = (
        expected.filter(F.col("user_id") % _RC_DROP != 3)
        .withColumn(
            "cents",
            F.when(
                (F.col("user_id") + F.col("slot")) % _RC_CORRUPT == 0,
                F.col("cents") + 1,
            ).otherwise(F.col("cents")),
        )
        .unionByName(
            expected.filter(F.col("user_id") % _RC_PHANTOM == 7)
            .select("user_id")
            .distinct()
            .select(
                "user_id",
                F.lit(_RC_PHANTOM_SLOT).cast("long").alias("slot"),
                F.lit(42).cast("long").alias("cents"),
            )
        )
    )
    return quality.reconcile_rollup(
        expected, stored, ["user_id", "slot"], "cents"
    )


# ===========================================================================
# q206 — stratified round-robin minibatch assembly
# ===========================================================================

_SB_BATCHES = 16
_SB_SEED = 0


@register(
    "q206_stratified_batches",
    f"""
    WITH r AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('{_SB_SEED}:' || CAST(doc_id AS VARCHAR)),
                        doc_id) - 1 AS rk
      FROM documents
    ),
    c AS (
      SELECT CAST(rk % {_SB_BATCHES} AS INT) AS batch, lang,
             COUNT(*) AS n_docs
      FROM r GROUP BY 1, 2
    )
    SELECT batch, lang, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_docs - SUM(n_docs) OVER (PARTITION BY lang)
                // {_SB_BATCHES} AS BIGINT) AS dev
    FROM c
    """,
)
def q206_stratified_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified minibatch assembly
    (operators/curation.py:stratified_batches): every language dealt
    round-robin (md5 draw order) over {_SB_BATCHES} batches, audited
    as per-(batch, lang) counts with the deviation from floor(n/B) —
    0/1 by construction, so the dev column doubles as the fairness
    proof the oracle pins. One stratum-keyed rank exchange + one
    rollup."""
    return curation.stratified_batches(
        load(spark, sf_dir, "documents", spread=True),
        n_batches=_SB_BATCHES,
        seed=_SB_SEED,
    )


# ===========================================================================
# q220 — quality-weighted soft sampling
# ===========================================================================


@register(
    "q220_soft_sampling",
    f"""
    WITH g AS ({CHAR_DIVERSITY_ORACLE}),
    s AS (
      SELECT d.source, g.gini_ppm,
             CASE WHEN ('0x' || substr(md5('q:' || CAST(d.doc_id AS
                   VARCHAR)), 1, 8))::BIGINT % 1000000 < g.gini_ppm
                  THEN 1 ELSE 0 END AS kept
      FROM g JOIN documents d USING (doc_id)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(kept) AS BIGINT) AS n_kept,
           CAST(SUM(kept) * 1000000 // COUNT(*) AS BIGINT) AS kept_ppm,
           CAST(SUM(gini_ppm) // COUNT(*) AS BIGINT) AS mean_quality_ppm
    FROM s GROUP BY 1
    """,
)
def q220_soft_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted soft sampling
    (operators/curation.py:soft_quality_sample): keep each doc with
    probability equal to its q212 quality score via the deterministic
    md5 gate ``bucket('q:' ‖ doc_id) < quality_ppm`` — the CCNet-style
    soft filter that preserves a quality GRADIENT instead of a hard
    cutoff, engine-portable and retry-stable where rand() is neither.
    Per-source kept_ppm lands near mean_quality_ppm by construction —
    the audit column the oracle pins exactly. The oracle nests q212's
    full oracle so the score and the sampler cannot drift."""
    return curation.soft_quality_sample(
        load(spark, sf_dir, "documents", spread=True)
    )


# ===========================================================================
# q223 — majority-vote label aggregation
# ===========================================================================

_LM_ANNS = 5
_LM_NOISE_MOD = 10
_LM_NOISE_LT = 2  # 20% of votes flip to the deterministic wrong label


@register(
    "q223_label_majority",
    f"""
    WITH votes AS (
      SELECT d.doc_id,
             t.a AS annotator,
             CASE WHEN ('0x' || substr(md5(t.a::VARCHAR || ':' || d.doc_id::VARCHAR), 1, 8))::BIGINT
                       % {_LM_NOISE_MOD} < {_LM_NOISE_LT}
                  THEN 'zz' ELSE d.lang END AS label
      FROM documents d, unnest(range(0, {_LM_ANNS})) AS t(a)
    ),
    counts AS (
      SELECT doc_id, label AS lbl, COUNT(*) AS c
      FROM votes GROUP BY 1, 2
    ),
    ranked AS (
      SELECT doc_id, lbl, c,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY c DESC, lbl ASC) AS rn,
             SUM(c) OVER (PARTITION BY doc_id) AS nv,
             MAX(c) OVER (PARTITION BY doc_id) AS mv
      FROM counts
    )
    SELECT doc_id, lbl AS maj_label,
           CAST(nv AS BIGINT) AS n_votes,
           CAST(mv AS BIGINT) AS maj_votes,
           mv = nv AS unanimous
    FROM ranked WHERE rn = 1
    """,
)
def q223_label_majority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority-vote label consolidation
    (operators/quality.py:label_majority) over a deterministic
    synthetic annotator panel: {_LM_ANNS} annotators vote the document's
    language, each vote flipped to a wrong label when its md5 draw
    lands under {_LM_NOISE_LT}/{_LM_NOISE_MOD} — the md5-device twin of
    a 20%-noise crowd. Ties break to the lexicographically smallest
    label via one-pass ``min_by(lbl, struct(-c, lbl))`` — no join-back,
    no raw-vote window."""
    from hbase_bulkload_service_spark.operators.curation import hash_bucket

    docs = load(spark, sf_dir, "documents", spread=True)
    votes = docs.select(
        "doc_id",
        "lang",
        F.explode(F.sequence(F.lit(0), F.lit(_LM_ANNS - 1))).alias(
            "annotator"
        ),
    ).select(
        "doc_id",
        "annotator",
        F.when(
            hash_bucket(
                F.concat(
                    F.col("annotator").cast("string"),
                    F.lit(":"),
                    F.col("doc_id").cast("string"),
                ),
                _LM_NOISE_MOD,
            )
            < _LM_NOISE_LT,
            F.lit("zz"),
        )
        .otherwise(F.col("lang"))
        .alias("label"),
    )
    return quality.label_majority(votes)


_CTX = 256  # tokens per training bin

_PACK_CTE = f"""
    toks AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split({NT}, ' '), x -> x <> ''))
                  AS BIGINT) AS n_tokens
      FROM documents d
    ),
    c AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM toks
    ),
    spans AS (
      SELECT doc_id, n_tokens,
             CAST(cum - n_tokens AS BIGINT) AS start_tok,
             CAST(cum AS BIGINT) AS end_tok,
             CASE WHEN n_tokens = 0 THEN NULL
                  ELSE CAST((cum - n_tokens) // {_CTX} AS BIGINT) END
               AS first_bin,
             CASE WHEN n_tokens = 0 THEN NULL
                  ELSE CAST((cum - 1) // {_CTX} AS BIGINT) END AS last_bin,
             CASE WHEN n_tokens = 0 THEN 0
                  ELSE CAST((cum - 1) // {_CTX} - (cum - n_tokens) // {_CTX}
                            + 1 AS BIGINT) END AS n_bins
      FROM c
    )
"""


@register(
    "q225_sequence_packing",
    f"WITH {_PACK_CTE} SELECT * FROM spans",
)
def q225_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing over the documents table
    (curation.pack_sequences): each document's global token span and the
    {_CTX}-token training bins it lands in, documents freely straddling
    bin boundaries (GPT-style pack). The global offset is a distributed
    prefix sum — per-part local cumsums in parallel + a <=n_parts-row
    offsets broadcast — never a single-task global window."""
    return curation.pack_sequences(
        load(spark, sf_dir, "documents", spread=True), context_len=_CTX
    )


@register(
    "q226_packed_bins",
    f"""
    WITH {_PACK_CTE},
    contrib AS (
      SELECT b.bin AS bin,
             GREATEST(start_tok, b.bin * {_CTX}) AS seg_start,
             LEAST(end_tok, (b.bin + 1) * {_CTX}) AS seg_end
      FROM spans, unnest(range(first_bin, last_bin + 1)) AS b(bin)
      WHERE n_tokens > 0
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(seg_end - seg_start) AS BIGINT) AS n_tokens
    FROM contrib GROUP BY bin
    """,
)
def q226_packed_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard manifest derived from q225's packing: per bin, how
    many documents touch it and how many tokens it holds (== {_CTX} for
    every bin except the ragged last — the invariant a shard writer
    checks before serializing). The bounded explode is
    sequence(first_bin, last_bin) — ~n_tokens/{_CTX} rows per doc, i.e.
    the output token stream itself, nothing quadratic."""
    spans = curation.pack_sequences(
        load(spark, sf_dir, "documents", spread=True), context_len=_CTX
    ).filter(F.col("n_tokens") > 0)
    seg = spans.select(
        F.explode(F.expr("sequence(first_bin, last_bin)")).alias("bin"),
        "start_tok",
        "end_tok",
    )
    return seg.groupBy("bin").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(
            F.least(F.col("end_tok"), (F.col("bin") + 1) * _CTX)
            - F.greatest(F.col("start_tok"), F.col("bin") * _CTX)
        ).cast("long").alias("n_tokens"),
    )


# ===========================================================================
# q238 — golden-record survivorship merge
# ===========================================================================


@register(
    "q238_golden_record",
    """
    WITH a AS (
      SELECT c_custkey AS k, c_name AS name, c_mktsegment AS segment
      FROM customer WHERE c_custkey % 2 = 0
    ),
    b AS (
      SELECT c_custkey AS k, 'B:' || c_name AS name,
             CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer WHERE c_custkey % 3 = 0
    ),
    c AS (SELECT c_custkey AS k, c_nationkey AS nation FROM customer)
    SELECT c.k AS c_custkey,
           COALESCE(a.name, b.name) AS name,
           a.segment AS segment,
           b.cents AS cents,
           c.nation AS nation
    FROM c LEFT JOIN a ON a.k = c.k LEFT JOIN b ON b.k = c.k
    """,
)
def q238_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship merge: the same customer entity
    arriving from three priority-ordered feeds (feed A: name+segment for
    even keys; feed B: a differently-spelled name + balance for
    every-3rd keys; feed C: nationality for all) is assembled into one
    row per key, each field taken from the highest-trust feed that has
    it (curation.golden_record_merge: chained FULL OUTER joins on the
    key + priority coalesce). The oracle's LEFT JOINs from feed C are
    equivalent because C covers every key — the engine does NOT assume
    that, which is the point of full-outer survivorship."""
    cust = load(spark, sf_dir, "customer", spread=True)
    feed_a = cust.filter(F.col("c_custkey") % 2 == 0).select(
        "c_custkey",
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
    )
    feed_b = cust.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey",
        F.concat(F.lit("B:"), F.col("c_name")).alias("name"),
        cents(F.col("c_acctbal")).alias("cents"),
    )
    feed_c = cust.select("c_custkey", F.col("c_nationkey").alias("nation"))
    return curation.golden_record_merge(
        "c_custkey",
        [
            (feed_a, ["name", "segment"]),
            (feed_b, ["name", "cents"]),
            (feed_c, ["nation"]),
        ],
    )
