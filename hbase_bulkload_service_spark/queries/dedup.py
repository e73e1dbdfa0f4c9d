"""Deduplication queries: exact, MinHash/LSH, SimHash, n-gram, span and
containment near-duplicate detection, fuzzy linkage and split leakage
(``operators.dedup``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hbase_bulkload_service_spark.operators import dedup
from hbase_bulkload_service_spark.oracle_frags import (
    _BANDS_SQL,
    _SIG_COLS,
    DOCS_NORM_CTE,
    _sh_cte,
)
from hbase_bulkload_service_spark.registry import register
from hbase_bulkload_service_spark.sources.tables import load


SHINGLES_CTE = f"""
{DOCS_NORM_CTE},
{_sh_cte("w")}
"""


# ===========================================================================
# q30 — exact dedup
# ===========================================================================

@register(
    "q30_dedup_exact",
    f"""
    WITH {DOCS_NORM_CTE}
    SELECT md5(nt) AS content_md5, COUNT(*) AS copies, MIN(doc_id) AS keep_doc_id
    FROM w GROUP BY md5(nt)
    """,
)
def q30_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash group (min doc_id kept)."""
    return dedup.exact_dedup_groups(load(spark, sf_dir, "documents", spread=True))


@register(
    "q35_minhash_lsh",
    f"""
    WITH {SHINGLES_CTE},
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
    )
    SELECT i.doc_a, i.doc_b, i.inter,
           (za.n + zb.n - i.inter) AS union_n,
           i.inter * 1.0 / (za.n + zb.n - i.inter) AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.doc_a
    JOIN sizes zb ON zb.doc_id = i.doc_b
    WHERE i.inter * 1.0 / (za.n + zb.n - i.inter) >= 0.5
    """,
)
def q35_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures → LSH band-bucket join → exact-Jaccard verify."""
    return dedup.minhash_lsh_neardups(load(spark, sf_dir, "documents", spread=True))


NEARDUP_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE {SHINGLES_CTE},
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
    lab AS (SELECT node AS doc_id, MIN(comp) AS cluster_id FROM reach GROUP BY node)
    SELECT doc_id, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
           doc_id = cluster_id AS is_canonical
    FROM lab
    """


@register("q44_neardup_clusters", NEARDUP_CLUSTERS_ORACLE)
def q44_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER resolution: verified MinHash-LSH pairs → connected
    components (iterative min-label propagation) → canonical doc per
    cluster. The oracle resolves the same components with a recursive CTE."""
    docs = load(spark, sf_dir, "documents", spread=True)
    pairs = dedup.minhash_lsh_neardups(docs).select("doc_a", "doc_b")
    return dedup.neardup_clusters(pairs)


@register(
    "q36_ngram_jaccard",
    f"""
    WITH {DOCS_NORM_CTE},
    g AS (
      SELECT doc_id,
             CAST(floor(length(nt) / 50) AS INT) AS len_block,
             unnest(list_distinct(
               list_transform(range(1, length(nt) - 3),
                              i -> substr(nt, i, 5)))) AS gram
      FROM w WHERE length(nt) >= 5
    ),
    rare AS (
      SELECT len_block, gram FROM g
      GROUP BY len_block, gram HAVING COUNT(*) <= {dedup.NGRAM_DF_MAX}
    ),
    gr AS (SELECT g.* FROM g JOIN rare USING (len_block, gram)),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM gr a JOIN gr b ON a.len_block = b.len_block AND a.gram = b.gram
      WHERE a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM g GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
      FROM cand c
      JOIN g ga ON ga.doc_id = c.doc_a
      JOIN g gb ON gb.doc_id = c.doc_b AND gb.gram = ga.gram
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b, i.inter, sa.sz AS na, sb.sz AS nb,
           i.inter * 1.0 / (sa.sz + sb.sz - i.inter) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE i.inter * 1.0 / (sa.sz + sb.sz - i.inter) >= 0.4
    """,
)
def q36_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-5-gram Jaccard with rare-gram blocking (df ≤ {NGRAM_DF_MAX}
    index cap) + exact array_intersect verification."""
    return dedup.ngram_jaccard_pairs(load(spark, sf_dir, "documents", spread=True))


_SIMHASH_BITS_SQL = " + ".join(
    f"(CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> {i}) & 1 = 1 "
    f"THEN 1 ELSE -1 END)) >= 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
    for i in range(32)
)


@register(
    "q37_simhash",
    f"""
    WITH {DOCS_NORM_CTE},
    sig AS (
      SELECT doc_id,
             list_transform(ws, wd -> ('0x' || substr(md5(wd), 1, 8))::BIGINT) AS hs
      FROM w
    )
    SELECT doc_id, {_SIMHASH_BITS_SQL} AS simhash FROM sig
    """,
)
def q37_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprint (±1 bit votes over word hashes)."""
    return dedup.simhash32(load(spark, sf_dir, "documents", spread=True))


_SH8 = (
    "CASE WHEN len(ws) < 8 THEN [nt] ELSE list_transform(range(1, len(ws) - 6), "
    "i -> " + " || ' ' || ".join(f"ws[i+{j}]" for j in range(8)) + ") END"
)


@register(
    "q69_contamination",
    f"""
    WITH {DOCS_NORM_CTE},
    cb AS (SELECT * FROM w WHERE doc_id % 97 = 0),
    cc AS (SELECT * FROM w WHERE doc_id % 97 <> 0),
    shc AS (
      SELECT doc_id, unnest(list_distinct({_SH8})) AS shingle FROM cc
    ),
    shb AS (
      SELECT DISTINCT unnest(list_distinct({_SH8})) AS shingle FROM cb
    ),
    tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM shc GROUP BY doc_id),
    hit AS (
      SELECT shc.doc_id, COUNT(*) AS n_cont
      FROM shc JOIN shb USING (shingle) GROUP BY shc.doc_id
    )
    SELECT t.doc_id,
           CAST(t.n_shingles AS BIGINT) AS n_shingles,
           CAST(COALESCE(h.n_cont, 0) AS BIGINT) AS n_contaminated,
           CAST((COALESCE(h.n_cont, 0) * 1000000) // t.n_shingles AS BIGINT)
             AS contamination_ppm
    FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id
    """,
)
def q69_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination check: every 97th document plays the
    benchmark set; each remaining document reports the ppm of its
    distinct 8-word shingles found anywhere in the benchmark
    (dedup.benchmark_contamination — directional containment, ONE
    shingle-keyed equi-join, never a pair scan)."""
    docs = load(spark, sf_dir, "documents", spread=True)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return dedup.benchmark_contamination(corpus, bench, k=8)


# ===========================================================================
# q101 — exact substring-span dedup (corpus-internal repeated k-word spans)
# ===========================================================================

SPAN_K = 8

_SPAN_EXPR = " || ' ' || ".join(f"ws[i + {j}]" for j in range(SPAN_K))


@register(
    "q101_span_dedup",
    f"""
    WITH {DOCS_NORM_CTE},
    sp AS (
      SELECT doc_id,
             unnest(CASE WHEN len(ws) < {SPAN_K} THEN [nt]
                         ELSE list_transform(range(1, len(ws) - {SPAN_K - 2}),
                                             i -> {_SPAN_EXPR})
                    END) AS span
      FROM w
    ),
    per AS (
      SELECT doc_id, md5(span) AS h, CAST(COUNT(*) AS BIGINT) AS c
      FROM sp GROUP BY 1, 2
    ),
    tot AS (SELECT h, CAST(SUM(c) AS BIGINT) AS tot FROM per GROUP BY 1)
    SELECT per.doc_id,
           CAST(SUM(c) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN tot >= 2 THEN c ELSE 0 END) AS BIGINT)
             AS dup_spans,
           CAST(SUM(CASE WHEN tot >= 2 THEN c ELSE 0 END) AS BIGINT)
             * 1000000 // CAST(SUM(c) AS BIGINT) AS dup_span_ppm
    FROM per JOIN tot USING (h)
    GROUP BY 1
    """,
)
def q101_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-internal exact substring dedup signals: per document, how
    many of its 8-word span occurrences appear >= 2 times anywhere in the
    corpus (operators/dedup.py:span_dup_stats — the shuffle-friendly
    fixed-k approximation of suffix-array ExactSubstr)."""
    return dedup.span_dup_stats(
        load(spark, sf_dir, "documents", spread=True), k=SPAN_K
    )


# ===========================================================================
# q105 — incremental ingest dedup (new batch vs existing corpus)
# ===========================================================================

INC_JACCARD_PPM = 500_000


def _bands_sql(src: str) -> str:
    return " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5(mh{2 * b} || ',' || mh{2 * b + 1})"
        f" AS bucket FROM {src}"
        for b in range(dedup.LSH_BANDS)
    )


@register(
    "q105_incremental_dedup",
    f"""
    WITH {DOCS_NORM_CTE},
    nd AS (SELECT doc_id, nt, ws FROM w WHERE doc_id % 10 = 7),
    cd AS (SELECT doc_id, nt, ws FROM w WHERE doc_id % 10 <> 7),
    ch AS (SELECT md5(nt) AS h, MIN(doc_id) AS exact_match FROM cd GROUP BY 1),
    ex AS (
      SELECT n.doc_id, ch.exact_match
      FROM (SELECT doc_id, md5(nt) AS h FROM nd) n LEFT JOIN ch USING (h)
    ),
    surv AS (SELECT doc_id, nt, ws FROM nd
             WHERE doc_id IN (SELECT doc_id FROM ex WHERE exact_match IS NULL)),
    {_sh_cte("surv").replace("sh AS", "sh_n AS")},
    {_sh_cte("cd").replace("sh AS", "sh_c AS")},
    sig_n AS (SELECT doc_id, {_SIG_COLS} FROM sh_n GROUP BY doc_id),
    sig_c AS (SELECT doc_id, {_SIG_COLS} FROM sh_c GROUP BY doc_id),
    bk_n AS ({_bands_sql("sig_n")}),
    bk_c AS ({_bands_sql("sig_c")}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bk_n a JOIN bk_c b ON a.band = b.band AND a.bucket = b.bucket
    ),
    szn AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh_n GROUP BY 1),
    szc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh_c GROUP BY 1),
    inter AS (
      SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS inter
      FROM cand c
      JOIN sh_n sa ON sa.doc_id = c.doc_a
      JOIN sh_c sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY 1, 2
    ),
    near AS (
      SELECT doc_a AS doc_id, MIN(doc_b) AS near_match
      FROM inter i
      JOIN szn ON szn.doc_id = i.doc_a
      JOIN szc ON szc.doc_id = i.doc_b
      WHERE i.inter * 1000000 >= {INC_JACCARD_PPM} * (szn.n + szc.n - i.inter)
      GROUP BY 1
    )
    SELECT ex.doc_id,
           CASE WHEN ex.exact_match IS NOT NULL THEN 'exact_dup'
                WHEN near.near_match IS NOT NULL THEN 'near_dup'
                ELSE 'keep' END AS verdict,
           COALESCE(ex.exact_match, near.near_match) AS match_doc
    FROM ex LEFT JOIN near USING (doc_id)
    """,
)
def q105_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: docs with doc_id % 10 = 7 play the new
    batch, the rest the existing corpus; exact-hash layer then
    MinHash-LSH near layer, integer-Jaccard verdicts
    (operators/dedup.py:incremental_dedup)."""
    docs = load(spark, sf_dir, "documents", spread=True)
    batch = docs.filter(F.col("doc_id") % 10 == 7)
    corpus = docs.filter(F.col("doc_id") % 10 != 7)
    return dedup.incremental_dedup(
        batch, corpus, jaccard_ppm=INC_JACCARD_PPM
    )


# ===========================================================================
# q107 — edit-distance-1 fuzzy self-join (deletion-neighborhood linkage)
# ===========================================================================


@register(
    "q107_fuzzy_linkage",
    """
    WITH v AS (
      SELECT c_custkey AS id, c_name AS s,
             md5(unnest(list_distinct(list_append(
               list_transform(range(1, length(c_name) + 1),
                              i -> substr(c_name, 1, i - 1) || substr(c_name, i + 1)),
               c_name)))) AS var
      FROM customer
    )
    SELECT DISTINCT a.id AS id_a, b.id AS id_b,
           levenshtein(a.s, b.s) AS dist
    FROM v a JOIN v b ON a.var = b.var AND a.id < b.id
    WHERE levenshtein(a.s, b.s) <= 1
    """,
)
def q107_fuzzy_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy self-join on customer names: all pairs
    within Levenshtein distance 1, blocked EXACTLY by k=1 deletion
    neighborhoods — linear variant expansion + one keyed equi-join, no
    cross product (operators/dedup.py:fuzzy_self_join_k1)."""
    cust = load(spark, sf_dir, "customer", spread=True)
    return dedup.fuzzy_self_join_k1(cust, "c_custkey", "c_name")


# ===========================================================================
# q134 — asymmetric containment (near-superset) pairs
# ===========================================================================

_CONT_PPM = 600_000


@register(
    "q134_containment_pairs",
    f"""
    WITH {DOCS_NORM_CTE},
    g AS (
      SELECT doc_id,
             unnest(list_distinct(
               list_transform(range(1, length(nt) - 3),
                              i -> substr(nt, i, 5)))) AS gram
      FROM w WHERE length(nt) >= 5
    ),
    rare AS (
      SELECT gram FROM g GROUP BY gram
      HAVING COUNT(*) <= {dedup.NGRAM_DF_MAX}
    ),
    gr AS (SELECT g.* FROM g JOIN rare USING (gram)),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_inner, b.doc_id AS doc_outer
      FROM gr a JOIN gr b ON a.gram = b.gram
      WHERE a.doc_id <> b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM g GROUP BY doc_id),
    inter_t AS (
      SELECT c.doc_inner, c.doc_outer, COUNT(*) AS inter
      FROM cand c
      JOIN g ga ON ga.doc_id = c.doc_inner
      JOIN g gb ON gb.doc_id = c.doc_outer AND gb.gram = ga.gram
      GROUP BY 1, 2
    )
    SELECT i.doc_inner, i.doc_outer,
           CAST(i.inter AS BIGINT) AS inter,
           CAST(s.sz AS BIGINT) AS n_inner,
           CAST(i.inter * 1000000 // s.sz AS BIGINT) AS containment_ppm
    FROM inter_t i JOIN sizes s ON s.doc_id = i.doc_inner
    WHERE i.inter * 1000000 // s.sz >= {_CONT_PPM}
    """,
)
def q134_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional near-superset pairs at containment >= 60%: the
    excerpt/quote detection axis (a short doc living inside a long one
    scores ~0 Jaccard but ~1e6 containment). Global rare-gram blocking
    + lossless upper-bound prune; the oracle rebuilds candidates,
    intersections, and the integer ppm verdict from scratch."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return dedup.containment_pairs(
        docs, text_col="text", n=5, threshold_ppm=_CONT_PPM
    )


_LEAK_MOD = 10


_LEAK_SPLIT_A = (
    f"CASE WHEN ('0x' || substr(md5('s:' || CAST(i.doc_a AS VARCHAR)), 1, 8))"
    f"::BIGINT % {_LEAK_MOD} = 0 THEN 'test' ELSE 'train' END"
)
_LEAK_SPLIT_B = (
    f"CASE WHEN ('0x' || substr(md5('s:' || CAST(i.doc_b AS VARCHAR)), 1, 8))"
    f"::BIGINT % {_LEAK_MOD} = 0 THEN 'test' ELSE 'train' END"
)


@register(
    "q190_split_leakage",
    f"""
    WITH {SHINGLES_CTE},
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
    )
    SELECT * FROM (
      SELECT i.doc_a, i.doc_b,
             {_LEAK_SPLIT_A} AS split_a,
             {_LEAK_SPLIT_B} AS split_b,
             i.inter, (za.n + zb.n - i.inter) AS union_n,
             i.inter * 1.0 / (za.n + zb.n - i.inter) AS jaccard
      FROM inter i
      JOIN sizes za ON za.doc_id = i.doc_a
      JOIN sizes zb ON zb.doc_id = i.doc_b
      WHERE i.inter * 1.0 / (za.n + zb.n - i.inter) >= 0.5
    ) WHERE split_a <> split_b
    """,
)
def q190_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test split-leakage audit
    (operators/dedup.py:split_leakage): verified near-dup pairs
    (q35's banded-LSH + exact-Jaccard path) whose deterministic hash
    split labels differ — the eval-hygiene gate a benchmark release
    runs (a test doc with a train near-twin inflates every score).
    Split labels are computed map-side on the surviving pairs; empty
    is the healthy state, and the synthetic corpus leaks 4 pairs at
    sf0.01 so both branches are live."""
    from hbase_bulkload_service_spark.operators import dedup as _dedup

    return _dedup.split_leakage(
        load(spark, sf_dir, "documents", spread=True), test_mod=_LEAK_MOD
    )


# ===========================================================================
# q199 — cross-source duplication matrix
# ===========================================================================


DUP_MATRIX_ORACLE = f"""
    WITH {SHINGLES_CTE},
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
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN sizes za ON za.doc_id = i.doc_a
      JOIN sizes zb ON zb.doc_id = i.doc_b
      WHERE i.inter * 1.0 / (za.n + zb.n - i.inter) >= 0.5
    )
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pairs
    JOIN documents da ON da.doc_id = pairs.doc_a
    JOIN documents db ON db.doc_id = pairs.doc_b
    GROUP BY 1, 2
    """


# rides q35's exact chain (the shared shingle/band fragments) + source joins
@register("q199_dup_matrix", DUP_MATRIX_ORACLE)
def q199_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix
    (operators/dedup.py:dup_source_matrix): near-dup pair counts per
    unordered source pair — the "which crawls copy which" governance
    report (q155 scores sources in isolation; this exposes the
    between-source structure, and the diagonal is internal
    redundancy). Rides q35's banded-LSH + exact-Jaccard path; source
    labels join the surviving pairs only; |sources|^2-bounded
    output."""
    return dedup.dup_source_matrix(
        load(spark, sf_dir, "documents", spread=True), threshold=0.5
    )


# ===========================================================================
# q210 — cluster-aware (GroupKFold) split assignment
# ===========================================================================

_CS_FOLDS = 5


@register(
    "q210_cluster_split",
    f"""
    WITH cl AS ({NEARDUP_CLUSTERS_ORACLE}),
    a AS (
      SELECT d.doc_id,
             COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
             COALESCE(c.cluster_size, 1) AS cluster_size
      FROM documents d LEFT JOIN cl c USING (doc_id)
    )
    SELECT doc_id,
           CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(('0x' || substr(md5('f:' || CAST(cluster_id AS VARCHAR)),
                                1, 8))::BIGINT % {_CS_FOLDS} AS BIGINT)
             AS fold
    FROM a
    """,
)
def q210_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware GroupKFold split (operators/dedup.py:cluster_split):
    every document gets a deterministic fold, but near-dup CLUSTERS
    (q44's verified-LSH components) are assigned atomically via
    ``md5('f:' ‖ cluster_id) % {_CS_FOLDS}`` — the construction that
    makes q190's leakage audit empty by design. Singletons are their own
    cluster; the oracle nests q44's full recursive-CTE component
    resolution so the ledger and the fix can never drift."""
    return dedup.cluster_split(
        load(spark, sf_dir, "documents", spread=True), n_folds=_CS_FOLDS
    )
