"""Registry wave 30 (round 7, capped at the window's 4 free slots):
q221 closes the last reference-DDL delta — the REAL HFile v3 container
under the DDL's own SNAPPY codec (raw snappy chunks from pyarrow's
codec under Hadoop BlockCompressorStream framing, sources/hfilev3.py) —
and three new pipeline operators: q222 winnowing fingerprints (the MOSS
positional near-dup primitive), q223 majority-vote label aggregation
(annotation consolidation), q224 vocabulary concentration (the integer
Zipf-shape corpus-health curve).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hbase_bulkload_service_spark.operators import quality, textops
from hbase_bulkload_service_spark.registry import register
from hbase_bulkload_service_spark.registry_llm import NT
from hbase_bulkload_service_spark.registry_wave8 import HFL_CONTAINER_ORACLE
from hbase_bulkload_service_spark.registry_wave17 import v3_gate
from hbase_bulkload_service_spark.sources.tables import load

# ===========================================================================
# q221 — the reference DDL byte-for-byte: DIFF + SNAPPY + ROW bloom
# ===========================================================================


@register("q221_hfilev3_snappy", HFL_CONTAINER_ORACLE)
def q221_hfilev3_snappy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q169's full-DDL composition under the reference's ACTUAL codec:
    ``HBaseManager.java:379-385`` + ``HFileOutputUtil.java:23`` set
    DataBlockEncoding.DIFF, Compression.Algorithm.SNAPPY, and the ROW
    compound bloom — this gate writes exactly that (trailer codec
    ordinal 3; every block's payload is raw snappy under Hadoop's
    BlockCompressorStream framing, sources/hfilev3.py), reads it
    back distributedly through the full decode stack (snappy → DIFF →
    cells, bloom checked against each block's first row), and must
    reproduce the same container-agnostic oracle as q167/q168/q169.
    With this gate the v3 writer has NO remaining delta against the
    reference's table DDL."""
    return v3_gate(
        spark, sf_dir, "q221hfilev3snappy",
        compression="SNAPPY", encoding="DIFF", bloom=True,
    )


# ===========================================================================
# q222 — winnowing fingerprints (MOSS, SIGMOD 2003)
# ===========================================================================

_WN_K = 4
_WN_W = 3


@register(
    "q222_winnowing",
    f"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split({NT}, ' '), x -> x <> '') AS ws
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             CASE WHEN len(ws) >= {_WN_K} THEN
               list_transform(range(0, len(ws) - {_WN_K} + 1),
                 i -> array_to_string(ws[i + 1 : i + {_WN_K}], ' '))
             ELSE [] END AS grams
      FROM w
    ),
    h AS (
      SELECT doc_id,
             list_transform(grams,
               gg -> ('0x' || substr(md5(gg), 1, 8))::BIGINT) AS hs,
             len(grams) AS n_g
      FROM g
    ),
    s AS (
      SELECT doc_id,
             CAST(n_g AS BIGINT) AS n_grams,
             CAST(CASE WHEN n_g = 0 THEN 0
                       WHEN n_g < {_WN_W} THEN 1
                       ELSE n_g - {_WN_W} + 1 END AS BIGINT) AS n_windows,
             CASE WHEN n_g = 0 THEN []
             ELSE list_sort(list_distinct(list_transform(
               range(0, CASE WHEN n_g < {_WN_W} THEN 1
                            ELSE n_g - {_WN_W} + 1 END),
               ww ->
                 (ww + least({_WN_W}, n_g - ww)
                     - list_position(
                         list_reverse(hs[ww + 1 : ww + least({_WN_W}, n_g - ww)]),
                         list_min(hs[ww + 1 : ww + least({_WN_W}, n_g - ww)])))::VARCHAR
                 || ':' ||
                 list_min(hs[ww + 1 : ww + least({_WN_W}, n_g - ww)])::VARCHAR
             ))) END AS fps
      FROM h
    )
    SELECT doc_id, n_grams, n_windows,
           CAST(len(fps) AS BIGINT) AS n_fingerprints,
           CAST(CASE WHEN n_windows = 0 THEN 0
                     ELSE len(fps) * 1000000 // n_windows END AS BIGINT)
             AS density_ppm,
           md5(array_to_string(fps, ',')) AS fp_digest
    FROM s
    """,
)
def q222_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints
    (operators/textops.py:winnowing_fingerprints): k-gram rolling
    hashes, window minima with the rightmost tie-break, per-doc
    fingerprint set pinned by an md5 digest of the sorted "pos:hash"
    strings. The MOSS positional near-dup/plagiarism primitive, fully
    map-side (array expressions only — no explode reaches an
    exchange)."""
    return textops.winnowing_fingerprints(
        load(spark, sf_dir, "documents", spread=True), k=_WN_K, window=_WN_W
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


# ===========================================================================
# q224 — vocabulary concentration (integer Zipf-shape health curve)
# ===========================================================================

_VC_KS = (1, 10, 100, 1000)


@register(
    "q224_vocab_concentration",
    f"""
    WITH toks AS (
      SELECT t.w
      FROM documents d,
           unnest(list_filter(string_split({NT}, ' '), x -> x <> ''))
             AS t(w)
    ),
    counts AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY 1),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_vocab,
             CAST(SUM(c) AS BIGINT) AS n_tokens
      FROM counts
    ),
    top AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w ASC) AS rnk
      FROM counts ORDER BY c DESC, w ASC LIMIT {max(_VC_KS)}
    ),
    ks(k) AS (VALUES {", ".join(f"({k})" for k in _VC_KS)})
    SELECT CAST(k AS BIGINT) AS k,
           CAST(COALESCE(SUM(c) FILTER (WHERE rnk <= k), 0) AS BIGINT)
             AS cum_cnt,
           CAST(COALESCE(SUM(c) FILTER (WHERE rnk <= k), 0) * 1000000
                // (SELECT n_tokens FROM tot) AS BIGINT) AS share_ppm,
           (SELECT n_vocab FROM tot) AS n_vocab,
           (SELECT n_tokens FROM tot) AS n_tokens
    FROM ks CROSS JOIN top
    GROUP BY k
    """,
)
def q224_vocab_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary concentration curve
    (operators/textops.py:vocab_concentration): cumulative corpus-token
    share of the top-k words at k = {_VC_KS} in exact integer ppm — the
    Zipf-shape corpus-health readout (template floods and boilerplate
    regressions jump the head shares). One word-keyed agg + a
    TakeOrdered top-1000 cut; everything after runs on 1000 rows."""
    return textops.vocab_concentration(
        load(spark, sf_dir, "documents", spread=True), ks=_VC_KS
    )
