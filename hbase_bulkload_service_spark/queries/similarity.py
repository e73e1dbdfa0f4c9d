"""Similarity and ANN queries: embedding top-k, IVF/PQ/SRP indexes,
recall gates, rank fusion and embedding health (``operators.similarity``),
plus the multimodal feature and media-plan queries
(``operators.multimodal``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hbase_bulkload_service_spark.operators import multimodal, similarity
from hbase_bulkload_service_spark.operators.multimodal import (
    PHASH_BANDS,
    PHASH_MIN_BAND_BITS,
    PHASH_SLACK_BITS,
)
from hbase_bulkload_service_spark.registry import cents, register
from hbase_bulkload_service_spark.sources.tables import load


# int8-quantization family (operators/similarity.py:quantize_int8
# semantics: micros -> per-vector max-abs scale -> codes by truncating
# div). Used by q122 and q146 — one
# definition so a semantics change cannot silently leave one gate
# testing stale behavior.
DUCK_QUANT_CTES = """vm AS (
      SELECT vec_id,
             list_transform(embedding,
               v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS vm
      FROM embeddings
    ),
    qs AS (
      SELECT vec_id, vm,
             list_max(list_transform(vm, x -> abs(x))) AS sc
      FROM vm
    ),
    qq AS (
      SELECT vec_id, sc,
             CASE WHEN sc = 0
                  THEN list_transform(vm, x -> CAST(0 AS BIGINT))
                  ELSE list_transform(vm, x -> (x * 127) // sc) END AS qv
      FROM qs
    )"""


def duck_quant_score(q: str, e: str) -> str:
    """Integer quantized score dot(qa, qv) * sa * sc between a query
    alias (with qa/sa columns) and a corpus alias over qq."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, 65), i -> {q}.qa[i] * {e}.qv[i])), "
        f"(a, b) -> a + b) * {q}.sa * {e}.sc"
    )


# float-cosine family (used by the q38/q39 family and by q146's fusion
# oracle)
def duck_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, 65), "
        f"i -> ({a}[i])::DOUBLE * ({b}[i])::DOUBLE), (x, y) -> x + y)"
    )


def duck_cos_micros(a: str, b: str) -> str:
    return (
        f"CAST(FLOOR({duck_dot(a, b)} / "
        f"(sqrt({duck_dot(a, a)}) * sqrt({duck_dot(b, b)})) * 1000000) AS BIGINT)"
    )


@register(
    "q38_embedding_topk",
    f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id % 100 = 0
    ),
    s AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {duck_cos_micros("q.qvec", "e.embedding")} AS cos_micros
      FROM q, embeddings e WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cos_micros FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_micros DESC, neighbor_id) AS rank
      FROM s
    ) WHERE rank <= 5
    """,
)
def q38_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 per query vector (every 100th vector)."""
    emb = load(spark, sf_dir, "embeddings", spread=True)
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return similarity.brute_force_topk(emb, queries, k=5)


@register(
    "q39_ivf_assign",
    f"""
    WITH c AS (
      SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings WHERE vec_id % 50 = 0
    ),
    s AS (
      SELECT e.vec_id, c.centroid_id,
             {duck_cos_micros("e.embedding", "c.cvec")} AS cos_micros
      FROM embeddings e, c
    )
    SELECT vec_id, centroid_id AS cell, cos_micros FROM (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cos_micros DESC, centroid_id) AS rn
      FROM s
    ) WHERE rn = 1
    """,
)
def q39_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell assignment (nearest pseudo-centroid per vector)."""
    emb = load(spark, sf_dir, "embeddings", spread=True)
    return similarity.ivf_assign(emb, similarity.pseudo_centroids(emb))


NEARDUP_THRESHOLD_MICROS = 350000  # calibrated to the synthetic corpus


                                   # (max pairwise cos ≈ 0.51, p99.9 ≈ 0.38)


@register(
    "q42_cosine_neardup",
    f"""
    WITH c AS (
      SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings WHERE vec_id % 50 = 0
    ),
    s AS (
      SELECT e.vec_id, c.centroid_id,
             {duck_cos_micros("e.embedding", "c.cvec")} AS cm
      FROM embeddings e, c
    ),
    assign AS (
      SELECT vec_id, centroid_id AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cm DESC, centroid_id) AS rn
        FROM s
      ) WHERE rn = 1
    )
    SELECT * FROM (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             {duck_cos_micros("ea.embedding", "eb.embedding")} AS cos_micros
      FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
    ) WHERE cos_micros >= {NEARDUP_THRESHOLD_MICROS}
    """,
)
def q42_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, IVF-cell-blocked (the dedup-family
    scale path: equi-join on cell instead of an O(n²) cross product)."""
    emb = load(spark, sf_dir, "embeddings", spread=True)
    return similarity.cosine_neardup_pairs(
        emb, NEARDUP_THRESHOLD_MICROS, similarity.pseudo_centroids(emb)
    )


@register(
    "q39b_ivf_topk",
    f"""
    WITH c AS (
      SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings WHERE vec_id % 50 = 0
    ),
    q AS (
      SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id % 100 = 0
    ),
    s AS (
      SELECT e.vec_id, c.centroid_id,
             {duck_cos_micros("e.embedding", "c.cvec")} AS cm
      FROM embeddings e, c
    ),
    assign AS (
      SELECT vec_id, centroid_id AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cm DESC, centroid_id) AS rn
        FROM s
      ) WHERE rn = 1
    ),
    qc AS (
      SELECT q.query_id, c.centroid_id,
             {duck_cos_micros("q.qvec", "c.cvec")} AS qc_cos
      FROM q, c
    ),
    probe AS (
      SELECT query_id, centroid_id AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY qc_cos DESC, centroid_id) AS rn
        FROM qc
      ) WHERE rn <= 2
    ),
    scored AS (
      SELECT p.query_id, e.vec_id AS neighbor_id,
             {duck_cos_micros("q.qvec", "e.embedding")} AS cos_micros
      FROM probe p
      JOIN q USING (query_id)
      JOIN assign a ON a.cell = p.cell
      JOIN embeddings e ON e.vec_id = a.vec_id
      WHERE p.query_id <> e.vec_id
    )
    SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cos_micros FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_micros DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def q39b_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell-probed ANN search, FULL exact oracle: with deterministic
    centroids the whole search — assignment, nprobe cell ranking, in-cell
    scoring, top-k — is reproducible SQL. The oracle replays it verbatim
    (recall<1 vs brute force is a property of the algorithm, not
    nondeterminism; the q39b-vs-q38 recall bound is pinned in tests)."""
    emb = load(spark, sf_dir, "embeddings", spread=True)
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return similarity.ivf_topk(emb, queries, similarity.pseudo_centroids(emb))


# ===========================================================================
# q40-q41 — multimodal columns
# ===========================================================================

@register(
    "q40_multimodal_features",
    """
    SELECT doc_id,
           CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                ELSE 'video' END AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS checksum_md5,
           CAST(doc_id % 640 + 64 AS INT) AS decoded_w,
           CAST(doc_id % 480 + 48 AS INT) AS decoded_h,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, length(text) + 1),
                              i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
             (a, b) -> a + b) * 1.0 / octet_length(encode(text)) AS mean_luma
    FROM documents
    """,
)
def q40_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media columns → Arrow-batched mapInPandas feature extraction
    (decode kernel stubbed; plumbing real). ASCII corpus ⇒ byte values ==
    codepoints, so the oracle can recompute mean_luma."""
    media = multimodal.attach_media(load(spark, sf_dir, "documents", spread=True))
    return multimodal.extract_features(media)


@register(
    "q41_frame_sample",
    """
    SELECT doc_id, CAST(fi AS INT) AS frame_idx,
           CAST(LEAST(64, nb - fi * 64) AS INT) AS frame_len
    FROM (
      SELECT doc_id, octet_length(encode(text)) AS nb,
             unnest(range(0, CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT))) AS fi
      FROM documents
    )
    """,
)
def q41_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over opaque payloads — JVM-side binary slicing."""
    media = multimodal.attach_media(load(spark, sf_dir, "documents", spread=True))
    frames = multimodal.frame_sample(media, every_n_bytes=64)
    return frames.select(
        "doc_id", "frame_idx", F.octet_length("frame_bytes").alias("frame_len")
    )


@register(
    "q43_waveform_stats",
    """
    WITH s AS (
      SELECT doc_id,
             list_transform(range(1, length(text) + 1),
                            i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)) AS bs
      FROM documents WHERE doc_id % 3 = 1
    )
    SELECT doc_id,
           CAST(len(bs) AS BIGINT) AS n_samples,
           CAST(list_max(bs) AS INT) AS peak,
           list_aggregate(bs, 'sum') * 1.0 / len(bs) AS mean_amp,
           sqrt(list_aggregate(list_transform(bs, x -> x * x), 'sum') * 1.0
                / len(bs)) AS rms
    FROM s
    """,
)
def q43_waveform_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio multimodal: payload-as-PCM stats via numpy over Arrow batches
    (exact int accumulation ⇒ engine-stable doubles; ASCII corpus makes
    the oracle recomputable from codepoints)."""
    media = multimodal.attach_media(load(spark, sf_dir, "documents", spread=True))
    return multimodal.waveform_stats(media)


@register(
    "q46_media_resize",
    """
    WITH t AS (
      SELECT doc_id, encode(text) AS bl FROM documents WHERE doc_id % 3 = 0
    ),
    h AS (SELECT doc_id, hex(bl) AS hx, octet_length(bl) AS n FROM t),
    s AS (
      SELECT doc_id, n,
             list_transform(range(0, 256),
               k -> ('0x' || substr(hx, CAST(k * n // 256 AS INT) * 2 + 1, 2))::BIGINT)
               AS samples
      FROM h
    )
    SELECT doc_id, 16 AS out_w, 16 AS out_h, CAST(256 AS BIGINT) AS n_out,
           CAST(list_sum(samples) AS BIGINT) AS sample_sum,
           CAST(samples[1] AS INT) AS first_byte,
           CAST(samples[256] AS INT) AS last_byte
    FROM s
    """,
)
def q46_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize-class multimodal operator: nearest-neighbor byte resample of
    opaque image payloads to 16x16 via mapInPandas; the oracle recomputes
    the same index map byte-for-byte over hex(payload) in SQL."""
    media = multimodal.attach_media(load(spark, sf_dir, "documents", spread=True))
    return multimodal.resize(media).drop("resized")


@register(
    "q49_label_centroids",
    """
    SELECT label, CAST(pos - 1 AS INT) AS pos, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS sum_micros
    FROM (
      SELECT label, unnest(embedding) AS v,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings
    )
    GROUP BY label, pos - 1
    """,
)
def q49_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label fixed-point centroid accumulators — one Lloyd's-iteration
    reduce (the IVF/k-means training primitive) as a single keyed hash
    aggregate; integer accumulators keep the oracle exact."""
    return similarity.label_centroids(load(spark, sf_dir, "embeddings", spread=True))


# ===========================================================================
# q54 — SRP-LSH (hyperplane) vector bucketing
# ===========================================================================

_SRP_PLANES = similarity.srp_planes(16, 64)
_SRP_W_SQL = (
    "["
    + ", ".join(
        "[" + ", ".join("1.0" if x > 0 else "-1.0" for x in row) + "]"
        for row in _SRP_PLANES
    )
    + "]"
)
_SRP_SIG_SQL = " + ".join(
    f"(CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    f"list_transform(range(1, 65), d -> (ve[d])::DOUBLE * (w[{p + 1}][d])::DOUBLE)), "
    f"(acc, x) -> acc + x) >= 0 THEN CAST({1 << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    for p in range(16)
)


@register(
    "q54_srp_lsh",
    f"""
    WITH pl AS (SELECT {_SRP_W_SQL} AS w),
    v AS (SELECT vec_id, label, embedding AS ve FROM embeddings),
    s AS (
      SELECT vec_id, label, {_SRP_SIG_SQL} AS signature
      FROM v CROSS JOIN pl
    )
    SELECT vec_id, label, signature,
           COUNT(*) OVER (PARTITION BY signature) AS bucket_n
    FROM s
    """,
)
def q54_srp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH (signed-random-projection / hyperplane LSH) bucket
    assignment for cosine ANN — the third ANN family next to MinHash
    (q35, sets) and IVF (q39, trained cells). ±1 planes make the
    projection sign exactly reproducible; see similarity.srp_signature."""
    return similarity.srp_signature(
        load(spark, sf_dir, "embeddings", spread=True), n_planes=16, dim=64
    )


# ===========================================================================
# q65 — SRP-LSH probe-time ANN (multi-probe Hamming-1) with exact oracle
# ===========================================================================

_SRP8_PLANES = similarity.srp_planes(8, 64)
_SRP8_W_SQL = (
    "["
    + ", ".join(
        "[" + ", ".join("1.0" if x > 0 else "-1.0" for x in row) + "]"
        for row in _SRP8_PLANES
    )
    + "]"
)
_SRP8_SIG_SQL = " + ".join(
    f"(CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    f"list_transform(range(1, 65), d -> (ve[d])::DOUBLE * (w[{p + 1}][d])::DOUBLE)), "
    f"(acc, x) -> acc + x) >= 0 THEN CAST({1 << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    for p in range(8)
)


def _duck_dot65(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, 65), "
        f"i -> ({a}[i])::DOUBLE * ({b}[i])::DOUBLE)), (x, y) -> x + y)"
    )


def _duck_cos_micros65(a: str, b: str) -> str:
    return (
        f"CAST(FLOOR({_duck_dot65(a, b)} / "
        f"(sqrt({_duck_dot65(a, a)}) * sqrt({_duck_dot65(b, b)})) * 1000000) AS BIGINT)"
    )


@register(
    "q65_srp_topk",
    f"""
    WITH pl AS (SELECT {_SRP8_W_SQL} AS w),
    s AS (
      SELECT vec_id, embedding AS ve, {_SRP8_SIG_SQL} AS signature
      FROM embeddings CROSS JOIN pl
    ),
    q AS (
      SELECT vec_id AS query_id, ve AS qv, signature AS qsig
      FROM s WHERE vec_id % 50 = 0
    ),
    flips AS (
      SELECT CAST(0 AS BIGINT) AS flip
      UNION ALL
      SELECT CAST(1 << p AS BIGINT) FROM range(8) t(p)
    ),
    cand AS (
      SELECT DISTINCT q.query_id, s.vec_id AS neighbor_id, q.qv, s.ve
      FROM q CROSS JOIN flips f
      JOIN s ON s.signature = xor(q.qsig, f.flip)
      WHERE s.vec_id <> q.query_id
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             {_duck_cos_micros65("qv", "ve")} AS cos_micros
      FROM cand
    )
    SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cos_micros FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_micros DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def q65_srp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH probe-time ANN through the gate: signature equi-join
    candidates (own bucket + 8 Hamming-1 flips), exact cosine rank, top-3.
    The oracle replays plane signatures, bit-flip probing, candidate
    dedup, and ranking from first principles — any drift in the signature
    math, the probe expansion, or tie-breaking mismatches."""
    from hbase_bulkload_service_spark.sources.tables import load as _load

    emb = _load(spark, sf_dir, "embeddings", spread=True)
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return similarity.srp_topk(
        emb, queries, n_planes=8, dim=64, k=3, max_hamming=1
    )


# ===========================================================================
# q71 — multi-cell IVF assignment (the recall lever for cell blocking)
# ===========================================================================

@register(
    "q71_ivf_multi_assign",
    f"""
    WITH c AS (
      SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings
      WHERE vec_id % 50 = 0
    ),
    s AS (
      SELECT e.vec_id, c.centroid_id,
             {_duck_cos_micros65("e.embedding", "c.cvec")} AS cos_micros
      FROM embeddings e, c
    )
    SELECT vec_id, centroid_id AS cell, CAST(cell_rank AS INT) AS cell_rank,
           cos_micros
    FROM (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cos_micros DESC, centroid_id) AS cell_rank
      FROM s
    ) WHERE cell_rank <= 2
    """,
)
def q71_ivf_multi_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each vector assigned to its 2 nearest IVF cells
    (similarity.ivf_multi_assign) — the boundary-straddle recall lever
    for q42's cell-blocked near-dup join, through the gate with the same
    deterministic pseudo-centroids as q39."""
    from hbase_bulkload_service_spark.sources.tables import load as _load

    emb = _load(spark, sf_dir, "embeddings", spread=True)
    cents = similarity.pseudo_centroids(emb, every=50)
    return similarity.ivf_multi_assign(emb, cents, nprobe=2)


# ===========================================================================
# q102 — SemDeDup-style semantic dedup (cluster-blocked embedding dedup)
# ===========================================================================


@register(
    "q102_semantic_dedup",
    f"""
    WITH c AS (
      SELECT vec_id AS centroid_id, embedding AS cvec
      FROM embeddings WHERE vec_id % 50 = 0
    ),
    co AS (
      SELECT centroid_id AS coarse_id, cvec AS covec FROM (
        SELECT centroid_id, cvec,
               row_number() OVER (ORDER BY centroid_id) AS crn,
               CAST(ceil(sqrt(COUNT(*) OVER ())) AS BIGINT) AS ce
        FROM c
      ) WHERE (crn - 1) % ce = 0
    ),
    c2c AS (
      SELECT centroid_id, cvec, coarse_id FROM (
        SELECT k.centroid_id, k.cvec, o.coarse_id,
               row_number() OVER (PARTITION BY k.centroid_id
                 ORDER BY {duck_cos_micros("k.cvec", "o.covec")} DESC,
                          o.coarse_id) AS rn
        FROM c k, co o
      ) WHERE rn = 1
    ),
    vc AS (
      SELECT vec_id, embedding, coarse_id FROM (
        SELECT e.vec_id, e.embedding, o.coarse_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {duck_cos_micros("e.embedding", "o.covec")} DESC,
                          o.coarse_id) AS rn
        FROM embeddings e, co o
      ) WHERE rn = 1
    ),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT v.vec_id, f.centroid_id AS cell,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY {duck_cos_micros("v.embedding", "f.cvec")} DESC,
                          f.centroid_id) AS rn
        FROM vc v JOIN c2c f ON f.coarse_id = v.coarse_id
      ) WHERE rn = 1
    ),
    dup AS (
      SELECT a.vec_id AS vec_id, MIN(b.vec_id) AS dup_of
      FROM assign a
      JOIN assign b ON a.cell = b.cell AND b.vec_id < a.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
      WHERE {duck_cos_micros("ea.embedding", "eb.embedding")}
              >= {NEARDUP_THRESHOLD_MICROS}
      GROUP BY 1
    )
    SELECT a.vec_id, a.cell, dup.dup_of, dup.dup_of IS NULL AS keep
    FROM assign a LEFT JOIN dup USING (vec_id)
    """,
)
def q102_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup verdict per vector: IVF-cell-blocked lowest-id-wins
    semantic dedup at the q42 threshold
    (operators/similarity.py:semantic_dedup). Centroids follow the
    k ∝ n rule (similarity.k_for via pseudo_centroids every=50) and the
    oracle mirrors the engine's two-level coarse-quantizer assignment
    CTE-for-CTE (coarse set = every ceil(sqrt(k))-th centroid by id
    rank; both levels argmax by cos desc, id asc)."""
    emb = load(spark, sf_dir, "embeddings", spread=True)
    return similarity.semantic_dedup(
        emb, NEARDUP_THRESHOLD_MICROS, similarity.pseudo_centroids(emb)
    )


# ===========================================================================
# q109 — perceptual-hash near-dup pairs (image-dedup family)
# ===========================================================================

_CODES = (
    "list_transform(range(1, length(text) + 1),"
    " i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))"
)
_LSUM = "list_reduce(list_prepend(CAST(0 AS BIGINT), {lst}), (a, b) -> a + b)"


# cell g = k*bb + j (band k, in-band bit j), nc = PHASH_BANDS*bb cells
_PHASH_CELL = (
    "CASE WHEN (((k * bb + j) + 1) * L) // nc > ((k * bb + j) * L) // nc"
    " AND "
    + _LSUM.format(
        lst="codes[((k * bb + j) * L) // nc + 1"
        " : (((k * bb + j) + 1) * L) // nc]"
    )
    + " * L > total * ((((k * bb + j) + 1) * L) // nc"
    " - ((k * bb + j) * L) // nc)"
    " THEN CAST(1 AS BIGINT) << j ELSE 0 END"
)
_PHASH_HAM = _LSUM.format(
    lst=f"list_transform(range(1, {PHASH_BANDS + 1}),"
    " i -> CAST(bit_count(xor(ba[i], bb2[i])) AS BIGINT))"
)


@register(
    "q109_phash_neardups",
    f"""
    WITH nb AS MATERIALIZED (
      SELECT CAST(greatest({PHASH_MIN_BAND_BITS},
                           ceil(log2(COUNT(*))) + {PHASH_SLACK_BITS})
                  AS BIGINT) AS bb,
             CAST({PHASH_BANDS} * greatest({PHASH_MIN_BAND_BITS},
                           ceil(log2(COUNT(*))) + {PHASH_SLACK_BITS})
                  AS BIGINT) AS nc
      FROM documents
    ),
    c AS (
      SELECT doc_id, CAST(length(text) AS BIGINT) AS L, {_CODES} AS codes
      FROM documents
    ),
    t AS (SELECT doc_id, L, codes, {_LSUM.format(lst="codes")} AS total FROM c),
    ph AS MATERIALIZED (
      SELECT doc_id,
             list_transform(range(0, {PHASH_BANDS}), k ->
               {_LSUM.format(lst=f"list_transform(range(0, bb), j -> {_PHASH_CELL})")})
               AS bs
      FROM t, nb
    ),
    bands AS (
      SELECT doc_id, bs, b AS band, bs[b + 1] AS val
      FROM ph, unnest({list(range(PHASH_BANDS))}) AS u(b)
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.bs AS ba, b.bs AS bb2
      FROM bands a JOIN bands b ON a.band = b.band AND a.val = b.val
                               AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, hamming FROM (
      SELECT id_a, id_b, CAST({_PHASH_HAM} AS INT) AS hamming FROM pairs
    ) WHERE hamming <= 3
    """,
)
def q109_phash_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate image pairs over the binary media
    column: integer aHash (cross-multiplied threshold — no float),
    multi-index Hamming blocking with the band width DERIVED from corpus
    size (multimodal.phash_band_bits_for: 2^band_bits >= 4n keeps random
    band collisions <= n/4 per band; pigeonhole-exact for distance <= 3
    at ANY width), per-band bit_count verify
    (operators/multimodal.py:phash_signature / phash_neardups; ASCII
    corpus => byte values == codepoints, so the oracle recomputes the
    banded hash from text with the same derived width)."""
    media = multimodal.attach_media(load(spark, sf_dir, "documents", spread=True))
    return multimodal.phash_neardups(media, max_hamming=3)


# ===========================================================================
# q118 — oracle-gated ITERATIVE k-means (integer-exact Lloyd rounds,
# SQL-unrolled like the q114 PageRank gate — converts the k-means family
# from "argmax-per-round, rows-only" to hash-exact)
# ===========================================================================

_KM_K = 8
_KM_ITERS = 2  # centroid updates; assignments run iters+1 times


def _km_round(i: int) -> str:
    """One unrolled Lloyd round: distance agg -> argmin assignment ->
    truncating-integer centroid update (empty clusters keep c{i})."""
    return f"""
    d{i} AS (
      SELECT vm.vec_id, c{i}.cid,
             SUM((vm.x - c{i}.c) * (vm.x - c{i}.c)) AS d2
      FROM vm JOIN c{i} USING (pos) GROUP BY 1, 2
    ),
    a{i} AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM d{i}
      ) WHERE rn = 1
    ),
    u{i} AS (
      SELECT a{i}.cid, vm.pos, SUM(vm.x) // COUNT(*) AS c
      FROM a{i} JOIN vm USING (vec_id) GROUP BY 1, 2
    ),
    c{i + 1} AS (
      SELECT c{i}.cid, c{i}.pos, COALESCE(u{i}.c, c{i}.c) AS c
      FROM c{i} LEFT JOIN u{i} ON u{i}.cid = c{i}.cid AND u{i}.pos = c{i}.pos
    )"""


_KM_ROUNDS = ",".join(_km_round(i) for i in range(_KM_ITERS))


@register(
    "q118_kmeans_iterative",
    f"""
    WITH vm AS (
      SELECT vec_id, pos - 1 AS pos,
             CAST(FLOOR(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS x
      FROM (
        SELECT vec_id, unnest(embedding) AS v,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings
      )
    ),
    ids AS (
      SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cid
      FROM (SELECT DISTINCT vec_id FROM embeddings ORDER BY 1 LIMIT {_KM_K})
    ),
    c0 AS (SELECT ids.cid, vm.pos, vm.x AS c FROM ids JOIN vm USING (vec_id)),
    {_KM_ROUNDS},
    df AS (
      SELECT vm.vec_id, cf.cid,
             CAST(SUM((vm.x - cf.c) * (vm.x - cf.c)) AS BIGINT) AS d2
      FROM vm JOIN c{_KM_ITERS} cf USING (pos) GROUP BY 1, 2
    )
    SELECT vec_id, cid AS cluster, d2 FROM (
      SELECT vec_id, cid, d2,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      FROM df
    ) WHERE rn = 1
    """,
)
def q118_kmeans_iterative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full iterative k-means over the embedding corpus, oracle-gated:
    {_KM_ITERS} integer-exact Lloyd centroid updates + final assignment
    (operators/similarity.py:kmeans_lloyd). The DuckDB oracle unrolls
    the SAME rounds as chained CTEs — init = k lowest-id vectors,
    truncating integer centroid division, (d2, cid) argmin ties — so a
    divergence in ANY round's assignment or update breaks the hash.
    Reference parity: the reference has no ML surface; this extends the
    training-data-pipeline capability set (IVF training for q39/q42/q71
    without the pseudo-centroid stand-in)."""
    from hbase_bulkload_service_spark.sources.tables import load as _load

    emb = _load(spark, sf_dir, "embeddings", spread=True)
    return similarity.kmeans_lloyd(emb, k=_KM_K, iters=_KM_ITERS)


# ===========================================================================
# q122 — int8-quantized ANN top-k (vector-compression family)
# ===========================================================================

@register(
    "q122_quantized_topk",
    f"""
    WITH {DUCK_QUANT_CTES},
    q AS (SELECT vec_id AS query_id, qv AS qa, sc AS sa
          FROM qq WHERE vec_id % 100 = 0),
    s AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {duck_quant_score("q", "e")} AS score_q
      FROM q, qq e WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, score_q FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score_q DESC, neighbor_id) AS rank
      FROM s
    ) WHERE rank <= 5
    """,
)
def q122_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 neighbors in int8-QUANTIZED space
    (operators/similarity.py:quantize_int8 / quantized_topk): symmetric
    per-vector quantization (micros -> codes in [-127,127], truncating
    div both engines), pure-integer scoring dot(qa,qb)*sa*sb — the
    memory-compression lever of billion-vector ANN, validated brute-force
    here exactly like q38 validates the float space. Compose with
    IVF/SRP blocking for the 100 TB path; quantization and blocking are
    orthogonal."""
    from hbase_bulkload_service_spark.sources.tables import load as _load

    return similarity.quantized_topk(
        _load(spark, sf_dir, "embeddings", spread=True), k=5, every=100
    )


_RECALL_K = 3


@register(
    "q124_ann_recall",
    f"""
    WITH c AS (
      SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings
      WHERE vec_id % 50 = 0
    ),
    q AS (
      SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
      WHERE vec_id % 100 = 0
    ),
    bs AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {duck_cos_micros("q.qvec", "e.embedding")} AS cm
      FROM q, embeddings e WHERE e.vec_id <> q.query_id
    ),
    truth AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cm DESC, neighbor_id) AS rank
        FROM bs
      ) WHERE rank <= {_RECALL_K}
    ),
    s AS (
      SELECT e.vec_id, c.centroid_id,
             {duck_cos_micros("e.embedding", "c.cvec")} AS cm
      FROM embeddings e, c
    ),
    assign AS (
      SELECT vec_id, centroid_id AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cm DESC, centroid_id) AS rn
        FROM s
      ) WHERE rn = 1
    ),
    qc AS (
      SELECT q.query_id, c.centroid_id,
             {duck_cos_micros("q.qvec", "c.cvec")} AS qc_cos
      FROM q, c
    ),
    probe AS (
      SELECT query_id, centroid_id AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY qc_cos DESC, centroid_id) AS rn
        FROM qc
      ) WHERE rn <= 2
    ),
    ivf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT sc.query_id, sc.neighbor_id,
               row_number() OVER (PARTITION BY sc.query_id
                                  ORDER BY sc.cos_micros DESC, sc.neighbor_id)
                 AS rank
        FROM (
          SELECT p.query_id, e.vec_id AS neighbor_id,
                 {duck_cos_micros("q.qvec", "e.embedding")} AS cos_micros
          FROM probe p
          JOIN q USING (query_id)
          JOIN assign a ON a.cell = p.cell
          JOIN embeddings e ON e.vec_id = a.vec_id
          WHERE p.query_id <> e.vec_id
        ) sc
      ) WHERE rank <= {_RECALL_K}
    ),
    hits AS (
      SELECT t.query_id, CAST(COUNT(i.neighbor_id) AS BIGINT) AS hits
      FROM truth t
      LEFT JOIN ivf i ON i.query_id = t.query_id
                     AND i.neighbor_id = t.neighbor_id
      GROUP BY 1
    )
    SELECT query_id, hits,
           CAST((hits * 1000000) // {_RECALL_K} AS BIGINT) AS recall_ppm
    FROM hits
    """,
)
def q124_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{_RECALL_K} of the IVF searcher (q39b config: nprobe 2,
    every-50th-id centroids) against the exact brute-force truth (q38
    machinery), per query, as integer ppm
    (operators/similarity.py:ann_recall). Both searchers are
    deterministic, so the ENTIRE evaluation replays in SQL — the recall
    number itself is hash-gated, not just pinned in a pytest bound (q54's
    recall assertion remains the looser in-test twin)."""
    from hbase_bulkload_service_spark.sources.tables import load as _load

    emb = _load(spark, sf_dir, "embeddings", spread=True)
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    truth = similarity.brute_force_topk(emb, queries, k=_RECALL_K)
    approx = similarity.ivf_topk(
        emb, queries, similarity.pseudo_centroids(emb), k=_RECALL_K, nprobe=2
    )
    return similarity.ann_recall(truth, approx, k=_RECALL_K)


_K146_IN = 20  # depth of each input ranking
_K146_OUT = 10
_KRRF = 60


@register(
    "q146_rank_fusion",
    f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
      WHERE vec_id % 100 = 0
    ),
    sf AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {duck_cos_micros("q.qvec", "e.embedding")} AS sc
      FROM q, embeddings e WHERE e.vec_id <> q.query_id
    ),
    ra AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sc DESC, neighbor_id) AS rank
      FROM sf
    ),
    {DUCK_QUANT_CTES},
    q2 AS (SELECT vec_id AS query_id, qv AS qa, sc AS sa
           FROM qq WHERE vec_id % 100 = 0),
    s2 AS (
      SELECT q2.query_id, e.vec_id AS neighbor_id,
             {duck_quant_score("q2", "e")} AS sc
      FROM q2, qq e WHERE e.vec_id <> q2.query_id
    ),
    rb AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sc DESC, neighbor_id) AS rank
      FROM s2
    ),
    contrib AS (
      SELECT query_id, neighbor_id,
             1000000000 // ({_KRRF} + rank) AS c
      FROM ra WHERE rank <= {_K146_IN}
      UNION ALL
      SELECT query_id, neighbor_id, 1000000000 // ({_KRRF} + rank)
      FROM rb WHERE rank <= {_K146_IN}
    ),
    fused AS (
      SELECT query_id, neighbor_id, SUM(c) AS rrf_score,
             COUNT(*) AS n_lists
      FROM contrib GROUP BY query_id, neighbor_id
    )
    SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id,
           CAST(rrf_score AS BIGINT) AS rrf_score,
           CAST(n_lists AS BIGINT) AS n_lists
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY rrf_score DESC, neighbor_id)
                  AS rank
      FROM fused
    ) WHERE rank <= {_K146_OUT}
    """,
)
def q146_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: fuse the float-cosine top-20 and the
    int8-quantized top-20 per query by reciprocal-rank fusion
    (similarity.rank_fusion, integer RRF so fused ORDER is
    oracle-exact) into a final top-10. The two searchers disagree
    exactly where quantization distorts the space — n_lists and the
    fused order make that disagreement measurable."""
    emb = load(spark, sf_dir, "embeddings", spread=True)
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    ra = similarity.brute_force_topk(emb, queries, k=_K146_IN)
    rb = similarity.quantized_topk(emb, k=_K146_IN, every=100)
    return similarity.rank_fusion(
        [ra, rb], k_rrf=_KRRF, k_out=_K146_OUT, scale=1_000_000_000
    )


# ===========================================================================
# q147 — embedding-distribution drift between snapshots (per label)
# ===========================================================================


@register(
    "q147_embedding_drift",
    """
    WITH h AS (
      SELECT label,
             CASE WHEN vec_id % 2 = 0 THEN 'a' ELSE 'b' END AS side,
             embedding
      FROM embeddings
    ),
    x AS (
      SELECT label, side, CAST(i AS BIGINT) AS dim,
             CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)
               AS vm
      FROM h, (SELECT unnest(range(1, 65)) AS i)
    ),
    pd AS (
      SELECT label, dim,
             SUM(CASE WHEN side = 'a' THEN vm END) AS sa,
             SUM(CASE WHEN side = 'b' THEN vm END) AS sb,
             COUNT(CASE WHEN side = 'a' THEN 1 END) AS na,
             COUNT(CASE WHEN side = 'b' THEN 1 END) AS nb
      FROM x GROUP BY label, dim
    ),
    d AS (
      SELECT label, na, nb,
             ABS(sa // NULLIF(na, 0) - sb // NULLIF(nb, 0)) AS dd
      FROM pd
    )
    SELECT label,
           CAST(MAX(na) AS BIGINT) AS n_a,
           CAST(MAX(nb) AS BIGINT) AS n_b,
           CAST(SUM(dd) AS BIGINT) AS l1_micros,
           CAST(MAX(dd) AS BIGINT) AS linf_micros
    FROM d GROUP BY label
    """,
)
def q147_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Did the embedding space move between two snapshots? Per-label
    centroid L1/L-inf distance in exact integer micros between the
    even-id and odd-id halves of the embeddings table
    (similarity.centroid_drift) — the monitor that catches a retrained
    encoder or a zeroed field before ANN-recall evaluation spends for
    it. 100 TB of vectors reduce at the map-side combiner."""
    emb = load(spark, sf_dir, "embeddings", spread=True)
    return similarity.centroid_drift(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
        label_col="label",
        vec_col="embedding",
    )


# ===========================================================================
# q172 — product-quantization ANN (per-subspace Lloyd codebooks + ADC)
# ===========================================================================

_PQ_M = 4        # subspaces (64-dim corpus -> 16-dim subvectors)
_PQ_K = 8        # codebook size per subspace
_PQ_ITERS = 1    # centroid update rounds (assignments run iters+1 times)
_PQ_NQ = 4       # queries = the 4 lowest-id vectors
_PQ_TOPK = 5
_PQ_D = 16       # dim // m, fixed by the embeddings fixture (64-dim)


def _pq_round(i: int) -> str:
    """One unrolled per-subspace Lloyd round — q118's _km_round with the
    subspace in every key (see operators/similarity.py:pq_ann_topk)."""
    return f"""
    d{i} AS (
      SELECT vm.vec_id, vm.sub, c{i}.cid,
             SUM((vm.x - c{i}.c) * (vm.x - c{i}.c)) AS d2
      FROM vm JOIN c{i} ON vm.sub = c{i}.sub AND vm.spos = c{i}.spos
      GROUP BY 1, 2, 3
    ),
    a{i} AS (
      SELECT vec_id, sub, cid FROM (
        SELECT vec_id, sub, cid,
               row_number() OVER (PARTITION BY vec_id, sub
                                  ORDER BY d2, cid) AS rn
        FROM d{i}
      ) WHERE rn = 1
    ),
    u{i} AS (
      SELECT a{i}.sub, a{i}.cid, vm.spos, SUM(vm.x) // COUNT(*) AS c
      FROM a{i} JOIN vm
        ON a{i}.vec_id = vm.vec_id AND a{i}.sub = vm.sub
      GROUP BY 1, 2, 3
    ),
    c{i + 1} AS MATERIALIZED (
      SELECT c{i}.sub, c{i}.cid, c{i}.spos, COALESCE(u{i}.c, c{i}.c) AS c
      FROM c{i} LEFT JOIN u{i}
        ON u{i}.sub = c{i}.sub AND u{i}.cid = c{i}.cid
           AND u{i}.spos = c{i}.spos
    )"""


_PQ_ROUNDS = ",".join(_pq_round(i) for i in range(_PQ_ITERS))


@register(
    "q172_pq_ann",
    f"""
    WITH base AS (
      SELECT vec_id, unnest(embedding) AS v,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings
    ),
    vm AS MATERIALIZED (
      SELECT vec_id,
             CAST((pos - 1) // {_PQ_D} AS INT) AS sub,
             CAST((pos - 1) % {_PQ_D} AS INT) AS spos,
             CAST(FLOOR(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS x
      FROM base
    ),
    ids AS (
      SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cid
      FROM (SELECT DISTINCT vec_id FROM embeddings ORDER BY 1 LIMIT {_PQ_K})
    ),
    c0 AS MATERIALIZED (
      SELECT vm.sub, ids.cid, vm.spos, vm.x AS c
      FROM ids JOIN vm USING (vec_id)
    ),
    {_PQ_ROUNDS},
    dfin AS (
      SELECT vm.vec_id, vm.sub, cf.cid,
             SUM((vm.x - cf.c) * (vm.x - cf.c)) AS d2
      FROM vm JOIN c{_PQ_ITERS} cf
        ON vm.sub = cf.sub AND vm.spos = cf.spos
      GROUP BY 1, 2, 3
    ),
    codes AS (
      SELECT vec_id, sub, cid FROM (
        SELECT vec_id, sub, cid,
               row_number() OVER (PARTITION BY vec_id, sub
                                  ORDER BY d2, cid) AS rn
        FROM dfin
      ) WHERE rn = 1
    ),
    qids AS (
      SELECT vec_id AS qid
      FROM (SELECT DISTINCT vec_id FROM embeddings ORDER BY 1 LIMIT {_PQ_NQ})
    ),
    qd AS (
      SELECT vm.vec_id AS qid, cf.sub, cf.cid,
             SUM((vm.x - cf.c) * (vm.x - cf.c)) AS qd2
      FROM vm JOIN qids ON vm.vec_id = qids.qid
      JOIN c{_PQ_ITERS} cf ON vm.sub = cf.sub AND vm.spos = cf.spos
      GROUP BY 1, 2, 3
    ),
    ad AS (
      SELECT qd.qid, codes.vec_id, CAST(SUM(qd.qd2) AS BIGINT) AS adist
      FROM codes JOIN qd ON codes.sub = qd.sub AND codes.cid = qd.cid
      GROUP BY 1, 2
    )
    SELECT qid, vec_id, adist, rnk FROM (
      SELECT qid, vec_id, adist,
             row_number() OVER (PARTITION BY qid
                                ORDER BY adist, vec_id) AS rnk
      FROM ad
    ) WHERE rnk <= {_PQ_TOPK}
    """,
)
def q172_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/similarity.py:pq_ann_topk):
    4 per-subspace integer-Lloyd codebooks of 8 centroids over the
    64-dim corpus, every vector encoded as 4 codes, and the 4 lowest-id
    vectors answered by Asymmetric Distance Computation — top-5 each.
    The oracle unrolls the SAME training round, codes, ADC table, and
    ranking as chained CTEs, so a divergence in any subspace's codebook
    or any lookup breaks the hash."""
    emb = load(spark, sf_dir, "embeddings", spread=True)
    return similarity.pq_ann_topk(
        emb,
        m=_PQ_M,
        k=_PQ_K,
        iters=_PQ_ITERS,
        n_queries=_PQ_NQ,
        topk=_PQ_TOPK,
    )


# ===========================================================================
# q175 — IVF-PQ ANN (coarse inverted lists + PQ codes, the FAISS layout)
# ===========================================================================

_IVFPQ_CELLS = 4
_IVFPQ_M = 4
_IVFPQ_K = 8
_IVFPQ_NPROBE = 2
_IVFPQ_NQ = 4
_IVFPQ_TOPK = 5
_IVFPQ_D = 16  # dim // m, fixed by the embeddings fixture (64-dim)


@register(
    "q175_ivfpq_topk",
    f"""
    WITH base AS (
      SELECT vec_id, unnest(embedding) AS v,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings
    ),
    vm AS MATERIALIZED (
      SELECT vec_id, pos - 1 AS pos,
             CAST(FLOOR(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS x
      FROM base
    ),
    gids AS (
      SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cid
      FROM (SELECT DISTINCT vec_id FROM embeddings
            ORDER BY 1 LIMIT {_IVFPQ_CELLS})
    ),
    g0 AS MATERIALIZED (
      SELECT gids.cid, vm.pos, vm.x AS c FROM gids JOIN vm USING (vec_id)
    ),
    gd0 AS (
      SELECT vm.vec_id, g0.cid, SUM((vm.x - g0.c) * (vm.x - g0.c)) AS d2
      FROM vm JOIN g0 USING (pos) GROUP BY 1, 2
    ),
    ga0 AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM gd0
      ) WHERE rn = 1
    ),
    gu0 AS (
      SELECT ga0.cid, vm.pos, SUM(vm.x) // COUNT(*) AS c
      FROM ga0 JOIN vm USING (vec_id) GROUP BY 1, 2
    ),
    g1 AS MATERIALIZED (
      SELECT g0.cid, g0.pos, COALESCE(gu0.c, g0.c) AS c
      FROM g0 LEFT JOIN gu0 ON gu0.cid = g0.cid AND gu0.pos = g0.pos
    ),
    cd AS (
      SELECT vm.vec_id, g1.cid, SUM((vm.x - g1.c) * (vm.x - g1.c)) AS d2
      FROM vm JOIN g1 USING (pos) GROUP BY 1, 2
    ),
    cells AS MATERIALIZED (
      SELECT vec_id, cid AS cell FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM cd
      ) WHERE rn = 1
    ),
    pvm AS MATERIALIZED (
      SELECT vec_id, CAST(pos // {_IVFPQ_D} AS INT) AS sub,
             CAST(pos % {_IVFPQ_D} AS INT) AS spos, x
      FROM vm
    ),
    pids AS (
      SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cid
      FROM (SELECT DISTINCT vec_id FROM embeddings
            ORDER BY 1 LIMIT {_IVFPQ_K})
    ),
    p0 AS MATERIALIZED (
      SELECT pvm.sub, pids.cid, pvm.spos, pvm.x AS c
      FROM pids JOIN pvm USING (vec_id)
    ),
    pd0 AS (
      SELECT pvm.vec_id, pvm.sub, p0.cid,
             SUM((pvm.x - p0.c) * (pvm.x - p0.c)) AS d2
      FROM pvm JOIN p0 ON pvm.sub = p0.sub AND pvm.spos = p0.spos
      GROUP BY 1, 2, 3
    ),
    pa0 AS (
      SELECT vec_id, sub, cid FROM (
        SELECT vec_id, sub, cid,
               row_number() OVER (PARTITION BY vec_id, sub
                                  ORDER BY d2, cid) AS rn
        FROM pd0
      ) WHERE rn = 1
    ),
    pu0 AS (
      SELECT pa0.sub, pa0.cid, pvm.spos, SUM(pvm.x) // COUNT(*) AS c
      FROM pa0 JOIN pvm
        ON pa0.vec_id = pvm.vec_id AND pa0.sub = pvm.sub
      GROUP BY 1, 2, 3
    ),
    p1 AS MATERIALIZED (
      SELECT p0.sub, p0.cid, p0.spos, COALESCE(pu0.c, p0.c) AS c
      FROM p0 LEFT JOIN pu0
        ON pu0.sub = p0.sub AND pu0.cid = p0.cid AND pu0.spos = p0.spos
    ),
    pdf AS (
      SELECT pvm.vec_id, pvm.sub, p1.cid,
             SUM((pvm.x - p1.c) * (pvm.x - p1.c)) AS d2
      FROM pvm JOIN p1 ON pvm.sub = p1.sub AND pvm.spos = p1.spos
      GROUP BY 1, 2, 3
    ),
    codes AS MATERIALIZED (
      SELECT vec_id, sub, cid FROM (
        SELECT vec_id, sub, cid,
               row_number() OVER (PARTITION BY vec_id, sub
                                  ORDER BY d2, cid) AS rn
        FROM pdf
      ) WHERE rn = 1
    ),
    qids AS MATERIALIZED (
      SELECT vec_id AS qid
      FROM (SELECT DISTINCT vec_id FROM embeddings
            ORDER BY 1 LIMIT {_IVFPQ_NQ})
    ),
    qcd AS (
      SELECT vm.vec_id AS qid, g1.cid AS cell,
             SUM((vm.x - g1.c) * (vm.x - g1.c)) AS d2
      FROM vm JOIN qids ON vm.vec_id = qids.qid
      JOIN g1 USING (pos) GROUP BY 1, 2
    ),
    probed AS (
      SELECT qid, cell FROM (
        SELECT qid, cell,
               row_number() OVER (PARTITION BY qid ORDER BY d2, cell) AS rn
        FROM qcd
      ) WHERE rn <= {_IVFPQ_NPROBE}
    ),
    qd AS (
      SELECT pvm.vec_id AS qid, p1.sub, p1.cid,
             SUM((pvm.x - p1.c) * (pvm.x - p1.c)) AS qd2
      FROM pvm JOIN qids ON pvm.vec_id = qids.qid
      JOIN p1 ON pvm.sub = p1.sub AND pvm.spos = p1.spos
      GROUP BY 1, 2, 3
    ),
    ad AS (
      SELECT probed.qid, codes.vec_id, cells.cell,
             CAST(SUM(qd.qd2) AS BIGINT) AS adist
      FROM codes
      JOIN cells USING (vec_id)
      JOIN probed ON probed.cell = cells.cell
      JOIN qd ON qd.qid = probed.qid
             AND qd.sub = codes.sub AND qd.cid = codes.cid
      GROUP BY 1, 2, 3
    )
    SELECT qid, vec_id, cell, adist, rnk FROM (
      SELECT qid, vec_id, cell, adist,
             row_number() OVER (PARTITION BY qid
                                ORDER BY adist, vec_id) AS rnk
      FROM ad
    ) WHERE rnk <= {_IVFPQ_TOPK}
    """,
)
def q175_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (operators/similarity.py:ivfpq_topk, the FAISS
    ``IVF4,PQ4x8`` layout): a 4-cell integer-Lloyd coarse quantizer
    partitions the corpus into inverted lists, every vector carries 4
    PQ codes, and the 4 lowest-id query vectors scan only their 2
    nearest cells via ADC — search cost scales with nprobe/n_cells of
    the corpus instead of the corpus. The oracle unrolls BOTH
    quantizers (the q118 coarse device + the q172 subspace device),
    the probe ranking, and the cell-filtered ADC sum as one CTE chain,
    so a divergence anywhere — coarse cells, codes, probe list, or any
    ADC lookup — breaks the hash."""
    emb = load(spark, sf_dir, "embeddings", spread=True)
    return similarity.ivfpq_topk(
        emb,
        n_cells=_IVFPQ_CELLS,
        coarse_iters=1,
        m=_IVFPQ_M,
        k=_IVFPQ_K,
        pq_iters=1,
        nprobe=_IVFPQ_NPROBE,
        n_queries=_IVFPQ_NQ,
        topk=_IVFPQ_TOPK,
    )


# ===========================================================================
# q179 — multimodal shot segmentation (frame-luma cut detector)
# ===========================================================================

_SHOT_FRAME = 64
_SHOT_THRESH = 2


@register(
    "q179_scene_shots",
    f"""
    WITH v AS (
      SELECT doc_id, text, length(text) AS nb
      FROM documents WHERE doc_id % 3 = 2
    ),
    fr AS (
      SELECT doc_id, text, nb,
             unnest(range(0, CAST(ceil(nb / {_SHOT_FRAME}.0) AS BIGINT)))
               AS fi
      FROM v
    ),
    lm AS (
      SELECT doc_id, CAST(fi AS INT) AS frame_idx,
             CAST(list_aggregate(list_transform(
                    range(fi * {_SHOT_FRAME} + 1,
                          least(nb, fi * {_SHOT_FRAME} + {_SHOT_FRAME}) + 1),
                    i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)), 'sum')
                  // (least(nb, fi * {_SHOT_FRAME} + {_SHOT_FRAME})
                      - fi * {_SHOT_FRAME}) AS BIGINT) AS luma
      FROM fr
    ),
    mk AS (
      SELECT doc_id, frame_idx, luma,
             CASE WHEN abs(luma - lag(luma) OVER (
                    PARTITION BY doc_id ORDER BY frame_idx))
                    > {_SHOT_THRESH} THEN 1 ELSE 0 END AS cut
      FROM lm
    ),
    sh AS (
      SELECT doc_id, frame_idx, luma,
             CAST(SUM(cut) OVER (PARTITION BY doc_id ORDER BY frame_idx
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS shot_id
      FROM mk
    )
    SELECT doc_id, shot_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(MIN(frame_idx) AS INT) AS first_frame,
           CAST(MIN(luma) AS BIGINT) AS min_luma,
           CAST(MAX(luma) AS BIGINT) AS max_luma
    FROM sh GROUP BY 1, 2
    """,
)
def q179_scene_shots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal shot segmentation
    (operators/multimodal.py:scene_shots): 64-byte frames over the
    opaque video payloads, integer frame luma via numpy-over-Arrow,
    a cut where the luma jump exceeds {_SHOT_THRESH}, gaps-and-islands
    into shots. The oracle recomputes frame lumas from codepoints
    (the ASCII fixture makes payload bytes == codepoints, the q43
    device) and replays the lag + running-sum segmentation."""
    media = multimodal.attach_media(
        load(spark, sf_dir, "documents", spread=True)
    ).filter(F.col("media_type") == "video")
    return multimodal.scene_shots(
        media, frame_bytes=_SHOT_FRAME, threshold=_SHOT_THRESH
    )


# ===========================================================================
# q181 — IVFADC proper: IVF-PQ with RESIDUAL encoding (Jegou et al. §V.A)
# ===========================================================================

_IVFADC_CELLS = 4
_IVFADC_M = 4
_IVFADC_K = 8
_IVFADC_NPROBE = 2
_IVFADC_NQ = 4
_IVFADC_TOPK = 5
_IVFADC_D = 16


@register(
    "q181_ivfadc_topk",
    f"""
    WITH base AS (
      SELECT vec_id, unnest(embedding) AS v,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings
    ),
    vm AS MATERIALIZED (
      SELECT vec_id, pos - 1 AS pos,
             CAST(FLOOR(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS x
      FROM base
    ),
    gids AS (
      SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cid
      FROM (SELECT DISTINCT vec_id FROM embeddings
            ORDER BY 1 LIMIT {_IVFADC_CELLS})
    ),
    g0 AS MATERIALIZED (
      SELECT gids.cid, vm.pos, vm.x AS c FROM gids JOIN vm USING (vec_id)
    ),
    gd0 AS (
      SELECT vm.vec_id, g0.cid, SUM((vm.x - g0.c) * (vm.x - g0.c)) AS d2
      FROM vm JOIN g0 USING (pos) GROUP BY 1, 2
    ),
    ga0 AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM gd0
      ) WHERE rn = 1
    ),
    gu0 AS (
      SELECT ga0.cid, vm.pos, SUM(vm.x) // COUNT(*) AS c
      FROM ga0 JOIN vm USING (vec_id) GROUP BY 1, 2
    ),
    g1 AS MATERIALIZED (
      SELECT g0.cid, g0.pos, COALESCE(gu0.c, g0.c) AS c
      FROM g0 LEFT JOIN gu0 ON gu0.cid = g0.cid AND gu0.pos = g0.pos
    ),
    cd AS (
      SELECT vm.vec_id, g1.cid, SUM((vm.x - g1.c) * (vm.x - g1.c)) AS d2
      FROM vm JOIN g1 USING (pos) GROUP BY 1, 2
    ),
    cells AS MATERIALIZED (
      SELECT vec_id, cid AS cell FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM cd
      ) WHERE rn = 1
    ),
    rvm AS MATERIALIZED (
      SELECT vm.vec_id, vm.pos, vm.x - g1.c AS x
      FROM vm JOIN cells USING (vec_id)
      JOIN g1 ON g1.cid = cells.cell AND g1.pos = vm.pos
    ),
    pvm AS MATERIALIZED (
      SELECT vec_id, CAST(pos // {_IVFADC_D} AS INT) AS sub,
             CAST(pos % {_IVFADC_D} AS INT) AS spos, x
      FROM rvm
    ),
    pids AS (
      SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cid
      FROM (SELECT DISTINCT vec_id FROM embeddings
            ORDER BY 1 LIMIT {_IVFADC_K})
    ),
    p0 AS MATERIALIZED (
      SELECT pvm.sub, pids.cid, pvm.spos, pvm.x AS c
      FROM pids JOIN pvm USING (vec_id)
    ),
    pd0 AS (
      SELECT pvm.vec_id, pvm.sub, p0.cid,
             SUM((pvm.x - p0.c) * (pvm.x - p0.c)) AS d2
      FROM pvm JOIN p0 ON pvm.sub = p0.sub AND pvm.spos = p0.spos
      GROUP BY 1, 2, 3
    ),
    pa0 AS (
      SELECT vec_id, sub, cid FROM (
        SELECT vec_id, sub, cid,
               row_number() OVER (PARTITION BY vec_id, sub
                                  ORDER BY d2, cid) AS rn
        FROM pd0
      ) WHERE rn = 1
    ),
    pu0 AS (
      SELECT pa0.sub, pa0.cid, pvm.spos, SUM(pvm.x) // COUNT(*) AS c
      FROM pa0 JOIN pvm
        ON pa0.vec_id = pvm.vec_id AND pa0.sub = pvm.sub
      GROUP BY 1, 2, 3
    ),
    p1 AS MATERIALIZED (
      SELECT p0.sub, p0.cid, p0.spos, COALESCE(pu0.c, p0.c) AS c
      FROM p0 LEFT JOIN pu0
        ON pu0.sub = p0.sub AND pu0.cid = p0.cid AND pu0.spos = p0.spos
    ),
    pdf AS (
      SELECT pvm.vec_id, pvm.sub, p1.cid,
             SUM((pvm.x - p1.c) * (pvm.x - p1.c)) AS d2
      FROM pvm JOIN p1 ON pvm.sub = p1.sub AND pvm.spos = p1.spos
      GROUP BY 1, 2, 3
    ),
    codes AS MATERIALIZED (
      SELECT vec_id, sub, cid FROM (
        SELECT vec_id, sub, cid,
               row_number() OVER (PARTITION BY vec_id, sub
                                  ORDER BY d2, cid) AS rn
        FROM pdf
      ) WHERE rn = 1
    ),
    qids AS MATERIALIZED (
      SELECT vec_id AS qid
      FROM (SELECT DISTINCT vec_id FROM embeddings
            ORDER BY 1 LIMIT {_IVFADC_NQ})
    ),
    qcd AS (
      SELECT vm.vec_id AS qid, g1.cid AS cell,
             SUM((vm.x - g1.c) * (vm.x - g1.c)) AS d2
      FROM vm JOIN qids ON vm.vec_id = qids.qid
      JOIN g1 USING (pos) GROUP BY 1, 2
    ),
    probed AS MATERIALIZED (
      SELECT qid, cell FROM (
        SELECT qid, cell,
               row_number() OVER (PARTITION BY qid ORDER BY d2, cell) AS rn
        FROM qcd
      ) WHERE rn <= {_IVFADC_NPROBE}
    ),
    qres AS (
      SELECT probed.qid, probed.cell,
             CAST(vm.pos // {_IVFADC_D} AS INT) AS sub,
             CAST(vm.pos % {_IVFADC_D} AS INT) AS spos,
             vm.x - g1.c AS x
      FROM probed
      JOIN vm ON vm.vec_id = probed.qid
      JOIN g1 ON g1.cid = probed.cell AND g1.pos = vm.pos
    ),
    qd AS (
      SELECT qres.qid, qres.cell, p1.sub, p1.cid,
             SUM((qres.x - p1.c) * (qres.x - p1.c)) AS qd2
      FROM qres JOIN p1 ON qres.sub = p1.sub AND qres.spos = p1.spos
      GROUP BY 1, 2, 3, 4
    ),
    ad AS (
      SELECT probed.qid, codes.vec_id, cells.cell,
             CAST(SUM(qd.qd2) AS BIGINT) AS adist
      FROM codes
      JOIN cells USING (vec_id)
      JOIN probed ON probed.cell = cells.cell
      JOIN qd ON qd.qid = probed.qid AND qd.cell = cells.cell
             AND qd.sub = codes.sub AND qd.cid = codes.cid
      GROUP BY 1, 2, 3
    )
    SELECT qid, vec_id, cell, adist, rnk FROM (
      SELECT qid, vec_id, cell, adist,
             row_number() OVER (PARTITION BY qid
                                ORDER BY adist, vec_id) AS rnk
      FROM ad
    ) WHERE rnk <= {_IVFADC_TOPK}
    """,
)
def q181_ivfadc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC proper (operators/similarity.py:ivfpq_residual_topk):
    q175's IVF-PQ with RESIDUAL encoding — codebooks train on, and
    codes encode, vector − coarse centroid, and the ADC table is built
    per (query, probed cell) because the query residual differs per
    cell. The oracle extends q175's chain with the residual CTEs (rvm,
    qres) and the cell-aware ADC join, so a divergence in the residual
    arithmetic, either quantizer, or any per-cell lookup breaks the
    hash."""
    emb = load(spark, sf_dir, "embeddings", spread=True)
    return similarity.ivfpq_residual_topk(
        emb,
        n_cells=_IVFADC_CELLS,
        coarse_iters=1,
        m=_IVFADC_M,
        k=_IVFADC_K,
        pq_iters=1,
        nprobe=_IVFADC_NPROBE,
        n_queries=_IVFADC_NQ,
        topk=_IVFADC_TOPK,
    )


_HN_THRESH = 350_000


@register(
    "q185_hard_negatives",
    f"""
    WITH c AS (
      SELECT vec_id AS centroid_id, embedding AS cvec
      FROM embeddings WHERE vec_id % 50 = 0
    ),
    s AS (
      SELECT e.vec_id, c.centroid_id,
             {duck_cos_micros("e.embedding", "c.cvec")} AS cm
      FROM embeddings e, c
    ),
    assign AS (
      SELECT vec_id, centroid_id AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cm DESC, centroid_id) AS rn
        FROM s
      ) WHERE rn = 1
    )
    SELECT * FROM (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             ea.label AS label_a, eb.label AS label_b,
             {duck_cos_micros("ea.embedding", "eb.embedding")} AS cos_micros
      FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
    ) WHERE cos_micros >= {_HN_THRESH} AND label_a <> label_b
    """,
)
def q185_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (operators/similarity.py:hard_negative_pairs):
    IVF-cell-blocked pairs with cosine >= {_HN_THRESH} micros and
    DIFFERENT labels — the contrastive-training pair miner and
    label-noise audit, sharing q42's blocked candidate set (equi-join
    on cell, never O(n^2)); labels ride thin id-keyed joins onto the
    surviving pairs."""
    emb = load(spark, sf_dir, "embeddings", spread=True)
    return similarity.hard_negative_pairs(
        emb, _HN_THRESH, similarity.pseudo_centroids(emb)
    )


# ===========================================================================
# q191 — margin-based bitext mining (Artetxe & Schwenk 2019)
# ===========================================================================

_BTX_K = 4
_BTX_EVERY = 50
_BTX_MOD = 2


@register(
    "q191_bitext_mining",
    f"""
    WITH c AS (
      SELECT vec_id AS centroid_id, embedding AS cvec
      FROM embeddings WHERE vec_id % {_BTX_EVERY} = 0
    ),
    s AS (
      SELECT e.vec_id, c.centroid_id,
             {duck_cos_micros("e.embedding", "c.cvec")} AS cm
      FROM embeddings e, c
    ),
    assign AS MATERIALIZED (
      SELECT vec_id, centroid_id AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cm DESC, centroid_id) AS rn
        FROM s
      ) WHERE rn = 1
    ),
    cand AS MATERIALIZED (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             {duck_cos_micros("ea.embedding", "eb.embedding")} AS cos_micros
      FROM assign a JOIN assign b ON a.cell = b.cell
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
      WHERE a.vec_id % {_BTX_MOD} = 0 AND b.vec_id % {_BTX_MOD} <> 0
    ),
    ranked AS MATERIALIZED (
      SELECT *,
             row_number() OVER (PARTITION BY vec_a
                                ORDER BY cos_micros DESC, vec_b) AS ra,
             row_number() OVER (PARTITION BY vec_b
                                ORDER BY cos_micros DESC, vec_a) AS rb
      FROM cand
    ),
    sa AS (
      SELECT vec_a,
             SUM(CASE WHEN ra <= {_BTX_K} THEN cos_micros ELSE 0 END) AS sum_a
      FROM ranked GROUP BY 1
    ),
    sb AS (
      SELECT vec_b,
             SUM(CASE WHEN rb <= {_BTX_K} THEN cos_micros ELSE 0 END) AS sum_b
      FROM ranked GROUP BY 1
    )
    SELECT m.vec_a, m.vec_b, m.cos_micros,
           CAST(sa.sum_a AS BIGINT) AS sum_a,
           CAST(sb.sum_b AS BIGINT) AS sum_b,
           CAST((m.cos_micros * {2 * _BTX_K} * 1000000)
                // nullif(sa.sum_a + sb.sum_b, 0) AS BIGINT) AS margin_ppm
    FROM (SELECT * FROM ranked WHERE ra = 1 AND rb = 1) m
    JOIN sa USING (vec_a) JOIN sb USING (vec_b)
    """,
)
def q191_bitext_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining
    (operators/similarity.py:bitext_margin_pairs, after Artetxe &
    Schwenk 2019): mutual-nearest-neighbor pairs between the two
    deterministic sides of the embedding space, scored by the integer
    ratio margin over each side's top-{_BTX_K} candidate cosines.
    Candidates are IVF-cell-blocked (equi-join on cell — never
    |A|x|B|); the margin twin is
    (cos * 2k * 1e6) div (sum_a + sum_b)."""
    emb = load(spark, sf_dir, "embeddings", spread=True)
    return similarity.bitext_margin_pairs(
        emb,
        similarity.pseudo_centroids(emb, every=_BTX_EVERY),
        k=_BTX_K,
        side_mod=_BTX_MOD,
    )


# ===========================================================================
# q197 — embedding-table health audit
# ===========================================================================

_EH_LOW = 500_000


@register(
    "q197_embedding_health",
    f"""
    WITH m AS (
      SELECT label,
             CAST(FLOOR(sqrt({duck_dot("embedding", "embedding")}) * 1000000)
                  AS BIGINT) AS nm,
             CASE WHEN list_max(embedding) = list_min(embedding)
                  THEN 1 ELSE 0 END AS cnst
      FROM embeddings
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CASE WHEN nm = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS zero_norm,
           CAST(SUM(CASE WHEN nm > 0 AND nm < {_EH_LOW} THEN 1 ELSE 0 END)
                AS BIGINT) AS low_norm,
           CAST(SUM(cnst) AS BIGINT) AS const_dims,
           CAST(MIN(nm) AS BIGINT) AS min_norm_micros,
           CAST(MAX(nm) AS BIGINT) AS max_norm_micros,
           CAST(SUM(nm) // COUNT(*) AS BIGINT) AS mean_norm_micros
    FROM m GROUP BY 1
    """,
)
def q197_embedding_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table health audit
    (operators/similarity.py:embedding_health): per label cohort, the
    degenerate-vector census (zero-norm, low-norm below {_EH_LOW}
    micros, constant-across-dims) and the norm spread
    (min/max/truncating-mean micros) — the gate an index build runs
    before trusting a batch of vectors. One scan, map-side fold math,
    one keyed agg; |labels| output rows."""
    return similarity.embedding_health(
        load(spark, sf_dir, "embeddings"), low_norm_micros=_EH_LOW
    )


# ===========================================================================
# q200 — audio silence-trim plan
# ===========================================================================

_TRIM_FRAME = 64
_TRIM_THRESH = 95


@register(
    "q200_audio_trim",
    f"""
    WITH v AS (
      SELECT doc_id, text, length(text) AS nb
      FROM documents WHERE doc_id % 3 = 1
    ),
    fr AS (
      SELECT doc_id, text, nb,
             unnest(range(0, CAST(ceil(nb / {_TRIM_FRAME}.0) AS BIGINT)))
               AS fi
      FROM v
    ),
    lm AS (
      SELECT doc_id, CAST(fi AS INT) AS frame_idx,
             CAST(list_aggregate(list_transform(
                    range(fi * {_TRIM_FRAME} + 1,
                          least(nb, fi * {_TRIM_FRAME} + {_TRIM_FRAME}) + 1),
                    i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)), 'sum')
                  // (least(nb, fi * {_TRIM_FRAME} + {_TRIM_FRAME})
                      - fi * {_TRIM_FRAME}) AS BIGINT) AS luma
      FROM fr
    ),
    agg AS (
      SELECT doc_id, COUNT(*) AS n_frames,
             MIN(CASE WHEN luma >= {_TRIM_THRESH} THEN frame_idx END) AS fi,
             MAX(CASE WHEN luma >= {_TRIM_THRESH} THEN frame_idx END) AS la,
             MAX(luma) AS max_energy
      FROM lm GROUP BY 1
    )
    SELECT doc_id, CAST(n_frames AS BIGINT) AS n_frames,
           CAST(COALESCE(fi, n_frames) AS INT) AS lead_trim,
           CAST(CASE WHEN fi IS NULL THEN 0
                     ELSE n_frames - 1 - la END AS INT) AS tail_trim,
           CAST(n_frames - COALESCE(fi, n_frames)
                - (CASE WHEN fi IS NULL THEN 0 ELSE n_frames - 1 - la END)
                AS INT) AS kept_frames,
           CAST(max_energy AS BIGINT) AS max_energy
    FROM agg
    """,
)
def q200_audio_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio silence-trim planning
    (operators/multimodal.py:audio_trim_plan): per audio clip, the
    leading/trailing frames below energy {_TRIM_THRESH} and the
    surviving span — the lead-in/lead-out removal pass before feature
    extraction, emitted as a PLAN (offsets), not rewritten payloads.
    Frame energies are the integer mean-byte kernel (numpy over Arrow,
    the q179 device); the plan is ONE doc-keyed agg — min/max active
    frame index gives lead/tail/kept arithmetically, no windows. The
    oracle recomputes energies from codepoints (ASCII fixture)."""
    media = multimodal.attach_media(
        load(spark, sf_dir, "documents", spread=True)
    )
    return multimodal.audio_trim_plan(
        media, frame_bytes=_TRIM_FRAME, threshold=_TRIM_THRESH
    )


# ===========================================================================
# q205 — Matryoshka dimension-budget recall curve
# ===========================================================================

_MRL_DIMS = (8, 16, 32, 64)
_MRL_K = 5
_MRL_NQ = 4


def _dd(a: str, b: str, d: int) -> str:
    """Prefix-d dot product as a DuckDB fold (the duck_dot device with a
    parametric dimension)."""
    return (
        f"list_reduce(list_transform(range(1, {d + 1}), "
        f"i -> ({a}[i])::DOUBLE * ({b}[i])::DOUBLE), (x, y) -> x + y)"
    )


def _cosd(a: str, b: str, d: int) -> str:
    return (
        f"CAST(FLOOR({_dd(a, b, d)} / "
        f"(sqrt({_dd(a, a, d)}) * sqrt({_dd(b, b, d)})) * 1000000) AS BIGINT)"
    )


_MRL_SCORED = " UNION ALL ".join(
    f"""SELECT q.qid, e.vec_id, {d} AS dim_budget,
           {_cosd("q.qv", "e.embedding", d)} AS cm
    FROM embeddings e, qids q WHERE e.vec_id <> q.qid"""
    for d in _MRL_DIMS
)


@register(
    "q205_matryoshka_recall",
    f"""
    WITH qids AS MATERIALIZED (
      SELECT vec_id AS qid, embedding AS qv
      FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {_MRL_NQ})
    ),
    scored AS ({_MRL_SCORED}),
    topk AS MATERIALIZED (
      SELECT dim_budget, qid, vec_id FROM (
        SELECT *, row_number() OVER (PARTITION BY dim_budget, qid
                                     ORDER BY cm DESC, vec_id) AS rn
        FROM scored
      ) WHERE rn <= {_MRL_K}
    ),
    gt AS (SELECT qid, vec_id FROM topk WHERE dim_budget = {max(_MRL_DIMS)}),
    ov AS (
      SELECT t.dim_budget, t.qid,
             SUM(CASE WHEN g.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS overlap
      FROM topk t LEFT JOIN gt g
        ON g.qid = t.qid AND g.vec_id = t.vec_id
      GROUP BY 1, 2
    )
    SELECT dim_budget, qid, CAST(overlap AS BIGINT) AS overlap,
           CAST(overlap * 1000000 // {_MRL_K} AS BIGINT) AS recall_ppm
    FROM ov
    """,
)
def q205_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka dimension-budget recall curve
    (operators/similarity.py:matryoshka_recall, after Kusupati et al.
    2022): per prefix budget {_MRL_DIMS} and query, the top-{_MRL_K}
    overlap against the full-dimension ground truth — the "how many
    dims does the index need" analysis. One corpus pass scores every
    budget (query set broadcast, |dims| prefix folds per row); the
    largest budget is the built-in recall-1.0 control row."""
    emb = load(spark, sf_dir, "embeddings", spread=True)
    return similarity.matryoshka_recall(
        emb, dims=_MRL_DIMS, k=_MRL_K, n_queries=_MRL_NQ
    )


# ===========================================================================
# q217 — IVF nprobe-vs-recall curve (search-budget sweep)
# ===========================================================================

_NP_K = 5
_NP_NQ = 4
_NP_PROBES = (1, 2, 4, 8)
_NP_PROBES_SQL = ", ".join(f"({p})" for p in _NP_PROBES)
_NP_ROUNDS = ",".join(_km_round(i) for i in range(_KM_ITERS))


@register(
    "q217_nprobe_recall",
    f"""
    WITH vm AS MATERIALIZED (
      SELECT vec_id, pos - 1 AS pos,
             CAST(FLOOR(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS x
      FROM (
        SELECT vec_id, unnest(embedding) AS v,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings
      )
    ),
    ids AS (
      SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cid
      FROM (SELECT DISTINCT vec_id FROM embeddings ORDER BY 1 LIMIT {_KM_K})
    ),
    c0 AS (SELECT ids.cid, vm.pos, vm.x AS c FROM ids JOIN vm USING (vec_id)),
    {_NP_ROUNDS},
    cf AS MATERIALIZED (SELECT * FROM c{_KM_ITERS}),
    df AS (
      SELECT vm.vec_id, cf.cid,
             SUM((vm.x - cf.c) * (vm.x - cf.c)) AS d2
      FROM vm JOIN cf USING (pos) GROUP BY 1, 2
    ),
    asn AS MATERIALIZED (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM df
      ) WHERE rn = 1
    ),
    q AS (
      SELECT vec_id AS qid
      FROM (SELECT DISTINCT vec_id FROM embeddings ORDER BY 1 LIMIT {_NP_NQ})
    ),
    qv AS MATERIALIZED (
      SELECT q.qid, vm.pos, vm.x FROM q JOIN vm ON vm.vec_id = q.qid
    ),
    alld AS MATERIALIZED (
      SELECT qv.qid, vm.vec_id, SUM((qv.x - vm.x) * (qv.x - vm.x)) AS d2
      FROM qv JOIN vm ON vm.pos = qv.pos AND vm.vec_id <> qv.qid
      GROUP BY 1, 2
    ),
    gt AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY d2, vec_id) AS rn
        FROM alld
      ) WHERE rn <= {_NP_K}
    ),
    qc AS (
      SELECT qv.qid, cf.cid, SUM((qv.x - cf.c) * (qv.x - cf.c)) AS d2
      FROM qv JOIN cf USING (pos) GROUP BY 1, 2
    ),
    qcr AS (
      SELECT qid, cid,
             row_number() OVER (PARTITION BY qid ORDER BY d2, cid)
               AS cell_rank
      FROM qc
    ),
    probes(nprobe) AS (VALUES {_NP_PROBES_SQL}),
    allowed AS MATERIALIZED (
      SELECT p.nprobe, r.qid, r.cid
      FROM probes p JOIN qcr r ON r.cell_rank <= p.nprobe
    ),
    cand AS MATERIALIZED (
      SELECT a.nprobe, d.qid, d.vec_id, d.d2
      FROM alld d
      JOIN asn s ON s.vec_id = d.vec_id
      JOIN allowed a ON a.qid = d.qid AND a.cid = s.cid
    ),
    topk AS (
      SELECT nprobe, qid, vec_id FROM (
        SELECT nprobe, qid, vec_id,
               row_number() OVER (
                 PARTITION BY nprobe, qid ORDER BY d2, vec_id) AS rn
        FROM cand
      ) WHERE rn <= {_NP_K}
    ),
    nc AS (
      SELECT nprobe, qid, COUNT(*) AS n_candidates FROM cand GROUP BY 1, 2
    ),
    ov AS (
      SELECT t.nprobe, t.qid, COUNT(*) AS overlap
      FROM topk t JOIN gt ON gt.qid = t.qid AND gt.vec_id = t.vec_id
      GROUP BY 1, 2
    ),
    grid AS (SELECT DISTINCT nprobe, qid FROM allowed)
    SELECT g.nprobe, g.qid,
           CAST(COALESCE(nc.n_candidates, 0) AS BIGINT) AS n_candidates,
           CAST(COALESCE(ov.overlap, 0) AS BIGINT) AS overlap,
           CAST(COALESCE(ov.overlap, 0) * 1000000 // {_NP_K} AS BIGINT)
             AS recall_ppm
    FROM grid g
    LEFT JOIN nc USING (nprobe, qid)
    LEFT JOIN ov USING (nprobe, qid)
    """,
)
def q217_nprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF nprobe-vs-recall curve
    (operators/similarity.py:nprobe_recall): per search budget, the
    exact-ground-truth top-{_NP_K} overlap AND the candidate count the
    budget paid — the index-tuning sweep completing q205's
    dimension-budget curve (budget on the OTHER axis). Coarse centroids
    are the shared q118 integer-Lloyd device — the oracle re-derives
    the SAME {_KM_ITERS} rounds via q118's unrolled CTE text (imported,
    not copied), then replays cell ranking, candidate gating, and both
    rankings; nprobe={max(_NP_PROBES)} ≥ n_cells is the built-in
    recall-1.0 exhaustive control."""
    emb = load(spark, sf_dir, "embeddings", spread=True)
    return similarity.nprobe_recall(
        emb,
        n_cells=_KM_K,
        iters=_KM_ITERS,
        k=_NP_K,
        n_queries=_NP_NQ,
        nprobes=_NP_PROBES,
    )


# ===========================================================================
# q239 — per-vector top-k dimensions (array higher-order functions)
# ===========================================================================


@register(
    "q239_top_dims",
    """
    WITH x AS (
      SELECT vec_id,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                  AS BIGINT) AS micro,
             generate_subscripts(embedding, 1) - 1 AS idx
      FROM embeddings
    ),
    r AS (
      SELECT vec_id, idx, micro,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY ABS(micro) DESC, idx) AS rnk
      FROM x
    )
    SELECT vec_id, CAST(rnk AS BIGINT) AS rnk,
           CAST(idx AS BIGINT) AS dim_idx, micro
    FROM r WHERE rnk <= 3
    """,
)
def q239_top_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector top-3 dimensions by |magnitude| (deterministic micro
    integers; ties break on dimension index) — the sparse
    feature-attribution readout over the embeddings table. Ranking
    happens INSIDE each row via transform/array_sort/slice
    (similarity.top_dims): zero shuffle, versus the relational
    explode-then-window which would shuffle dims x rows elements."""
    emb = load(spark, sf_dir, "embeddings", spread=True)
    return similarity.top_dims(emb, "vec_id", "embedding", k=3)
