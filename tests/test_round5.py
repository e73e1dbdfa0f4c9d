"""Round-5 invariants: the SemDeDup centroid-count rule + two-level
coarse-quantizer assignment (similarity.k_for / semantic_dedup), and
differential DuckDB gates for the unrolled BPE oracle CTE chains
(queries/text.py q110/q111) on planted adversarial corpora."""

from __future__ import annotations

import math

import duckdb
import pytest

from hbase_bulkload_service_spark.operators import similarity, textops

pytestmark = pytest.mark.slow  # r09 slow tier: see pytest.ini


# ---------------------------------------------------------------------------
# k_for — the SemDeDup k ∝ n rule, encoded
# ---------------------------------------------------------------------------

def test_k_for_cell_size_rule():
    assert similarity.k_for(0) == 1
    assert similarity.k_for(1) == 1
    assert similarity.k_for(50) == 1
    assert similarity.k_for(51) == 2
    assert similarity.k_for(5_000) == 100
    assert similarity.k_for(5_000, cell_target=100) == 50
    # k grows linearly with n: cell size stays bounded at any scale
    assert similarity.k_for(10**12) == 2 * 10**10
    with pytest.raises(ValueError):
        similarity.k_for(-1)
    with pytest.raises(ValueError):
        similarity.k_for(10, cell_target=0)


# ---------------------------------------------------------------------------
# semantic_dedup two-level assignment — mirror the rule in plain Python
# ---------------------------------------------------------------------------

def _cos_micros(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return math.floor(dot / (na * nb) * 1_000_000)


def _two_level_cells(vecs: dict, cents: dict) -> dict:
    """Python reference of semantic_dedup's assignment: coarse set =
    every ceil(sqrt(k))-th centroid by id rank; both levels argmax by
    (cos desc, id asc)."""
    cids = sorted(cents)
    ce = math.ceil(math.sqrt(len(cids)))
    coarse = cids[::ce]

    def nearest(v, pool):
        return max(pool, key=lambda c: (_cos_micros(v, cents[c]), -c))

    c2c = {c: nearest(cents[c], coarse) for c in cids}
    cells = {}
    for vid, v in vecs.items():
        co = nearest(v, coarse)
        pool = [c for c in cids if c2c[c] == co]
        cells[vid] = max(
            pool, key=lambda c: (_cos_micros(v, cents[c]), -c)
        )
    return cells


def test_semantic_dedup_two_level_assignment_matches_reference(spark):
    # 3 well-separated directions + jitter; 4 centroids -> ce=2, 2 coarse
    base = {
        0: [1.0, 0.0, 0.0],
        50: [0.0, 1.0, 0.0],
        100: [0.0, 0.0, 1.0],
        150: [0.7, 0.7, 0.0],
    }
    vecs = {}
    for i, d in enumerate(
        [[1.0, 0.05, 0.0], [0.04, 1.0, 0.0], [0.0, 0.06, 1.0],
         [0.68, 0.73, 0.0], [0.9, 0.4, 0.1], [0.1, 0.2, 0.97]]
    ):
        vecs[i * 7 + 1] = d
    vecs.update(base)  # centroids are corpus vectors too
    emb = spark.createDataFrame(
        sorted(vecs.items()), "vec_id long, embedding array<double>"
    )
    cents = spark.createDataFrame(
        sorted(base.items()), "centroid_id long, cvec array<double>"
    )
    out = {
        r["vec_id"]: r["cell"]
        for r in similarity.semantic_dedup(emb, 995_000, cents).collect()
    }
    want = _two_level_cells(vecs, base)
    assert out == want
    # totality: every input vector got exactly one verdict row
    assert set(out) == set(vecs)


def test_semantic_dedup_duplicate_coarse_centroid_starves_consistently(spark):
    # centroids 0 and 50 are IDENTICAL vectors and both land in the
    # coarse set (k=4 -> ce=2 -> ranks 1,3 -> ids 0,100... make them
    # ranks 1 and 3 so both are coarse): every argmax tie-breaks to the
    # lower id on equal cosine, so nothing routes to the duplicate and
    # no vector is lost to an empty cell.
    cents = {0: [1.0, 0.0], 50: [0.0, 1.0], 100: [1.0, 0.0], 150: [0.5, 0.9]}
    vecs = {1: [0.99, 0.1], 2: [0.1, 0.99], 3: [0.9, 0.2], 4: [0.44, 0.9]}
    emb = spark.createDataFrame(
        sorted(vecs.items()), "vec_id long, embedding array<double>"
    )
    cdf = spark.createDataFrame(
        sorted(cents.items()), "centroid_id long, cvec array<double>"
    )
    rows = similarity.semantic_dedup(emb, 999_000, cdf).collect()
    got = {r["vec_id"]: r["cell"] for r in rows}
    assert set(got) == set(vecs)  # nobody dropped
    assert got == _two_level_cells(vecs, cents)
    assert 100 not in got.values()  # the duplicate (higher id) starves


# ---------------------------------------------------------------------------
# BPE oracle CTE chain — differential vs the engine on planted corpora
# ---------------------------------------------------------------------------

def _duck_on_docs(rows):
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    return con


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


BPE_CORPORA = [
    # overlapping runs: merge (a,a) over aaaa/aaa exercises the
    # non-overlapping left-to-right replace contract
    [(1, "aaaa aaa aaaa"), (2, "aaa ab aab")],
    # merged symbol immediately re-pairs: ab + c after (a,b)
    [(1, "abc abc abcd"), (2, "ab cab abc")],
    # ties on count resolved lexicographically; multi-char symbols
    [(1, "xy xy zw zw"), (2, "xyzw wxyz xy zw")],
    # end-marker merges (e,</w>) compete with in-word pairs
    [(1, "thee thee te te"), (2, "ee ee e e")],
]


@pytest.mark.parametrize("rows", BPE_CORPORA)
def test_bpe_merges_oracle_matches_engine(spark, rows):
    from hbase_bulkload_service_spark import registry

    eng = sorted(
        (r["rank"], r["left"], r["right"], r["pair_count"])
        for r in textops.bpe_merges(
            _docs_df(spark, rows), n_merges=12, batch=8, exact=True
        ).collect()
    )
    con = _duck_on_docs(rows)
    got = sorted(
        tuple(r) for r in
        con.execute(registry.ORACLE["q110_bpe_merges"]).fetchall()
    )
    assert got == eng


@pytest.mark.parametrize("rows", BPE_CORPORA)
def test_bpe_encode_oracle_matches_engine(spark, rows):
    from hbase_bulkload_service_spark import registry

    docs = _docs_df(spark, rows)
    merges = textops.bpe_merges(docs, n_merges=12, batch=8, exact=True)
    eng = sorted(
        (r["doc_id"], r["n_words"], r["n_tokens"], r["tokens_per_word_ppm"])
        for r in textops.bpe_encode(docs, merges).collect()
    )
    con = _duck_on_docs(rows)
    got = sorted(
        tuple(r) for r in
        con.execute(registry.ORACLE["q111_bpe_encode"]).fetchall()
    )
    assert got == eng


# ---------------------------------------------------------------------------
# pHash derived band width
# ---------------------------------------------------------------------------

def test_phash_band_bits_for_tracks_log2():
    from hbase_bulkload_service_spark.operators import multimodal as mm
    assert mm.phash_band_bits_for(0) == 15
    assert mm.phash_band_bits_for(1) == 15
    assert mm.phash_band_bits_for(5_000) == 15      # ceil(log2)+2 = 15
    assert mm.phash_band_bits_for(8_192) == 15      # 13+2
    assert mm.phash_band_bits_for(8_193) == 16      # 14+2
    assert mm.phash_band_bits_for(50_000) == 18     # 16+2
    # the collision bound: 2^bb >= 4n at every n past the floor
    for n in (8_193, 50_000, 10**6, 10**9):
        assert 2 ** mm.phash_band_bits_for(n) >= 4 * n


def test_phash_band_bits_matches_duckdb_formula():
    # the oracle computes greatest(15, ceil(log2(n)) + 2) in float SQL;
    # the engine uses integer bit_length — they must agree everywhere,
    # including power-of-two boundaries
    import duckdb
    from hbase_bulkload_service_spark.operators import multimodal as mm
    con = duckdb.connect()
    ns = [2, 3, 4, 5, 1023, 1024, 1025, 8191, 8192, 8193,
          2**20 - 1, 2**20, 2**20 + 1, 10**9]
    got = [
        con.execute(
            "SELECT CAST(greatest(15, ceil(log2(?)) + 2) AS BIGINT)", [n]
        ).fetchone()[0]
        for n in ns
    ]
    assert got == [mm.phash_band_bits_for(n) for n in ns]


def test_phash_neardups_wide_bands_still_exact(spark):
    # force a band width past the old 60-bit single-long ceiling and
    # check blocking is still pigeonhole-exact vs brute force
    from hbase_bulkload_service_spark.operators import multimodal as mm
    import itertools, random
    rng = random.Random(11)
    texts = ["".join(rng.choice("abcXYZ") for _ in range(64)) for _ in range(24)]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    bb = 17  # 4 bands x 17 bits = 68-cell hash: > 63 bits total
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in mm.phash_neardups(
            mm.attach_media(df), max_hamming=3, band_bits=bb
        ).collect()
    }
    sigs = [mm._phash_bands(t.encode(), bb) for t in texts]
    def ham(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(a, b))
    want = {
        (a, b, ham(sigs[a], sigs[b]))
        for a, b in itertools.combinations(range(24), 2)
        if ham(sigs[a], sigs[b]) <= 3
    }
    assert got == want


# ---------------------------------------------------------------------------
# cachereg: per-family bounds + long-session storage cap
# ---------------------------------------------------------------------------

def test_cachereg_family_isolation_and_self_protection(spark):
    from hbase_bulkload_service_spark import cachereg
    cachereg.release_all()
    base = cachereg.eviction_counts().get("famA", 0)
    frames = [spark.range(i, i + 2).persist() for i in range(12)]
    # famB churn must not evict famA frames
    cachereg.register(frames[0], frames[1], family="famA")
    for f in frames[2:10]:
        cachereg.register(f, family="famB")
    assert cachereg.eviction_counts().get("famA", 0) == base  # untouched
    assert cachereg.eviction_counts().get("famB", 0) >= 4     # churned
    # one call registering > keep frames never evicts its own arguments
    cachereg.register(*frames[2:8], family="famC")
    assert cachereg.eviction_counts().get("famC", 0) == 0
    cachereg.release_all()


def test_incremental_dedup_storage_bounded_across_calls(spark):
    # VERDICT r04 item 6: repeated ingest batches in one long session
    # must not grow executor storage without bound
    import time

    from hbase_bulkload_service_spark import cachereg
    from hbase_bulkload_service_spark.operators import dedup
    cachereg.release_all()

    def storage_count():
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    base = storage_count()  # earlier tests may have live persists
    corpus = spark.createDataFrame(
        [(i, f"corpus document number {i} alpha beta gamma") for i in range(40)],
        "doc_id long, text string",
    )
    for call in range(4):
        batch = spark.createDataFrame(
            [(1000 + call * 10 + j, f"fresh batch {call} doc {j} delta")
             for j in range(5)],
            "doc_id long, text string",
        )
        dedup.incremental_dedup(batch, corpus).collect()
        # the family keep bound caps registered frames regardless of calls
        assert cachereg.registered_count() <= 8
    # 3 persists/call x 4 calls = 12 NEW entries without the bound; the
    # registry keeps 4 for the family (unpersist is async — poll briefly)
    for _ in range(20):
        if storage_count() - base <= 8:
            break
        time.sleep(0.25)
    assert storage_count() - base <= 8
    cachereg.release_all()


def test_minhash_ngram_storage_bounded_across_calls(spark):
    # VERDICT r05 item 5: q35/q36's operator-internal persists
    # (minhash shingle arrays; n-gram arrays + rare-gram index) must go
    # through cachereg too — repeated calls in one long session stay
    # storage-capped per family
    import time

    from hbase_bulkload_service_spark import cachereg
    from hbase_bulkload_service_spark.operators import dedup
    cachereg.release_all()

    def storage_count():
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    base = storage_count()
    docs = spark.createDataFrame(
        [(i, f"document {i} alpha beta gamma delta epsilon zeta eta theta")
         for i in range(30)],
        "doc_id long, text string",
    )
    # SAME input 6x: the round-7 plan-identity dedupe collapses each
    # family to its distinct plans (1 minhash + 2 ngram) with ZERO
    # evictions — re-registering a plan refreshes recency (evicting an
    # old same-plan frame would uncache the live one; see cachereg)
    ev0_mh = cachereg.eviction_counts().get("minhash", 0)
    ev0_ng = cachereg.eviction_counts().get("ngram", 0)
    for _ in range(6):
        dedup.minhash_lsh_neardups(docs).collect()   # 1 persist/call
        dedup.ngram_jaccard_pairs(docs).collect()    # 2 persists/call
    assert cachereg.eviction_counts().get("minhash", 0) == ev0_mh
    assert cachereg.eviction_counts().get("ngram", 0) == ev0_ng
    assert storage_count() - base <= 3
    # DISTINCT inputs (fresh plan per call) still churn through the
    # per-family keep bound: evictions fire and storage stays capped
    for k in range(6):
        d2 = spark.createDataFrame(
            [(i, f"doc {i} round {k} alpha beta gamma delta epsilon")
             for i in range(20)],
            "doc_id long, text string",
        )
        dedup.minhash_lsh_neardups(d2).collect()
        dedup.ngram_jaccard_pairs(d2).collect()
    assert cachereg.eviction_counts().get("minhash", 0) > ev0_mh
    assert cachereg.eviction_counts().get("ngram", 0) > ev0_ng
    for _ in range(20):
        if storage_count() - base <= 8 + 3:
            break
        time.sleep(0.25)
    assert storage_count() - base <= 8 + 3  # 4 + 4 bound + same-plan trio
    cachereg.release_all()
