"""Text analysis operators (north-star surface, SURVEY.md §7 P6) —
language-ID, quality scoring, token counting, document fingerprinting.

The reference has no text operators (it is a TSDB ingestion service); these
are the training-data-pipeline operators the target posture requires. All
of them are pure Column-expression chains (JVM-side, whole-stage codegen)
— no Python in the row path — and every output is an integer or an
exact-division double so the DuckDB oracle hashes match bit-for-bit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window

from hbase_bulkload_service_spark.session import local_frame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# int64 ppm-arithmetic bounds (ADVICE r06): non-ANSI Spark wraps
# silently past these, corrupting ppm outputs while the DuckDB oracle
# (HUGEINT) diverges — the guards below turn that into a loud job
# failure. 3e6 keeps n²·1e6 inside int64 (3e6² · 1e6 = 9e18 < 2⁶³);
# 3e12 keeps the TVD numerator ≤ 3·n_s·n_corpus·1e6 inside int64.
INT64_SQ_PPM_BOUND = 3_000_000
INT64_TVD_PRODUCT_BOUND = 3_000_000_000_000


def int64_bound_guard(df: DataFrame, cond: Column, msg: Column) -> DataFrame:
    """Row-preserving loud overflow guard: ``assert_true(cond)`` returns
    NULL when ``cond`` holds (the coalesce keeps every row) and raises
    ``msg`` when it doesn't — so exceeding a documented int64 ppm bound
    fails the job instead of silently wrapping. Applied to group-level
    frames only (one row per source/doc-census), so it costs nothing.
    """
    return df.filter(
        F.coalesce(F.assert_true(cond, msg).cast("boolean"), F.lit(True))
    )


# deterministic marker vocabularies for the lang-ID heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "value"],
    "de": ["der", "und", "nicht"],
    "es": ["el", "que", "los"],
    "fr": ["le", "les", "est"],
    "zh": ["的", "是", "了"],
}


def norm_text(text: Column) -> Column:
    """lower + collapse whitespace runs + trim — shared normalization for
    all tokenizing operators (identical regex semantics in DuckDB RE2)."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def words_of(text: Column) -> Column:
    return F.split(norm_text(text), " ")


def occurrences(text: Column, needle: str) -> Column:
    """Non-overlapping substring occurrence count via length arithmetic —
    engine-portable (no regex count quirks)."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("int")


def text_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-scoring statistics: char/token counts, mean token length,
    punctuation & digit counts, stopword ratio, alpha ratio."""
    t = norm_text(F.col(text_col))
    n_tokens = F.size(words_of(F.col(text_col)))
    stop_hits = (
        occurrences(F.concat(F.lit(" "), t, F.lit(" ")), " the ")
        + occurrences(F.concat(F.lit(" "), t, F.lit(" ")), " a ")
    )
    return docs.select(
        "doc_id",
        F.length(t).alias("n_chars_norm"),
        n_tokens.alias("n_tokens"),
        # exact integer arithmetic then one identical division
        ((F.length(t) - n_tokens + 1) * F.lit(1.0) / n_tokens).alias("mean_token_len"),
        occurrences(F.col(text_col), ".").alias("n_periods"),
        occurrences(F.col(text_col), ",").alias("n_commas"),
        stop_hits.alias("stopword_hits"),
        (stop_hits * F.lit(1.0) / n_tokens).alias("stopword_ratio"),
    )


def lang_cols(text: Column) -> tuple[Column, Column]:
    """(pred_lang, marker_hits) column pair of the lang-ID heuristic —
    exposed so pipeline operators (curation) can fuse it into a single
    scan instead of joining :func:`lang_id`'s output back on doc_id."""
    t = F.concat(F.lit(" "), norm_text(text), F.lit(" "))
    scores = [
        (
            lang,
            sum(
                (occurrences(t, f" {m} ") for m in markers),
                start=F.lit(0),
            ),
        )
        for lang, markers in sorted(LANG_MARKERS.items())
        if lang != "zh"
    ]
    # argmax with (score desc, lang asc) tiebreak via a struct max
    packed = F.array(
        *[F.struct(s.alias("score"), F.lit(-i).alias("prio"), F.lit(lang).alias("lang"))
          for i, (lang, s) in enumerate(scores)]
    )
    best = F.array_max(packed)
    cjk = F.octet_length(text) > F.length(text) * 2
    return F.when(cjk, F.lit("zh")).otherwise(best["lang"]), best["score"]


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: byte-vs-char ratio flags CJK; otherwise the
    language whose marker words occur most (ties → lexicographically first
    language). Deterministic and SQL-expressible."""
    pred, hits = lang_cols(F.col(text_col))
    return docs.select(
        "doc_id", pred.alias("pred_lang"), hits.alias("marker_hits")
    )


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish estimate
    (ceil(chars/4), the classic ~4-chars-per-token approximation)."""
    t = norm_text(F.col(text_col))
    n_ws = F.size(words_of(F.col(text_col)))
    return docs.select(
        "doc_id",
        n_ws.alias("ws_tokens"),
        F.ceil(F.length(t) / 4).cast("long").alias("bpe_est_tokens"),
        (F.length(t) * F.lit(1.0) / n_ws).alias("chars_per_token"),
    )


_POW31 = None  # lazily-grown [31^k mod 2^32] table, newest-first use


def _pow31_table(n: int):
    """31^k mod 2^32 for k in [0, n) — numpy uint32 wraparound IS mod 2^32."""
    global _POW31
    if _POW31 is None or len(_POW31) < n:
        size = max(n, 1024)
        p = np.empty(size, dtype=np.uint32)
        p[0] = 1
        with np.errstate(over="ignore"):  # uint32 wraparound is the point
            for k in range(1, size):
                p[k] = p[k - 1] * np.uint32(31)
        _POW31 = p
    return _POW31


def fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Rolling-hash document fingerprint: the Java-style 31-multiplier fold
    over codepoints (h = 31*h + cp, 32-bit wrap) of the normalized text —
    same kernel as the salting hash (functions/hashes.py), content-addressed
    like the reference's hex rowkeys. Plus md5 for exact identity.

    Physical shape: normalization + md5 stay JVM-side; the polynomial hash
    is an Arrow-batched pandas UDF vectorized with numpy uint32 arithmetic
    (h = Σ cp_i · 31^(n-1-i) mod 2^32 — wraparound multiply is exact).
    The pure-expression alternative (per-character interpreted HOF fold)
    is ~20× slower on long documents."""

    @pandas_udf("int")
    def rolling31(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts), dtype=np.int64)
        for i, s in enumerate(texts):
            if not s:
                continue
            cps = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32)
            pows = _pow31_table(len(cps))[len(cps) - 1 :: -1]
            h = np.uint64((cps * pows).sum(dtype=np.uint64)) & np.uint64(0xFFFFFFFF)
            out[i] = np.int64(h) - (1 << 32) if h >= (1 << 31) else np.int64(h)
        return pd.Series(out, dtype="int32")

    t = norm_text(F.col(text_col))
    return docs.select(
        "doc_id",
        rolling31(t).alias("rolling_hash"),
        F.md5(t).alias("content_md5"),
    )


# ---------------------------------------------------------------------------
# inverted index / distinctive-term ranking
# ---------------------------------------------------------------------------

def term_index(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Inverted-index long form ``(doc_id, term, tf)`` — one explode + one
    hash aggregate (map-side partial combine collapses repeated terms
    before the shuffle, so exchange volume is per-doc *vocabulary*, not
    token count)."""
    toks = docs.select("doc_id", F.explode(words_of(F.col(text_col))).alias("term"))
    return toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))


def distinctive_terms(docs: DataFrame, text_col: str = "text", k: int = 3) -> DataFrame:
    """Top-``k`` distinctive terms per document: rank by (tf DESC, df ASC,
    term ASC) — high in-doc frequency, low corpus frequency. The integer
    twin of tf-idf ranking (same argsort for any monotone idf; no float
    crosses the oracle boundary).

    Two keyed shuffles, both unavoidable and both linear: document
    frequency is a window count over ``term`` on the (doc, term, tf) index
    — same exchange a groupBy-join would pay, minus the join — then the
    per-doc rank shuffles on ``doc_id``. Stopword-like terms make ``term``
    partitions skewed; AQE splits them, and a df-cap pre-filter (drop
    terms with df above a threshold, as in dedup's rare-gram blocking)
    bounds it outright when k ≪ vocabulary."""
    from pyspark.sql.window import Window

    tf = term_index(docs, text_col)
    ranked = tf.withColumn(
        "df", F.count("*").over(Window.partitionBy("term"))
    ).withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy(
                F.desc("tf"), F.asc("df"), F.asc("term")
            )
        ),
    )
    return ranked.filter(F.col("rnk") <= k)


# ---------------------------------------------------------------------------
# PII scrub / text cleaning (training-data pipeline stage)
# ---------------------------------------------------------------------------

EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
DIGITRUN_RE = "[0-9]{7,}"


def scrub_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails then long digit runs (phone/account-number shaped),
    counting each — the standard pre-training scrub stage. Patterns stay
    in the RE2-compatible subset (no backreferences/lookaround) so the
    same regex text runs identically on Java regex, RE2, and hence any
    engine an oracle might use.

    Pure map-side projection: two regexp counts + two sequential
    regexp_replace passes (emails first — they contain digit runs), no
    shuffle, codegen'd. At 100 TB this pipelines into whatever scan feeds
    it; the md5 of the scrubbed text doubles as the exact-dedup key of
    the CLEANED corpus (scrub-then-dedup collapses docs that differed
    only in their PII)."""
    t = F.col(text_col)
    no_email = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    clean = F.regexp_replace(no_email, DIGITRUN_RE, "<NUM>")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(no_email, F.lit(DIGITRUN_RE), 0)).alias(
            "n_digit_runs"
        ),
        F.md5(clean).alias("scrubbed_md5"),
        F.length(clean).alias("scrubbed_len"),
    )


def chunk_documents(
    docs: DataFrame,
    text_col: str = "text",
    chunk_tokens: int = 50,
    stride: int = 40,
) -> DataFrame:
    """Token-window document chunking with overlap — the standard
    training-data segmentation op (fixed windows of ``chunk_tokens``
    whitespace tokens advancing by ``stride``; the last window is short
    rather than dropped, so every token lands in ≥1 chunk).

    Output: (doc_id, chunk_idx, n_tok, chunk_md5) — the md5 stands in for
    the chunk text so the result stays hash-compact; slice the token
    array the same way to materialize text.

    Scale shape: pure map — normalize once, split once, explode
    ``n_chunks`` index rows per doc, slice per row. No shuffle, no UDF;
    the token array is bound BEFORE the explode (Catalyst does not CSE
    across lambda boundaries — same note as dedup.shingle_arrays).
    """
    if stride <= 0 or chunk_tokens < stride:
        raise ValueError("need chunk_tokens >= stride > 0 (overlap = chunk_tokens - stride)")
    overlap = chunk_tokens - stride
    base = docs.select(
        "doc_id", norm_text(F.col(text_col)).alias("nt")
    ).withColumn("ws", F.split("nt", " "))
    n = F.size("ws")
    # integer-exact ceil((n - overlap) / stride), min 1 — identical
    # arithmetic in DuckDB via (n - overlap + stride - 1) // stride
    n_chunks = F.greatest(
        F.lit(1),
        F.expr(f"(size(ws) - {overlap} + {stride - 1}) div {stride}").cast("int"),
    )
    e = base.select(
        "doc_id",
        "ws",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    chunk = F.slice(F.col("ws"), F.col("chunk_idx") * stride + 1, chunk_tokens)
    return e.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.size(chunk).cast("int").alias("n_tok"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


def repetition_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Within-document repetition signals (Gopher-style quality filters):
    duplicate-word fraction and the count of the most-repeated bigram.
    Heavily repetitive documents (boilerplate, keyword stuffing, scraper
    loops) score high on both and get culled before training.

    Output: (doc_id, n_words, dup_word_ppm, top_bigram_cnt) where
    ``dup_word_ppm = (n_words - n_distinct_words) * 1e6 // n_words``
    (integer ppm — cross-engine exact) and ``top_bigram_cnt`` is the
    occurrence count of the modal adjacent word pair (0 for <2 words).

    Scale shape: the unigram stats are a pure map (array_distinct on the
    bound token array — no shuffle). The bigram mode is two hash
    aggregates: count per (doc, bigram) — partial aggregation collapses
    repeated bigrams map-side so the first exchange moves ~distinct
    pairs, not raw bigrams — then max per doc over the already-collapsed
    pairs (a second, much smaller exchange). State is bounded by per-doc
    vocabulary, never corpus-wide.
    The token array is bound before the explode (no CSE across lambda
    boundaries — same trap as shingle_arrays, see SCALE.md).
    """
    base = docs.select("doc_id", words_of(F.col(text_col)).alias("ws"))
    uni = base.select(
        "doc_id",
        F.size("ws").alias("n_words"),
        F.expr(
            "CAST((size(ws) - size(array_distinct(ws))) * 1000000L"
            " div size(ws) AS BIGINT)"
        ).alias("dup_word_ppm"),
    )
    pairs = base.filter(F.size("ws") >= 2).select(
        "doc_id",
        F.explode_outer(
            F.zip_with(
                F.slice("ws", 1, F.size("ws") - 1),
                F.slice("ws", 2, F.size("ws") - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bg"),
    )
    top = (
        pairs.groupBy("doc_id", "bg")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_bigram_cnt"))
    )
    return uni.join(top, "doc_id", "left").select(
        "doc_id",
        "n_words",
        "dup_word_ppm",
        F.coalesce("top_bigram_cnt", F.lit(0)).alias("top_bigram_cnt"),
    )


# ---------------------------------------------------------------------------
# Sequence packing — bin chunks into fixed-token training sequences
# ---------------------------------------------------------------------------

def pack_sequences(
    chunks: DataFrame,
    seq_len: int,
    id_cols: tuple[str, ...] = ("doc_id", "chunk_idx"),
    tokens_col: str = "n_tok",
    num_shards: int = 64,
) -> DataFrame:
    """Greedy sequence packing: assign every chunk to a training sequence
    ("bin") of capacity ``seq_len`` tokens, the standard pretraining move
    that turns ragged documents into dense fixed-length batches instead
    of padding each chunk to ``seq_len``.

    Distributed shape: chunks are sharded by a hash of the id
    (``num_shards`` groups, one keyed shuffle), and each shard runs
    first-fit-decreasing LOCALLY in an Arrow-batched ``applyInPandas``.
    Packing quality is therefore per-shard, not global — FFD's guarantee
    (every bin except at most one is > half full) holds per shard, so
    total waste is bounded by ``num_shards * seq_len / 2`` tokens — noise
    at corpus scale, and the price removes any global coordination: no
    driver state, shards scale with the corpus. Deterministic: shard by
    hash, order by (tokens desc, id) inside the shard.

    Output: one row per chunk — id_cols, tokens, ``bin_id`` (globally
    unique: shard * 2^40 + local index) and ``bin_fill`` (the bin's total
    tokens, repeated on each member). Chunks larger than ``seq_len``
    raise: chunk first (chunk_documents) with a window ≤ seq_len.
    """
    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    import pandas as pd

    # id columns keep their INPUT types (string doc ids are legal); only
    # the computed columns are pinned
    in_types = {f.name: f.dataType.simpleString() for f in chunks.schema.fields}
    missing = [c for c in (*id_cols, tokens_col) if c not in in_types]
    if missing:
        raise ValueError(f"pack_sequences: missing column(s) {missing}")
    out_schema = (
        ", ".join(f"{c} {in_types[c]}" for c in id_cols)
        + f", {tokens_col} long, bin_id long, bin_fill long"
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["_shard"].iloc[0])
        big = pdf[pdf[tokens_col] > seq_len]
        if len(big):
            raise ValueError(
                f"pack_sequences: {len(big)} chunk(s) exceed seq_len={seq_len}; "
                "chunk with a window <= seq_len first"
            )
        pdf = pdf.sort_values(
            [tokens_col, *id_cols], ascending=[False] + [True] * len(id_cols)
        )
        fills: list[int] = []  # token fill per open bin
        assign: list[int] = []
        for t in pdf[tokens_col].astype(int):
            for i, f in enumerate(fills):  # first fit
                if f + t <= seq_len:
                    fills[i] = f + t
                    assign.append(i)
                    break
            else:
                fills.append(t)
                assign.append(len(fills) - 1)
        out = pdf[[*id_cols, tokens_col]].copy()
        out["bin_id"] = [shard * (1 << 40) + a for a in assign]
        out["bin_fill"] = [fills[a] for a in assign]
        return out

    sharded = chunks.withColumn(
        "_shard", F.abs(F.hash(*[F.col(c) for c in id_cols])) % num_shards
    )
    return sharded.groupBy("_shard").applyInPandas(pack, out_schema)


# ---------------------------------------------------------------------------
# BM25-family ranked retrieval over the inverted index
# ---------------------------------------------------------------------------

def bm25_scores(
    docs: DataFrame,
    terms: list[str],
    top_k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """BM25-shaped ranked retrieval over :func:`term_index` — score every
    document against a bag of query terms with Okapi BM25's saturating
    tf component (k1 = 1.2, b = 0.75) and rank the top_k.

    All arithmetic is integer-rational so the ranking is bit-identical
    across engines (the repo's oracle-portability rule): with
    A = (10 * total_words) div n_docs (~= 10 * avgdl),

        tf_milli  = 1e3 * 22*A*tf  div (10*A*tf + 3*A + 90*dl)

    is exactly floor(1e3 * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)))
    up to the deterministic avgdl rounding, and the idf is the rational
    substitute idf_milli = 1e3 * (N - df) div (df + 1) — monotone
    decreasing in df like ln((N - df + .5)/(df + .5) + 1), so rankings
    agree whenever per-term idf order, not absolute scale, decides (swap
    in the ln form when cross-engine hash-exactness is not required).
    Per-term contribution = idf_milli * tf_milli (ppm-ish scale).
    int64 bounds, both factors together: tf_milli <= 2200 always
    (saturation), so overflow needs idf_milli > 4e15, i.e. more than
    ~4e12 documents with a df=0... impossible (df >= 1 for a scored
    term) — at df = 1 that is N > 8e12 docs, three orders beyond a
    100 TB corpus. (An earlier ppm-scaled form overflowed at N ~ 8.4e6
    docs — caught by review, crashes under ANSI mode.)

    Output: (rank, doc_id, score, n_terms_hit), rank 1..top_k by
    (score DESC, doc_id ASC).

    Scale shape: the term filter is a literal IN pushed into the token
    stream, so the index is built only over query-term postings; df and
    the one-row corpus stats broadcast; the global top-k is orderBy +
    limit — Spark's TakeOrderedAndProject (per-partition partial top-k,
    merge on the driver; never a single-partition window). The final
    rank window runs over top_k rows only."""
    from pyspark.sql.window import Window

    if not terms:
        raise ValueError("bm25_scores needs at least one query term")
    if top_k < 1:
        raise ValueError("top_k must be >= 1")

    # base feeds the corpus stats AND the per-doc join; unprotected, the
    # text column is re-split once per consumer (the q214/q216
    # exchange-reuse class; r07 sweep: 3 corpus scans in q104). Two ints
    # per doc — persist is near-free.
    from hbase_bulkload_service_spark import cachereg

    base = docs.select(
        "doc_id", F.size(words_of(F.col(text_col))).alias("dl")
    ).persist()
    cachereg.register(base, family="bm25")
    stats = base.agg(
        F.count("*").alias("n_docs"),
        F.expr("(10 * sum(dl)) div count(*)").alias("a10"),
    )
    tf = term_index(docs, text_col).filter(F.col("term").isin(list(terms)))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    contrib = (
        tf.join(F.broadcast(df_), "term")
        .join(base, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.expr(
                "((1000 * (n_docs - df)) div (df + 1))"
                " * ((1000 * 22 * a10 * tf)"
                "    div (10 * a10 * tf + 3 * a10 + 90 * dl))"
            ).alias("contrib"),
        )
    )
    top = (
        contrib.groupBy("doc_id")
        .agg(F.sum("contrib").alias("score"), F.count("*").alias("n_terms_hit"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(top_k)
    )
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "doc_id", "score", "n_terms_hit"
    )


# ---------------------------------------------------------------------------
# BPE vocabulary induction (tokenizer training)
# ---------------------------------------------------------------------------

def _merge_pair(syms: Column, left: str, right: str) -> Column:
    """Greedy left-to-right merge of adjacent (left, right) symbol pairs
    into one concatenated symbol — a single fold over the array, exactly
    BPE's apply step. Non-overlapping by construction: once merged, the
    new symbol no longer equals ``left``, so `aaa` under merge (a,a)
    becomes [aa, a], matching the reference algorithm."""
    merged = F.lit(left + right)
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _pick_safe_batch(
    top: list,
    tail_bound: int,
    made_symbols: set,
    limit: int,
    exact: bool,
) -> list[tuple[str, str, int]]:
    """Select a prefix of the ranked pair list (count desc, l asc, r asc)
    that can be merged in ONE pass while reproducing sequential BPE
    exactly (``exact=True``) or per the standard disjoint-batch
    approximation (``exact=False``).

    Exactness argument (all counts refer to the pre-batch pair table P;
    ``tail_bound`` is an upper bound on any pair NOT in ``top``):

    * Merging pair p=(l,r) never INCREASES the count of any existing
      pair: it only consumes l/r-adjacencies and inserts the new symbol
      l+r. Pairs sharing no symbol with p are untouched.
    * The only pairs that can APPEAR are (l+r, x) and (x, l+r); each
      occurrence requires an (r, x) resp. (x, l) adjacency in P, and at
      most one per merge performed, so its count is bounded by
      U = min(count(p), max adjacent count) — computable from ``top`` +
      ``tail_bound`` without applying the merge.
    * Therefore if the accepted pairs are pairwise symbol-disjoint, a
      prefix of the ranked list, their concatenations collide with no
      existing symbol, and every later accepted pair's count strictly
      exceeds every earlier accepted pair's U bound, then sequential BPE
      (recount + argmax each step, ties lexicographic) provably picks
      exactly these pairs in exactly this order.

    ``exact=False`` is the classic parallel-BPE batch: greedy SKIP-scan
    down the ranked list taking every pair disjoint from those already
    accepted (conflicting pairs wait for the next round's recount). May
    reorder vs sequential when a freshly created pair would out-count
    the next ranked pair; recorded pair_counts are batch-time counts.
    """
    by_left: dict[str, int] = {}
    by_right: dict[str, int] = {}
    for row in top:
        l, r, c = row["l"], row["r"], row["pair_count"]
        if by_left.get(l, 0) < c:
            by_left[l] = c
        if by_right.get(r, 0) < c:
            by_right[r] = c
    accepted: list[tuple[str, str, int]] = []
    used: set[str] = set()
    ubounds: list[int] = []
    for row in top:
        l, r, c = row["l"], row["r"], row["pair_count"]
        cat = l + r
        if accepted:
            if l in used or r in used or cat in used:
                if exact:
                    break  # prefix rule: stop at the first conflict
                continue  # skip-scan: conflicting pair waits a round
            if cat in made_symbols:
                if exact:
                    break  # new symbol collides with an existing one
                continue
            if exact and any(u >= c for u in ubounds):
                break  # a freshly created pair might out-rank this one
        accepted.append((l, r, c))
        if cat in made_symbols:
            break  # safe as the LAST accepted merge only (see docstring)
        used.update((l, r, cat))
        adj = max(by_left.get(r, 0), by_right.get(l, 0), tail_bound)
        ubounds.append(min(c, adj))
        if len(accepted) >= limit:
            break
    return accepted


# Above this many merges per pass, apply them via one Arrow-batched
# pandas UDF instead of chaining JVM aggregate-folds (deeply nested
# lambda expressions stress the analyzer/codegen; the UDF holds the
# whole batch as a plain dict and walks each vocab row once per merge).
_JVM_CHAIN_MAX = 8


def _apply_merges_col(syms: Column, batch: list[tuple[str, str, int]]) -> Column:
    """One-pass column expression applying ``batch`` merges in rank order."""
    if len(batch) <= _JVM_CHAIN_MAX:
        for left, right, _c in batch:
            syms = _merge_pair(syms, left, right)
        return syms
    ranked = [(left, right) for left, right, _c in batch]

    @F.pandas_udf("array<string>")
    def apply_all(col: pd.Series) -> pd.Series:
        def run(symlist):
            syms = list(symlist)
            for left, right in ranked:
                cat, merged, i, n = left + right, [], 0, len(syms)
                while i < n:
                    if i + 1 < n and syms[i] == left and syms[i + 1] == right:
                        merged.append(cat)
                        i += 2
                    else:
                        merged.append(syms[i])
                        i += 1
                syms = merged
            return syms

        return col.map(run)

    return apply_all(syms)


def bpe_merges(
    docs: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
    end_marker: str = "</w>",
    batch: int = 1,
    exact: bool = True,
) -> DataFrame:
    """Learn the first ``n_merges`` byte-pair-encoding merges from the
    corpus — tokenizer-vocabulary induction (Sennrich et al. 2016,
    arXiv:1508.07909), the op that turns a 100 TB corpus into the BPE
    table every training run tokenizes with.

    Classic recipe: words become character sequences (+ end marker);
    each round counts adjacent symbol pairs weighted by word frequency,
    merges the most frequent pair everywhere (ties: lexicographically
    smallest pair — deterministic), repeats.

    Output: (rank, left, right, pair_count) — one row per learned merge,
    rank 1..n_merges (fewer if the corpus runs out of repeated pairs).

    ``batch`` bounds how many merges one driver round may apply.
    ``batch=1`` is the sequential reference walk. ``batch>1`` collects
    the top ``8*batch`` candidate pairs per round and accepts the
    longest SAFE prefix (see :func:`_pick_safe_batch`): with
    ``exact=True`` (default) the output is provably identical to the
    sequential walk — the guard stops the batch before any merge whose
    freshly created pairs could out-count a later accepted one; with
    ``exact=False`` only symbol-disjointness is enforced (the standard
    parallel-BPE batch — same vocabulary family, order may diverge from
    strict sequential on chain-heavy corpora). A production 30k-merge
    vocabulary at batch=256/exact=False runs in O(vocab/batch) driver
    rounds instead of 30k sequential Spark jobs.

    Scale shape: the ONLY corpus-sized pass is the word-count aggregate
    (explode + one keyed hash agg with map-side combine). Everything
    after runs on the distinct-word table (vocabulary-sized, millions of
    rows at web scale, not trillions) — per round: a pair explode + one
    hash agg + a bounded top-k collect (TakeOrdered — a per-partition
    top-k, never a single-partition sort), then ONE map-only pass
    applying every accepted merge (JVM fold chain for small batches, a
    single Arrow-batched pandas UDF above ``_JVM_CHAIN_MAX``). The
    driver receives at most ``8*batch`` rows per round (bounded
    metadata, same discipline as plan_merges); lineage is truncated per
    round with localCheckpoint so plan depth stays O(1).
    """
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    if batch < 1:
        raise ValueError("batch must be >= 1")
    words = (
        docs.select(F.explode(words_of(F.col(text_col))).alias("word"))
        .filter(F.col("word") != "")  # empty docs normalize to one '' word
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    seqs = words.select(
        "cnt",
        F.concat(F.split("word", ""), F.array(F.lit(end_marker))).alias("syms"),
    ).localCheckpoint(eager=False)

    spark = docs.sparkSession
    made_symbols = {end_marker}
    merges: list[tuple[int, str, str, int]] = []
    rounds = 0
    while len(merges) < n_merges:
        rounds += 1
        want = n_merges - len(merges)
        pool = 1 if batch == 1 else min(8 * batch, 4096)
        pairs = seqs.select(
            "cnt",
            F.explode(
                F.zip_with(
                    F.slice("syms", 1, F.size("syms") - 1),
                    F.slice("syms", 2, F.size("syms") - 1),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy("p.l", "p.r")
            .agg(F.sum("cnt").alias("pair_count"))
            .filter(F.col("pair_count") >= 2)
            .orderBy(F.desc("pair_count"), F.asc("l"), F.asc("r"))
            .limit(pool)
            .collect()
        )
        if not top:
            break
        tail_bound = top[-1]["pair_count"] if len(top) == pool else 0
        picked = _pick_safe_batch(
            top, tail_bound, made_symbols, min(want, batch), exact
        )
        for left, right, c in picked:
            merges.append((len(merges) + 1, left, right, c))
            made_symbols.add(left + right)
        seqs = seqs.withColumn("syms", _apply_merges_col(F.col("syms"), picked))
        seqs = seqs.localCheckpoint(eager=False)
    global _LAST_BPE_ROUNDS
    _LAST_BPE_ROUNDS = rounds
    return local_frame(spark,
        merges, "rank int, left string, right string, pair_count long"
    )


#: Driver rounds the most recent bpe_merges call took (observability for
#: tests and the scale probe; a 30k-merge production run should be
#: O(vocab/batch) rounds, not O(vocab)).
_LAST_BPE_ROUNDS = 0


def bpe_encode(
    docs: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    end_marker: str = "</w>",
) -> DataFrame:
    """Apply a learned BPE merge table (:func:`bpe_merges` output) to the
    corpus — the tokenize step of every training run. Each word becomes
    its character sequence (+ end marker); merges apply in rank order,
    greedy left-to-right, exactly as during learning.

    Output: (doc_id, n_words, n_tokens, tokens_per_word_ppm) — the
    compression diagnostic (tokens/word falls as the vocab learns the
    corpus; the ratio is the tokenizer-efficiency metric tracked when
    sizing vocabularies).

    Scale shape: the merge table is driver-side metadata (vocab-building
    emits thousands of rows, never data-sized) — collected once and
    BOUND INTO the column expression as a chain of per-merge folds. The
    fold chain runs over the DISTINCT-WORD table only (tokenization is a
    pure function of the word, and vocabulary ≪ corpus — the memoization
    every real tokenizer does), then the corpus token stream picks up
    per-word token counts via a broadcast join: the expensive symbolic
    work is vocab-sized, the corpus-sized pass is one join + one agg
    (measured 8.1 → 5.8 s at sf0.1, the remainder dominated by the
    gate re-learning its merges). Plan size grows with |merges|; for real 30k-merge
    vocabularies swap the fold chain for one Arrow-batched pandas UDF
    holding the merge dict (same results, one Python hop) — the 12-merge
    gate exercises the pure-JVM path."""
    ranked = [
        (r["left"], r["right"])
        for r in merges.orderBy("rank").select("left", "right").collect()
    ]
    words = docs.select(
        "doc_id", F.explode(words_of(F.col(text_col))).alias("word")
    ).filter(F.col("word") != "")  # empty docs contribute no words/tokens
    # `words` feeds the vocab distinct AND the scoring join — a DELIBERATE
    # double evaluation (r07 exchange-reuse sweep, adjudicated class D):
    # the explode is scan-CPU with only SMALL exchanges above it
    # (map-side-combined vocab distinct; broadcast join; doc-collapsed
    # rollup), while deduplicating it via a (doc, word) count table adds
    # a corpus-incidence-scale exchange + cache — MEASURED 5.5x slower
    # at sf0.1 (5.6 -> 31 s) before being reverted. Recompute beats
    # materialize when the shared frame is corpus-sized and cheap.
    syms = F.concat(F.split("word", ""), F.array(F.lit(end_marker)))
    for left, right in ranked:
        syms = _merge_pair(syms, left, right)
    vocab = words.select("word").distinct().select(
        "word", F.size(syms).alias("n_tok")
    )
    return (
        words.join(F.broadcast(vocab), "word")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_words"), F.sum("n_tok").alias("n_tokens"))
        .select(
            "doc_id",
            "n_words",
            "n_tokens",
            F.expr("(n_tokens * 1000000) div n_words").alias(
                "tokens_per_word_ppm"
            ),
        )
    )


def bigram_lm_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Language-model quality scoring — the perplexity-filter stage of an
    LLM data pipeline (score each document by how well a corpus-level
    bigram LM predicts it; low scores flag boilerplate/garbage), kept
    integer-exact so the oracle gate is bit-for-bit.

    Model: add-one-smoothed bigram probabilities in parts-per-billion,
    ``p_ppb(w1,w2) = ((c2(w1,w2) + 1) * 1e9) div (c1(w1) + V)`` with c2 =
    corpus bigram count, c1 = corpus unigram count, V = vocabulary size;
    document score = ``SUM(p_ppb) div n_bigrams`` (mean token probability
    — the same argsort as perplexity for filtering, with no float/log
    crossing the oracle). Output: (doc_id, n_bigrams, score_ppb), one row
    per document with >= 2 words.

    Scale shape: one corpus scan builds words; unigram/bigram counts are
    map-side-combined hash aggs (vocab-bounded output); scoring is two
    keyed equi-joins (bigram key, then unigram key) plus a broadcast of
    the 1-row vocab count — no driver-side state, no collect, nothing
    quadratic. Overflow: (c2+1)*1e9 stays in int64 up to ~9e9 corpus
    occurrences of a single bigram; per-doc SUM(p_ppb) <= 1e9 * doc
    length.
    """
    wf = docs.select(
        "doc_id",
        F.filter(words_of(F.col(text_col)), lambda x: x != "").alias("ws"),
    )
    words = wf.select(F.explode("ws").alias("w"))
    # uni feeds both the vocab-size count and the scoring join (the
    # q214/q216 exchange-reuse class; r07 sweep: 3 corpus scans before
    # this) — persist it (vocab-bounded) and derive V as its row count
    # instead of a second corpus-wide countDistinct pass.
    from hbase_bulkload_service_spark import cachereg

    uni = (
        words.groupBy(F.col("w").alias("w1"))
        .agg(F.count("*").alias("c1"))
        .persist()
    )
    cachereg.register(uni, family="bigramlm")
    vv = uni.agg(F.count("*").alias("v"))
    pairs = wf.filter(F.size("ws") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(ws, 1, size(ws) - 1),"
                " (x, i) -> struct(x AS w1, ws[i + 1] AS w2))"
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    big = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    scored = (
        pairs.join(big, ["w1", "w2"])
        .join(uni, "w1")
        .crossJoin(F.broadcast(vv))
        .select(
            "doc_id",
            F.expr(
                "((c2 + 1) * CAST(1000000000 AS BIGINT)) div (c1 + v)"
            ).alias("p_ppb"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.expr("sum(p_ppb) div count(*)").alias("score_ppb"),
    )


def strip_boilerplate(
    docs: DataFrame,
    text_col: str = "text",
    min_df: int = 2,
    source_col: str = "source",
    sep: str = "\n",
) -> DataFrame:
    """CCNet-style boilerplate line removal — drop lines that repeat
    across ``min_df`` or more DISTINCT documents of the same source
    (navigation chrome, cookie banners, license footers: text repeated
    verbatim across a site's pages carries no training signal and skews
    n-gram statistics). New capability beyond the reference's row-level
    filters (SURVEY.md §2.B4 drops whole dirty rows; this drops repeated
    sub-document spans).

    Per doc: split on ``sep`` with positions, count each line's
    document-frequency within its source, drop lines at df >= min_df,
    and rebuild the survivors in original order by re-splitting the doc
    and filtering the flagged positions.

    Scale shape — LINE TEXT NEVER RIDES A DIGEST EXCHANGE: the exploded
    relation carries (doc_id, source, pos, md5(line)) only, so the df
    aggregate and the boilerplate verdict semi-join shuffle 16-byte
    digests (uniform — a banner appearing on every page of a crawl
    still spreads across tasks). Flagged positions aggregate per doc
    (small int arrays) and join back to the ORIGINAL docs — the only
    exchange that can carry text, and it disappears entirely when the
    flagged-position table broadcasts (the common case: boilerplate
    docs ≪ corpus). The rebuild re-splits the text map-side — a second
    CPU pass over the scan, deliberately traded against shuffling the
    corpus text twice. ``posexplode_outer`` keeps Catalyst from
    inferring ``size(arr) > 0`` and re-evaluating the split below an
    exchange (the q69 trap). All-boilerplate docs survive with
    ``clean_text = ''``; NULL text is treated as empty text (one empty
    line) — one output row per input doc, always.

    Returns one row per doc: doc_id, n_lines, n_kept, clean_text.
    """
    if min_df < 1:
        raise ValueError("min_df must be >= 1")
    # F.split takes a Java regex; sep is a LITERAL separator (parity with
    # the oracle's string_split), so quote it
    sep_re = "".join(
        "\\" + ch if ch in r"\.[]{}()*+-?^$|" else ch for ch in sep
    )
    arr = F.split(F.coalesce(F.col(text_col), F.lit("")), sep_re)
    # lines feeds the df aggregate AND the verdict semi-join with
    # different prunings (the q214/q216 exchange-reuse class; r07 sweep:
    # the split+md5 pass ran once per consumer). Digest-incidence
    # cardinality (16-byte hashes + ints, never line text) — persist,
    # cachereg-bounded like the gram index.
    from hbase_bulkload_service_spark import cachereg

    lines = (
        docs.select(
            "doc_id",
            source_col,
            F.posexplode_outer(arr).alias("pos", "line"),
        )
        .select(
            "doc_id", source_col, "pos", F.md5(F.col("line")).alias("_lh")
        )
        .persist()
    )
    cachereg.register(lines, family="boilerplate")
    freq = lines.groupBy(source_col, "_lh").agg(
        F.count_distinct("doc_id").alias("line_df")
    )
    boiler = freq.filter(F.col("line_df") >= min_df).select(source_col, "_lh")
    bpos = (
        lines.join(boiler, [source_col, "_lh"], "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("_bpos"))
    )
    bset = F.coalesce(F.col("_bpos"), F.array().cast("array<int>"))
    kept = F.filter(arr, lambda x, i: ~F.array_contains(bset, i))
    return docs.join(bpos, "doc_id", "left").select(
        "doc_id",
        F.size(arr).alias("n_lines"),
        F.size(kept).alias("n_kept"),
        F.array_join(kept, sep).alias("clean_text"),
    )


def build_postings(
    docs: DataFrame,
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """Inverted-index construction — the posting-list build behind BM25 /
    boolean retrieval (:func:`bm25_scores` scores ad-hoc; this
    materializes the reusable index artifact): per term, its document
    frequency, collection frequency, and the doc_id-sorted posting list
    of (doc_id, tf) pairs.

    ``max_df`` is the stopword elision threshold: terms appearing in
    more than ``max_df`` documents keep their (df, cf) statistics but
    get a NULL posting list — the standard cap that bounds the longest
    list an index shard must hold (a stop term's postings are both
    useless for ranking and the worst skew surface: one key holding a
    posting per document in the corpus).

    Scale shape: explode -> (term, doc)-keyed hash aggregate (map-side
    combined) -> term-keyed aggregate; posting arrays are built per term
    AFTER the df cap decision, so no executor ever materializes an
    uncapped stop-term list. Postings sort via ``array_sort`` on
    (doc_id, tf) structs — per-group, not a global sort.
    """
    if max_df is not None and max_df < 1:
        raise ValueError("max_df must be >= 1 (or None)")
    terms = docs.select(
        "doc_id", F.explode_outer(words_of(F.col(text_col))).alias("term")
    ).filter(F.col("term") != "")
    tf = terms.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))
    if max_df is None:
        return tf.groupBy("term").agg(
            F.count("*").alias("df"),
            F.sum("tf").alias("cf"),
            F.array_sort(F.collect_list(F.struct("doc_id", "tf"))).alias(
                "postings"
            ),
        )
    stats = tf.groupBy("term").agg(
        F.count("*").alias("df"), F.sum("tf").alias("cf")
    )
    eligible = stats.filter(F.col("df") <= max_df).select("term")
    plist = (
        tf.join(eligible, "term", "left_semi")
        .groupBy("term")
        .agg(
            F.array_sort(F.collect_list(F.struct("doc_id", "tf"))).alias(
                "postings"
            )
        )
    )
    return stats.join(plist, "term", "left")


def term_cooccurrence(
    docs: DataFrame,
    text_col: str = "text",
    min_df: int = 2,
    max_df: int = 100,
    min_co: int = 2,
    rel_ppm: bool = False,
) -> DataFrame:
    """Term-pair association mining (the PMI / lift family): for every
    pair of mid-frequency terms, how much more often do they co-occur in
    the same document than independence predicts? ``score_ppb`` is the
    exact integer lift in parts-per-billion — ``P(a,b) / (P(a)·P(b)) =
    co_df·N / (df_a·df_b)`` scaled by 1e9 (PMI is the log of this;
    monotone, so ranking/thresholding is identical and no libm crosses
    the verdict). The collocation-discovery / phrase-mining primitive
    over a training corpus.

    ``rel_ppm=True`` reads ``min_df``/``max_df`` as parts-per-million of
    the corpus size (``df·1e6`` within ``[min·N, max·N]``, exact integer
    compare) — the form that keeps one configuration meaningful from a
    1k-doc dev slice to the full corpus, since absolute dfs scale with N.

    100 TB shape — df-band blocking is the scale lever: the pair space is
    generated per document by a self-join of BAND terms only, so per-doc
    fan-out is bounded by (band terms per doc choose 2), never
    (all terms choose 2). Stopwords fall out of the band at the top
    (exactly the skew that would otherwise make the doc_id self-join
    quadratic in the hot keys), hapaxes at the bottom. One shuffle for
    the df table (hash agg), one keyed self-join on doc_id, one hash agg
    on the pair — all linear in the surviving (doc, band-term) incidence
    list. N rides in via a broadcast 1-row cross join (no driver
    action). Exactness bound: the int64 product co_df·N·1e9 requires
    max(co_df)·N <= 9.2e9 (at larger corpora, widen to ppm or
    pre-divide — the band cap bounds co_df).
    """
    if not (1 <= min_df <= max_df):
        raise ValueError("need 1 <= min_df <= max_df")
    terms = docs.select(
        "doc_id",
        F.explode_outer(F.array_distinct(words_of(F.col(text_col)))).alias(
            "term"
        ),
    ).filter(F.col("term") != "")
    dfs = terms.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.select(
        F.count("*").cast("long").alias("n_docs")
    )  # 1-row frame, lazy
    if rel_ppm:
        band = dfs.join(F.broadcast(n_docs)).filter(
            (F.col("df") * 1_000_000 >= F.lit(min_df) * F.col("n_docs"))
            & (F.col("df") * 1_000_000 <= F.lit(max_df) * F.col("n_docs"))
        ).select("term", "df")
    else:
        band = dfs.filter((F.col("df") >= min_df) & (F.col("df") <= max_df))
    bt = terms.join(band, "term")  # (doc_id, term, df) — band terms only
    a = bt.select(
        "doc_id", F.col("term").alias("term_a"), F.col("df").alias("df_a")
    )
    b = bt.select(
        "doc_id", F.col("term").alias("term_b"), F.col("df").alias("df_b")
    )
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b", "df_a", "df_b")
        .agg(F.count("*").alias("co_df"))
        .filter(F.col("co_df") >= min_co)
    )
    return pairs.join(F.broadcast(n_docs)).select(
        "term_a",
        "term_b",
        F.col("df_a").cast("long").alias("df_a"),
        F.col("df_b").cast("long").alias("df_b"),
        F.col("co_df").cast("long").alias("co_df"),
        F.expr("co_df * 1000000000L * n_docs div (df_a * df_b)").alias(
            "score_ppb"
        ),
    )


# ---------------------------------------------------------------------------
# Concat-and-cut sequence packing (GPT-style pretraining batches)
# ---------------------------------------------------------------------------

def concat_pack_stats(
    docs: DataFrame,
    seq_len: int = 256,
    seed: int = 0,
    n_shards: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """GPT-style sequence packing audit: concatenate the (deterministically
    shuffled) token stream and cut it at fixed ``seq_len`` boundaries —
    the zero-waste packing used for decoder pretraining (documents may
    span window boundaries; cf. GPT-3 / "packing with EOD tokens"), and
    the complement of :func:`pack_sequences`, which is the no-spanning
    first-fit-decreasing variant.

    Returns one row per training sequence: ``(shard, seq_id, n_docs,
    n_starts, n_tokens, fill_ppm)`` where ``n_docs`` counts documents
    overlapping the window, ``n_starts`` counts documents that BEGIN in
    it (``n_docs - n_starts`` = carry-ins from the previous window), and
    ``fill_ppm = n_tokens * 1e6 div seq_len`` (only a shard's final
    window is ever partial — packing waste is exactly the sum of
    ``seq_len - n_tokens`` over the ``n_shards`` last windows).

    Deterministic + distributed: document order is
    :func:`curation.deterministic_shuffle`'s (shard, pos) — ONE keyed
    exchange total, per-shard parallel sorts, retry-stable. Offsets are
    a per-shard running sum (window over the same partitioning), window
    membership is integer division on the offsets, and even the
    (shard, seq) rollup's clustering is satisfied by the shard
    partitioning (superset grouping keys), so no second exchange ever
    appears — pinned in test_plan_contracts. Token counts use the
    corpus-wide whitespace
    convention (``words_of`` — oracle-proven via q33); raw text never
    crosses a shuffle.
    """
    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    from pyspark.sql.window import Window

    from hbase_bulkload_service_spark.operators.curation import (
        deterministic_shuffle,
    )

    tok = docs.select(
        F.col(id_col), F.size(words_of(F.col(text_col))).alias("__n_tok")
    )
    ordered = deterministic_shuffle(
        tok, key_col=id_col, seed=seed, n_shards=n_shards
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = ordered.select(
        "shard",
        "__n_tok",
        F.coalesce(F.sum("__n_tok").over(w), F.lit(0)).alias("__start"),
    ).select(
        "shard",
        "__n_tok",
        "__start",
        F.expr(f"__start div {seq_len}").alias("__w_first"),
        F.expr(f"(__start + __n_tok - 1) div {seq_len}").alias("__w_last"),
    )
    member = offs.select(
        "shard",
        "__n_tok",
        "__start",
        "__w_first",
        F.explode(F.sequence("__w_first", "__w_last")).alias("seq_id"),
    ).select(
        "shard",
        "seq_id",
        (F.col("seq_id") == F.col("__w_first")).alias("__is_start"),
        (
            F.least(
                F.col("__start") + F.col("__n_tok"),
                (F.col("seq_id") + 1) * seq_len,
            )
            - F.greatest(F.col("__start"), F.col("seq_id") * F.lit(seq_len))
        ).alias("__tok_in"),
    )
    return (
        member.groupBy("shard", "seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("__is_start"), 1).otherwise(0)).alias(
                "n_starts"
            ),
            F.sum("__tok_in").alias("n_tokens"),
        )
        .select(
            "shard",
            "seq_id",
            "n_docs",
            "n_starts",
            "n_tokens",
            F.expr(f"n_tokens * 1000000 div {seq_len}").alias("fill_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus n-gram novelty curve (diversity over ingestion order)
# ---------------------------------------------------------------------------

def ngram_novelty(
    docs: DataFrame,
    k: int = 5,
    batch_docs: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-growth novelty curve: bucket documents into ingestion
    batches (``batch = doc_id div batch_docs`` — the synthetic corpus's
    id order stands in for crawl order) and report, per batch, how much
    of its k-gram vocabulary the corpus has never seen before. The
    saturation of this curve is the standing "is more crawl still adding
    information?" monitor of a pretraining data pipeline — the
    corpus-level complement of the per-document dup metrics (q74/q101).

    Output: ``(batch, n_occ, n_distinct, n_new, novelty_ppm)`` — total
    k-gram occurrences, distinct k-grams present, k-grams whose FIRST
    corpus occurrence (min batch) is this batch, and
    ``n_new * 1e6 div n_distinct``.

    Scale shape: grams are md5-hashed before the first exchange (fixed
    32-byte keys, no gram text in shuffles); (batch, gram) counts
    partial-aggregate map-side; first-occurrence is a second keyed agg
    over the already-collapsed pairs; the batch rollup is
    metadata-scale. Three linear keyed exchanges, no joins against raw
    text, no pair enumeration.
    """
    if k < 1 or batch_docs < 1:
        raise ValueError("k and batch_docs must be >= 1")
    grams = F.when(
        F.size(F.col("__ws")) < k, F.array().cast("array<string>")
    ).otherwise(
        F.expr(
            f"transform(sequence(0, size(__ws) - {k}),"
            f" i -> concat_ws(' ', slice(__ws, i + 1, {k})))"
        )
    )
    per = (
        docs.select(
            F.expr(f"{id_col} div {batch_docs}").alias("batch"),
            words_of(F.col(text_col)).alias("__ws"),
        )
        .select("batch", F.explode(grams).alias("__g"))
        .groupBy("batch", F.md5("__g").alias("__h"))
        .agg(F.count("*").alias("__c"))
    )
    first = per.groupBy("__h").agg(F.min("batch").alias("__fb"))
    return (
        per.join(first, "__h")
        .groupBy("batch")
        .agg(
            F.sum("__c").alias("n_occ"),
            F.count("*").alias("n_distinct"),
            F.sum(
                F.when(F.col("__fb") == F.col("batch"), 1).otherwise(0)
            ).alias("n_new"),
        )
        .select(
            "batch",
            "n_occ",
            "n_distinct",
            "n_new",
            F.expr("n_new * 1000000 div n_distinct").alias("novelty_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage / OOV-rate profile (tokenizer-budget analysis)
# ---------------------------------------------------------------------------

def vocab_coverage(
    docs: DataFrame,
    vocab_size: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-V vocabulary coverage: build the ``vocab_size`` most frequent
    words of the corpus (ties -> lexicographically first, so the cut is
    deterministic) and report every document's out-of-vocabulary rate —
    the standing "does a V-entry tokenizer/embedding table cover this
    corpus?" analysis that sizes vocabulary budgets and flags domain
    drift (a doc with a high OOV rate against the corpus vocabulary is
    out-of-domain or noise).

    Output: ``(doc_id, n_tok, oov, oov_ppm)`` with
    ``oov_ppm = oov * 1e6 div n_tok``.

    Scale shape: one word-keyed agg (map-side combined) builds the
    frequency table; the top-V cut is orderBy+limit =>
    TakeOrderedAndProject (O(V) per partition, no global sort); the
    V-row vocabulary BROADCASTS back onto the token stream, so the only
    other exchange is the doc-keyed rollup. Raw text never shuffles.
    """
    if vocab_size < 1:
        raise ValueError("vocab_size must be >= 1")
    toks = docs.select(
        F.col(id_col), F.explode(words_of(F.col(text_col))).alias("__w")
    )
    # `toks` feeds the frequency table AND the per-doc rollup — a
    # DELIBERATE double evaluation (r07 exchange-reuse sweep,
    # adjudicated class D): every exchange above the explode is small
    # (map-side-combined vocab agg + TakeOrdered; broadcast join;
    # doc-collapsed rollup), while deduplicating the explode via a
    # (doc, word) count table adds a corpus-incidence-scale exchange +
    # cache for zero wall gain at sf0.1 (measured 1.01x) and a strict
    # loss at 100 TB. Same adjudication as bpe_encode.
    vocab = (
        toks.groupBy("__w")
        .agg(F.count("*").alias("__cnt"))
        .orderBy(F.col("__cnt").desc(), F.col("__w"))
        .limit(vocab_size)
        .select("__w", F.lit(1).alias("__in"))
    )
    return (
        toks.join(F.broadcast(vocab), "__w", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tok"),
            F.sum(F.when(F.col("__in").isNull(), 1).otherwise(0)).alias(
                "oov"
            ),
        )
        .select(
            id_col,
            "n_tok",
            "oov",
            F.expr("oov * 1000000 div n_tok").alias("oov_ppm"),
        )
    )


def phrase_decontamination(
    docs: DataFrame,
    phrase_len: int = 6,
    source_mod: int = 97,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Phrase-level decontamination scan — the exact-phrase twin of
    q69's n-gram contamination check (the GPT-3 appendix-C shape:
    eval-set n-grams as a membership set probed by the training
    corpus): treat the first ``phrase_len`` normalized tokens of every
    benchmark document (the deterministic ``id % source_mod == 0``
    cohort stands in for an eval set) as an exact phrase, and find
    EVERY corpus document containing that phrase as a contiguous token
    run, with occurrence counts and the first match position — the
    evidence a decontamination ticket needs ("which training docs
    quote this eval prompt, where, how often"), not just a boolean
    overlap. Overlapping occurrences all count.

    Scale shape for 100 TB — this operator was probe-hardened twice
    (artifacts/LINEARITY_r06_waves21_26.json + SCALE.md):
    - a positional-postings alignment join (token stream x phrase
      tokens, vote per start) measured QUADRATIC SHUFFLE under a
      saturated vocabulary — votes grow as |phrases| x |tokens| /
      |vocab| (80x shuffle at 10x data);
    - a broadcast nested-loop doc-x-phrase slice scan fixed the
      shuffle but measured QUADRATIC CPU (55x wall at 10x) — per-doc
      cost scales with the eval set;
    - the shipped plan is the n-gram hash-set: each document emits its
      sliding ``phrase_len``-grams ONCE (O(tokens), map-side, inside
      whole-stage codegen) and probes them against the BROADCAST
      phrase set with a hash join — per-token cost is O(1) regardless
      of eval-set size, only (phrase, doc, start) HITS reach the one
      hits-sized rollup exchange. Raw text never shuffles.
    """
    if phrase_len < 1:
        raise ValueError("phrase_len must be >= 1")
    ws = words_of(F.col(text_col))
    phrases = (
        docs.filter(F.col(id_col) % source_mod == 0)
        .select(F.col(id_col).alias("phrase_doc"), ws.alias("__pw"))
        .filter(F.size("__pw") >= phrase_len)
        .select(
            "phrase_doc",
            F.concat_ws(" ", F.slice("__pw", 1, phrase_len)).alias("__gram"),
        )
    )
    # sliding P-grams with positions; the size filter guards sequence()
    # (Spark's sequence(a, b) with b < a counts DOWN, not empty)
    toks = docs.select(F.col(id_col), ws.alias("__ws")).filter(
        F.size("__ws") >= phrase_len
    )
    grams = toks.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("__ws") - phrase_len),
                lambda st: F.concat_ws(
                    " ", F.slice(F.col("__ws"), st + 1, phrase_len)
                ),
            )
        ).alias("__start", "__gram"),
    )
    # tokens contain no spaces (split on single spaces), so the joined
    # string is injective in the token sequence — exact match, no
    # hash false positives
    hits = grams.join(F.broadcast(phrases), "__gram")
    return hits.groupBy("phrase_doc", id_col).agg(
        F.count("*").alias("n_matches"),
        F.min("__start").cast("int").alias("first_pos"),
    )


def surprisal_buckets(
    docs: DataFrame,
    rank_cap: int = 1000,
    ref_mod: int = 7,
    n_tiles: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """CCNet-style quality bucketing (Wenzek et al. 2020): score every
    document by how surprising its tokens are to a REFERENCE corpus
    (the deterministic ``id % ref_mod == 0`` slice stands in for the
    "clean wiki" reference a crawl pipeline scores against), then cut
    each language into head / middle / tail terciles — the standard
    shape for "keep the head, sample the middle, drop the tail".

    Integer twin of the reference-LM perplexity: a token's surprisal
    proxy is its frequency RANK in the reference (capped at
    ``rank_cap``; unseen tokens cost ``rank_cap + 1``), and the doc
    score is the truncating mean rank — rank is monotone in -log p for
    a unigram model, so the per-language ordering matches the
    perplexity ordering while every number stays an exact integer.

    Scale shape: one word-keyed agg builds the reference frequencies;
    the top-``rank_cap`` cut is orderBy+limit (TakeOrderedAndProject)
    and its rank window runs on those ``rank_cap`` rows only —
    metadata-scale — before BROADCASTING onto the token stream (the
    q177 vocabulary device); the doc rollup is the only corpus-keyed
    exchange. The tercile cut is a per-language ntile window (the q89
    device; languages are the partition axis, so no global sort).
    """
    from pyspark.sql.window import Window

    toks = docs.select(
        F.col(id_col),
        F.col(lang_col),
        F.explode(words_of(F.col(text_col))).alias("__w"),
    )
    ranked_vocab = (
        toks.filter(F.col(id_col) % ref_mod == 0)
        .groupBy("__w")
        .agg(F.count("*").alias("__cnt"))
        .orderBy(F.col("__cnt").desc(), F.col("__w"))
        .limit(rank_cap)
        .withColumn(
            "__rnk",
            F.row_number().over(
                Window.orderBy(F.col("__cnt").desc(), F.col("__w"))
            ),
        )
        .select("__w", "__rnk")
    )
    scored = (
        toks.join(F.broadcast(ranked_vocab), "__w", "left")
        .groupBy(id_col, lang_col)
        .agg(
            F.count("*").alias("n_tok"),
            F.sum(F.coalesce(F.col("__rnk"), F.lit(rank_cap + 1))).alias(
                "__total"
            ),
        )
        .withColumn("avg_rank", F.expr("__total div n_tok"))
    )
    w_tile = Window.partitionBy(lang_col).orderBy(
        F.col("avg_rank").asc(), F.col(id_col).asc()
    )
    tier = (
        F.when(F.col("bucket") == 1, F.lit("head"))
        .when(F.col("bucket") == n_tiles, F.lit("tail"))
        .otherwise(F.lit("middle"))
    )
    return (
        scored.withColumn("bucket", F.ntile(n_tiles).over(w_tile))
        .select(id_col, lang_col, "n_tok", "avg_rank", "bucket", tier.alias("tier"))
    )


def blocklist_audit(
    docs: DataFrame,
    blocklist: dict[str, int],
    flag_threshold: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Token-blocklist release gate (the C4 "badwords" filter, Raffel et
    al. 2020, as an auditable per-source report): each blocklist entry
    carries an integer severity weight; a document's violation score is
    the severity-weighted count of its blocklisted tokens, and a doc is
    FLAGGED when the score reaches ``flag_threshold``. The output is
    the per-source rollup a release review reads — total docs, flagged
    docs, flagged ppm, total violation score — because blocklist policy
    is enforced per corpus slice, not per row.

    Exact by construction (integer counts and severities; token match
    is exact on the shared normalization, the portable subset of the
    C4 rule — regex-boundary variants bolt onto the same join).

    Scale shape for 100 TB: the blocklist is policy-sized and
    BROADCASTS onto the token stream (map-side hash join in the scan
    stage); violations collapse doc-keyed, then source-keyed — both
    map-side combined. Raw text never shuffles; the report is
    |sources| rows.
    """
    if not blocklist:
        raise ValueError("blocklist must be non-empty")
    if any(v <= 0 for v in blocklist.values()):
        raise ValueError("severities must be positive")
    spark = docs.sparkSession
    bl = local_frame(spark,
        sorted(blocklist.items()), "__w string, __sev long"
    )
    toks = docs.select(
        F.col(id_col),
        F.col(source_col),
        F.explode(words_of(F.col(text_col))).alias("__w"),
    )
    per_doc = (
        toks.join(F.broadcast(bl), "__w")
        .groupBy(id_col, source_col)
        .agg(F.sum("__sev").alias("__score"))
    )
    # flagged-doc stats ride the violation rows only; the denominator
    # (total docs per source) comes from the untokenized doc table
    totals = docs.groupBy(source_col).agg(F.count("*").alias("n_docs"))
    viol = per_doc.groupBy(source_col).agg(
        F.sum((F.col("__score") >= flag_threshold).cast("long")).alias(
            "flagged_docs"
        ),
        F.sum("__score").alias("total_score"),
    )
    return (
        totals.join(viol, source_col, "left")
        .select(
            source_col,
            "n_docs",
            F.coalesce(F.col("flagged_docs"), F.lit(0)).alias("flagged_docs"),
            F.coalesce(F.col("total_score"), F.lit(0)).alias("total_score"),
        )
        .withColumn(
            "flagged_ppm", F.expr("flagged_docs * 1000000 div n_docs")
        )
    )


def lang_confusion(docs: DataFrame, text_col: str = "text",
                   label_col: str = "lang") -> DataFrame:
    """Language-ID confusion matrix — the classifier-eval readout over
    :func:`lang_id`'s predictions vs the labeled language: per (label,
    predicted) cell, the count and its share of the label's row (ppm)
    — the diagonal is per-language recall, off-diagonal cells say
    WHICH languages the n-gram heuristic confuses (the decision input
    for adding markers). One doc-level map (the predictor is a pure
    Column expression) + one (label, pred)-keyed agg; the share window
    runs on the |langs|^2-bounded matrix.
    """
    pred, _hits = lang_cols(F.col(text_col))
    cells = (
        docs.select(F.col(label_col), pred.alias("pred_lang"))
        .groupBy(label_col, "pred_lang")
        .agg(F.count("*").alias("n"))
    )
    return cells.withColumn(
        "share_ppm",
        F.expr(f"n * 1000000 div sum(n) over (partition by {label_col})"),
    )


def char_diversity(
    docs: DataFrame,
    text_col: str = "text",
    low_ppm: int = 800000,
) -> DataFrame:
    """Character-diversity quality gate: per document, the Gini diversity
    index of the normalized character distribution — ``1 - Σ(c_i/n)²``
    as the exact rational ``(n² - Σc_i²)·1e6 // n²`` (pure integers, no
    float entropy; same ranking as Shannon entropy for the degenerate
    tails this gate exists to catch: keyboard-mash, "aaaa…" padding,
    single-char separators repeated). Emits the distinct-char census and
    the top character's share too; ``low_diversity`` flags docs under
    ``low_ppm``.

    Scale shape: explode-to-chars → (doc, char) partial-agg (map-side
    combine collapses each doc's repeats inside the scan task) → one
    doc-keyed agg. No joins, no windows. Overflow guard: n²·1e6 stays
    inside int64 for docs up to ~3M normalized chars — past that the
    job fails loudly (int64_bound_guard); chunk first
    (chunk_documents).
    """
    chars = docs.select(
        "doc_id",
        F.explode(F.split(norm_text(F.col(text_col)), "")).alias("ch"),
    ).filter(F.col("ch") != "")
    per_char = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
    census = per_char.groupBy("doc_id").agg(
        F.sum("c").alias("n_chars_norm"),
        F.count("*").alias("distinct_chars"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
        F.max("c").alias("top_c"),
    )
    census = int64_bound_guard(
        census,
        F.col("n_chars_norm") <= F.lit(INT64_SQ_PPM_BOUND),
        F.format_string(
            "char_diversity int64 bound exceeded: doc %s has %s normalized"
            " chars (> 3e6); chunk_documents first",
            F.col("doc_id").cast("string"),
            F.col("n_chars_norm").cast("string"),
        ),
    )
    return (
        census
        .select(
            "doc_id",
            "n_chars_norm",
            "distinct_chars",
            F.expr(
                "(n_chars_norm * n_chars_norm - ss) * 1000000"
                " div (n_chars_norm * n_chars_norm)"
            ).alias("gini_ppm"),
            F.expr("top_c * 1000000 div n_chars_norm").alias("top_char_ppm"),
        )
        .withColumn("low_diversity", F.col("gini_ppm") < low_ppm)
    )


def tokenizer_fertility(
    docs: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    group_col: str = "lang",
) -> DataFrame:
    """Tokenizer fertility audit: per language (or any stratum), the
    corpus-level tokens-per-word and bytes-per-token ratios under a
    trained BPE merge table — the readout a tokenizer review runs per
    language before freezing a vocabulary (high fertility on a language
    means its text costs disproportionate sequence length; the classic
    multilingual-tokenizer fairness metric).

    Pipeline: :func:`bpe_encode` supplies per-doc (n_words, n_tokens)
    — its expensive symbolic work is vocab-sized, not corpus-sized —
    then one doc-keyed join against the (lang, byte-length) projection
    and one lang-keyed agg. Ratios are truncating-integer ppm on the
    SUMS (corpus fertility, not mean-of-per-doc — robust to short-doc
    noise and exactly reproducible).
    """
    enc = bpe_encode(docs, merges, text_col)
    meta = docs.select(
        "doc_id",
        F.col(group_col),
        F.octet_length(F.col(text_col)).cast("long").alias("nbytes"),
    )
    return (
        enc.join(meta, "doc_id")
        .groupBy(group_col)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_words").alias("n_words"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("nbytes").alias("n_bytes"),
        )
        .select(
            group_col,
            "n_docs",
            "n_words",
            "n_tokens",
            "n_bytes",
            F.expr("n_tokens * 1000000 div n_words").alias(
                "tokens_per_word_ppm"
            ),
            F.expr("n_bytes * 1000000 div n_tokens").alias(
                "bytes_per_token_ppm"
            ),
        )
    )


def kappa_agreement(
    docs: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    group_col: str = "source",
) -> DataFrame:
    """Chance-corrected agreement (Cohen's kappa) between the n-gram
    language predictor and the labeled language, per source — the
    annotator-quality readout an eval pipeline runs per data provider
    (raw accuracy flatters sources with skewed label marginals; kappa
    subtracts the agreement their marginals would produce by chance).

    Exact rational form: with N docs, D agreeing, and
    ``pe_num = Σ_class row_class · col_class``,
    ``kappa = (N·D − pe_num) / (N² − pe_num)`` — emitted as truncating
    ppm (Spark ``div`` / DuckDB ``//`` agree on the negative-kappa
    case), alongside po/pe ppm. Degenerate ``pe = 1`` yields NULL.
    Overflow bound: ``N²·1e6`` must fit int64, i.e. ≤ ~3e6 docs per
    source — past that the job fails loudly (int64_bound_guard);
    sample or shard a bigger stratum first (the verdict is a rate; it
    is invariant under uniform per-source sampling in expectation).

    One doc-level map + one (group, label, pred)-keyed agg; everything
    after runs on the |groups|·|langs|²-bounded matrix.
    """
    pred, _hits = lang_cols(F.col(text_col))
    # localCheckpoint the matrix: rows/cols/tot prune DIFFERENT columns
    # off this aggregate, which breaks Catalyst's exchange reuse — without
    # it the doc-level predictor subtree evaluates THREE times (measured:
    # 3 × ~20 s executor time at sf0.1×10). The matrix is
    # |groups|·|langs|²-bounded, so the checkpoint is metadata-sized.
    # Eager-execution contract: jobs run when this operator is CALLED.
    cells = (
        docs.select(
            F.col(group_col).alias("g"),
            F.col(label_col).alias("label"),
            pred.alias("pred"),
        )
        .groupBy("g", "label", "pred")
        .agg(F.count("*").alias("n"))
        .localCheckpoint()
    )
    rows = cells.groupBy("g", F.col("label").alias("cls")).agg(
        F.sum("n").alias("row_n")
    )
    cols = cells.groupBy("g", F.col("pred").alias("cls")).agg(
        F.sum("n").alias("col_n")
    )
    pe = (
        rows.join(cols, ["g", "cls"])
        .groupBy("g")
        .agg(F.sum(F.col("row_n") * F.col("col_n")).alias("pe_num"))
    )
    tot = cells.groupBy("g").agg(
        F.sum("n").alias("n_docs"),
        F.sum(
            F.when(F.col("label") == F.col("pred"), F.col("n")).otherwise(
                F.lit(0)
            )
        ).alias("n_agree"),
    )
    joined = tot.join(pe, "g", "left").select(
        F.col("g").alias(group_col),
        "n_docs",
        "n_agree",
        F.coalesce("pe_num", F.lit(0).cast("long")).alias("pe_num"),
    )
    joined = int64_bound_guard(
        joined,
        F.col("n_docs") <= F.lit(INT64_SQ_PPM_BOUND),
        F.format_string(
            "kappa_agreement int64 bound exceeded: source %s has %s docs"
            " (> 3e6); sample or shard the stratum first",
            F.col(group_col).cast("string"),
            F.col("n_docs").cast("string"),
        ),
    )
    return (
        joined
        .select(
            group_col,
            "n_docs",
            "n_agree",
            F.expr("n_agree * 1000000 div n_docs").alias("po_ppm"),
            F.expr("pe_num * 1000000 div (n_docs * n_docs)").alias(
                "pe_ppm"
            ),
            F.expr(
                "(n_docs * n_agree - pe_num) * 1000000"
                " div nullif(n_docs * n_docs - pe_num, 0)"
            ).alias("kappa_ppm"),
        )
    )


def token_tvd(
    docs: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-source unigram-distribution drift: the exact total-variation
    distance between each source's token distribution and the corpus
    mixture, in ppm — the corpus-composition monitor that catches a
    crawl whose vocabulary shifted (template floods, language drift,
    boilerplate regressions) without any reference model.

    Exactness device: TVD = ½·Σ_w |p_s(w) − p(w)| over the FULL corpus
    vocabulary, but words absent from the source contribute
    ``c_w·N_s``, so the whole sum collapses to source-present rows:
    ``Σ_{w∈s} |c_sw·N − c_w·N_s| + N_s·(N − Σ_{w∈s} c_w)`` — pure
    integer cross-multiplication, no float probabilities, no
    source×vocabulary grid. Overflow bound: the numerator is at most
    3·N·N_s, so N·N_s ≤ 3e12 keeps it·1e6 inside int64 (fine to ~10⁶
    tokens/source · 10⁶ corpus tokens) — past that the job fails
    loudly (int64_bound_guard, division-form so the check itself
    cannot wrap); shard the corpus dimension beyond that.

    Shuffle census: one (source, word) agg off the exploded scan (the
    corpus totals derive from it — the corpus is never re-scanned),
    one word-keyed join, one source-keyed agg.
    """
    from hbase_bulkload_service_spark import cachereg

    words = docs.select(
        F.col(group_col).alias("g"),
        F.explode(words_of(F.col(text_col))).alias("w"),
    ).filter(F.col("w") != "")
    # persist the collapsed (source, word) counts: wtot/totals/the join
    # prune DIFFERENT columns off this aggregate, which breaks exchange
    # reuse — unpersisted, the explode scan evaluates three times. The
    # table is (sources × vocab)-bounded; registration keeps long
    # sessions storage-bounded (same contract as the minhash family).
    sw = words.groupBy("g", "w").agg(F.count("*").alias("c_sw")).persist()
    cachereg.register(sw, family="tvd")
    wtot = sw.groupBy("w").agg(F.sum("c_sw").alias("c_w"))
    totals = sw.groupBy("g").agg(
        F.sum("c_sw").alias("n_s"), F.count("*").alias("n_types")
    )
    # corpus total from the SOURCES-bounded totals, not a second pass
    # over the vocab-sized wtot (r07 exchange-reuse sweep): sum_g n_s ==
    # sum_w c_w by construction.
    n_corpus = totals.agg(F.sum("n_s").alias("n_corpus"))
    j = (
        sw.join(wtot, "w")
        .join(F.broadcast(totals), "g")
        .crossJoin(F.broadcast(n_corpus))
        .groupBy("g", "n_s", "n_types", "n_corpus")
        .agg(
            F.sum(
                F.abs(
                    F.col("c_sw") * F.col("n_corpus")
                    - F.col("c_w") * F.col("n_s")
                )
            ).alias("present_num"),
            F.sum("c_w").alias("c_w_present"),
        )
    )
    j = int64_bound_guard(
        j,
        # division form: n_s·n_corpus ≤ 3e12 checked without the product
        # itself (which could wrap inside the guard)
        F.col("n_s") <= F.expr(f"{INT64_TVD_PRODUCT_BOUND} div n_corpus"),
        F.format_string(
            "token_tvd int64 bound exceeded: source %s has %s tokens"
            " against a %s-token corpus (n_s*n_corpus > 3e12); shard the"
            " corpus dimension first",
            F.col("g").cast("string"),
            F.col("n_s").cast("string"),
            F.col("n_corpus").cast("string"),
        ),
    )
    return j.select(
        F.col("g").alias(group_col),
        F.col("n_s").alias("n_tokens"),
        "n_types",
        F.expr(
            "(present_num + n_s * (n_corpus - c_w_present)) * 1000000"
            " div (2 * n_s * n_corpus)"
        ).alias("tvd_ppm"),
    )


def readability_scores(
    docs: DataFrame,
    text_col: str = "text",
    hard_milli: int = 30000,
) -> DataFrame:
    """Integer Flesch-reading-ease twin: per document, words, sentences
    (``[.!?]+`` runs, floored at 1), syllables (vowel runs — the
    standard cheap estimator), and
    ``206835 − 1015·(words/sentence) − 84600·(syllables/word)`` with
    every ratio a truncating per-mille integer (the classic score ×
    1000; same ordering, zero float drift). ``hard_to_read`` flags
    scores under ``hard_milli`` — the quality-filter feature sets like
    C4's use to drop listings/boilerplate that cluster at the extremes.

    Pure map-side expression census (three regexp_count passes + the
    normalizer) — no shuffle at all; at 100 TB this fuses into
    whatever scan already reads the text.
    """
    t = norm_text(F.col(text_col))
    n_words = F.size(words_of(F.col(text_col))).cast("long")
    n_sent = F.greatest(
        F.lit(1).cast("long"),
        F.regexp_count(t, F.lit(r"[.!?]+")).cast("long"),
    )
    n_syll = F.greatest(
        F.lit(1).cast("long"),
        F.regexp_count(t, F.lit(r"[aeiouy]+")).cast("long"),
    )
    return (
        docs.filter(F.length(norm_text(F.col(text_col))) > 0)
        .select(
            "doc_id",
            n_words.alias("n_words"),
            n_sent.alias("n_sentences"),
            n_syll.alias("n_syllables"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_sentences",
            "n_syllables",
            F.expr("n_words * 1000 div n_sentences").alias("wps_milli"),
            F.expr("n_syllables * 1000 div n_words").alias("spw_milli"),
        )
        .withColumn(
            "flesch_milli",
            F.expr(
                "206835 - (1015 * wps_milli) div 1000"
                " - (84600 * spw_milli) div 1000"
            ),
        )
        .withColumn("hard_to_read", F.col("flesch_milli") < hard_milli)
    )


def calibrated_length_floor(
    docs: DataFrame,
    text_col: str = "text",
    group_col: str = "lang",
    q_permille: int = 250,
) -> DataFrame:
    """Per-stratum calibrated length gate: the exact q-th percentile
    (PERCENTILE_DISC by rank: value at ``ceil(q·n)`` in (words, doc_id)
    order) of per-doc word counts WITHIN each language, and how many of
    the stratum's docs fall under their own floor — the
    threshold-per-language calibration a multilingual filter needs
    (a fixed global length floor over-drops terse languages; Gopher
    and FineWeb both calibrate per language for exactly this reason).

    One stratum-keyed rank window (the totals and the flag count share
    its exchange); the per-stratum floor table is |langs|-bounded and
    broadcast back. Output: (lang, n_docs, p_words, n_flagged,
    flagged_ppm).
    """
    if not 0 < q_permille < 1000:
        raise ValueError("q_permille must be in (0, 1000)")
    n_words = F.size(words_of(F.col(text_col))).cast("long")
    base = docs.select(
        "doc_id", F.col(group_col).alias("g"), n_words.alias("n_words")
    )
    w = Window.partitionBy("g").orderBy("n_words", "doc_id")
    ranked = base.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(Window.partitionBy("g"))
    )
    floor_tbl = ranked.filter(
        F.col("rn") == F.expr(f"(n * {q_permille} + 999) div 1000")
    ).select("g", F.col("n_words").alias("p_words"))
    return (
        ranked.join(F.broadcast(floor_tbl), "g")
        .groupBy("g", "p_words")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.when(F.col("n_words") < F.col("p_words"), 1).otherwise(0)
            ).cast("long").alias("n_flagged"),
        )
        .select(
            F.col("g").alias(group_col),
            "n_docs",
            "p_words",
            "n_flagged",
            F.expr("n_flagged * 1000000 div n_docs").alias("flagged_ppm"),
        )
    )


def winnowing_fingerprints(
    docs: DataFrame,
    k: int = 4,
    window: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every k-word gram, slide a
    ``window``-wide window over the hash sequence, and select each
    window's minimum hash with the RIGHTMOST tie-break — the guarantee
    is that any shared substring of at least ``k + window - 1`` words
    produces at least one shared fingerprint, at ~2/(window+1)
    selection density. The local-fingerprint primitive between exact
    hashing (too brittle) and MinHash (no position locality): plagiarism
    / clone detection and positional near-dup evidence.

    Output per document: ``(doc_id, n_grams, n_windows,
    n_fingerprints, density_ppm, fp_digest)`` where ``fp_digest`` is
    md5 over the sorted distinct "pos:hash" fingerprint strings — the
    digest pins the exact selected set, not just its size. Documents
    shorter than ``k`` words emit zeros with an empty-set digest.

    Scale shape: ENTIRELY map-side — grams, hashes, window minima, and
    the digest are array expressions inside the scan projection; no
    explode ever reaches an exchange, so at 100 TB this fuses into
    whatever scan reads the text. Hashes are the engine-portable 32-bit
    md5-prefix device (same as curation.hash_bucket). The rightmost
    minimum comes from reverse+array_position (both engines index the
    reversed window identically) — no iterative reduce.
    """
    if k < 1 or window < 1:
        raise ValueError("k and window must be >= 1")
    expr = f"""
    CASE WHEN size(__ws) >= {k} THEN
      transform(sequence(0, size(__ws) - {k}),
                i -> concat_ws(' ', slice(__ws, i + 1, {k})))
    ELSE array() END
    """
    hashes = f"""
    transform(__grams, g ->
        cast(conv(substring(md5(g), 1, 8), 16, 10) as bigint))
    """
    sel = f"""
    CASE WHEN size(__hs) = 0 THEN array()
    ELSE transform(
      sequence(0, IF(size(__hs) < {window}, 0, size(__hs) - {window})),
      w -> concat(
        cast(w + least({window}, size(__hs) - w)
               - array_position(
                   reverse(slice(__hs, w + 1, least({window}, size(__hs) - w))),
                   array_min(slice(__hs, w + 1, least({window}, size(__hs) - w)))
                 ) as string),
        ':',
        cast(array_min(slice(__hs, w + 1, least({window}, size(__hs) - w)))
             as string)))
    END
    """
    return (
        docs.select(
            "doc_id",
            F.filter(words_of(F.col(text_col)), lambda x: x != "").alias(
                "__ws"
            ),
        )
        .select("doc_id", F.expr(expr).alias("__grams"))
        .select(
            "doc_id",
            F.size("__grams").cast("long").alias("n_grams"),
            F.expr(hashes).alias("__hs"),
        )
        .select(
            "doc_id",
            "n_grams",
            F.expr(
                f"CASE WHEN n_grams = 0 THEN 0"
                f" WHEN n_grams < {window} THEN 1"
                f" ELSE n_grams - {window} + 1 END"
            ).cast("long").alias("n_windows"),
            F.expr(f"array_sort(array_distinct({sel}))").alias("__fps"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_windows",
            F.size("__fps").cast("long").alias("n_fingerprints"),
            F.expr(
                "CASE WHEN n_windows = 0 THEN 0"
                " ELSE size(__fps) * 1000000 div n_windows END"
            ).cast("long").alias("density_ppm"),
            F.md5(F.array_join("__fps", ",")).alias("fp_digest"),
        )
    )


def vocab_concentration(
    docs: DataFrame,
    ks: tuple = (1, 10, 100, 1000),
    text_col: str = "text",
) -> DataFrame:
    """Vocabulary concentration curve: the cumulative corpus-token share
    of the top-k words at each ``k`` — the Zipf-shape health readout
    that catches template floods and boilerplate regressions (a crawl
    whose top-10 share jumps is repeating itself) without any float
    log-log fit: every number is an exact integer or truncating ppm.

    Output: one row per k — ``(k, cum_cnt, share_ppm, n_vocab,
    n_tokens)``; ``cum_cnt`` saturates at the corpus total when k
    exceeds the vocabulary.

    Scale shape: one word-keyed map-side-combined agg; the top-max(k)
    cut is orderBy+limit => TakeOrderedAndProject; the rank window and
    the per-k rollup run over max(k) rows (metadata-scale); corpus
    totals ride a broadcast 1-row cross join.

    Empty corpus (zero tokens) emits ZERO rows — matching the SQL
    oracle's ``ks CROSS JOIN top`` shape over an empty ``top``; without
    the ``n_tokens`` guard Spark's global agg would emit len(ks)
    NULL-filled rows where DuckDB emits none (ADVICE r07).
    """
    from pyspark.sql.window import Window

    ks = sorted(set(int(x) for x in ks))
    if not ks or ks[0] < 1:
        raise ValueError("ks must be positive integers")
    counts = (
        docs.select(F.explode(words_of(F.col(text_col))).alias("__w"))
        .filter(F.col("__w") != "")
        .groupBy("__w")
        .agg(F.count("*").alias("__cnt"))
    )
    totals = counts.agg(
        F.count("*").alias("n_vocab"), F.sum("__cnt").alias("n_tokens")
    )
    top = counts.orderBy(F.col("__cnt").desc(), F.col("__w")).limit(ks[-1])
    ranked = top.withColumn(
        "__rnk",
        F.row_number().over(Window.orderBy(F.col("__cnt").desc(), F.col("__w"))),
    )
    cum_aggs = [
        F.sum(F.when(F.col("__rnk") <= kk, F.col("__cnt")).otherwise(0))
        .cast("long")
        .alias(f"_c{kk}")
        for kk in ks
    ]
    one = ranked.agg(*cum_aggs)
    stack_args = ", ".join(f"{kk}, _c{kk}" for kk in ks)
    return (
        one.selectExpr(
            f"stack({len(ks)}, {stack_args}) AS (k, cum_cnt)"
        )
        .crossJoin(F.broadcast(totals))
        .filter(F.col("n_tokens").isNotNull())
        .select(
            F.col("k").cast("long").alias("k"),
            "cum_cnt",
            F.expr("cum_cnt * 1000000 div n_tokens").alias("share_ppm"),
            "n_vocab",
            "n_tokens",
        )
    )
