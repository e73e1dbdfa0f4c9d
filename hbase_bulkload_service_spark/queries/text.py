"""Text queries: normalisation, language id, tokenisation, BPE, BM25,
n-gram statistics, PII scrubbing and decontamination
(``operators.textops``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hbase_bulkload_service_spark.operators import textops
from hbase_bulkload_service_spark.oracle_frags import (
    _BL_LIST,
    _BL_THRESH,
    _CD_LOW_PPM,
    _LANG_SCORE_SQL,
    BLOCKLIST_AUDIT_ORACLE,
    CHAR_DIVERSITY_ORACLE,
    DOCS_NORM_CTE,
    NT,
    _occ,
)
from hbase_bulkload_service_spark.registry import register
from hbase_bulkload_service_spark.sources.tables import load


@register(
    "q31_text_stats",
    f"""
    WITH {DOCS_NORM_CTE}
    SELECT doc_id,
           length(nt) AS n_chars_norm,
           len(ws) AS n_tokens,
           (length(nt) - len(ws) + 1) * 1.0 / len(ws) AS mean_token_len,
           {_occ("text", ".")} AS n_periods,
           {_occ("text", ",")} AS n_commas,
           {_occ("' ' || nt || ' '", " the ")} + {_occ("' ' || nt || ' '", " a ")} AS stopword_hits,
           ({_occ("' ' || nt || ' '", " the ")} + {_occ("' ' || nt || ' '", " a ")}) * 1.0 / len(ws)
             AS stopword_ratio
    FROM w
    """,
)
def q31_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.text_stats(load(spark, sf_dir, "documents", spread=True))


LANG_ID_ORACLE = f"""
    WITH {DOCS_NORM_CTE},
    padded AS (SELECT doc_id, text, ' ' || nt || ' ' AS pt FROM w),
    scores AS ({_LANG_SCORE_SQL}),
    best AS (
      SELECT doc_id, lang, score,
             row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
      FROM scores
    )
    SELECT b.doc_id,
           CASE WHEN octet_length(encode(d.text)) > length(d.text) * 2
                THEN 'zh' ELSE b.lang END AS pred_lang,
           b.score AS marker_hits
    FROM best b JOIN documents d ON d.doc_id = b.doc_id
    WHERE rn = 1
    """


@register("q32_lang_id", LANG_ID_ORACLE)
def q32_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.lang_id(load(spark, sf_dir, "documents", spread=True))


@register(
    "q33_token_count",
    f"""
    WITH {DOCS_NORM_CTE}
    SELECT doc_id,
           len(ws) AS ws_tokens,
           CAST(ceil(length(nt) / 4) AS BIGINT) AS bpe_est_tokens,
           length(nt) * 1.0 / len(ws) AS chars_per_token
    FROM w
    """,
)
def q33_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.token_counts(load(spark, sf_dir, "documents", spread=True))


@register(
    "q34_fingerprint",
    f"""
    WITH {DOCS_NORM_CTE},
    h AS (
      SELECT doc_id, nt,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(1, length(nt) + 1),
                                i -> CAST(ascii(substr(nt, i, 1)) AS BIGINT))),
               (acc, c) -> ((acc * 31 + c) % 4294967296 + 4294967296) % 4294967296
             ) AS hu
      FROM w
    )
    SELECT doc_id,
           CAST(CASE WHEN hu >= 2147483648 THEN hu - 4294967296 ELSE hu END AS INT)
             AS rolling_hash,
           md5(nt) AS content_md5
    FROM h
    """,
)
def q34_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash fingerprint — same 31-fold kernel as the salting hash."""
    return textops.fingerprint(load(spark, sf_dir, "documents", spread=True))


@register(
    "q48_distinctive_terms",
    f"""
    WITH {DOCS_NORM_CTE},
    tok AS (SELECT doc_id, unnest(ws) AS term FROM w),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
    wd AS (SELECT *, COUNT(*) OVER (PARTITION BY term) AS df FROM tf),
    r AS (
      SELECT *,
             row_number() OVER (
               PARTITION BY doc_id ORDER BY tf DESC, df ASC, term ASC
             ) AS rnk
      FROM wd
    )
    SELECT doc_id, term, tf, df, rnk FROM r WHERE rnk <= 3
    """,
)
def q48_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 distinctive terms per document by (tf DESC, df ASC, term ASC)
    over the inverted index — integer twin of tf-idf ranking (same argsort
    for any monotone idf; no float crosses the oracle)."""
    return textops.distinctive_terms(load(spark, sf_dir, "documents", spread=True))


# ===========================================================================
# q68 — training-data segmentation
# ===========================================================================

@register(
    "q68_doc_chunks",
    f"""
    WITH {DOCS_NORM_CTE},
    c AS (SELECT doc_id, ws, len(ws) AS n FROM w),
    x AS (SELECT doc_id, ws, greatest(1, (n - 10 + 39) // 40) AS n_chunks FROM c),
    e AS (SELECT doc_id, ws, unnest(range(0, n_chunks)) AS chunk_idx FROM x)
    SELECT doc_id,
           CAST(chunk_idx AS INT) AS chunk_idx,
           CAST(len(ws[chunk_idx*40+1 : chunk_idx*40+50]) AS INT) AS n_tok,
           md5(array_to_string(ws[chunk_idx*40+1 : chunk_idx*40+50], ' ')) AS chunk_md5
    FROM e
    """,
)
def q68_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking (50-token windows, stride 40) over the whole
    documents table — pure map, no shuffle (textops.chunk_documents). The
    oracle recomputes windowing, clamped slicing, and the chunk md5 from
    the same normalization."""
    return textops.chunk_documents(
        load(spark, sf_dir, "documents", spread=True),
        chunk_tokens=50, stride=40,
    )


@register(
    "q58_pii_scrub",
    f"""
    WITH d AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or +' || CAST(doc_id * 1234567 + 10000000 AS VARCHAR)
               AS text
      FROM documents
    ),
    s AS (
      SELECT doc_id, text,
             regexp_replace(text, '{textops.EMAIL_RE}', '<EMAIL>', 'g') AS no_email
      FROM d
    )
    SELECT doc_id,
           len(regexp_extract_all(text, '{textops.EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(no_email, '{textops.DIGITRUN_RE}')) AS n_digit_runs,
           md5(regexp_replace(no_email, '{textops.DIGITRUN_RE}', '<NUM>', 'g')) AS scrubbed_md5,
           CAST(length(regexp_replace(no_email, '{textops.DIGITRUN_RE}', '<NUM>', 'g')) AS INT)
             AS scrubbed_len
    FROM s
    """,
)
def q58_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pipeline scrub stage over documents seeded with
    deterministic synthetic PII (an email + a long digit run per doc, so
    counts are non-trivial); see textops.scrub_pii. Redaction order
    (emails before digit runs) is part of the contract and the oracle."""
    docs = load(spark, sf_dir, "documents", spread=True).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +"),
            (F.col("doc_id") * 1234567 + 10000000).cast("string"),
        ).alias("text"),
    )
    return textops.scrub_pii(docs)


# ===========================================================================
# q73_sketch_profile RETIRED round 8 (VERDICT r07 item 5, resolved
# permanently): it was the registry's ONLY rows-only entry — raw HLL++ /
# GK sketch outputs are engine-specific by nature and can never
# hash-match a DuckDB oracle. Its surviving twin q115_sketch_accuracy
# (queries/analytics.py) runs the SAME production operator
# (analytics.sketch_accuracy calls sketch_profile internally, same
# events/event_type/user_id/cents profile) and hash-gates everything
# deterministic about it: exact per-key row count, exact distinct count,
# and the two sketch error-bound verdicts as literal TRUE booleans the
# oracle must reproduce. With this retirement EVERY registered query is
# exact-oracle — zero rows-only entries. ±rsd accuracy stays pinned in
# tests/test_wave4.py.
# ===========================================================================


# ===========================================================================
# q74 — within-document repetition signals (Gopher-style quality filter)
# ===========================================================================

@register(
    "q74_repetition_signals",
    f"""
    WITH {DOCS_NORM_CTE},
    uni AS (
      SELECT doc_id, len(ws) AS n_words,
             CAST((len(ws) - len(list_distinct(ws))) * 1000000 // len(ws)
                  AS BIGINT) AS dup_word_ppm, ws
      FROM w
    ),
    b AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ws)),
                                   i -> ws[i] || ' ' || ws[i + 1])) AS bg
      FROM uni WHERE len(ws) >= 2
    ),
    top AS (
      SELECT doc_id, MAX(c) AS top_bigram_cnt
      FROM (SELECT doc_id, bg, COUNT(*) AS c FROM b GROUP BY 1, 2)
      GROUP BY 1
    )
    SELECT uni.doc_id, uni.n_words, uni.dup_word_ppm,
           COALESCE(top.top_bigram_cnt, 0) AS top_bigram_cnt
    FROM uni LEFT JOIN top USING (doc_id)
    """,
)
def q74_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.repetition_stats(load(spark, sf_dir, "documents", spread=True))


# ===========================================================================
# q104 — BM25-family ranked retrieval
# ===========================================================================

BM25_TERMS = ("vector", "stream", "window")
BM25_TOPK = 20

_TERM_LIST = ", ".join(f"'{t}'" for t in BM25_TERMS)


@register(
    "q104_bm25_topk",
    f"""
    WITH {DOCS_NORM_CTE},
    base AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl FROM w),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             (10 * CAST(SUM(dl) AS BIGINT)) // CAST(COUNT(*) AS BIGINT)
               AS a10
      FROM base
    ),
    tok AS (SELECT doc_id, unnest(ws) AS term FROM w),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok WHERE term IN ({_TERM_LIST}) GROUP BY 1, 2
    ),
    dfs AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    contrib AS (
      SELECT doc_id,
             ((1000 * (n_docs - df)) // (df + 1))
               * ((1000 * 22 * a10 * tf)
                  // (10 * a10 * tf + 3 * a10 + 90 * dl)) AS contrib
      FROM tf JOIN dfs USING (term) JOIN base USING (doc_id)
      CROSS JOIN stats
    ),
    agg AS (
      SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS score,
             CAST(COUNT(*) AS BIGINT) AS n_terms_hit
      FROM contrib GROUP BY 1
    ),
    top AS (SELECT * FROM agg ORDER BY score DESC, doc_id LIMIT {BM25_TOPK})
    SELECT row_number() OVER (ORDER BY score DESC, doc_id) AS rank,
           doc_id, score, n_terms_hit
    FROM top
    """,
)
def q104_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1=1.2, b=0.75, integer-rational form) top-20 documents for
    a 3-term query over the inverted index
    (operators/textops.py:bm25_scores)."""
    return textops.bm25_scores(
        load(spark, sf_dir, "documents", spread=True),
        list(BM25_TERMS),
        top_k=BM25_TOPK,
    )


# ===========================================================================
# q110 — BPE vocabulary induction (oracle: 12 merge rounds unrolled as CTEs)
# ===========================================================================

# The oracle's merge-apply step encodes a symbol sequence as
# SEP2·sym·SEP2·sym·…·SEP2 (SEP = chr(1), absent from the ASCII corpus;
# SEP2 = SEP·SEP) and replaces SEP·l·SEP2·r·SEP with SEP·l·r·SEP.
# DuckDB's replace() scans left-to-right over non-overlapping
# occurrences — exactly the engine's greedy fold (_merge_pair):
# * boundary-safe: a match needs l preceded by a single SEP and followed
#   by SEP2, which in the normalized encoding forces l (and symmetrically
#   r) to be a FULL symbol, never a symbol suffix/prefix;
# * chain-safe: each match consumes one SEP from each flanking SEP2 run
#   and the replacement restores both, so the result stays normalized and
#   an adjacent occurrence still matches ([a,a,a,a] -> [aa,aa],
#   [a,a,a] -> [aa,a] — pinned in tests/test_wave7.py).
_BPE_N = 12
_SEP = "chr(1)"
_SEP2 = "(chr(1) || chr(1))"


def _bpe_round_ctes(n_rounds: int) -> str:
    """CTE chain learning ``n_rounds`` sequential BPE merges: w0 is the
    weighted distinct-word symbol table; each round k counts adjacent
    pairs (every adjacency, weighted by word count), takes the argmax
    with the engine's exact tie-break (count DESC, l ASC, r ASC; count
    >= 2), and applies it via the replace() encoding above. An empty
    r{k} (no pair repeats) empties w{k} via the cross join, so later
    rounds yield no merge rows — the engine's early ``break``."""
    parts = [
        f"""t AS MATERIALIZED (SELECT {NT} AS nt FROM documents),
    wd AS MATERIALIZED (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(string_split(nt, ' ')) AS word FROM t)
      WHERE word <> '' GROUP BY word
    ),
    w0 AS MATERIALIZED (
      SELECT cnt,
             list_append(string_split(word, ''), '</w>') AS syms
      FROM wd
    )"""
    ]
    for k in range(1, n_rounds + 1):
        parts.append(f"""r{k} AS MATERIALIZED (
      SELECT l, r, CAST(SUM(cnt) AS BIGINT) AS pair_count
      FROM (
        SELECT syms[i] AS l, syms[i + 1] AS r, cnt
        FROM (SELECT cnt, syms,
                     unnest(generate_series(1, len(syms) - 1)) AS i
              FROM w{k - 1})
      )
      GROUP BY l, r HAVING SUM(cnt) >= 2
      ORDER BY pair_count DESC, l ASC, r ASC LIMIT 1
    )""")
        parts.append(f"""w{k} AS MATERIALIZED (
      SELECT cnt, parts[2:len(parts) - 1] AS syms FROM (
        SELECT w.cnt,
               str_split(
                 replace({_SEP2} || array_to_string(w.syms, {_SEP2}) || {_SEP2},
                         {_SEP} || m.l || {_SEP2} || m.r || {_SEP},
                         {_SEP} || m.l || m.r || {_SEP}),
                 {_SEP2}) AS parts
        FROM w{k - 1} w, r{k} m
      )
    )""")
    return ",\n    ".join(parts)


_BPE_MERGES_SQL = (
    "WITH "
    + _bpe_round_ctes(_BPE_N)
    + "\n    "
    + "\n    UNION ALL ".join(
        f'SELECT CAST({k} AS INTEGER) AS "rank", l AS "left",'
        f' r AS "right", pair_count FROM r{k}'
        for k in range(1, _BPE_N + 1)
    )
)


@register("q110_bpe_merges", _BPE_MERGES_SQL)
def q110_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 12 BPE merges learned from the corpus
    (operators/textops.py:bpe_merges). The merge loop is iterative with
    a data-dependent argmax each round; the oracle unrolls the 12 rounds
    as chained CTEs (same device as q114 PageRank / q118 k-means /
    q121 CC) with a separator-encoded replace() reproducing the greedy
    fold exactly (see _bpe_round_ctes). Exactness is additionally pinned
    in tests/test_wave7.py against a plain-Python reference (weighted
    counts, tie-breaks, overlap semantics). batch=8/exact=True exercises
    the batched scale path — provably identical output to the sequential
    walk the oracle unrolls (_pick_safe_batch docstring carries the
    argument), fewer driver rounds."""
    return textops.bpe_merges(
        load(spark, sf_dir, "documents", spread=True),
        n_merges=12,
        batch=8,
        exact=True,
    )


# ===========================================================================
# q111 — BPE encode (apply learned merges; oracle re-learns + applies)
# ===========================================================================

_BPE_ENCODE_SQL = (
    "WITH "
    + _bpe_round_ctes(_BPE_N)
    + f""",
    dw AS MATERIALIZED (
      SELECT doc_id, word FROM (
        SELECT doc_id, unnest(string_split({NT}, ' ')) AS word
        FROM documents
      ) WHERE word <> ''
    ),
    v0 AS MATERIALIZED (
      SELECT word,
             {_SEP2} || array_to_string(
               list_append(string_split(word, ''), '</w>'), {_SEP2})
                     || {_SEP2} AS s
      FROM (SELECT DISTINCT word FROM dw)
    ),
    """
    + ",\n    ".join(
        f"""v{k} AS MATERIALIZED (
      SELECT v.word,
             CASE WHEN m.l IS NULL THEN v.s
                  ELSE replace(v.s,
                               {_SEP} || m.l || {_SEP2} || m.r || {_SEP},
                               {_SEP} || m.l || m.r || {_SEP}) END AS s
      FROM v{k - 1} v LEFT JOIN r{k} m ON TRUE
    )"""
        for k in range(1, _BPE_N + 1)
    )
    + f""",
    enc AS MATERIALIZED (
      SELECT word, len(str_split(s, {_SEP2})) - 2 AS n_tok FROM v{_BPE_N}
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(e.n_tok) AS BIGINT) AS n_tokens,
           CAST((SUM(e.n_tok) * 1000000) // COUNT(*) AS BIGINT)
             AS tokens_per_word_ppm
    FROM dw JOIN enc e USING (word) GROUP BY doc_id
    """
)


@register("q111_bpe_encode", _BPE_ENCODE_SQL)
def q111_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with the q110-learned merge table and report
    per-document token counts + tokens/word ppm
    (operators/textops.py:bpe_encode — merges are driver metadata bound
    into a pure-map fold chain over the DISTINCT-WORD table; no shuffle
    before the output agg). The oracle re-learns the 12 merges with
    q110's CTE chain, then applies them in rank order to the distinct
    vocabulary with the same replace() encoding (LEFT JOIN ON TRUE so a
    merge-starved corpus no-ops the round instead of emptying the
    vocabulary) and aggregates per document. Apply-step exactness is
    also pinned in tests/test_wave7.py against the Python reference."""
    docs = load(spark, sf_dir, "documents", spread=True)
    merges = textops.bpe_merges(docs, n_merges=12, batch=8, exact=True)
    return textops.bpe_encode(docs, merges)


# ===========================================================================
# q119 — bigram-LM document quality scoring (integer perplexity twin)
# ===========================================================================

@register(
    "q119_lm_quality",
    f"""
    WITH {DOCS_NORM_CTE},
    wf AS (SELECT doc_id, list_filter(ws, x -> x <> '') AS ws FROM w),
    words AS (SELECT unnest(ws) AS wd FROM wf),
    uni AS (SELECT wd AS w1, CAST(COUNT(*) AS BIGINT) AS c1
            FROM words GROUP BY 1),
    vv AS (SELECT CAST(COUNT(DISTINCT wd) AS BIGINT) AS v FROM words),
    pairs AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ws)), i -> ws[i])) AS w1,
             unnest(list_transform(range(1, len(ws)), i -> ws[i + 1])) AS w2
      FROM wf WHERE len(ws) >= 2
    ),
    big AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
            FROM pairs GROUP BY 1, 2),
    sc AS (
      SELECT p.doc_id,
             ((b.c2 + 1) * 1000000000) // (u.c1 + vv.v) AS p_ppb
      FROM pairs p
      JOIN big b USING (w1, w2)
      JOIN uni u USING (w1)
      CROSS JOIN vv
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(p_ppb) // COUNT(*) AS BIGINT) AS score_ppb
    FROM sc GROUP BY 1
    """,
)
def q119_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM quality score per document
    (operators/textops.py:bigram_lm_scores): add-one bigram model learned
    from the corpus itself, mean token probability in ppb as the filter
    score — the perplexity-filtering stage of a training-data pipeline
    with integer-exact oracle parity (DuckDB `//` and Spark `div` are
    both truncating, so every division matches bit-for-bit)."""
    from hbase_bulkload_service_spark.sources.tables import load as _load

    return textops.bigram_lm_scores(
        _load(spark, sf_dir, "documents", spread=True)
    )


# ===========================================================================
# q128 — CCNet-style boilerplate line removal
# ===========================================================================

_LINE_W = 2  # words per synthetic line
_MIN_DF = 2


@register(
    "q128_boilerplate_lines",
    f"""
    WITH w AS (
      SELECT doc_id, source,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
               AS ws
      FROM documents WHERE text IS NOT NULL
    ),
    lines AS (
      SELECT doc_id, source, t.i AS pos,
             array_to_string(ws[t.i*{_LINE_W}+1 : t.i*{_LINE_W}+{_LINE_W}], ' ')
               AS line
      FROM w, unnest(range(0, CAST(ceil(len(ws)/{_LINE_W}.0) AS INT))) AS t(i)
    ),
    freq AS (
      SELECT source, line, COUNT(DISTINCT doc_id) AS line_df
      FROM lines GROUP BY 1, 2
    )
    SELECT l.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(COUNT(CASE WHEN f.line_df < {_MIN_DF} THEN 1 END) AS BIGINT)
             AS n_kept,
           md5(COALESCE(string_agg(
             CASE WHEN f.line_df < {_MIN_DF} THEN l.line END,
             chr(10) ORDER BY l.pos
           ), '')) AS clean_md5
    FROM lines l JOIN freq f USING (source, line)
    GROUP BY l.doc_id
    """,
)
def q128_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate removal gate: the flat word-soup corpus is reshaped
    into deterministic 2-word 'lines' (the corpus has no newlines, so
    line structure is manufactured identically on both sides), then
    lines repeated across >= 2 distinct docs of the same source are
    stripped and the doc rebuilt in order. The md5 of the rebuilt text
    proves order-preserving reassembly, not just counts."""
    docs = load(spark, sf_dir, "documents", spread=True).filter(
        F.col("text").isNotNull()  # mirrors the oracle's WHERE: a NULL
        # text would otherwise reshape to '' here but to zero oracle rows
    )
    ws = textops.words_of(F.col("text"))
    n_lines = F.ceil(F.size(ws) / F.lit(float(_LINE_W))).cast("int")
    lined = docs.select(
        "doc_id",
        "source",
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), n_lines - 1),
                lambda i: F.array_join(
                    F.slice(ws, i * _LINE_W + 1, _LINE_W), " "
                ),
            ),
            "\n",
        ).alias("lined_text"),
    )
    out = textops.strip_boilerplate(
        lined, text_col="lined_text", min_df=_MIN_DF, source_col="source",
    )
    return out.select(
        "doc_id", "n_lines", "n_kept", F.md5("clean_text").alias("clean_md5")
    )


# ===========================================================================
# q129 — inverted-index posting lists with stopword elision
# ===========================================================================

_MAX_DF = 400


@register(
    "q129_postings",
    f"""
    WITH w AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
               AS ws
      FROM documents
    ),
    t AS (
      SELECT doc_id, unnest(ws) AS term FROM w
    ),
    tf AS (
      SELECT term, doc_id, COUNT(*) AS tf FROM t
      WHERE term <> '' GROUP BY 1, 2
    ),
    posts AS (
      SELECT term,
             CAST(COUNT(*) AS BIGINT) AS df,
             CAST(SUM(tf) AS BIGINT) AS cf,
             string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id) AS plist
      FROM tf GROUP BY term
    )
    SELECT term, df, cf,
           CASE WHEN df <= {_MAX_DF} THEN md5(plist) END AS postings_md5
    FROM posts
    """,
)
def q129_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build gate: per-term df/cf plus the md5 of the
    doc_id-sorted '(doc:tf,...)' posting string; terms above the df cap
    keep stats but get NULL postings (stopword elision — the skew cap).
    The md5 proves the posting list content AND its sort order."""
    docs = load(spark, sf_dir, "documents", spread=True)
    posts = textops.build_postings(docs, text_col="text", max_df=_MAX_DF)
    plist = F.array_join(
        F.transform(
            F.col("postings"),
            lambda s: F.concat(
                s["doc_id"].cast("string"), F.lit(":"), s["tf"].cast("string")
            ),
        ),
        ",",
    )
    return posts.select(
        "term",
        "df",
        "cf",
        F.when(F.col("postings").isNotNull(), F.md5(plist)).alias(
            "postings_md5"
        ),
    )


# ===========================================================================
# q132 — PMI-lift term cooccurrence with relative df-band blocking
# ===========================================================================

_CO_MIN_PPM = 40_000
_CO_MAX_PPM = 780_000


@register(
    "q132_term_cooccurrence",
    f"""
    WITH w AS (
      SELECT doc_id,
             list_distinct(string_split(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))
               AS ws
      FROM documents
    ),
    t2 AS (
      SELECT doc_id, term
      FROM (SELECT doc_id, unnest(ws) AS term FROM w)
      WHERE term <> ''
    ),
    dfs AS (SELECT term, COUNT(*) AS df FROM t2 GROUP BY term),
    n AS (SELECT COUNT(*) AS nd FROM documents),
    band AS (
      SELECT term, df FROM dfs, n
      WHERE df * 1000000 >= {_CO_MIN_PPM} * nd
        AND df * 1000000 <= {_CO_MAX_PPM} * nd
    ),
    bt AS (
      SELECT t2.doc_id, t2.term, band.df
      FROM t2 JOIN band USING (term)
    ),
    p AS (
      SELECT a.term AS term_a, b.term AS term_b,
             a.df AS dfa, b.df AS dfb, COUNT(*) AS co
      FROM bt a JOIN bt b USING (doc_id)
      WHERE a.term < b.term
      GROUP BY 1, 2, 3, 4
    )
    SELECT term_a, term_b,
           CAST(dfa AS BIGINT) AS df_a,
           CAST(dfb AS BIGINT) AS df_b,
           CAST(co AS BIGINT) AS co_df,
           CAST(co * 1000000000 * nd // (dfa * dfb) AS BIGINT) AS score_ppb
    FROM p, n
    WHERE co >= 2
    """,
)
def q132_term_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining gate: exact integer PMI-lift (ppb) for every
    mid-band term pair — the df band is RELATIVE (4%–78% of N) so the
    same configuration is meaningful at every scale factor; the band cap
    is what keeps the per-doc pair fan-out bounded (stopword-class terms
    above 78% df never enter the self-join)."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return textops.term_cooccurrence(
        docs,
        text_col="text",
        min_df=_CO_MIN_PPM,
        max_df=_CO_MAX_PPM,
        min_co=2,
        rel_ppm=True,
    )


# ===========================================================================
# q173 — concat-and-cut sequence packing (documents span window boundaries)
# ===========================================================================

_PACK_LEN = 256
_PACK_SEED = 11
_PACK_SHARDS = 8


@register(
    "q173_concat_packing",
    f"""
    WITH t AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
      FROM documents
    ),
    tok AS (SELECT doc_id, len(string_split(nt, ' ')) AS n_tok FROM t),
    h AS (
      SELECT doc_id, n_tok,
             md5('{_PACK_SEED}:' || CAST(doc_id AS VARCHAR)) AS ok
      FROM tok
    ),
    s AS (
      SELECT doc_id, n_tok, ok,
             ('0x' || substr(ok, 1, 8))::BIGINT % {_PACK_SHARDS} AS shard
      FROM h
    ),
    p AS (
      SELECT shard, n_tok,
             row_number() OVER (PARTITION BY shard ORDER BY ok, doc_id)
               AS pos
      FROM s
    ),
    c AS (
      SELECT shard, n_tok,
             CAST(COALESCE(SUM(n_tok) OVER (
               PARTITION BY shard ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS strt
      FROM p
    ),
    b AS (
      SELECT shard, n_tok, strt,
             strt // {_PACK_LEN} AS w0,
             (strt + n_tok - 1) // {_PACK_LEN} AS w1
      FROM c
    ),
    m AS (
      SELECT shard, strt, n_tok, w0,
             unnest(range(w0, w1 + 1)) AS seq_id
      FROM b
    ),
    x AS (
      SELECT shard, seq_id,
             CASE WHEN seq_id = w0 THEN 1 ELSE 0 END AS st,
             least(strt + n_tok, (seq_id + 1) * {_PACK_LEN})
               - greatest(strt, seq_id * {_PACK_LEN}) AS tik
      FROM m
    )
    SELECT shard, seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(st) AS BIGINT) AS n_starts,
           CAST(SUM(tik) AS BIGINT) AS n_tokens,
           CAST((SUM(tik) * 1000000) // {_PACK_LEN} AS BIGINT) AS fill_ppm
    FROM x GROUP BY 1, 2
    """,
)
def q173_concat_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing audit
    (operators/textops.py:concat_pack_stats): concatenate the
    deterministically-shuffled token stream per shard and cut it at
    256-token boundaries; one row per training sequence with doc-span
    and fill stats. The oracle replays the same md5 order, running-sum
    offsets, and integer window arithmetic, so any drift in the shuffle
    device or the offset math breaks the hash. Plan: one keyed exchange
    for the shard sort (window cumsum rides the same partitioning), one
    for the (shard, seq) rollup — no joins, raw text never shuffles."""
    return textops.concat_pack_stats(
        load(spark, sf_dir, "documents", spread=True),
        seq_len=_PACK_LEN,
        seed=_PACK_SEED,
        n_shards=_PACK_SHARDS,
    )


# ===========================================================================
# q174 — corpus k-gram novelty curve (diversity over ingestion order)
# ===========================================================================

_NOV_K = 5
_NOV_BATCH = 50


@register(
    "q174_ngram_novelty",
    f"""
    WITH t AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
      FROM documents
    ),
    w AS (SELECT doc_id, string_split(nt, ' ') AS ws FROM t),
    g AS (
      SELECT doc_id // {_NOV_BATCH} AS batch,
             unnest(list_transform(
               range(1, len(ws) - {_NOV_K} + 2),
               i -> array_to_string(
                      list_slice(ws, i, i + {_NOV_K} - 1), ' ')))
               AS gm
      FROM w WHERE len(ws) >= {_NOV_K}
    ),
    per AS (
      SELECT batch, md5(gm) AS h, COUNT(*) AS c FROM g GROUP BY 1, 2
    ),
    fb AS (SELECT h, MIN(batch) AS fb FROM per GROUP BY 1)
    SELECT per.batch,
           CAST(SUM(per.c) AS BIGINT) AS n_occ,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(SUM(CASE WHEN fb.fb = per.batch THEN 1 ELSE 0 END)
                AS BIGINT) AS n_new,
           CAST((SUM(CASE WHEN fb.fb = per.batch THEN 1 ELSE 0 END)
                 * 1000000) // COUNT(*) AS BIGINT) AS novelty_ppm
    FROM per JOIN fb USING (h) GROUP BY 1
    """,
)
def q174_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus 5-gram novelty curve (operators/textops.py:ngram_novelty):
    per 50-doc ingestion batch, the fraction of its distinct 5-grams the
    corpus has never seen before — the "is more crawl still adding
    information?" saturation monitor. Grams are md5-hashed before the
    first exchange; three linear keyed aggs, no pair join."""
    return textops.ngram_novelty(
        load(spark, sf_dir, "documents", spread=True),
        k=_NOV_K,
        batch_docs=_NOV_BATCH,
    )


# ===========================================================================
# q177 — top-V vocabulary coverage / per-doc OOV rate
# ===========================================================================

_VOCAB_V = 1000


@register(
    "q177_vocab_coverage",
    f"""
    WITH t AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
      FROM documents
    ),
    tok AS (SELECT doc_id, unnest(string_split(nt, ' ')) AS w FROM t),
    freq AS (SELECT w, COUNT(*) AS cnt FROM tok GROUP BY 1),
    vocab AS MATERIALIZED (
      SELECT w FROM freq ORDER BY cnt DESC, w LIMIT {_VOCAB_V}
    )
    SELECT tok.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tok,
           CAST(SUM(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS oov,
           CAST((SUM(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END)
                 * 1000000) // COUNT(*) AS BIGINT) AS oov_ppm
    FROM tok LEFT JOIN vocab ON tok.w = vocab.w
    GROUP BY 1
    """,
)
def q177_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-budget analysis (operators/textops.py:vocab_coverage):
    the corpus's top-1000 words by frequency (deterministic tie-break)
    as the vocabulary, every document scored by its OOV rate against
    it. Plan: one word-keyed agg + a TakeOrderedAndProject V-cut; the
    V-row vocabulary broadcasts onto the token stream; the only other
    exchange is the doc rollup."""
    return textops.vocab_coverage(
        load(spark, sf_dir, "documents", spread=True), vocab_size=_VOCAB_V
    )


# ===========================================================================
# q192 — phrase-level decontamination (positional postings)
# ===========================================================================

_PHR_LEN = 3
_PHR_MOD = 97


@register(
    "q192_phrase_decontam",
    f"""
    WITH t AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                          ' ') AS ws
      FROM documents
    ),
    tok AS (
      SELECT doc_id, unnest(ws) AS w,
             generate_subscripts(ws, 1) - 1 AS pos
      FROM t
    ),
    ph AS MATERIALIZED (
      SELECT doc_id AS phrase_doc, unnest(ws[1:{_PHR_LEN}]) AS w,
             generate_subscripts(ws[1:{_PHR_LEN}], 1) - 1 AS i
      FROM t WHERE doc_id % {_PHR_MOD} = 0 AND len(ws) >= {_PHR_LEN}
    ),
    votes AS (
      SELECT ph.phrase_doc, tok.doc_id, tok.pos - ph.i AS strt
      FROM tok JOIN ph ON tok.w = ph.w
      WHERE tok.pos - ph.i >= 0
    ),
    aligned AS (
      SELECT phrase_doc, doc_id, strt
      FROM votes GROUP BY 1, 2, 3 HAVING COUNT(*) = {_PHR_LEN}
    )
    SELECT phrase_doc, doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_matches,
           CAST(MIN(strt) AS INT) AS first_pos
    FROM aligned GROUP BY 1, 2
    """,
)
def q192_phrase_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase-level decontamination
    (operators/textops.py:phrase_decontamination): the first
    {_PHR_LEN} normalized tokens of every eval-cohort document
    (doc_id % {_PHR_MOD} = 0), located in EVERY corpus document with
    occurrence counts and first positions (overlaps included, which
    substring-count arithmetic would merge). The GPT-3-style n-gram
    hash-set plan: each doc emits its sliding P-grams once and probes
    the BROADCAST phrase set (per-token cost independent of eval-set
    size; only hits shuffle) — the probe measured both alternatives
    quadratic: the postings join in shuffle, the nested-loop scan in
    CPU (SCALE.md). The oracle replays the alignment as a positional
    unnest + vote join."""
    return textops.phrase_decontamination(
        load(spark, sf_dir, "documents", spread=True),
        phrase_len=_PHR_LEN,
        source_mod=_PHR_MOD,
    )


# ===========================================================================
# q194 — CCNet-style reference-surprisal quality buckets
# ===========================================================================

_SRP_CAP = 1000
_SRP_MOD = 7
_SRP_TILES = 3


@register(
    "q194_surprisal_buckets",
    f"""
    WITH t AS (
      SELECT doc_id, lang,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
      FROM documents
    ),
    tok AS (
      SELECT doc_id, lang, unnest(string_split(nt, ' ')) AS w FROM t
    ),
    vocab AS MATERIALIZED (
      SELECT w, row_number() OVER (ORDER BY cnt DESC, w) AS rnk
      FROM (
        SELECT w, COUNT(*) AS cnt FROM tok
        WHERE doc_id % {_SRP_MOD} = 0 GROUP BY 1
        ORDER BY cnt DESC, w LIMIT {_SRP_CAP}
      )
    ),
    scored AS (
      SELECT tok.doc_id, tok.lang,
             CAST(COUNT(*) AS BIGINT) AS n_tok,
             SUM(COALESCE(vocab.rnk, {_SRP_CAP + 1}))
               // COUNT(*) AS avg_rank
      FROM tok LEFT JOIN vocab USING (w)
      GROUP BY 1, 2
    )
    SELECT doc_id, lang, n_tok, CAST(avg_rank AS BIGINT) AS avg_rank,
           CAST(ntile({_SRP_TILES}) OVER (
             PARTITION BY lang ORDER BY avg_rank, doc_id) AS INT) AS bucket,
           CASE CAST(ntile({_SRP_TILES}) OVER (
                  PARTITION BY lang ORDER BY avg_rank, doc_id) AS INT)
             WHEN 1 THEN 'head' WHEN {_SRP_TILES} THEN 'tail'
             ELSE 'middle' END AS tier
    FROM scored
    """,
)
def q194_surprisal_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality bucketing
    (operators/textops.py:surprisal_buckets, after Wenzek et al. 2020):
    every document scored by the truncating mean frequency-RANK of its
    tokens in the reference slice (doc_id % {_SRP_MOD} = 0; rank capped
    at {_SRP_CAP}, unseen costs {_SRP_CAP + 1} — rank is monotone in
    -log p, so the ordering matches reference-LM perplexity), then cut
    into per-language head/middle/tail terciles. The rank table is
    top-{_SRP_CAP} via TakeOrderedAndProject and broadcasts; the ntile
    is the q89 per-language window."""
    return textops.surprisal_buckets(
        load(spark, sf_dir, "documents", spread=True),
        rank_cap=_SRP_CAP,
        ref_mod=_SRP_MOD,
        n_tiles=_SRP_TILES,
    )


@register("q196_blocklist_audit", BLOCKLIST_AUDIT_ORACLE)
def q196_blocklist_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-blocklist release gate
    (operators/textops.py:blocklist_audit, the C4 badwords filter as an
    auditable per-source report): severity-weighted blocklisted-token
    scores per document, docs at score >= {_BL_THRESH} flagged, rolled
    up per source with flagged-ppm — blocklist policy is enforced per
    corpus slice. The blocklist broadcasts onto the token stream
    ('dirty' never occurs — the miss path stays live); raw text never
    shuffles."""
    return textops.blocklist_audit(
        load(spark, sf_dir, "documents"),
        blocklist=_BL_LIST,
        flag_threshold=_BL_THRESH,
    )


# ===========================================================================
# q208 — language-ID confusion matrix (classifier eval)
# ===========================================================================


@register(
    "q208_lang_confusion",
    f"""
    WITH pred AS ({LANG_ID_ORACLE}),
    cells AS (
      SELECT d.lang, p.pred_lang, COUNT(*) AS n
      FROM pred p JOIN documents d USING (doc_id)
      GROUP BY 1, 2
    )
    SELECT lang, pred_lang, CAST(n AS BIGINT) AS n,
           CAST(n * 1000000 // SUM(n) OVER (PARTITION BY lang) AS BIGINT)
             AS share_ppm
    FROM cells
    """,
)
def q208_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix
    (operators/textops.py:lang_confusion): q32's n-gram predictions
    against the labeled language, per (label, predicted) cell with the
    label-row share in ppm — the diagonal is per-language recall, the
    off-diagonals say which languages the heuristic confuses. The
    oracle nests q32's full oracle as a CTE, so the eval gate and the
    predictor gate can never drift apart."""
    return textops.lang_confusion(
        load(spark, sf_dir, "documents", spread=True)
    )


@register("q212_char_diversity", CHAR_DIVERSITY_ORACLE)
def q212_char_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini character-diversity gate (operators/textops.py:char_diversity):
    per document, ``1 - Σ(c_i/n)²`` over the normalized character
    distribution as the exact rational ``(n² - Σc²)·1e6 // n²`` — an
    integer-exact stand-in for character entropy that catches the same
    degenerate tails (mash, padding, separator spam) with zero float
    drift; plus the distinct-char census and top-char share. Explode →
    two partial-agg levels, no joins/windows."""
    return textops.char_diversity(
        load(spark, sf_dir, "documents", spread=True), low_ppm=_CD_LOW_PPM
    )


# ===========================================================================
# q213 — tokenizer fertility per language (BPE vocabulary fairness)
# ===========================================================================


@register(
    "q213_tokenizer_fertility",
    f"""
    WITH enc AS ({_BPE_ENCODE_SQL}),
    j AS (
      SELECT d.lang, e.n_words, e.n_tokens,
             octet_length(encode(d.text)) AS nbytes
      FROM enc e JOIN documents d USING (doc_id)
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_words,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(nbytes) AS BIGINT) AS n_bytes,
           CAST((SUM(n_tokens) * 1000000) // SUM(n_words) AS BIGINT)
             AS tokens_per_word_ppm,
           CAST((SUM(nbytes) * 1000000) // SUM(n_tokens) AS BIGINT)
             AS bytes_per_token_ppm
    FROM j GROUP BY 1
    """,
)
def q213_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit
    (operators/textops.py:tokenizer_fertility): per language, the
    corpus-level tokens-per-word and bytes-per-token ratios under the
    q110-trained BPE — the multilingual-fairness readout run before
    freezing a vocabulary (a language with high fertility pays
    disproportionate sequence length per byte of text). The oracle
    nests q111's full re-learn+apply chain so the tokenizer gate and
    the fertility gate cannot drift; ratios are truncating ppm on the
    per-language SUMS (corpus fertility, not mean-of-docs)."""
    docs = load(spark, sf_dir, "documents", spread=True)
    merges = textops.bpe_merges(docs, n_merges=12, batch=8, exact=True)
    return textops.tokenizer_fertility(docs, merges)


# ===========================================================================
# q214 — Cohen's kappa per source (chance-corrected classifier agreement)
# ===========================================================================


@register(
    "q214_kappa_agreement",
    f"""
    WITH pred AS ({LANG_ID_ORACLE}),
    cells AS (
      SELECT d.source AS g, d.lang AS label, p.pred_lang AS pred,
             COUNT(*) AS n
      FROM pred p JOIN documents d USING (doc_id)
      GROUP BY 1, 2, 3
    ),
    rows_ AS (SELECT g, label AS cls, SUM(n) AS row_n FROM cells GROUP BY 1, 2),
    cols_ AS (SELECT g, pred AS cls, SUM(n) AS col_n FROM cells GROUP BY 1, 2),
    pe AS (
      SELECT r.g, SUM(r.row_n * c.col_n) AS pe_num
      FROM rows_ r JOIN cols_ c USING (g, cls) GROUP BY 1
    ),
    tot AS (
      SELECT g, SUM(n) AS n_docs,
             SUM(CASE WHEN label = pred THEN n ELSE 0 END) AS n_agree
      FROM cells GROUP BY 1
    )
    SELECT t.g AS source,
           CAST(t.n_docs AS BIGINT) AS n_docs,
           CAST(t.n_agree AS BIGINT) AS n_agree,
           CAST(t.n_agree * 1000000 // t.n_docs AS BIGINT) AS po_ppm,
           CAST(COALESCE(p.pe_num, 0) * 1000000 // (t.n_docs * t.n_docs)
                AS BIGINT) AS pe_ppm,
           CAST((t.n_docs * t.n_agree - COALESCE(p.pe_num, 0)) * 1000000
                // nullif(t.n_docs * t.n_docs - COALESCE(p.pe_num, 0), 0)
                AS BIGINT) AS kappa_ppm
    FROM tot t LEFT JOIN pe p USING (g)
    """,
)
def q214_kappa_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa per source (operators/textops.py:kappa_agreement):
    q32's language predictions vs labels as chance-corrected agreement
    — the per-provider eval readout that raw accuracy (q208's diagonal)
    flatters when a source's label marginals are skewed. Exact rational
    ``(N·D − Σ row·col) / (N² − Σ row·col)`` in truncating ppm;
    negative kappa truncates identically under Spark ``div`` and DuckDB
    ``//``. The oracle nests q32's full oracle so predictor and eval
    cannot drift."""
    return textops.kappa_agreement(
        load(spark, sf_dir, "documents", spread=True)
    )


# ===========================================================================
# q216 — per-source token-distribution TVD (corpus drift, exact)
# ===========================================================================


@register(
    "q216_token_tvd",
    f"""
    WITH wds AS (
      SELECT source AS g, unnest(string_split({NT}, ' ')) AS w
      FROM documents
    ),
    sw AS (
      SELECT g, w, COUNT(*) AS c_sw FROM wds WHERE w <> '' GROUP BY 1, 2
    ),
    wtot AS (SELECT w, SUM(c_sw) AS c_w FROM sw GROUP BY 1),
    totals AS (
      SELECT g, SUM(c_sw) AS n_s, COUNT(*) AS n_types FROM sw GROUP BY 1
    ),
    n AS (SELECT SUM(c_w) AS n_corpus FROM wtot),
    j AS (
      SELECT s.g,
             SUM(ABS(s.c_sw * n.n_corpus - t.c_w * tt.n_s)) AS present_num,
             SUM(t.c_w) AS c_w_present
      FROM sw s JOIN wtot t USING (w) JOIN totals tt USING (g)
      CROSS JOIN n
      GROUP BY 1
    )
    SELECT tt.g AS source,
           CAST(tt.n_s AS BIGINT) AS n_tokens,
           CAST(tt.n_types AS BIGINT) AS n_types,
           CAST((j.present_num + tt.n_s * (n.n_corpus - j.c_w_present))
                * 1000000 // (2 * tt.n_s * n.n_corpus) AS BIGINT) AS tvd_ppm
    FROM totals tt JOIN j USING (g) CROSS JOIN n
    """,
)
def q216_token_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram drift (operators/textops.py:token_tvd): the
    EXACT total-variation distance between each source's token
    distribution and the corpus mixture, in ppm — integer
    cross-multiplication with the absent-word mass folded in
    analytically (``N_s·(N − Σ_present c_w)``), so no float
    probabilities and no source×vocab grid ever materializes. The
    model-free companion to q147's embedding drift and q194's
    reference-rank surprisal."""
    return textops.token_tvd(load(spark, sf_dir, "documents", spread=True))


# ===========================================================================
# q218 — integer Flesch readability twin
# ===========================================================================

_RD_HARD = 30000  # milli-score; sf0.01 span -20973..96097, median ~29k


@register(
    "q218_readability",
    f"""
    WITH t AS (
      SELECT doc_id, {NT} AS nt FROM documents WHERE length({NT}) > 0
    ),
    f AS (
      SELECT doc_id,
             CAST(len(string_split(nt, ' ')) AS BIGINT) AS n_words,
             CAST(GREATEST(1, len(regexp_extract_all(nt, '[.!?]+')))
                  AS BIGINT) AS n_sentences,
             CAST(GREATEST(1, len(regexp_extract_all(nt, '[aeiouy]+')))
                  AS BIGINT) AS n_syllables
      FROM t
    ),
    s AS (
      SELECT doc_id, n_words, n_sentences, n_syllables,
             n_words * 1000 // n_sentences AS wps_milli,
             n_syllables * 1000 // n_words AS spw_milli
      FROM f
    )
    SELECT doc_id, n_words, n_sentences, n_syllables,
           CAST(wps_milli AS BIGINT) AS wps_milli,
           CAST(spw_milli AS BIGINT) AS spw_milli,
           CAST(206835 - (1015 * wps_milli) // 1000
                       - (84600 * spw_milli) // 1000 AS BIGINT)
             AS flesch_milli,
           206835 - (1015 * wps_milli) // 1000
                  - (84600 * spw_milli) // 1000 < {_RD_HARD}
             AS hard_to_read
    FROM s
    """,
)
def q218_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer Flesch reading-ease twin
    (operators/textops.py:readability_scores): words, sentence runs,
    vowel-run syllables, and the classic score in truncating milli —
    the readability feature of C4-class quality filter sets, exact and
    float-free. Pure map-side census, zero shuffle ({_RD_HARD} milli
    flags the measured lower half of the synthetic corpus, so both
    branches are live)."""
    return textops.readability_scores(
        load(spark, sf_dir, "documents", spread=True), hard_milli=_RD_HARD
    )


# ===========================================================================
# q219 — per-language exact-percentile length floor
# ===========================================================================

_LF_Q = 250  # permille -> exact p25 by rank


@register(
    "q219_length_floor",
    f"""
    WITH b AS (
      SELECT doc_id, lang AS g,
             CAST(len(string_split({NT}, ' ')) AS BIGINT) AS n_words
      FROM documents
    ),
    r AS (
      SELECT g, doc_id, n_words,
             row_number() OVER (PARTITION BY g ORDER BY n_words, doc_id)
               AS rn,
             COUNT(*) OVER (PARTITION BY g) AS n
      FROM b
    ),
    fl AS (
      SELECT g, n_words AS p_words FROM r
      WHERE rn = (n * {_LF_Q} + 999) // 1000
    )
    SELECT r.g AS lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(fl.p_words AS BIGINT) AS p_words,
           CAST(SUM(CASE WHEN r.n_words < fl.p_words THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged,
           CAST(SUM(CASE WHEN r.n_words < fl.p_words THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS flagged_ppm
    FROM r JOIN fl USING (g)
    GROUP BY r.g, fl.p_words
    """,
)
def q219_length_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language calibrated length gate
    (operators/textops.py:calibrated_length_floor): the exact p{_LF_Q}‰
    word-count percentile WITHIN each language (PERCENTILE_DISC by
    rank — value at ceil(q·n) in (words, doc_id) order) and how many of
    the stratum's docs sit under their own floor — the per-language
    calibration that replaces the global length cutoff which
    over-drops terse languages. One stratum-keyed rank window; the
    |langs|-row floor table broadcasts back."""
    return textops.calibrated_length_floor(
        load(spark, sf_dir, "documents", spread=True), q_permille=_LF_Q
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
