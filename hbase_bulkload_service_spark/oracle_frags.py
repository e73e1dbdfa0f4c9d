"""DuckDB oracle SQL shared by query modules of more than one domain.

The domain modules under ``queries/`` import from here and never from
each other. SQL that only one domain uses stays in that domain's module.
"""

from __future__ import annotations

from hbase_bulkload_service_spark.operators import dedup, textops


# ---------------------------------------------------------------------------
# shared fixture SQL: events → tsdb_cells (FIXTURES.md §2), mirrored by
# operators/tsdb.derive_tsdb_cells
# ---------------------------------------------------------------------------

TSDB_CELLS_CTE = """
dict AS (
  SELECT event_type,
         CAST(row_number() OVER (ORDER BY event_type) - 1 AS INT) AS metric_id
  FROM (SELECT DISTINCT event_type FROM events)
),
base AS (
  SELECT e.event_id, d.metric_id,
         epoch_ms(e.ts) AS ts_ms,
         epoch_ms(e.ts) // 1000 AS ts_sec,
         'user=' || CAST(e.user_id AS VARCHAR) AS tags,
         e.value AS dvalue
  FROM events e JOIN dict d USING (event_type)
),
base2 AS (
  SELECT event_id, metric_id, ts_ms, ts_sec, tags, dvalue,
         ts_sec - ts_sec % 3600 AS ts_hour,
         CAST(ts_sec % 3600 AS INT) AS offset_sec,
         ts_ms AS version_ts
  FROM base
),
cells AS (
  SELECT event_id, metric_id, ts_hour, ts_sec, tags, offset_sec, version_ts, dvalue
  FROM base2
  UNION ALL
  SELECT event_id, metric_id, ts_hour, ts_sec, tags, offset_sec,
         version_ts + 1000 AS version_ts, dvalue * 2 AS dvalue
  FROM base2 WHERE event_id % 20 = 0
)
"""


# Java Arrays.hashCode over salt_base = 3-byte metric ‖ ascii(tags), as a
# DuckDB expression (32-bit wraparound via mod-2^32 fold; % keeps dividend
# sign exactly like Java). Mirrors functions/hashes.java_arrays_hashcode.
_DUCK_SALT_BYTES = (
    "[CASE WHEN b > 127 THEN b - 256 ELSE b END FOR b IN list_concat("
    "[(metric_id >> 16) & 255, (metric_id >> 8) & 255, metric_id & 255], "
    "list_transform(range(1, length(tags) + 1), i -> ascii(substr(tags, i, 1))))]"
)
_DUCK_JAVA_HASH_U = (
    f"list_reduce(list_prepend(CAST(1 AS BIGINT), {_DUCK_SALT_BYTES}), "
    "(acc, x) -> ((acc * 31 + x) % 4294967296 + 4294967296) % 4294967296)"
)
DUCK_SALT_BUCKET = (
    f"abs((CASE WHEN {_DUCK_JAVA_HASH_U} >= 2147483648 "
    f"THEN {_DUCK_JAVA_HASH_U} - 4294967296 ELSE {_DUCK_JAVA_HASH_U} END) % 512)"
)


# ---------------------------------------------------------------------------
# shared DuckDB fragments
# ---------------------------------------------------------------------------

NT = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"

DOCS_NORM_CTE = f"""
t AS (SELECT doc_id, text, {NT} AS nt FROM documents),
w AS (SELECT doc_id, text, nt, string_split(nt, ' ') AS ws FROM t)
"""

def _sh_cte(src: str) -> str:
    """The 3-word-shingle CTE body over any source exposing (doc_id, nt, ws)."""
    return f"""sh AS (
  SELECT doc_id,
         unnest(list_distinct(
           CASE WHEN len(ws) < 3 THEN [nt]
                ELSE list_transform(range(1, len(ws) - 1),
                                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
           END)) AS shingle
  FROM {src}
)"""


def _occ(hay: str, needle: str) -> str:
    """substring occurrence count — same length arithmetic as
    textops.occurrences."""
    esc = needle.replace("'", "''")
    return (
        f"CAST((length({hay}) - length(replace({hay}, '{esc}', ''))) / {len(needle)} AS INT)"
    )


_LANG_SCORE_SQL = " UNION ALL ".join(
    f"SELECT doc_id, '{lang}' AS lang, "
    + " + ".join(_occ("pt", f" {m} ") for m in markers)
    + " AS score FROM padded"
    for lang, markers in sorted(textops.LANG_MARKERS.items())
    if lang != "zh"
)


# ===========================================================================
# MinHash signature + LSH band fragments (q35's chain; q45, q190, q199)
# ===========================================================================

_SIG_COLS = ", ".join(
    f"min(md5('{j}:' || shingle)) AS mh{j}" for j in range(dedup.MINHASH_K)
)
_BANDS_SQL = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, md5(mh{2*b} || ',' || mh{2*b+1}) AS bucket FROM sig"
    for b in range(dedup.LSH_BANDS)
)


CENTS_SQL = "CAST(FLOOR(value * 100) AS BIGINT)"


# ===========================================================================
# q151 — counter rate with reset detection (also gates q156's stream)
# ===========================================================================


COUNTER_RATE_ORACLE = f"""
    WITH c AS (
      SELECT event_type, user_id, event_id, epoch_ms(ts) AS ts_ms,
             {CENTS_SQL} AS cents
      FROM events
    ),
    d AS (
      SELECT event_type, user_id, event_id, ts_ms, cents,
             cents - LAG(cents) OVER w AS raw_delta,
             ts_ms - LAG(ts_ms) OVER w AS dt_ms
      FROM c
      WINDOW w AS (PARTITION BY event_type, user_id ORDER BY ts_ms, event_id)
    ),
    f AS (SELECT * FROM d WHERE dt_ms IS NOT NULL AND dt_ms > 0)
    SELECT event_type, user_id, event_id, ts_ms, cents,
           CAST(CASE WHEN raw_delta < 0 THEN cents ELSE raw_delta END
                AS BIGINT) AS delta,
           dt_ms,
           raw_delta < 0 AS is_reset,
           CAST((CASE WHEN raw_delta < 0 THEN cents ELSE raw_delta END
                 * 1000000000) // dt_ms AS BIGINT) AS rate_micros
    FROM f
    """


# ===========================================================================
# q178 — integer EWMA control chart (sequential recurrence; the canonical
# applyInPandas stateful operator, oracle-replayed as a recursive CTE)
# ===========================================================================

_EWMA_SPIKE = 2


EWMA_CHART_ORACLE = f"""
    WITH RECURSIVE s AS MATERIALIZED (
      SELECT user_id, event_id,
             CAST(FLOOR(value * 100) AS BIGINT) AS x,
             CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
               AS BIGINT) AS rn
      FROM events
    ),
    r AS (
      SELECT user_id, event_id, rn, x, x AS e, CAST(0 AS BIGINT) AS spike
      FROM s WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.event_id, s.rn, s.x,
             (r.e + s.x) // 2,
             CAST(CASE WHEN s.x > {_EWMA_SPIKE} * r.e THEN 1 ELSE 0 END
                  AS BIGINT)
      FROM r JOIN s ON s.user_id = r.user_id AND s.rn = r.rn + 1
    )
    SELECT user_id, event_id, rn, x AS x_cents,
           CAST(e AS BIGINT) AS ewma_cents, spike
    FROM r
    """


# ===========================================================================
# q196 — token-blocklist release gate (C4 badwords audit; also q201)
# ===========================================================================

_BL_LIST = {"slow": 3, "dirty": 5, "big": 1}
_BL_THRESH = 8

_BL_SEV_SQL = (
    "CASE w WHEN 'big' THEN 1 WHEN 'dirty' THEN 5 WHEN 'slow' THEN 3 END"
)


BLOCKLIST_AUDIT_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, source,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                          ' ') AS ws
      FROM documents
    ),
    tok AS (SELECT doc_id, source, unnest(ws) AS w FROM t),
    per_doc AS (
      SELECT doc_id, source, SUM({_BL_SEV_SQL}) AS score
      FROM tok WHERE {_BL_SEV_SQL} IS NOT NULL GROUP BY 1, 2
    ),
    totals AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
    viol AS (
      SELECT source,
             SUM(CASE WHEN score >= {_BL_THRESH} THEN 1 ELSE 0 END)
               AS flagged_docs,
             SUM(score) AS total_score
      FROM per_doc GROUP BY 1
    )
    SELECT t.source, CAST(t.n_docs AS BIGINT) AS n_docs,
           CAST(COALESCE(v.flagged_docs, 0) AS BIGINT) AS flagged_docs,
           CAST(COALESCE(v.total_score, 0) AS BIGINT) AS total_score,
           CAST(COALESCE(v.flagged_docs, 0) * 1000000 // t.n_docs AS BIGINT)
             AS flagged_ppm
    FROM totals t LEFT JOIN viol v USING (source)
    """


# ===========================================================================
# q212 — Gini character-diversity gate (exact rational; q220 embeds it)
# ===========================================================================

_CD_LOW_PPM = 920000  # measured sf0.01 span: 899945..931841 — both branches live


CHAR_DIVERSITY_ORACLE = f"""
    WITH c AS (
      SELECT doc_id, unnest(string_split({NT}, '')) AS ch FROM documents
    ),
    g AS (
      SELECT doc_id, ch, COUNT(*) AS c FROM c WHERE ch <> '' GROUP BY 1, 2
    ),
    a AS (
      SELECT doc_id, SUM(c) AS n, COUNT(*) AS dc, SUM(c * c) AS ss,
             MAX(c) AS topc
      FROM g GROUP BY 1
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_chars_norm,
           CAST(dc AS BIGINT) AS distinct_chars,
           CAST((n * n - ss) * 1000000 // (n * n) AS BIGINT) AS gini_ppm,
           CAST(topc * 1000000 // n AS BIGINT) AS top_char_ppm,
           (n * n - ss) * 1000000 // (n * n) < {_CD_LOW_PPM}
             AS low_diversity
    FROM a
    """
