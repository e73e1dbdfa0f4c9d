"""Wave-4/5 scale-linearity probe: run representative new queries at 1×
(sf0.1) and K× (amplified in /tmp; the read-only testdata tree is never
touched) and record wall time + shuffle bytes per query, proving the
claimed scale shapes hold beyond the bench scale — linear data growth
must produce ~linear shuffle growth and no super-linear wall blowup.

Amplification keeps the SHAPE of the data honest:
- events / documents / orders+lineitem replicate with SHIFTED primary
  keys (event_id, doc_id, orderkey) so key cardinality grows linearly
  and joins stay 1:N, not N:N;
- user_id is shifted too (window/gap-fill state per key stays constant,
  key count grows — the 100 TB regime);
- dimension tables (part/supplier/nation/region/customer) stay fixed —
  exactly how dims behave at scale.

Usage: python tools/linearity_probe.py [amplification] [out_json]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hbase_bulkload_service_spark import obs  # noqa: E402
from hbase_bulkload_service_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"

PROBE_QUERIES = [
    "q74_repetition_signals",  # two doc-keyed hash aggs over exploded bigrams
    "q77_gap_fill",            # running-frame window, one keyed shuffle
    "q80_semi_anti_returns",   # semi+anti joins on the fact keys
    "q82_market_share",        # snowflake: fixed dims broadcast, fact shuffle
    "q83_pit_join",            # equi+range interval join
    "q85_pivot_metrics",       # pivot hash agg (explicit values)
    "q88_rolling_window",      # bounded-frame window
    "q94_cube_grouping",       # Expand ×4 grouping sets + one hash agg
    "q96_counter_deltas",      # per-series lag window, one keyed shuffle
    "q97_value_histogram",     # integer bucketing, one hash agg
    "q100_retention_audit",    # rank window + retention agg over cells
    "q101_span_dedup",         # 3 linear keyed exchanges; amplified docs make every span a dup (worst case)
    "q103_corpus_shuffle",     # one keyed exchange + per-shard sorts
    "q104_bm25_topk",          # IN-pruned index + TakeOrderedAndProject
    "q105_incremental_dedup",  # exact-hash layer absorbs amplified copies (near layer idles by design)
    "q117_heavy_hitters",      # MG summaries: zero item-keyed shuffle; candidates broadcast
    "q119_lm_quality",         # vocab-bounded aggs + two keyed joins
    "q120_key_skew_profile",   # two hash aggs, bucket-bounded output
    "q123_canonical_selection",  # one md5-keyed window exchange
    "q125_corrupt_records",    # CSV write + PERMISSIVE read-back, map-side classify
    "q126_output_shards",      # prefix_sum: one range exchange + broadcast offsets
    "q127_token_budget_mix",   # metadata-scale alloc + grouped prefix_sum cut
    "q128_boilerplate_lines",  # two digest-keyed exchanges + doc rebuild agg
    "q129_postings",           # (term,doc) pre-agg; stop-cap elides long lists
    "q130_expectations_audit",  # one fused agg scan per table + FK joins
    "q131_rollup_totals",      # single Expand + hash agg, one scan
    "q133_capped_stratum_sample",  # map-side prefilter; only ~ppm fraction windows
    "q135_winsorized_stats",   # one keyed exchange: rank/cut windows + agg share it
    "q136_group_mode",         # combiner-bounded pair agg + tiny window
    "q138_time_weighted_avg",  # one keyed exchange: hold window + agg share it
    "q139_corpus_build_e2e",   # q45 funnel + cap window; probes the composed path
    "q140_snapshot_diff",      # one keyed full-outer join of (key, md5) digests
    "q141_grid_fill",          # per-bucket representative window; grid bounded by span/step
    "q142_mad_outliers",       # one keyed exchange, two rank windows share it
    "q143_group_trend",        # centering window + moment agg share one exchange
    "q144_seasonal_profile",   # combiner-bounded (key, slot) agg
    "q145_balanced_oversample",  # one class-keyed window; replicas explode map-side
    "q148_histogram_drift",    # bucket hash agg, combiner-bounded
    "q150_stream_alignment",   # cogroup keyed on user_id; keys grow, per-key state constant
    "q151_counter_rate",       # per-series lag window, one keyed shuffle (q96 shape + reset math)
    "q152_aligned_ratio",      # per-bucket representative window; grid bounded by span/step
    "q153_topn_other",         # first hash agg collapses to (group, item) cardinality map-side
    "q154_dataset_split",      # one stratum-keyed rank window; quota table broadcast
    "q155_source_reputation",  # map-side md5; digest-cardinality aggs/joins only (no pair join, so exact-copy amplification is safe — dup counts grow, shuffle stays digest-sized)
    "q157_grid_fill_linear",   # q141's shape + a second span-bounded fill window
    "q158_stale_series",       # combiner-bounded MAX agg + 1-row broadcast
    "q159_percentile_downsample",  # one (series, bucket) exchange; rank windows share it
    "q160_user_journeys",      # user-keyed window + path agg share one exchange; top-k TakeOrdered
    "q161_source_overlap",     # digest-keyed self-join, fan-out bounded by source count
    "q162_rate_percentiles",   # composed: (type,user) rate exchange feeds (type,bucket) percentile exchange
    "q163_threshold_episodes",  # gaps-and-islands: two same-keyed windows + agg share one exchange
    "q164_time_weighted_percentile",  # one (series,bucket) exchange: hold, cum, and rank windows share it
    "q165_slo_compliance",     # grid_fill composed into a combiner-bounded (series, period) agg
    "q166_rate_bursts",        # rate lag + trailing baseline share one series exchange
    "q171_dsir_importance",    # bucket-bounded aggs + broadcast score table + TakeOrdered top-N
    "q173_concat_packing",     # one shard exchange (cumsum window rides it) + one rollup exchange
    "q174_ngram_novelty",      # md5-keyed (batch,gram) + gram aggs; three linear keyed exchanges
    "q177_vocab_coverage",     # word agg + TakeOrdered V-cut broadcast back; doc rollup
    "q178_ewma_chart",         # one keyed exchange into per-series Arrow loops, O(1) state
    "q179_scene_shots",        # Arrow frame-luma map + one doc-keyed exchange (lag/cumsum/rollup share it)
    "q182_stl_decompose",      # two keyed window exchanges (series trend, series+phase seasonal), no joins
    "q183_stl_anomalies",      # stl + one series re-exchange for the median/MAD windows, no joins
    "q184_holt_forecast",      # one keyed exchange into per-series Arrow loops, O(1) two-register state
    "q186_salt_plan",          # one map-side-combined keyed agg + filter; output skewed-keys-sized
    "q187_k_anonymity",        # one keyed agg filtered to the risky tail; class-cardinality output
    "q188_forget_plan",        # scan-pruned cohort + one keyed agg; cohort-sized output
    "q189_join_size_estimate", # one keyed agg + 1-row broadcast total + TakeOrdered top-N
    "q193_temperature_mix",    # metadata-scale apportionment windows + one per-lang rank exchange
    "q194_surprisal_buckets",  # ref-vocab agg + TakeOrdered cap broadcast; doc rollup + per-lang ntile
    "q195_doremi_mix",         # one corpus pass for the loss table; rounds are |sources|-row windows
    "q196_blocklist_audit",    # broadcast blocklist onto token stream; doc- then source-keyed aggs
    "q198_table_profile",      # map-side melt -> (col,val) pre-agg bounds the exact-NDV exchange
    "q200_audio_trim",         # Arrow frame-energy map + ONE doc-keyed agg, no windows
    "q202_sketch_profile",     # same (col,val) pre-agg as q198; HLL rides the rollup
    "q203_dedup_savings",      # one md5-keyed window + id join + source rollup (q123 class)
    "q204_rollup_reconcile",   # rollup-grain full-outer join; discrepancy-sized output
    "q206_stratified_batches", # one stratum-keyed rank exchange + (batch,stratum) rollup
    "q207_holt_winters",       # one keyed exchange into per-series Arrow loops, O(period) state
    "q208_lang_confusion",     # map-side predictor + (label,pred)-keyed agg; |langs|^2 output
    "q209_ab_guardrail",       # map-side arm assignment + one segment-keyed agg
    "q211_layout_pruning",     # map-side file tags off broadcast bounds + one (layout,file) agg
    "q212_char_diversity",     # explode -> (doc,char) partial agg -> doc agg; no joins
    "q213_tokenizer_fertility",  # vocab-bounded fold chain + broadcast vocab join + lang rollup
    "q214_kappa_agreement",    # map-side predictor + (src,label,pred) agg; matrix-bounded tail
    "q215_countmin_sketch",    # keyed truth agg; sketch cells d*w-bounded, broadcast estimation
    "q216_token_tvd",          # (src,word) agg + word-keyed join + src rollup; no grid
    "q218_readability",        # pure map-side regexp census; zero shuffle
    "q219_length_floor",       # one stratum-keyed rank window; floor table broadcast
    "q220_soft_sampling",      # q212's two keyed aggs + map-side md5 gate + src rollup
    "q222_winnowing",          # fully map-side array expressions; zero data shuffle
    "q223_label_majority",     # (item,label) pre-agg -> item-keyed min_by argmax
    "q224_vocab_concentration",  # word agg + TakeOrdered top-k; tail metadata-scale
    "q229_trailing_features",  # 1-row ref broadcast + ONE user-keyed conditional agg
    "q230_loo_target_encoding",  # #categories stats broadcast + codegen projection; no fact shuffle
    "q232_metric_moments",     # one keyed moment agg, combiner-bounded
    "q233_variant_props",      # map-side variant parse/extract + (type,bucket) agg
    "q235_map_assembly",       # (decile,type) agg -> decile map rollup; map HOFs map-side
    "q236_ks_drift",           # (key,value) pre-agg bounds the window; totals broadcast
    "q237_bitmask_census",     # two keyed aggs; one-BIGINT set state per key
    "q238_golden_record",      # key-partitioned full-outer chain (2N-2 exchanges, SCALE.md)
    "q240_funnel3",            # per-step join+agg, all user-keyed; frontier stays #users rows
]
# q221_hfilev3_snappy is a container byte-gate (q167-q170 class): its
# wall is per-region writer/readback CPU, not a data-shuffle shape —
# excluded like its codec siblings.
# Wave 32/34 members not probed: q227/q228/q234/q241/q243 are
# write-harness round-trips (temp parquet generations, partitioned
# overwrite, stream restarts) whose wall is the fixture write, not a
# shuffle shape; q231 is the sentinel-replay twin of q60; q242 is a
# single observed scan. Scale arguments in SCALE.md round-8 section.
# Pair-output operators (near-dup / linkage / graph families) are probed
# against a PERTURBED amplification instead (below): replication with
# per-rep content perturbation, so cross-rep copies are NOT duplicates of
# each other and growth reflects operator shape, not the synthetic copy
# classes. The plain amplifier's exact copies would make their pair
# output quadratic by construction:
# q109/q113/q114 were deliberately NOT probed in r03: the amplifier replicates
# documents/customers as EXACT COPIES (only keys shift), so pair-output
# operators would see quadratic growth in the copy classes by
# construction of the synthetic amplification, not by operator shape —
# their scale arguments are the blocking bounds pinned in SCALE.md.

# Probed against the perturbed amplifier (1× perturbed vs K× perturbed —
# both sides perturbed so the ratio isolates operator scaling):
PROBE_QUERIES_PERTURBED = [
    "q102_semantic_dedup",   # IVF-cell pair join; centroids grow with data (every-50th-id) so cell size stays constant
    "q107_fuzzy_linkage",    # deletion-neighborhood blocking; per-rep name suffixes keep cross-rep edit distance >= 2
    "q109_phash_neardups",   # banded Hamming; per-rep text suffix changes payload bytes, so no cross-rep collisions
    "q113_triangle_counts",  # disjoint per-rep copies of the linkage graph -> triangles scale linearly
    "q114_pagerank",         # same graph; 5 fixed rounds, each one keyed exchange
    "q118_kmeans_iterative",  # k x dim centroid round-trips; per-vector broadcast scoring (embeddings only grow under the perturbed amplifier)
    "q132_term_cooccurrence",  # rel-df band; per-rep tokens add vocab linearly, per-doc fan-out stays bounded
    "q134_containment_pairs",  # rare-gram blocked ordered pairs; perturbed reps don't contain each other
    "q147_embedding_drift",    # per-(label, dim) combiner agg; embeddings grow under this amplifier
    "q149_kcore",              # degree aggs + semi joins over per-rep-disjoint linkage graphs
    "q172_pq_ann",             # broadcast codebooks + ADC lookup join; k x dim round-trips only
    "q175_ivfpq_topk",         # coarse+PQ round-trips metadata-scale; one id-keyed corpus join, probe list broadcast
    "q176_label_propagation",  # per-round: one keyed contribution join + two hash aggs over per-rep-disjoint graphs
    "q181_ivfadc_topk",        # ivfpq shape + residual broadcast-join subtraction; per-(q,cell) ADC still broadcast
    "q185_hard_negatives",     # q42's cell-blocked pair join + thin id-keyed label joins on the survivors
    "q190_split_leakage",      # q35's banded-LSH + verify path; split labels map-side on survivors
    "q191_bitext_mining",      # cell-blocked A x B candidates + pair-scale rank/sum windows
    "q192_phrase_decontam",    # broadcast phrase table; exact-copy reps would match every phrase K x (amplifier artifact)
    "q197_embedding_health",   # map-side fold math + one label agg (embeddings grow under this amplifier)
    "q199_dup_matrix",         # q35's banded-LSH + verify path; source labels join survivors only
    "q205_matryoshka_recall",  # brute-force baseline: query set broadcast, |dims| prefix folds per row
    "q210_cluster_split",      # q35's banded-LSH + CC ledger; fold hash map-side on the join
    "q217_nprobe_recall",      # one broadcast-query distance pass + id-keyed cell join; tallies broadcast
    "q239_top_dims",           # zero-shuffle in-row array_sort (embeddings grow under this amplifier)
]
# q146_rank_fusion is NOT probed: the fusion itself is k-bounded
# (queries x k x n_lists rows); its scale cost lives entirely in the
# upstream searchers, which are probed via q38-family arguments in
# SCALE.md and q122/q124's gates.


def _run(spark, name: str, sf_dir: str, group: str) -> dict:
    """Wall (s) and input/shuffle MB of one query run; a failed run
    keeps its error."""
    rec = obs.run_query(spark, name, sf_dir, group=group)
    out = {
        k.replace("_bytes", "_mb"): round(rec[k] / 1e6, 2)
        for k in ("shuffle_write_bytes", "shuffle_read_bytes", "input_bytes")
    }
    out["wall_s"] = rec["wall_s"]
    if rec["err"]:
        out["err"] = rec["err"]
    return out


def _amplify(spark, work: str, amp: int) -> str:
    """Build an amplified sf directory; returns its path."""
    from pyspark.sql import functions as F

    from hbase_bulkload_service_spark.sources.tables import TABLES, load

    dst = os.path.join(work, f"sf_amp{amp}")
    os.makedirs(dst, exist_ok=True)
    reps = spark.range(amp).select(F.col("id").alias("rep"))

    def shifted(name: str, key_shifts: dict[str, int]):
        df = load(spark, SF_DIR, name)
        amped = df.crossJoin(reps)
        cols = []
        for c in df.columns:
            if c in key_shifts:
                cols.append(
                    (F.col(c) + F.col("rep") * F.lit(key_shifts[c])).alias(c)
                )
            else:
                cols.append(F.col(c))
        amped.select(*cols).write.mode("overwrite").parquet(
            os.path.join(dst, f"{name}.parquet")
        )

    n_ev = load(spark, SF_DIR, "events").count()
    n_doc = load(spark, SF_DIR, "documents").count()
    max_ok = load(spark, SF_DIR, "orders").agg(
        F.max("o_orderkey")
    ).collect()[0][0]
    max_ck = load(spark, SF_DIR, "customer").agg(
        F.max("c_custkey")
    ).collect()[0][0]
    shifted("events", {"event_id": n_ev, "user_id": 1_000_000})
    shifted("documents", {"doc_id": n_doc})
    shifted("orders", {"o_orderkey": max_ok + 1})
    shifted("lineitem", {"l_orderkey": max_ok + 1})
    # rep-0 keys survive the shift, so orders.o_custkey FK joins still
    # resolve; the extra customers exercise entity-keyed operators (q238)
    shifted("customer", {"c_custkey": max_ck + 1})
    for t in TABLES:
        p = os.path.join(dst, f"{t}.parquet")
        if not os.path.exists(p):
            shutil.copy(os.path.join(SF_DIR, f"{t}.parquet"), p)
    return dst


def _amplify_perturbed(spark, work: str, amp: int) -> str:
    """Amplified dir for PAIR-OUTPUT probes: keys shift AND content is
    perturbed per rep, so replicas are not duplicates of each other —
    near-dup/linkage/graph operators then grow by operator shape, not by
    the copy classes the plain amplifier manufactures. Used for BOTH
    sides of the ratio (amp=1 gives the perturbed 1× baseline)."""
    from pyspark.sql import functions as F

    from hbase_bulkload_service_spark.sources.tables import TABLES, load

    dst = os.path.join(work, f"sf_pert{amp}")
    os.makedirs(dst, exist_ok=True)
    reps = spark.range(amp).select(F.col("id").alias("rep"))

    def build(name: str, exprs: dict[str, str]):
        df = load(spark, SF_DIR, name)
        amped = df.crossJoin(reps)
        cols = [
            F.expr(exprs[c]).alias(c) if c in exprs else F.col(c)
            for c in df.columns
        ]
        amped.select(*cols).write.mode("overwrite").parquet(
            os.path.join(dst, f"{name}.parquet")
        )

    n_doc = load(spark, SF_DIR, "documents").count()
    max_vec = load(spark, SF_DIR, "embeddings").agg(
        F.max("vec_id")
    ).collect()[0][0]
    max_cust = load(spark, SF_DIR, "customer").agg(
        F.max("c_custkey")
    ).collect()[0][0]
    # three perturbations compose so NO representation sees cross-rep
    # near-dups:
    # - rep-dependent byte-run PREFIX (distinct char, rep-varying
    #   length): shifts many aHash cell means, pushing cross-rep Hamming
    #   distance past the q109 band;
    # - a rep tag on EVERY 3rd WORD: with 5-word shingles every shingle
    #   contains >= 1 tagged word, so cross-rep shingle/gram Jaccard
    #   collapses to ~0 (the prefix+suffix alone left same-base docs at
    #   Jaccard >= 0.5 — measured wave-27 q210 artifact: 255 pairs at 1x
    #   -> 248,445 at 10x, 225,000 of them the 5000*C(10,2) cross-rep
    #   same-base classes). Within-rep variants differ by substitutions,
    #   so their tag positions align and true near-dup pairs survive;
    # - the ' r{rep}' SUFFIX keeps exact-dedup digests distinct.
    build(
        "documents",
        {
            "doc_id": f"doc_id + rep * {n_doc}",
            "text": (
                "concat(repeat(char(48 + CAST(rep % 60 AS INT)), "
                "CAST(40 + (rep * 17) % 50 AS INT)), ' ', "
                "concat_ws(' ', transform(split(text, ' '), (w, i) -> "
                "CASE WHEN i % 3 = 0 THEN concat(w, '_', CAST(rep AS STRING)) "
                "ELSE w END)), "
                "' r', CAST(rep AS STRING))"
            ),
        },
    )
    # deterministic per-rep coordinate noise (amplitude 0.4 per dim) ->
    # cross-rep cosine falls far below the near-dup threshold; within a
    # rep all vectors share the offset so 1× structure is preserved
    build(
        "embeddings",
        {
            "vec_id": f"vec_id + rep * {max_vec + 1}",
            "embedding": (
                "transform(embedding, (v, i) -> "
                "CAST(v + 0.4 * cos(CAST(i * 3 + rep * 7 AS DOUBLE)) AS FLOAT))"
            ),
        },
    )
    # doubled rep digits: cross-rep suffixes always differ by >= 2 edits,
    # so edit-distance-1 linkage never bridges reps; within-rep distances
    # are unchanged (same suffix appended to every name)
    build(
        "customer",
        {
            "c_custkey": f"c_custkey + rep * {max_cust + 1}",
            "c_name": (
                "c_name || '#' || CAST(rep AS STRING) || CAST(rep AS STRING)"
            ),
        },
    )
    for t in TABLES:
        p = os.path.join(dst, f"{t}.parquet")
        if not os.path.exists(p):
            shutil.copy(os.path.join(SF_DIR, f"{t}.parquet"), p)
    return dst


def main() -> int:
    amp = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out_path = sys.argv[2] if len(sys.argv) > 2 else "/tmp/linearity_probe.json"
    # optional comma-separated query filter (argv[3]) for fast iteration
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None

    spark = get_spark(
        app_name="linearity-probe",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        **{
            "spark.sql.shuffle.partitions": "64",
            # 20 queries x 2 scales in ONE session: localCheckpoint blocks
            # accumulate until the ContextCleaner reclaims them, and the
            # 1g default heap OOMs around stage ~550 at 10x scale
            "spark.driver.memory": "12g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    work = tempfile.mkdtemp(prefix="linprobe")
    results: dict = {"amplification": amp, "queries": {}}
    try:
        amp_dir = _amplify(spark, work, amp)
        pert1_dir = _amplify_perturbed(spark, work, 1)
        pertk_dir = _amplify_perturbed(spark, work, amp)

        plan = [(n, SF_DIR, amp_dir) for n in PROBE_QUERIES] + [
            (n, pert1_dir, pertk_dir) for n in PROBE_QUERIES_PERTURBED
        ]
        if only is not None:
            plan = [p for p in plan if p[0] in only]

        for name, d1, dk in plan:
            # run_query releases cachereg-registered frames BEFORE each
            # run: a PRIOR query's/scale's persists otherwise contaminate
            # this run's baseline (q105's r05 x1 read ~0 shuffle because
            # the x1 corpus shingle table was still persisted)
            rec = {"perturbed": name in PROBE_QUERIES_PERTURBED}
            for tag, d in (("x1", d1), (f"x{amp}", dk)):
                rec[tag] = _run(spark, name, d, f"{name}:{tag}")
            w1, wk = rec["x1"]["wall_s"], rec[f"x{amp}"]["wall_s"]
            s1 = rec["x1"]["shuffle_write_mb"]
            sk = rec[f"x{amp}"]["shuffle_write_mb"]
            rec["wall_ratio"] = round(wk / w1, 2) if w1 else None
            rec["shuffle_ratio"] = round(sk / s1, 2) if s1 else None
            results["queries"][name] = rec

        # Baseline-size floor (round-5, VERDICT r04 item 8): a small x1
        # denominator can fake a superlinear reading (q149 in r03 read
        # 19.5x purely because its 1x shuffle was near-zero). Any query
        # whose shuffle grows > 1.5x faster than the data is auto
        # re-probed at 3x vs the existing Kx measurement, so the verdict
        # (real superlinearity vs denominator artifact) is measured by
        # default instead of adjudicated by hand: linear operators show
        # ~(K/3)x between 3x and Kx; denominator artifacts collapse.
        flagged = [
            (n, r)
            for n, r in results["queries"].items()
            if (r.get("shuffle_ratio") or 0) > 1.5 * amp and amp > 3
        ]
        if flagged:
            amp3 = _amplify(spark, work, 3)
            pert3 = _amplify_perturbed(spark, work, 3)
            for name, rec in flagged:
                d3 = pert3 if rec["perturbed"] else amp3
                x3 = _run(spark, name, d3, f"{name}:x3esc")
                s3 = x3["shuffle_write_mb"]
                sk = rec[f"x{amp}"]["shuffle_write_mb"]
                rec["escalation"] = {
                    "x3": x3,
                    "shuffle_ratio_3_to_k": (
                        round(sk / s3, 2) if s3 else None
                    ),
                    "data_ratio_3_to_k": round(amp / 3, 2),
                }
    finally:
        shutil.rmtree(work, ignore_errors=True)

    with open(out_path, "w") as f:
        json.dump(results, f, indent=2)
    print(json.dumps(results, indent=2))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
