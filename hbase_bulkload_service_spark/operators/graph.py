"""Graph analytics over pair tables (the near-dup / linkage graphs the
dedup family emits): degree profiles and triangle counting.

The reference has no graph surface; this extends the engine the same way
neardup_clusters (label propagation) does — pair tables are the natural
output of every blocking-based dedup operator, and cluster quality
control needs their graph structure (degree skew says a blocking key
collapsed; triangle density separates true duplicate cliques from
star-shaped false-positive hubs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Bytes per row of a |V|-row side: two longs (node, value).
_NODE_ROW_BYTES = 16


def _maybe_broadcast(df: DataFrame, n_nodes: int) -> DataFrame:
    """Broadcast-hint the |V|-row side of an iterative operator's per-round
    join when its ``n_nodes`` two-long rows fit the session's
    ``spark.sql.autoBroadcastJoinThreshold`` (guide §3.1: hint when YOU
    know a side is small — the planner's estimate for a post-agg
    localCheckpoint is unreliable). Without the hint AQE still ends up
    broadcasting at bench scale, but only AFTER planning and
    materializing BOTH sides' shuffle-map stages every round — measured
    5 AQE jobs per pagerank round (31 jobs / 3.3 s of inter-job driver
    gap per q114 run at sf0.1). Above the ceiling the plan is
    byte-identical to the unhinted one (cluster posture: a graph with |V|
    past broadcast keeps the exchange); a threshold <= 0 turns the hint
    off, as it turns broadcast joins off. The threshold is read per call
    as the parsed long, so a size string like ``10MB`` counts in bytes."""
    threshold = (
        df.sparkSession._jsparkSession.sessionState()
        .conf().autoBroadcastJoinThreshold()
    )
    if threshold > 0 and n_nodes * _NODE_ROW_BYTES <= threshold:
        return F.broadcast(df)
    return df


def degrees(pairs: DataFrame, a: str = "doc_a", b: str = "doc_b") -> DataFrame:
    """(node, degree) over an undirected pair table (each edge once,
    a != b). One explode-free union + hash agg."""
    nodes = pairs.select(F.col(a).alias("node")).unionAll(
        pairs.select(F.col(b).alias("node"))
    )
    return nodes.groupBy("node").agg(F.count("*").alias("degree"))


def triangle_counts(
    pairs: DataFrame, a: str = "doc_a", b: str = "doc_b"
) -> DataFrame:
    """Per-node triangle counts over an undirected simple graph given as
    distinct (a < b) pairs — the standard degree-ordered orientation
    algorithm (each triangle is discovered exactly once, from its
    lowest-(degree, id) vertex):

    1. orient every edge from the smaller to the larger endpoint under
       the total order (degree, id) — every node's OUT-degree is then
       bounded by ~sqrt(2m), the classic arboricity bound, so the wedge
       join below is O(m^1.5) worst case instead of sum(deg^2);
    2. wedges: self-join oriented adjacency on the source;
    3. close: a wedge (u->v, u->w) is a triangle iff the oriented edge
       (v->w) exists — one more equi-join;
    4. explode each triangle's three corners and count per node.

    Scale shape: two keyed equi-joins + hash aggs, no cross product; the
    orientation is what keeps hub nodes (degree skew — exactly what
    over-merged dedup blocking produces) from exploding the wedge set,
    because hubs sort LAST in the order and contribute no out-wedges.

    Output: (node, triangles), nodes with zero triangles omitted.

    The pair table and the oriented adjacency are localCheckpoint'd:
    both are referenced by multiple join branches (degrees + both edge
    endpoints; wedge left/right + closing edge), and Spark evaluates
    aliased branches independently — without truncation the upstream
    pair-producing pipeline (often an expensive blocked dedup join)
    re-runs once per branch (same-session A/B on the q113 gate at
    sf0.1: 7.3 -> 5.7 s; the exchange-reuse cache absorbs part of the
    duplication, the checkpoints remove the rest).
    """
    pairs = pairs.localCheckpoint(eager=False)
    # EAGER: deg feeds BOTH endpoint joins below — one materialization
    # instead of two evaluations of the degree agg, and its row count
    # gates the broadcast hints (r09, guide §3.1): statically hinting
    # the |V|-row degree table keeps the m-row pair table from being
    # shuffled by x and again by y (AQE would broadcast too, but only
    # after planning + materializing both shuffle-map stages).
    deg = degrees(pairs, a, b).localCheckpoint(eager=True)
    n = deg.count()
    e = (
        pairs.select(F.col(a).alias("x"), F.col(b).alias("y"))
        .join(
            _maybe_broadcast(
                deg.select(F.col("node").alias("x"), F.col("degree").alias("dx")), n
            ),
            "x",
        )
        .join(
            _maybe_broadcast(
                deg.select(F.col("node").alias("y"), F.col("degree").alias("dy")), n
            ),
            "y",
        )
    )
    kx = F.struct(F.col("dx").alias("d"), F.col("x").alias("n"))
    ky = F.struct(F.col("dy").alias("d"), F.col("y").alias("n"))
    fwd = kx < ky
    oriented = e.select(
        F.when(fwd, F.col("x")).otherwise(F.col("y")).alias("src"),
        F.when(fwd, F.col("y")).otherwise(F.col("x")).alias("dst"),
        F.when(fwd, ky).otherwise(kx).alias("dst_key"),
    ).localCheckpoint(eager=False)
    # NOTE: pinning these joins wide with numbered repartitions (the q36
    # AQE-coalesce fix) was A/B-tested and REGRESSED 4.0 -> 8.4 s at
    # sf0.1: unlike q36's pandas-heavy verify, the wedge join is cheap
    # enough per row that extra exchanges + 192-task scheduling overhead
    # dominate. AQE's byte-based coalesce is the right call here; at
    # cluster scale the shuffle bytes grow with m and AQE widens on its
    # own.
    w1 = oriented.select("src", F.col("dst").alias("v"), F.col("dst_key").alias("kv"))
    w2 = oriented.select("src", F.col("dst").alias("w"), F.col("dst_key").alias("kw"))
    wedges = (
        w1.join(w2, "src")
        .filter(F.col("kv") < F.col("kw"))
        .select("src", "v", "w")
    )
    closing = oriented.select(
        F.col("src").alias("v"), F.col("dst").alias("w")
    )
    tris = wedges.join(closing, ["v", "w"]).select(
        F.col("src").alias("n1"), F.col("v").alias("n2"), F.col("w").alias("n3")
    )
    corners = (
        tris.select(F.col("n1").alias("node"))
        .unionAll(tris.select(F.col("n2").alias("node")))
        .unionAll(tris.select(F.col("n3").alias("node")))
    )
    return corners.groupBy("node").agg(F.count("*").alias("triangles"))


PR_MASS = 1_000_000_000  # total rank mass (ppb scale)


def pagerank(
    pairs: DataFrame,
    iters: int = 5,
    a: str = "doc_a",
    b: str = "doc_b",
) -> DataFrame:
    """Integer-exact PageRank over the undirected pair graph (each edge
    walked both ways) — centrality for duplicate-canonicalization (keep
    the most-central copy of a cluster) and hub diagnostics on linkage
    graphs.

    All arithmetic is integer (ppb mass, floor division) with the
    classic 0.85 damping as the rational 85/100, so a fixed iteration
    count is bit-identical in any engine — the oracle unrolls the same
    ``iters`` steps as plain SQL. Mass lost to flooring is deterministic
    and harmless for ranking. Every node in a pair table has degree >= 1,
    so there are no dangling nodes.

    Scale shape per iteration: ONE contribution join (ranks ⋈ edges on
    the source, both sides hash-partitioned on the node key) + one dst
    hash agg; ranks are localCheckpoint'd per round to keep plan depth
    O(1) (same discipline as neardup_clusters). Degrees compute once
    and ride ON THE EDGE TABLE (src_deg attached before the loop), so a
    round never joins ranks ⋈ deg separately — halving per-round joins
    measured q114 at sf0.1 median 4.11 → 3.01 s (same-session A/B,
    outputs bit-identical).

    Output: (node, rank_ppb) after ``iters`` rounds.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    edges = pairs.select(F.col(a).alias("src"), F.col(b).alias("dst")).unionAll(
        pairs.select(F.col(b).alias("src"), F.col(a).alias("dst"))
    ).localCheckpoint(eager=False)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("deg")
    ).localCheckpoint(eager=False)
    n = deg.count()
    if n == 0:  # empty graph: empty (node, rank_ppb) frame, not a crash
        return deg.select("node", F.lit(0).cast("long").alias("rank_ppb"))
    teleport = (15 * PR_MASS // 100) // n
    # |V| is known here (n): below the broadcast ceiling, statically
    # hint the node-keyed sides of every join (r09, guide §3.1) — the
    # edge table is then never exchanged, and each round plans ONE
    # shuffle (the dst agg) instead of AQE re-deriving the broadcast
    # from runtime stats (measured 31 jobs -> fewer; 5 AQE jobs/round).
    edges_wd = edges.join(
        _maybe_broadcast(
            deg.select(F.col("node").alias("src"), F.col("deg").alias("src_deg")), n
        ),
        "src",
    ).localCheckpoint(eager=False)
    ranks = deg.select("node", F.lit(PR_MASS // n).alias("r"))
    for _ in range(iters):
        contrib = (
            _maybe_broadcast(ranks, n)
            .join(edges_wd, F.col("node") == F.col("src"))
            .select(
                F.col("dst").alias("node"), F.expr("r div src_deg").alias("c")
            )
        )
        ranks = (
            contrib.groupBy("node")
            .agg(F.sum("c").alias("s"))
            .select(
                "node",
                (F.lit(teleport) + F.expr(f"(85 * s) div 100")).alias("r"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks.select("node", F.col("r").alias("rank_ppb"))


def connected_components_rounds(
    pairs: DataFrame,
    rounds: int = 4,
    a: str = "doc_a",
    b: str = "doc_b",
) -> DataFrame:
    """Fixed-round hash-to-min connected components over the undirected
    pair graph: every node's label starts as its own id and each round
    becomes the minimum label in its closed neighborhood, so after R
    rounds label(v) = min id within graph distance R — exactly the
    R-round prefix of the classic hash-to-min algorithm, which makes a
    FIXED iteration count bit-reproducible and therefore SQL-unrollable
    for the oracle gate (same recipe as pagerank / kmeans_lloyd).
    dedup.neardup_clusters remains the run-to-convergence twin; this is
    the bounded-depth variant for pipelines that need deterministic cost
    (blocking graphs have tiny diameters — duplicate clusters are
    near-cliques, so small R already labels them exactly).

    Scale shape per round: one self-contribution union + ONE keyed
    contribution join (labels ⋈ edges on the source) + one min agg on
    the destination — a single hash exchange per round, localCheckpoint
    between rounds for O(1) plan depth. Node domain: nodes with >= 1
    edge.

    Output: (node, component) with component = min node id within
    distance ``rounds``.
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    edges = pairs.select(F.col(a).alias("src"), F.col(b).alias("dst")).unionAll(
        pairs.select(F.col(b).alias("src"), F.col(a).alias("dst"))
    ).localCheckpoint(eager=False)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
        .localCheckpoint(eager=False)
    )
    # |V|: one count on the checkpointed frame (materializes state round
    # 1 needs anyway) gates a static broadcast hint on the label side of
    # every round's contribution join (r09, guide §3.1) — the edge table
    # is never exchanged and each round plans one shuffle (the min agg).
    n = labels.count()
    for _ in range(rounds):
        nbr = _maybe_broadcast(labels, n).join(
            edges, F.col("node") == F.col("src")
        ).select(F.col("dst").alias("node"), "lbl")
        labels = (
            labels.unionAll(nbr)
            .groupBy("node")
            .agg(F.min("lbl").alias("lbl"))
            .localCheckpoint(eager=False)
        )
    return labels.select("node", F.col("lbl").alias("component"))


def kcore_rounds(
    pairs: DataFrame,
    k: int = 2,
    rounds: int = 3,
    a: str = "doc_a",
    b: str = "doc_b",
) -> DataFrame:
    """Fixed-round k-core peel over the undirected pair graph: each round
    drops every node whose CURRENT degree is below ``k`` and restricts
    the edge set to surviving endpoints; after enough rounds the
    remainder is exactly the k-core (the maximal subgraph of min-degree
    k) — the standard densest-region extractor that separates genuine
    duplicate cliques / spam farms from the long tail of incidental
    pairs, by PRUNING (degrees only) rather than enumeration (compare
    triangle_counts). A FIXED round count makes the intermediate state
    bit-reproducible, hence SQL-unrollable for the oracle gate (same
    recipe as pagerank / connected_components_rounds); peeling is
    monotone, so extra rounds past convergence are no-ops, not errors.

    Scale shape per round: one degree hash-agg + two keyed LEFT SEMI
    joins (edges against survivors, per endpoint) — no pair
    enumeration, state is the shrinking edge set; localCheckpoint per
    round keeps plan depth O(1). Convergence needs at most |V| rounds
    in theory; blocking graphs peel in a handful.

    Output: (node, degree) over the edge set remaining after ``rounds``
    peels — empty when the k-core is empty.
    """
    if k < 1 or rounds < 1:
        raise ValueError("k and rounds must be >= 1")
    cur = pairs.select(F.col(a).alias("x"), F.col(b).alias("y")).localCheckpoint(
        eager=False
    )
    for _ in range(rounds):
        deg = (
            cur.select(F.col("x").alias("node"))
            .unionAll(cur.select(F.col("y").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("degree"))
        )
        # EAGER checkpoint: ``keep`` feeds BOTH endpoint semi-joins and
        # ``cur`` feeds the degree agg plus both joins — without
        # materialization each reference recomputes the whole peel
        # pipeline (the r05 component probe measured kcore shuffle
        # growing 5.0x for 3.33x data purely from re-evaluated subtrees
        # straddling the broadcast-estimate cliff; with the checkpoint
        # the per-round cost is one degree agg + two keyed semi-joins
        # over the CACHED frontier). Eager also makes the previous
        # round's lazy cur materialize inside THIS single job, so no
        # two consumers ever race to compute it.
        keep = (
            deg.filter(F.col("degree") >= k)
            .select("node")
            .localCheckpoint(eager=True)
        )
        # keep is already materialized (eager), so this count is a cache
        # scan; below the ceiling the static broadcast hint keeps the
        # edge frontier from being exchanged by x and again by y per
        # round (r09, guide §3.1 — same rationale as pagerank/CC).
        kn = keep.count()
        cur = (
            cur.join(
                _maybe_broadcast(keep.withColumnRenamed("node", "x"), kn),
                "x",
                "left_semi",
            )
            .join(
                _maybe_broadcast(keep.withColumnRenamed("node", "y"), kn),
                "y",
                "left_semi",
            )
            .localCheckpoint(eager=False)
        )
    return (
        cur.select(F.col("x").alias("node"))
        .unionAll(cur.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )


def label_propagation_rounds(
    pairs: DataFrame,
    rounds: int = 3,
    a: str = "doc_a",
    b: str = "doc_b",
) -> DataFrame:
    """Fixed-round synchronous label propagation (Raghavan et al. 2007,
    "Near linear time algorithm to detect community structures") over the
    undirected pair graph: every node's label starts as its own id and
    each round becomes the MOST FREQUENT label among its neighbors (ties
    -> lowest label) — the classic communities-without-a-k detector,
    separating locally-dense groups where hash-to-min CC (q121) would
    flood one global min through any bridge edge. A FIXED round count +
    the deterministic tie-break make every round bit-reproducible, hence
    SQL-unrollable for the oracle gate (same recipe as pagerank / CC /
    kmeans).

    Scale shape per round: ONE keyed contribution join (labels ⋈ edges
    on the source — edge-count rows, the same exchange CC pays) + one
    (node, label) hash agg with map-side combine + one per-node argmax
    agg (min-struct of (-count, label), no window); localCheckpoint per
    round keeps plan depth O(1). Node domain: nodes with >= 1 edge, so
    every node has neighbors and the argmax is total.

    Output: (node, community) after ``rounds`` synchronous updates.
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    # NOT pinned-width repartitioned: the r06 stage audit flagged the
    # per-round agg stages at 4-5 AQE-coalesced tasks (~5 MB, 1.4-2.3 s),
    # but an A/B with pinned numbered repartitions measured 14.5 s vs
    # 5.9 s for the whole query — the pin forfeits the map-side partial
    # agg on the contribution counts (every raw edge contribution then
    # crosses the exchange) and costs far more than the starvation it
    # removes. Unlike the q36/q102/q130 CPU-per-byte traps, this agg's
    # work IS proportional to its bytes, so AQE widens it correctly as
    # data grows (10x->20x escalation probe: 2.05x shuffle, linear).
    edges = (
        pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .unionAll(pairs.select(F.col(b).alias("src"), F.col(a).alias("dst")))
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
        .localCheckpoint(eager=False)
    )
    # same static-broadcast gate as connected_components_rounds (r09,
    # guide §3.1): one count up front, edge table never exchanged.
    n = labels.count()
    for _ in range(rounds):
        counts = (
            _maybe_broadcast(labels, n)
            .join(edges, F.col("node") == F.col("src"))
            .groupBy(F.col("dst").alias("nd"), "lbl")
            .agg(F.count("*").alias("c"))
        )
        labels = (
            counts.groupBy(F.col("nd").alias("node"))
            .agg(
                F.min(F.struct((-F.col("c")).alias("nc"), F.col("lbl"))).alias(
                    "m"
                )
            )
            .select("node", F.col("m.lbl").alias("lbl"))
            .localCheckpoint(eager=False)
        )
    return labels.select("node", F.col("lbl").alias("community"))
