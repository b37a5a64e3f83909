"""Graph analytics over materialized KG triples: deterministic
fixed-point PageRank and the other iterative DataFrame loops
(traversals, SCC, peeling, walks, MST).

The traversals — reachable, pivot_distances, the Brandes forward pass
of betweenness_estimate, shortest_paths, temporal_reachable, and the
coloring, membership and level rounds of scc / condensation_levels —
each supply one round step to :func:`loops.frontier`, the one
delta-loop driver; kcore and ktruss share one peel loop.

Why fixed-point: float PageRank is not reproducible on a cluster —
groupBy partial-aggregation order changes between runs and between
parallelism levels, and double addition does not commute exactly, so
the same job can emit different last-digit ranks at local[8] vs
local[32] (let alone 1000 executors), and no exact SQL oracle exists.
Here every rank is a long in units of 1/SCALE: contributions are
integer (rank * w) div w_out, the damping blend is integer
(d_pct * sum) div 100, and long sums commute EXACTLY — the emitted
ranks are bit-identical at any partitioning, any executor count, and
in DuckDB (the oracle restates the same integer recurrence). Mass
lost to integer-division flooring (and to dangling nodes, the
standard removed-mass variant) is bounded by one SCALE unit per edge
per iteration and identical in both engines by construction.

Iteration shape (per round, the Kiveris-style loop discipline shared
with operators/components.py): ranks join edges on src (the edge side
carries precomputed per-src out-weight, persisted once), one
groupBy(dst) sum, one left join back onto the node set;
localCheckpoint every round keeps plan depth O(1) instead of O(k).
The node set and weighted edge table are computed once. At 100 TB the
entity graph this runs on is the post-canonicalization KG (orders of
magnitude smaller than the mention corpus), same as the component
election stage.

Reference analogue: the entity co-occurrence ranking the reference
surfaces in its stats tab (src/streamlit/app/app.py) — generalized to
a principled graph centrality over the emitted triples.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .loops import frontier, loop_ckpt

#: rank unit = 1/SCALE; total mass starts at ~SCALE. 1e9 leaves
#: rank * weight products far inside long range (rank <= ~1e9,
#: weight < 1e9 -> product < 1e18 < 2^63).
SCALE = 1_000_000_000


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    iterations: int = 5,
    damping_pct: int = 85,
    scale: int = SCALE,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """edges(src, dst[, weight]) -> (node, rank_fp) after a fixed
    number of synchronous power iterations.

    rank_fp is the fixed-point long; rank_fp/scale approximates the
    PageRank probability. damping_pct is the damping factor in percent
    (85 = the classic 0.85) so the blend stays integer. weight=None
    treats every edge as weight 1; parallel edges should be
    pre-aggregated by the caller (pagerank_edges_from does this).

    ``seeds`` (a one-column ``node`` DataFrame) switches to
    PERSONALIZED PageRank (Haveliwala 2002; Page et al. 1999 §6): the
    teleport mass — both the initial distribution and the per-round
    restart term — concentrates uniformly on the seed set instead of
    all nodes, so ranks measure relevance-to-the-seeds (the KG
    entity-recommendation / related-entities primitive). Seeds not in
    the graph are ignored; an empty intersection raises. The seed
    relation joins once onto the node table before the loop (broadcast
    when small), the loop body is unchanged — same integer blend, same
    per-round cost.

    Deterministic by construction: same output longs at any
    parallelism — asserted by a pytest that runs the loop at 1 and 32
    partitions and requires exact frame equality."""
    if iterations < 0:
        raise ValueError("iterations must be >= 0")
    if not 0 <= damping_pct <= 100:
        raise ValueError("damping_pct must be in [0, 100]")
    w = F.col(weight).cast("long") if weight else F.lit(1).cast("long")
    ew = edges.select(
        F.col(src).alias("_src"), F.col(dst).alias("_dst"), w.alias("_w")
    )
    nodes = loop_ckpt(
        ew.select(F.col("_src").alias("node"))
        .union(ew.select(F.col("_dst").alias("node")))
        .distinct()
    )
    # per-src total out-weight rides on every edge row; computed once
    wtot = ew.groupBy("_src").agg(F.sum("_w").alias("_wtot"))
    ew = loop_ckpt(ew.join(wtot, "_src"))
    if seeds is not None:
        sd = seeds.select(F.col("node")).distinct()
        nodes = loop_ckpt(
            nodes.join(sd.withColumn("_is_seed", F.lit(True)), "node", "left")
            .select("node", F.coalesce("_is_seed", F.lit(False)).alias("_is_seed"))
        )
        n_teleport = nodes.filter("_is_seed").count()
        if n_teleport == 0:
            raise ValueError("no seed node present in the graph")
    else:
        nodes = loop_ckpt(nodes.withColumn("_is_seed", F.lit(True)))
        n_teleport = nodes.count()  # one bounded scalar (the node
        # count) — drives the integer teleport term; the entity graph
        # is the post-canonicalization KG, not the raw corpus
    if n_teleport == 0:
        return nodes.select("node", F.lit(0).cast("long").alias("rank_fp"))
    base = ((100 - damping_pct) * scale) // (100 * n_teleport)
    base_col = F.when(F.col("_is_seed"), F.lit(base)).otherwise(F.lit(0))
    ranks = nodes.select(
        "node",
        F.when(F.col("_is_seed"), F.lit(scale // n_teleport))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("rank_fp"),
    )
    for _ in range(iterations):
        contrib = (
            ew.join(ranks, ew["_src"] == ranks["node"])
            .select(
                F.col("_dst").alias("node"),
                F.expr("(rank_fp * _w) div _wtot").alias("_c"),
            )
            .groupBy("node")
            .agg(F.sum("_c").alias("_s"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (
                    base_col
                    + F.expr(
                        f"({damping_pct} * coalesce(_s, 0L)) div 100"
                    )
                ).cast("long").alias("rank_fp"),
            )
            # plan depth stays O(1) across rounds; loop_ckpt keeps the
            # checkpoint generations from compounding (operators/loops.py)
            .transform(loop_ckpt)
        )
    return ranks


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    scale: int = SCALE,
) -> DataFrame:
    """HITS hubs and authorities (Kleinberg, JACM 46(5), 1999) over
    the directed simple graph -> (node, hub_fp, auth_fp) after a
    fixed number of synchronous iterations: auth(y) = sum of hub(x)
    over in-edges x->y, then hub(x) = sum of auth(y) over out-edges,
    each side renormalized per round.

    Kleinberg normalizes by the L2 norm; a square root is
    irrational, so this implementation uses L1 normalization
    (score * scale div total) to keep every intermediate an exact
    fixed-point long — same ranking (normalization only rescales
    within an iteration), bit-identical at any parallelism, and
    restatable as chained integer CTEs by the DuckDB oracle. Initial
    hub mass is scale div n so the round-1 sums stay within long
    range (raw <= scale, raw * scale <= 1e18).

    Distributed shape: parallel edges collapse once up front (set
    semantics — HITS is defined on the adjacency structure); each
    half-round is one equi-join of the edge relation against the
    current score table plus a partial-combined sum; the L1 total
    re-enters as a broadcast one-row cross join (never a driver
    collect); both score tables end each round in a localCheckpoint
    (O(1) plan depth, the pagerank discipline)."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    ew = loop_ckpt(
        edges.select(
            F.col(src).alias("_src"), F.col(dst).alias("_dst")
        ).distinct()
    )
    nodes = loop_ckpt(
        ew.select(F.col("_src").alias("node"))
        .union(ew.select(F.col("_dst").alias("node")))
        .distinct()
    )
    n = nodes.count()  # one bounded scalar: sizes the initial mass
    if n == 0:
        return nodes.select(
            "node",
            F.lit(0).cast("long").alias("hub_fp"),
            F.lit(0).cast("long").alias("auth_fp"),
        )
    hub = nodes.select(
        "node", F.lit(scale // n).cast("long").alias("hub_fp")
    )
    auth = None

    def _l1_normalize(raw: DataFrame, col: str) -> DataFrame:
        tot = raw.agg(F.sum("_raw").alias("_tot"))
        return loop_ckpt(
            raw.crossJoin(F.broadcast(tot)).select(
                "node",
                F.when(F.col("_tot") > 0, F.expr("_raw * CAST("
                       f"{scale} AS BIGINT) div _tot"))
                .otherwise(F.lit(0))
                .cast("long")
                .alias(col),
            )
        )

    for _ in range(iterations):
        araw = (
            ew.join(hub, ew["_src"] == hub["node"])
            .groupBy(F.col("_dst").alias("node"))
            .agg(F.sum("hub_fp").alias("_s"))
        )
        araw = nodes.join(araw, "node", "left").select(
            "node", F.coalesce("_s", F.lit(0)).cast("long").alias("_raw")
        )
        auth = _l1_normalize(araw, "auth_fp")
        hraw = (
            ew.join(auth, ew["_dst"] == auth["node"])
            .groupBy(F.col("_src").alias("node"))
            .agg(F.sum("auth_fp").alias("_s"))
        )
        hraw = nodes.join(hraw, "node", "left").select(
            "node", F.coalesce("_s", F.lit(0)).cast("long").alias("_raw")
        )
        hub = _l1_normalize(hraw, "hub_fp")
    return hub.join(auth, "node")


def pagerank_edges_from(
    df: DataFrame, src: str, dst: str, symmetric: bool = False
) -> DataFrame:
    """Aggregate a row-level relation into weighted distinct edges
    (src, dst, w=count). symmetric=True adds the reversed edges (same
    weights) so rank flows both ways across a bipartite relation —
    without it, source-side nodes of a bipartite graph receive only
    teleport mass."""
    e = df.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if symmetric:
        e = e.union(
            df.select(F.col(dst).alias("src"), F.col(src).alias("dst"))
        )
    return e.groupBy("src", "dst").agg(F.count("*").alias("w"))


_AA_SCALE = 1_000_000_000


def adamic_adar(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_center_deg: int = 32,
    k: int = 100,
) -> DataFrame:
    """Adamic-Adar link prediction over the undirected simple graph ->
    top-k non-adjacent pairs (u, w, n_common, score_fp): score(u,w) =
    sum over common neighbors v of 1/ln(deg(v)) (Adamic & Adar 2003),
    the standard structural KG-completion baseline — rare shared
    neighbors are strong evidence, boilerplate hubs near-worthless.

    Fixed-point: each center contributes weight_fp =
    floor(1e9 / ln(deg)) (one IEEE double op, identical in DuckDB),
    summed as exact longs, so the top-k cut (score_fp DESC, u, w — a
    total order, the pair is the key) is engine-portable. A common
    neighbor has deg >= 2 by construction, so ln(deg) > 0 always.

    max_center_deg is the skew guard: only nodes with deg <=
    max_center_deg enumerate their neighbor pairs. A hub with degree d
    would emit d^2/2 wedge rows (the probed trade graph: 185M uncapped
    vs 1.5M at cap 32, sf0.1) while contributing the LEAST per-pair
    weight (1/ln(d) -> 0), so capping drops the most explosive,
    least-informative centers first. Scores are therefore lower bounds
    under the cap — same documented discipline as the n-gram Jaccard
    document-frequency cap in operators/dedup.py. Already-adjacent
    pairs are anti-joined out (link prediction proposes NEW edges).

    Plan shape: one distinct, one degree agg, a broadcast-eligible
    center filter, one self-join keyed on the center (fan-out bounded
    by max_center_deg^2/2 per key — no skew), one sum agg on the pair
    key, one left_anti against the edge list, and a
    TakeOrderedAndProject for the cut. No Python anywhere."""
    if max_center_deg < 2:
        raise ValueError("max_center_deg must be >= 2")
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    adj = und.select(F.col("u").alias("ctr"), F.col("v").alias("nbr")).unionAll(
        und.select(F.col("v").alias("ctr"), F.col("u").alias("nbr"))
    )
    centers = (
        adj.groupBy("ctr")
        .agg(F.count("*").alias("deg"))
        .filter(
            (F.col("deg") >= 2) & (F.col("deg") <= F.lit(int(max_center_deg)))
        )
        .select(
            "ctr",
            F.floor(F.lit(float(_AA_SCALE)) / F.log(F.col("deg").cast("double")))
            .cast("long")
            .alias("weight_fp"),
        )
    )
    a1 = adj.join(centers, "ctr").select("ctr", F.col("nbr").alias("n1"), "weight_fp")
    a2 = adj.select("ctr", F.col("nbr").alias("n2"))
    pairs = (
        a1.join(a2, "ctr")
        .filter(F.col("n1") < F.col("n2"))
        .groupBy(F.col("n1").alias("u"), F.col("n2").alias("w"))
        .agg(
            F.count("*").alias("n_common"),
            F.sum("weight_fp").alias("score_fp"),
        )
    )
    fresh = pairs.join(
        und.select(F.col("u"), F.col("v").alias("w")), ["u", "w"], "left_anti"
    )
    return fresh.orderBy(
        F.desc("score_fp"), F.col("u").asc(), F.col("w").asc()
    ).limit(int(k))


def _peel_rounds(
    cur: DataFrame,
    peel: Callable[[DataFrame], DataFrame],
    rounds: int | None,
    max_rounds: int,
    name: str,
) -> DataFrame:
    """The synchronous peel loop of kcore and ktruss: exactly
    ``rounds`` peels, or (rounds=None) peel until the surviving-edge
    count stops changing, raising past ``max_rounds``."""
    if rounds is not None:
        for _ in range(int(rounds)):
            cur = peel(cur)
        return cur
    n_edges = cur.count()
    for _ in range(max_rounds):
        if n_edges == 0:
            return cur
        cur = peel(cur)
        n_next = cur.count()
        if n_next == n_edges:
            return cur
        n_edges = n_next
    raise RuntimeError(f"{name} did not converge within {max_rounds} rounds")


def kcore(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    rounds: int | None = None,
    max_rounds: int = 200,
) -> DataFrame:
    """Nodes of the k-core of the undirected simple graph induced by
    edges(src, dst) -> (node, degree): iterative synchronous peeling —
    every round simultaneously drops ALL nodes whose current degree is
    below k, then restricts the edge set to survivors; at the fixed
    point every remaining node has within-subgraph degree >= k (the
    standard KG noise-pruning / dense-region extraction primitive;
    Seidman 1983). Self-loops are dropped and parallel edges collapse
    (a simple graph is what core numbers are defined on).

    rounds=None (production) loops to the fixed point — convergence is
    detected by the surviving-EDGE count, one bounded scalar per round
    (same budget discipline as components.py; raises past max_rounds
    rather than looping silently). rounds=R runs exactly R synchronous
    peels with no convergence scan, which is the engine-portable form
    the DuckDB oracle restates as R chained CTEs (peeling is
    deterministic, so R >= the converged round count gives the exact
    k-core; the contract query's pytest asserts its R converges).

    Distributed shape: each round is one degree aggregate (map-side
    partial combine) plus two semi-joins restricting the edge list —
    all shuffles key on node ids, the survivor set never collects to
    the driver, and a localCheckpoint per round keeps the plan O(1)
    deep. Degree skew (a hub node) stays inside one HashAggregate key:
    no row explosion, AQE handles the reduce-side imbalance."""
    if k < 1:
        raise ValueError("k must be >= 1")
    e = edges.select(F.col(src).alias("_a"), F.col(dst).alias("_b")).filter(
        F.col("_a") != F.col("_b")
    )
    cur = loop_ckpt(
        e.union(e.select(F.col("_b").alias("_a"), F.col("_a").alias("_b")))
        .distinct()
    )

    def _peel(cur: DataFrame) -> DataFrame:
        keep = (
            cur.groupBy("_a")
            .agg(F.count("*").alias("_d"))
            .filter(F.col("_d") >= F.lit(int(k)))
            .select("_a")
        )
        return loop_ckpt(
            cur.join(keep, "_a", "left_semi")
            .join(keep.select(F.col("_a").alias("_b")), "_b", "left_semi")
        )

    cur = _peel_rounds(cur, _peel, rounds, max_rounds, "kcore")
    return (
        cur.groupBy(F.col("_a").alias("node"))
        .agg(F.count("*").alias("degree"))
    )


def _oriented_closure(edges: DataFrame, src: str, dst: str):
    """Shared degree-orientation core for triangle_count and
    clustering_coefficients -> (und, deg, wedges, closed).

    `closed` carries one row per triangle as (tail, b, c) — the wedge
    is enumerated once, at the edge's lowest-ranked endpoint under the
    total order (degree, node id), so every triangle appears exactly
    once and the hot vertex enumerates no wedges."""
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    # orient from lower to higher under (deg, id); attach head degree
    # so the wedge-order comparison needs no further join
    with_deg = (
        und.join(deg.withColumnRenamed("node", "u").withColumnRenamed("deg", "du"), "u")
        .join(deg.withColumnRenamed("node", "v").withColumnRenamed("deg", "dv"), "v")
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = with_deg.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("tail"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("head"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("head_deg"),
    )
    e1 = oriented.select(
        F.col("tail"), F.col("head").alias("b"), F.col("head_deg").alias("db")
    )
    e2 = oriented.select(
        F.col("tail"), F.col("head").alias("c"), F.col("head_deg").alias("dc")
    )
    wedges = e1.join(e2, "tail").filter(
        (F.col("db") < F.col("dc"))
        | ((F.col("db") == F.col("dc")) & (F.col("b") < F.col("c")))
    )
    closed = wedges.join(
        oriented.select(F.col("tail").alias("b"), F.col("head").alias("c")),
        ["b", "c"],
        "left_semi",
    )
    return und, deg, wedges, closed


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Exact triangle counting via degree orientation (the standard
    distributed formulation: Suri & Vassilvitskii WWW'11 "Counting
    triangles and the curse of the last reducer").

    Each undirected edge is oriented from its lower endpoint to its
    higher endpoint under the total order (degree, node id); wedges
    are enumerated only at each edge's LOWER endpoint, whose oriented
    out-degree is bounded by O(sqrt(m)) on any graph — that bound is
    exactly what kills the hot-vertex blowup a naive (join on common
    neighbor) plan hits on skewed degree distributions: the boilerplate
    mega-entity that every doc links to (the KG's hot key) gets rank
    LAST and therefore enumerates no wedges at all.

    Plan shape: one distinct on canonical pairs, one degree agg, two
    broadcast-eligible joins to attach degrees, one self-join on the
    wedge tail, one closure semi-join on the oriented pair. Every join
    key is a node id or node-pair — hash-partitioned, no cartesian.
    Returns a single row (n_nodes, n_edges, n_wedges, n_triangles);
    all counts are exact longs, so the result is partitioning- and
    parallelism-invariant and restatable verbatim in the DuckDB oracle.
    """
    und, deg, wedges, closed = _oriented_closure(edges, src, dst)
    # one lazy plan, no driver-side actions: four single-row aggregates
    # cross-joined (each side is exactly one row, so the "cross" is a
    # trivial broadcast product, not a real cartesian)
    return (
        deg.agg(F.count("*").alias("n_nodes"))
        .crossJoin(und.agg(F.count("*").alias("n_edges")))
        .crossJoin(wedges.agg(F.count("*").alias("n_wedges")))
        .crossJoin(closed.agg(F.count("*").alias("n_triangles")))
    )


_COEF_SCALE = 1_000_000_000


def clustering_coefficients(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Local clustering coefficient per node ->
    (node, deg, n_tri, coef_fp): the fraction of a node's neighbor
    pairs that are themselves connected, C(v) = 2*tri(v) /
    (deg(v)*(deg(v)-1)) — Watts-Strogatz 1998, the standard
    density-vs-hubness signal a KG audit uses to separate genuinely
    clustered entities from star-shaped boilerplate hubs (a hub wired
    to everything has near-zero C despite huge degree).

    Built on the same degree-oriented closure as triangle_count: each
    triangle row (tail, b, c) is exploded to its three member nodes
    and counted per node — exact longs, every triangle contributing
    exactly once per member. coef_fp = (2 * tri * 1e9) div
    (deg * (deg-1)) is integer division of exact longs, so the column
    is bit-identical at any parallelism and in DuckDB; degree-<2 nodes
    (no neighbor pair) emit 0. Max intermediate 2*tri*1e9 stays inside
    int64 up to ~4.6e9 triangles per node.

    Plan shape: everything from triangle_count plus one explode of the
    triangle relation (3 rows per triangle — bounded by the closure
    size, not the degree), a count aggregate keyed on node, and one
    join back to the degree table. The hot vertex contributes rows
    only as a wedge HEAD, so the explode inherits the O(sqrt(m))
    orientation bound."""
    _, deg, _, closed = _oriented_closure(edges, src, dst)
    members = (
        closed.select(F.col("tail").alias("node"))
        .unionAll(closed.select(F.col("b").alias("node")))
        .unionAll(closed.select(F.col("c").alias("node")))
    )
    tri = members.groupBy("node").agg(F.count("*").alias("n_tri"))
    out = deg.join(tri, "node", "left").select(
        "node",
        "deg",
        F.coalesce(F.col("n_tri"), F.lit(0)).alias("n_tri"),
    )
    return out.withColumn(
        "coef_fp",
        F.when(F.col("deg") < 2, F.lit(0).cast("long")).otherwise(
            F.expr(f"(2 * n_tri * CAST({_COEF_SCALE} AS BIGINT)) div (deg * (deg - 1))")
        ),
    )


def reachable(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
) -> DataFrame:
    """Multi-source BFS: every node reachable from ``sources`` within
    ``max_hops`` directed hops, with its exact minimum hop distance.

    This is the bounded SPARQL property path (``p{0,k}``) / k-hop
    neighborhood primitive: "everything within 3 hops of these seed
    entities" is the standard KG expansion query, and at 10^12 triples
    it must run as synchronous frontier rounds, never a transitive
    closure materialization.

    Iteration shape: :func:`loops.frontier` in first-reach mode — per
    round ONLY the new frontier joins the edge table, so total join
    work is O(edges-touched), the Bellman-Ford-free BFS bound. Early
    exit when the frontier empties — max_hops is a cap, not a fixed
    round count.

    min-distance election is exact and deterministic: a node entering
    the frontier in round d has min distance d by BFS invariant, so no
    per-node min() re-aggregation is ever needed. Results are
    partitioning- and parallelism-invariant (set semantics, integer
    distances), restatable in DuckDB as a recursive CTE with a
    min(dist) roll-up.

    Returns (node, dist) with dist in [0, max_hops]; sources sit at
    dist 0 (even sources absent from the edge table).
    """
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    e = edges.select(F.col(src).alias("_e_src"), F.col(dst).alias("_e_dst")).distinct()

    def _step(front: DataFrame, d: int) -> DataFrame:
        return (
            front.join(e, front["node"] == e["_e_src"])
            .select(F.col("_e_dst").alias("node"))
            .distinct()
            .withColumn("dist", F.lit(d))
        )

    seed = sources.select(F.col(node).alias("node")).distinct().withColumn(
        "dist", F.lit(0)
    )
    return frontier(seed, _step, ["node"], max_hops)[0]


def infer_types(
    instance_types: DataFrame,
    subclass_edges: DataFrame,
    max_depth: int = 16,
) -> DataFrame:
    """RDFS-lite type inference: saturate instance ``type`` assertions
    through a subClassOf hierarchy (rdfs9/rdfs11 entailment, the part
    of RDFS materialization KG stores actually run).

    ``instance_types(inst, cls)`` holds asserted types;
    ``subclass_edges(sub, sup)`` the (usually tiny) ontology. The
    ontology's transitive closure comes from :func:`reachable` run
    once per distinct asserted class — but vectorized: one BFS over
    the subclass graph seeded with EVERY class at dist 0 via the
    self-loop trick would conflate seeds, so instead the closure is
    built by iterated join of the edge set with itself bounded by
    ``max_depth`` (path-doubling: depth doubles per round, so 16
    levels need 4 rounds). The closed ontology is ontology-sized —
    broadcast onto the instance scan; instances shuffle ZERO times.

    Returns (inst, cls, asserted) — asserted=false rows are the
    inferred entailments; duplicates collapse (set semantics).
    """
    edges = (
        subclass_edges.select(
            F.col(subclass_edges.columns[0]).alias("sub"),
            F.col(subclass_edges.columns[1]).alias("sup"),
        )
        .filter(F.col("sub") != F.col("sup"))
        .distinct()
    )
    closure = loop_ckpt(edges)
    depth = 1
    while depth < max_depth:
        # path doubling: closure ∘ closure ∪ closure
        hop = (
            closure.alias("a")
            .join(closure.alias("b"), F.col("a.sup") == F.col("b.sub"))
            .select(F.col("a.sub").alias("sub"), F.col("b.sup").alias("sup"))
        )
        new_closure = loop_ckpt(closure.unionAll(hop).distinct())
        if new_closure.count() == closure.count():
            closure = new_closure
            break
        closure = new_closure
        depth *= 2
    it = instance_types.select(
        F.col(instance_types.columns[0]).alias("inst"),
        F.col(instance_types.columns[1]).alias("cls"),
    ).distinct()
    inferred = (
        it.join(
            F.broadcast(closure.withColumnRenamed("sub", "cls")), "cls"
        )
        .select("inst", F.col("sup").alias("cls"))
        .join(it, ["inst", "cls"], "left_anti")
        .distinct()
        .withColumn("asserted", F.lit(False))
    )
    return it.withColumn("asserted", F.lit(True)).unionAll(inferred)


def shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    node: str = "node",
) -> DataFrame:
    """Hop-bounded weighted shortest distances: for every node
    reachable from ``sources`` within ``max_hops`` directed edges, the
    minimum total edge weight over such paths (weight=None treats
    every edge as 1, reducing to :func:`reachable`'s BFS distance).

    This is Bellman-Ford on :func:`loops.frontier` with a strictly-less
    admission: per round ONLY nodes whose distance improved last round
    rejoin the edge table (one min-aggregate per destination), with
    early exit when a round improves nothing. Hop-bounding makes the
    semantics total on ANY long weights (negative edges included — a
    negative cycle cannot loop because paths are capped at max_hops
    edges), and integer sums keep results bit-identical at any
    parallelism and in the DuckDB oracle's recursive CTE.

    Returns (node, dist) with dist a long; sources sit at dist 0
    unless a shorter (negative) path overtakes them within the bound.
    """
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    w = F.col(weight).cast("long") if weight else F.lit(1).cast("long")
    e = (
        edges.select(
            F.col(src).alias("_e_src"), F.col(dst).alias("_e_dst"), w.alias("_w")
        )
        # parallel edges: only the lightest can ever win a min-sum
        .groupBy("_e_src", "_e_dst")
        .agg(F.min("_w").alias("_w"))
    )

    def _step(front: DataFrame, _r: int) -> DataFrame:
        return (
            front.join(e, front["node"] == e["_e_src"])
            .groupBy(F.col("_e_dst").alias("node"))
            .agg(F.min(F.col("dist") + F.col("_w")).alias("dist"))
        )

    seed = sources.select(F.col(node).alias("node")).distinct().withColumn(
        "dist", F.lit(0).cast("long")
    )
    return frontier(
        seed, _step, ["node"], max_hops, better=lambda n, o: n < o
    )[0]


def infer_domain_range(
    triples: DataFrame,
    rules: DataFrame,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
) -> DataFrame:
    """RDFS domain/range entailment (rdfs2/rdfs3, the other half of
    the RDFS-lite profile next to :func:`infer_types`' rdfs9/rdfs11):
    a triple (s, p, o) under a rule (p, 'domain', C) entails s a C; a
    rule (p, 'range', C) entails o a C.

    ``rules(pred, kind, cls)`` with kind in {'domain', 'range'} is the
    ontology — schema-sized, broadcast onto the single triple scan, so
    the instance side shuffles once (the closing distinct) and only
    carrying (inst, cls) pairs, never the full triple width. Unknown
    ``kind`` values raise rather than silently dropping rules. Output
    is the distinct (inst, cls) membership set — feed it (optionally
    unioned with asserted types) into :func:`infer_types` to saturate
    through the subclass lattice; the composition is the full RDFS-lite
    materialization a KG store runs.
    """
    r = rules.select(
        F.col(rules.columns[0]).alias("_pred"),
        F.col(rules.columns[1]).alias("_kind"),
        F.col(rules.columns[2]).alias("_cls"),
    )
    bad = r.filter(~F.col("_kind").isin("domain", "range")).limit(1).collect()
    if bad:
        raise ValueError(
            f"infer_domain_range: unknown rule kind {bad[0]['_kind']!r} "
            "(expected 'domain' or 'range')"
        )
    t = triples.select(
        F.col(subj).alias("_s"), F.col(pred).alias("_p"), F.col(obj).alias("_o")
    )
    joined = t.join(
        F.broadcast(r), t["_p"] == r["_pred"]
    )
    dom = joined.filter(F.col("_kind") == "domain").select(
        F.col("_s").alias("inst"), F.col("_cls").alias("cls")
    )
    rng = joined.filter(F.col("_kind") == "range").select(
        F.col("_o").alias("inst"), F.col("_cls").alias("cls")
    )
    return dom.unionAll(rng).distinct()


def label_propagation(
    edges: DataFrame,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Deterministic synchronous label propagation (Raghavan et al.
    2007, the LPA variant GraphFrames ships) — community detection
    over the canonicalized entity graph.

    Why this exact variant: async LPA (update in visitation order) is
    not reproducible on a cluster — the result depends on partitioning.
    Here every round is synchronous and the election rule is a total
    order (neighbor-label count DESC, then label ASC), so the labels
    after k rounds are a pure function of the graph: bit-identical at
    any parallelism, restatable in DuckDB as k chained CTEs.

    Per round: one join of the (symmetric, deduped) edge list onto the
    current label table, one count aggregate on (node, label), one
    row_number window electing the winner — all hash-shuffles on node
    ids; localCheckpoint per round keeps the plan O(1) deep. Isolated
    source nodes never appear in the edge list and keep their own id
    as label (they are their own singleton community by definition).

    Returns (node, label) with label = the elected community
    representative's node id after ``iterations`` rounds (initial
    label = own id).
    """
    from pyspark.sql import Window

    und = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # distinct AFTER symmetrizing: an edge present in both orientations
    # in the input must not double that neighbor's vote
    sym = loop_ckpt(
        und.unionAll(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
    )
    labels = loop_ckpt(
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    w = Window.partitionBy("node").orderBy(F.desc("cnt"), F.asc("label"))
    for _ in range(iterations):
        nbr = sym.join(
            labels.withColumnRenamed("node", "v"), "v"
        ).select(F.col("u").alias("node"), "label")
        counts = nbr.groupBy("node", "label").agg(F.count("*").alias("cnt"))
        elected = (
            counts.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("node", "label")
        )
        labels = loop_ckpt(elected)
    return labels


def random_walks(
    edges: DataFrame,
    walk_length: int,
    walks_per_node: int = 1,
    src: str = "src",
    dst: str = "dst",
    portable_hash: bool = False,
) -> DataFrame:
    """Deterministic uniform random walks — the DeepWalk/node2vec
    training-data generator (Perozzi et al. KDD'14), reproducible at
    any parallelism.

    The draw is a hash, not an RNG (the same discipline as
    negsample/mixture): at step s a walk at node v takes out-edge
    index H(v, walk_id, s) mod outdeg(v), resolved by an equi-join on
    the indexed adjacency (src, idx) -> dst — one vocab-sized
    row_number window builds the index, each step is one hash join,
    never a per-row Python call or a driver-side array. Walks that
    reach a node with no out-edges stop early and keep their prefix.

    Known property of hash-draws: two walks co-located at (v, walk_id,
    s) take the same edge — starts are decorrelated by walk_id and
    step, which is what embedding corpora need; crank walks_per_node
    for more coverage, exactly like seeds in an RNG walker.

    Returns (start, walk, path) with path the '>'-joined node string
    (walk_length+1 nodes at most). Production hash is seed-first
    xxhash64; portable_hash=True uses the sha256 family so the draw
    restates in DuckDB.
    """
    from . import linking

    if walk_length < 1 or walks_per_node < 1:
        raise ValueError("walk_length and walks_per_node must be >= 1")
    adj = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).distinct()
    from pyspark.sql import Window

    w = Window.partitionBy("u").orderBy("v")
    idx = loop_ckpt(adj.select(
        "u", F.col("v").alias("nxt"), (F.row_number().over(w) - 1).alias("idx")
    ))
    deg = idx.groupBy("u").agg(F.count("*").alias("n_out"))

    state = (
        adj.select(F.col("u").alias("start"))
        .distinct()
        .withColumn(
            "walk", F.explode(F.array(*[F.lit(i) for i in range(walks_per_node)]))
        )
        .select(
            "start", "walk", F.col("start").alias("cur"), F.col("start").alias("path")
        )
        .transform(loop_ckpt)
    )
    finished = []
    for step in range(1, walk_length + 1):
        st = state.join(deg, state["cur"] == deg["u"], "left")
        dead = st.filter(F.col("n_out").isNull()).select("start", "walk", "path")
        finished.append(dead)
        live = st.filter(F.col("n_out").isNotNull())
        if portable_hash:
            h = linking.portable_hash60(
                F.concat_ws(
                    "\x1f",
                    F.col("cur"),
                    F.col("walk").cast("string"),
                    F.lit(str(step)),
                )
            )
        else:
            h = F.xxhash64(F.lit(step), F.col("walk"), F.col("cur"))
        live = live.select(
            "start", "walk", "cur", "path",
            F.pmod(h, F.col("n_out")).alias("pick"),
        )
        state = (
            live.join(
                idx,
                (live["cur"] == idx["u"]) & (live["pick"] == idx["idx"]),
            )
            .select(
                "start",
                "walk",
                F.col("nxt").alias("cur"),
                F.concat_ws(">", "path", "nxt").alias("path"),
            )
            .transform(loop_ckpt)
        )
    out = state.select("start", "walk", "path")
    for d in finished:
        out = out.unionAll(d)
    return out


def scc(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 200,
) -> DataFrame:
    """Strongly connected components of a directed graph ->
    (node, scc_id), scc_id = the MAX node id in the component (a
    deterministic canonical election, like components.py's min-id CC
    election; max because the coloring roots are max-labeled).

    The directed analogue the engine was missing next to its
    undirected CC: cyclic dependency clusters (mutually-importing
    modules, call cycles) in a source-repo KG are SCCs, and the
    condensation (SCC-contracted DAG) is what topological analyses
    run on. Tarjan's stack algorithm is inherently sequential, so the
    distributed form is the COLORING algorithm (Orzan 2004's min/max
    label variant; the FW-BW family of Fleischer/Hendrickson/Pinar
    2000 is its pivot-at-a-time special case):

    1. forward max-label fixpoint: color(v) = max id u with u ->* v,
       propagated frontier-only (only nodes whose color improved last
       round push candidates — the delta discipline of reachable());
    2. every node r with color(r) = r is a ROOT (the max id in its
       ancestor set). SCC(r) = { v : color(v) = r and v ->* r }, found
       by a backward frontier sweep from all roots at once, restricted
       to same-color nodes (mutual reachability: color gives r ->* v,
       the sweep gives v ->* r);
    3. peel the identified SCCs off (left_anti on nodes, two
       left_semis on edges) and repeat on the remainder — each outer
       round removes every current root's component, so the round
       count is bounded by the condensation's level count, not node
       count.

    Steps 1 and 2 are :func:`loops.frontier` rounds (max and first
    reach); RuntimeError past the shared ``max_rounds`` budget
    (counted across ALL inner rounds, so a pathological chain cannot
    spin the color fixpoint unbounded). Node ids are compared with
    max/>, so any orderable id type works; results are set-semantic
    and parallelism-invariant, restatable in DuckDB as mutual
    reachability over a recursive closure (the contract oracle).
    """
    e0 = (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .distinct()
        .transform(loop_ckpt)
    )
    nodes = (
        e0.select(F.col("_s").alias("node"))
        .unionAll(e0.select(F.col("_d").alias("node")))
        .distinct()
        .transform(loop_ckpt)
    )
    assigned: DataFrame | None = None
    rem_n, rem_e = nodes, e0
    budget = max_rounds

    def _tick(what: str) -> None:
        nonlocal budget
        budget -= 1
        if budget < 0:
            raise RuntimeError(
                f"scc did not converge within {max_rounds} rounds "
                f"(stuck in {what}); raise max_rounds for graphs with "
                "deeper condensations/diameters"
            )

    while not rem_n.isEmpty():
        _tick("outer peel")

        # 1. forward max-label fixpoint, frontier-only
        def _color(delta: DataFrame, _r: int) -> DataFrame:
            _tick("color fixpoint")
            return (
                delta.join(rem_e, delta["node"] == rem_e["_s"])
                .groupBy(F.col("_d").alias("node"))
                .agg(F.max("color").alias("color"))
            )

        color = frontier(
            rem_n.withColumn("color", F.col("node")), _color, ["node"],
            max_rounds, better=lambda n, o: n > o,
        )[0]

        # 2. backward membership sweep from all roots, same-color only
        def _sweep(front: DataFrame, _r: int) -> DataFrame:
            _tick("membership sweep")
            return (
                front.join(rem_e, front["node"] == rem_e["_d"])
                .select(F.col("_s").alias("node"), "color")
                .distinct()
                .join(color.withColumnRenamed("color", "_c"), "node")
                .filter(F.col("color") == F.col("_c"))
                .select("node", "color")
            )

        members = frontier(
            color.filter(F.col("node") == F.col("color")), _sweep, ["node"],
            max_rounds,
        )[0]
        chunk = members.select("node", F.col("color").alias("scc_id"))
        assigned = (
            chunk if assigned is None else loop_ckpt(assigned.unionAll(chunk))
        )
        # 3. peel: drop assigned nodes, keep edges between survivors
        rem_n = loop_ckpt(
            rem_n.join(members.select("node"), "node", "left_anti")
        )
        rem_e = loop_ckpt(
            rem_e.join(
                rem_n.select(F.col("node").alias("_s")), "_s", "left_semi"
            ).join(
                rem_n.select(F.col("node").alias("_d")), "_d", "left_semi"
            )
        )
    if assigned is None:  # edge-less input: no endpoints, empty result
        return nodes.select("node", F.col("node").alias("scc_id")).limit(0)
    return assigned


def condensation_levels(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 200,
) -> DataFrame:
    """Condensation of a directed graph — SCCs contracted to
    super-nodes — with each super-node's topological LEVEL: the
    longest super-edge path ending at it (sources sit at level 0).
    Returns (scc_id, n_nodes, level).

    This is what topological analyses run on once cycles are
    contracted (the scc() docstring's punchline made executable):
    dependency strata of a build graph, import layers of a source
    repo, entity-derivation depth in a KG. The condensation of any
    digraph is a DAG (Harary, graph-theory textbook material), so
    longest-path is well-defined and the relaxation below terminates
    in exactly DAG-depth rounds.

    Plan shape: scc() assigns components; super-edges are two hash
    joins of the edge table against the (node -> scc_id) map plus a
    distinct (self-loops dropped); levels run the same
    :func:`loops.frontier` max-propagation as scc()'s coloring,
    RuntimeError past ``max_rounds`` (which bounds CONDENSATION
    DEPTH — at 200 it exceeds any real dependency graph's strata
    count). Restated in
    DuckDB as mutual-reachability SCCs + a recursive distinct
    (node, length) path-length enumeration with a max() roll-up.
    """
    comp = scc(edges, src=src, dst=dst, max_rounds=max_rounds)
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    c_src = comp.select(
        F.col("node").alias("_s"), F.col("scc_id").alias("_cs")
    )
    c_dst = comp.select(
        F.col("node").alias("_d"), F.col("scc_id").alias("_cd")
    )
    se = loop_ckpt(
        e.join(c_src, "_s")
        .join(c_dst, "_d")
        .filter(F.col("_cs") != F.col("_cd"))
        .select(F.col("_cs").alias("_from"), F.col("_cd").alias("_to"))
        .distinct()
    )
    sizes = comp.groupBy("scc_id").agg(F.count(F.lit(1)).alias("n_nodes"))

    def _step(delta: DataFrame, _r: int) -> DataFrame:
        return (
            delta.join(se, delta["scc_id"] == se["_from"])
            .groupBy(F.col("_to").alias("scc_id"))
            .agg((F.max("level") + F.lit(1)).alias("level"))
        )

    level, converged = frontier(
        sizes.select("scc_id", F.lit(0).alias("level")), _step, ["scc_id"],
        max_rounds + 1, better=lambda n, o: n > o,
    )
    if not converged:
        raise RuntimeError(
            f"condensation_levels did not converge within {max_rounds} "
            "rounds — the condensation is deeper than the budget (or the "
            "input is not the graph you think it is)"
        )
    return sizes.join(level, "scc_id").select("scc_id", "n_nodes", "level")


def pivot_distances(
    edges: DataFrame,
    pivots: DataFrame,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
) -> DataFrame:
    """Per-source BFS: exact hop distance from EVERY pivot to every
    node it reaches within ``max_hops`` -> (pivot, node, dist).

    :func:`reachable` elects one min distance across all sources;
    this keeps the sources apart — the frontier is keyed on
    (pivot, node), so k pivot BFS trees run in the same synchronous
    rounds (k× the join work of one BFS, never k separate jobs).
    That per-source relation is what pivot-sampling estimators
    (centrality, diameter probes) consume. Same
    :func:`loops.frontier` first-reach rounds as reachable. Pivots sit
    at dist 0 from themselves."""
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    e = edges.select(
        F.col(src).alias("_e_src"), F.col(dst).alias("_e_dst")
    ).distinct()

    def _step(front: DataFrame, d: int) -> DataFrame:
        return (
            front.join(e, front["node"] == e["_e_src"])
            .select("pivot", F.col("_e_dst").alias("node"))
            .distinct()
            .withColumn("dist", F.lit(d))
        )

    seed = (
        pivots.select(F.col(node).alias("pivot"))
        .distinct()
        .select("pivot", F.col("pivot").alias("node"))
        .withColumn("dist", F.lit(0))
    )
    return frontier(seed, _step, ["pivot", "node"], max_hops)[0]


_CENT_SCALE = 1_000_000_000


def _pivot_sample(e: DataFrame, s: str, d: str, n_pivots: int) -> DataFrame:
    """The ``n_pivots`` endpoints of ``e`` minimal under
    (sha256(node), node) -> (node): a portable uniform draw both
    engines compute identically (no RNG, no collect; the cut is a
    TakeOrderedAndProject)."""
    nodes = (
        e.select(F.col(s).alias("node"))
        .union(e.select(F.col(d).alias("node")))
        .distinct()
    )
    return nodes.orderBy(
        F.sha2(F.col("node").cast("string"), 256).asc(), F.col("node").asc()
    ).limit(int(n_pivots))


def centrality_estimate(
    edges: DataFrame,
    n_pivots: int = 16,
    max_hops: int = 10,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Pivot-sampled closeness/harmonic centrality (Eppstein & Wang
    2001/2004, "Fast approximation of centrality") -> one row per
    reached node: (node, n_from, sum_dist, harmonic_fp,
    closeness_fp).

    Exact single-source distances from every node is O(n·m) — dead at
    KG scale. The published estimator runs BFS from k sampled pivots
    and scores every node from the SAMPLE of incoming distances:
    harmonic(v) ~ sum over pivots p, d(p,v)>0 of 1/d(p,v);
    closeness(v) ~ n_from / sum d(p,v). Hoeffding gives
    O(log n / eps^2) pivots for eps·diameter additive error — the
    k-vs-accuracy trade is the user's knob.

    Determinism end-to-end: pivots are the ``n_pivots`` nodes minimal
    under (sha256(node), node) — a portable uniform draw both engines
    compute identically (no RNG, no collect; the cut is a
    TakeOrderedAndProject). Scores are fixed-point over exact longs:
    harmonic_fp sums SCALE div d (integer division per pivot), and
    closeness_fp = (n_from * SCALE) div sum_dist — bit-identical at
    any parallelism and restatable verbatim in DuckDB. Pivots
    contribute only at d >= 1 (a pivot's 0-distance to itself says
    nothing about centrality).

    Plan shape: one distinct node projection, the sha-ordered pivot
    cut, :func:`pivot_distances`' frontier rounds (k trees share each
    round's single join), then ONE aggregate keyed on node. Directed
    semantics: distances follow edge direction (closeness-in);
    symmetrize edges upstream for the undirected notion."""
    if n_pivots < 1:
        raise ValueError("n_pivots must be >= 1")
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    )
    pivots = _pivot_sample(e, "src", "dst", n_pivots)
    pd_ = pivot_distances(e, pivots, max_hops=max_hops)
    scale = F.lit(_CENT_SCALE).cast("long")
    return (
        pd_.filter(F.col("dist") >= 1)
        .groupBy("node")
        .agg(
            F.count("*").alias("n_from"),
            F.sum("dist").cast("long").alias("sum_dist"),
            F.sum(F.expr(f"CAST({_CENT_SCALE} AS BIGINT) div dist"))
            .cast("long")
            .alias("harmonic_fp"),
        )
        .withColumn(
            "closeness_fp",
            F.expr("(n_from * CAST(%d AS BIGINT)) div sum_dist" % _CENT_SCALE)
            .cast("long"),
        )
    )


def jaccard_similarity(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_center_deg: int = 32,
    min_common: int = 1,
    k: int = 100,
) -> DataFrame:
    """Neighbor-set Jaccard similarity over the undirected simple
    graph -> top-k pairs (u, w, n_common, deg_u, deg_w, jaccard_fp):
    J(u,w) = |N(u) ∩ N(w)| / |N(u) ∪ N(w)| — the classic structural
    -equivalence signal (Salton/Jaccard link overlap), the
    entity-canonicalization companion to :func:`adamic_adar` (which
    ranks NON-adjacent pairs for link prediction; similarity keeps
    adjacent pairs too, because two aliases of one real-world entity
    are often directly linked).

    Same skew discipline as adamic_adar: only centers with deg <=
    ``max_center_deg`` enumerate neighbor pairs, so a boilerplate hub
    emits no wedges and intersection counts are documented LOWER
    bounds under the cap (degrees stay exact — only the common-
    neighbor enumeration is capped). jaccard_fp = (n_common * 1e9)
    div (deg_u + deg_w - n_common) over exact longs; the top-k cut
    (jaccard_fp DESC, u, w) is a total order, so the result is
    parallelism-invariant and the DuckDB oracle restates it verbatim.

    Plan shape: one distinct on canonical pairs, one degree agg, the
    broadcast-eligible center filter, one self-join keyed on the
    center (fan-out <= max_center_deg^2/2 per key), one count agg on
    the pair key, two degree-attach joins, TakeOrderedAndProject."""
    if max_center_deg < 2:
        raise ValueError("max_center_deg must be >= 2")
    if min_common < 1:
        raise ValueError("min_common must be >= 1")
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    adj = und.select(F.col("u").alias("ctr"), F.col("v").alias("nbr")).unionAll(
        und.select(F.col("v").alias("ctr"), F.col("u").alias("nbr"))
    )
    deg = adj.groupBy("ctr").agg(F.count("*").alias("deg"))
    centers = deg.filter(
        (F.col("deg") >= 2) & (F.col("deg") <= F.lit(int(max_center_deg)))
    ).select("ctr")
    a1 = adj.join(centers, "ctr").select("ctr", F.col("nbr").alias("n1"))
    a2 = adj.select("ctr", F.col("nbr").alias("n2"))
    pairs = (
        a1.join(a2, "ctr")
        .filter(F.col("n1") < F.col("n2"))
        .groupBy(F.col("n1").alias("u"), F.col("n2").alias("w"))
        .agg(F.count("*").alias("n_common"))
        .filter(F.col("n_common") >= F.lit(int(min_common)))
    )
    du = deg.select(F.col("ctr").alias("u"), F.col("deg").alias("deg_u"))
    dw = deg.select(F.col("ctr").alias("w"), F.col("deg").alias("deg_w"))
    scored = (
        pairs.join(du, "u")
        .join(dw, "w")
        .select(
            "u", "w", "n_common", "deg_u", "deg_w",
            F.expr(
                "(n_common * CAST(%d AS BIGINT)) div "
                "(deg_u + deg_w - n_common)" % _CENT_SCALE
            ).cast("long").alias("jaccard_fp"),
        )
    )
    return scored.orderBy(
        F.desc("jaccard_fp"), F.col("u").asc(), F.col("w").asc()
    ).limit(int(k))


def temporal_reachable(
    edges: DataFrame,
    sources: DataFrame,
    start,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    time: str = "etime",
    node: str = "node",
) -> DataFrame:
    """Earliest-arrival reachability over a TEMPORAL graph (edges
    carry an occurrence time; a walk is time-respecting when each
    edge fires no earlier than the walk's current arrival — Wu et
    al., VLDB'14 "Path problems in temporal graphs") ->
    (node, arrival): the minimum arrival time at every node reachable
    from ``sources`` within ``max_hops`` hops, starting no earlier
    than ``start``. This is the information-flow / provenance
    primitive a KG event log needs: static reachability says "a path
    exists", temporal reachability says "influence could actually
    have propagated", which static BFS over the flattened edge set
    over-approximates.

    Correctness rests on the earliest-arrival optimal substructure:
    arriving EARLIER at u never removes an outgoing option (the
    constraint is etime >= arrival), so per-node min arrival is a
    sufficient state and the relaxation
    A_h(v) = min(A_{h-1}(v), min{t of (u,v,t): t >= A_{h-1}(u)})
    converges to the hop-bounded optimum — no per-walk enumeration.

    Iteration shape: :func:`loops.frontier` with a strictly-less
    admission, as in :func:`shortest_paths` — per round only the
    IMPROVED frontier joins the edge table, one min-agg keyed on dst.
    Timestamps are totally ordered, so results are set-semantic and
    parallelism-invariant, restatable as a recursive CTE with a
    min(arrival) roll-up. Sources sit at ``start``; parallel temporal
    edges (same pair, different times) are all kept — the min-agg
    elects per round."""
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    start_col = (
        start if isinstance(start, Column) else F.lit(start).cast("timestamp")
    )
    e = edges.select(
        F.col(src).alias("_e_src"),
        F.col(dst).alias("_e_dst"),
        F.col(time).alias("_e_t"),
    ).filter(F.col("_e_t").isNotNull())

    def _step(front: DataFrame, _r: int) -> DataFrame:
        return (
            front.join(
                e,
                (front["node"] == e["_e_src"])
                & (e["_e_t"] >= front["arrival"]),
            )
            .groupBy(F.col("_e_dst").alias("node"))
            .agg(F.min("_e_t").alias("arrival"))
        )

    seed = sources.select(F.col(node).alias("node")).distinct().withColumn(
        "arrival", start_col
    )
    return frontier(
        seed, _step, ["node"], max_hops, better=lambda n, o: n < o
    )[0]


def betweenness_estimate(
    edges: DataFrame,
    n_pivots: int = 8,
    max_hops: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Pivot-sampled betweenness centrality -> (node, bet_fp):
    Brandes' dependency accumulation (Brandes 2001, "A faster
    algorithm for betweenness centrality") run from a deterministic
    pivot sample (the source-sampling estimator of Brandes & Pich
    2007 / Geisberger et al. 2008), hop-bounded — the broker/bridge
    score a KG audit uses to find entities that sit BETWEEN
    communities, which degree and PageRank both miss.

    Forward phase: per-pivot BFS where the frontier carries σ (the
    count of shortest paths), accumulated per level as
    σ(v) = Σ_{u ∈ preds(v)} σ(u) — one frontier join + one sum-agg
    per hop, all k pivot trees sharing each round (the
    :func:`pivot_distances` rounds on :func:`loops.frontier`).
    Backward phase: levels processed deepest-first, δ(u) = Σ_{w ∈ succs(u)}
    (σ_u · (SCALE + δ_fp(w))) div σ_w — Brandes' recurrence in exact
    long fixed-point (each node's δ is computed exactly ONCE, at its
    level round, so the integer divisions happen in a fixed order and
    the result is parallelism-invariant and restatable as chained
    per-level CTEs). bet_fp(v) = Σ over pivots p≠v of δ_p(v).

    Overflow budget: σ counts shortest paths (grows with path
    multiplicity — hop-bound keeps it polynomial) and every product
    σ_u · (SCALE + δ_w) must stay inside int64; keep max_hops small
    (<= 4) on high-multiplicity graphs. Driver-side scalars: one
    bounded max(dist) lookup sizing the backward loop.

    Sampled scores are exact for the sample, estimates of the full
    betweenness (scale by n/k for the unnormalized estimator)."""
    if n_pivots < 1:
        raise ValueError("n_pivots must be >= 1")
    if max_hops < 1:
        raise ValueError("max_hops must be >= 1")
    e = edges.select(
        F.col(src).alias("_e_src"), F.col(dst).alias("_e_dst")
    ).distinct()
    pivots = _pivot_sample(e, "_e_src", "_e_dst", n_pivots)

    def _step(front: DataFrame, d: int) -> DataFrame:
        return (
            front.join(e, front["node"] == e["_e_src"])
            .groupBy("pivot", F.col("_e_dst").alias("node"))
            .agg(F.sum("sigma").alias("sigma"))
            .withColumn("dist", F.lit(d))
        )

    seed = pivots.select(
        F.col("node").alias("pivot"),
        F.col("node"),
        F.lit(0).alias("dist"),
        F.lit(1).cast("long").alias("sigma"),
    )
    visited = frontier(seed, _step, ["pivot", "node"], max_hops)[0]
    max_d = visited.agg(F.max("dist")).head()[0]  # one bounded scalar
    if max_d is None:
        # empty graph: no pivots, nothing reachable, no brokers
        return visited.select(
            F.col("node"), F.lit(0).cast("long").alias("bet_fp")
        ).limit(0)
    deltas = loop_ckpt(
        visited.filter(F.col("dist") == max_d).select(
            "pivot", "node", F.lit(0).cast("long").alias("delta_fp")
        )
    )
    scale = int(_CENT_SCALE)
    for d in range(max_d, 0, -1):
        # w_rel renames EVERY column (incl. the pivot key) so the
        # level join below is unambiguous by name — u_rel and w_rel
        # share lineage, and same-name references in a self-join
        # would otherwise lean on dataset-id disambiguation
        w_rel = (
            visited.filter(F.col("dist") == d)
            .join(deltas, ["pivot", "node"])
            .select(
                F.col("pivot").alias("_wp"),
                F.col("node").alias("_w"),
                F.col("sigma").alias("_sigma_w"),
                F.col("delta_fp").alias("_delta_w"),
            )
        )
        u_rel = visited.filter(F.col("dist") == d - 1).select(
            "pivot", "node", F.col("sigma").alias("_sigma_u")
        )
        contrib = (
            u_rel.join(e, u_rel["node"] == e["_e_src"])
            .join(
                w_rel,
                (F.col("pivot") == F.col("_wp"))
                & (F.col("_e_dst") == F.col("_w")),
            )
            .select(
                F.col("pivot"),
                F.col("node"),
                F.expr(
                    f"(_sigma_u * (CAST({scale} AS BIGINT) + _delta_w)) "
                    "div _sigma_w"
                ).alias("_c"),
            )
            .groupBy("pivot", "node")
            .agg(F.sum("_c").cast("long").alias("_contrib"))
        )
        lvl = (
            u_rel.select("pivot", "node")
            .join(contrib, ["pivot", "node"], "left")
            .select(
                "pivot",
                "node",
                F.coalesce("_contrib", F.lit(0)).cast("long").alias(
                    "delta_fp"
                ),
            )
        )
        deltas = loop_ckpt(deltas.unionByName(lvl))
    return (
        deltas.filter(F.col("node") != F.col("pivot"))
        .groupBy("node")
        .agg(F.sum("delta_fp").cast("long").alias("bet_fp"))
        .filter(F.col("bet_fp") > 0)
    )


def degree_assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Degree assortativity of the undirected simple graph (Newman,
    PRL 89 2002 "Assortative mixing in networks") -> ONE row
    (n_edges, sum_x, sum_y, sum_xy, sum_x2, sum_y2, assortativity):
    the Pearson correlation of remaining degrees across edge
    endpoints — positive for social-style hub-to-hub mixing, negative
    for the hub-and-spoke shape a boilerplate entity imposes on a KG.

    Every moment is an exact long over the DIRECTED edge list built
    by symmetrizing each undirected edge (the standard convention:
    each edge contributes both (deg_u, deg_v) and (deg_v, deg_u), so
    sum_x = sum_y and the estimate is symmetric). The coefficient
    r = (m·Σxy − Σx·Σy) / sqrt((m·Σx² − Σx²ᵗᵒᵗ)(m·Σy² − Σy²ᵗᵒᵗ)) is
    derived from those longs in one projection — same IEEE doubles on
    any engine. Plan: one distinct, one degree agg, two
    broadcast-eligible degree attaches, one single-row aggregate."""
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    adj = und.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        und.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    deg = adj.groupBy("a").agg(F.count("*").alias("deg"))
    da = deg.select(F.col("a"), F.col("deg").alias("dx"))
    db = deg.select(F.col("a").alias("b"), F.col("deg").alias("dy"))
    pairs = adj.join(da, "a").join(db, "b")
    m = (
        pairs.agg(
            F.count("*").alias("n_edges"),
            F.sum("dx").cast("long").alias("sum_x"),
            F.sum("dy").cast("long").alias("sum_y"),
            F.sum(F.col("dx") * F.col("dy")).cast("long").alias("sum_xy"),
            F.sum(F.col("dx") * F.col("dx")).cast("long").alias("sum_x2"),
            F.sum(F.col("dy") * F.col("dy")).cast("long").alias("sum_y2"),
        )
    )
    # the Pearson arithmetic runs in DOUBLE on BOTH engines (same
    # expression shape -> same IEEE results): the long moments are the
    # exact contract, and products like m * sum_xy overflow int64 on
    # large graphs (ANSI Spark raises; DuckDB silently widens to
    # hugeint — mirrored double casts keep the engines identical)
    ndd = F.col("n_edges").cast("double")
    xd, yd = F.col("sum_x").cast("double"), F.col("sum_y").cast("double")
    xyd = F.col("sum_xy").cast("double")
    x2d, y2d = F.col("sum_x2").cast("double"), F.col("sum_y2").cast("double")
    num = ndd * xyd - xd * yd
    vx = ndd * x2d - xd * xd
    vy = ndd * y2d - yd * yd
    from .termstats import round_keep_sign

    # num is sign-capable (negative assortativity is common), so the
    # readout keeps IEEE signed zero like SQL round does — see
    # termstats.round_keep_sign (the dsir_weights driver-gate lesson)
    return m.withColumn(
        "assortativity",
        F.when(
            (vx > 0) & (vy > 0),
            round_keep_sign(num / F.sqrt(vx * vy), 6),
        ).otherwise(F.lit(0.0)),
    )


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
    label: str = "label",
) -> DataFrame:
    """Newman-Girvan modularity of a node partition (Newman & Girvan
    2004; the quality function LPA/Louvain optimize) -> ONE row
    (m, n_communities, q_num, modularity): Q = Σ_c [e_c/m −
    (d_c/2m)²] over the undirected simple graph, where e_c counts
    intra-community edges and d_c sums member degrees.

    Exactness: q_num = Σ_c [4m·e_c − d_c²] is an exact long
    (4m²·Q), so the partition score is parallelism-invariant and the
    SQL oracle restates it verbatim; ``modularity`` =
    round(q_num / (4m²), 6) is the derived double (identical IEEE on
    both engines). Overflow budget: 4m·e_c and d_c² must stay inside
    int64 — fine to m ~ 1e9 edges; past that, consume the per-
    component longs and aggregate at higher precision downstream.

    Plan: one distinct on canonical pairs, one degree agg, two
    label-attach joins for the intra-edge count, one label-keyed sum,
    one single-row roll-up. Nodes missing from ``labels`` are
    ignored (their edges count in m but belong to no community —
    document the partition's coverage upstream)."""
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    lab = labels.select(
        F.col(node).alias("_n"), F.col(label).alias("_lab")
    )
    m = und.agg(F.count("*").alias("m"))
    internal = (
        und.join(lab.withColumnRenamed("_n", "u"), "u")
        .withColumnRenamed("_lab", "_la")
        .join(lab.withColumnRenamed("_n", "v"), "v")
        .filter(F.col("_la") == F.col("_lab"))
        .groupBy(F.col("_la").alias("_c"))
        .agg(F.count("*").alias("e_c"))
    )
    deg = (
        und.select(F.col("u").alias("_n"))
        .unionAll(und.select(F.col("v").alias("_n")))
        .groupBy("_n")
        .agg(F.count("*").alias("deg"))
    )
    dsum = (
        lab.join(deg, "_n")
        .groupBy(F.col("_lab").alias("_c"))
        .agg(F.sum("deg").cast("long").alias("d_c"))
    )
    per = (
        dsum.join(internal, "_c", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "_c",
            (
                F.lit(4) * F.col("m") * F.coalesce("e_c", F.lit(0))
                - F.col("d_c") * F.col("d_c")
            ).cast("long").alias("q_c"),
            "m",
        )
    )
    return per.groupBy("m").agg(
        F.count("*").alias("n_communities"),
        F.sum("q_c").cast("long").alias("q_num"),
    ).select(
        "m",
        "n_communities",
        "q_num",
        F.round(
            F.col("q_num").cast("double")
            / (
                F.lit(4.0)
                * F.col("m").cast("double")
                * F.col("m").cast("double")
            ),
            6,
        ).alias("modularity"),
    )


def _support_counts(edges: DataFrame, src: str, dst: str):
    """Shared support core for edge_support / ktruss -> (und, sup):
    the canonical undirected edge set and one (u, v, support) row per
    edge that closes at least one triangle. Each triangle row from the
    degree-oriented closure (see _oriented_closure) explodes to its
    three member edges in (least, greatest) form and is counted per
    edge — exact longs, O(sqrt(m))-bounded wedge enumeration."""
    und, _, _, closed = _oriented_closure(edges, src, dst)
    tri_edges = None
    for a, b in (("tail", "b"), ("tail", "c"), ("b", "c")):
        part = closed.select(
            F.least(F.col(a), F.col(b)).alias("u"),
            F.greatest(F.col(a), F.col(b)).alias("v"),
        )
        tri_edges = part if tri_edges is None else tri_edges.unionAll(part)
    sup = tri_edges.groupBy("u", "v").agg(F.count("*").alias("support"))
    return und, sup


def edge_support(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 100,
) -> DataFrame:
    """Per-edge triangle support -> top-k edges (u, v, support): the
    number of triangles each undirected edge participates in — the
    k-truss building block (Cohen 2008, "Trusses: cohesive subgraphs
    for social network analysis") and the edge-strength signal an ER
    audit reads (a high-support sameAs edge is corroborated by many
    mutual neighbors; a support-0 bridge is a candidate false merge).

    Built on the SAME degree-oriented closure as triangle_count /
    clustering_coefficients: each triangle row (tail, b, c) is exploded
    to its three member EDGES in canonical (least, greatest) form and
    counted per edge — exact longs, each triangle contributing exactly
    once per edge, inheriting the O(sqrt(m)) orientation bound. Edges
    in no triangle carry support 0 via the final left join. The top-k
    cut (support DESC, u, v) is a total order."""
    und, sup = _support_counts(edges, src, dst)
    return (
        und.join(sup, ["u", "v"], "left")
        .select(
            "u", "v",
            F.coalesce("support", F.lit(0)).cast("long").alias("support"),
        )
        .orderBy(F.desc("support"), F.col("u").asc(), F.col("v").asc())
        .limit(int(k))
    )


def ktruss(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    rounds: int | None = None,
    max_rounds: int = 100,
) -> DataFrame:
    """Edges of the k-truss of the undirected simple graph induced by
    edges(src, dst) -> (u, v, support): iterative synchronous peeling
    — every round simultaneously drops ALL edges whose triangle
    support within the current subgraph is below k-2, until the fixed
    point, where every surviving edge sits in >= k-2 triangles (Cohen
    2008; the cohesive-subgraph refinement of k-core that an ER audit
    uses to keep only multiply-corroborated sameAs clusters). The
    returned support is recomputed on the converged edge set.

    rounds=None (production) loops to the fixed point — convergence
    detected by the surviving-edge count, one bounded scalar per
    round, raising past max_rounds rather than looping silently.
    rounds=R runs exactly R synchronous peels with no convergence
    scan: the engine-portable form the DuckDB oracle restates as R
    chained support-filter CTEs (peeling is deterministic and
    idempotent past convergence, so R >= the converged round count
    gives the exact k-truss; the contract query's pytest asserts its
    R carries margin at every SF).

    Distributed shape: each round is one degree-oriented triangle
    closure (_support_counts — wedge enumeration O(sqrt(m))-bounded,
    the hot vertex enumerates no wedges) plus one left-semi join
    restricting the edge list; all shuffles key on (u, v) edge ids,
    nothing collects to the driver, and a loop_ckpt per round keeps
    the plan O(1) deep. Support skew (a dense community) stays inside
    HashAggregate keys — no row explosion beyond the oriented wedge
    bound."""
    if k < 3:
        raise ValueError("k must be >= 3 (k-2 support threshold)")
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    cur = loop_ckpt(und)

    def _peel(cur: DataFrame) -> DataFrame:
        _, sup = _support_counts(cur, "u", "v")
        keep = sup.filter(F.col("support") >= F.lit(int(k) - 2)).select(
            "u", "v"
        )
        return loop_ckpt(cur.join(keep, ["u", "v"], "left_semi"))

    cur = _peel_rounds(cur, _peel, rounds, max_rounds, "ktruss")
    _, sup = _support_counts(cur, "u", "v")
    return cur.join(sup, ["u", "v"], "left").select(
        "u",
        "v",
        F.coalesce("support", F.lit(0)).cast("long").alias("support"),
    )


def directed_summary(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """One-row structural profile of a DIRECTED simple graph ->
    (n_nodes, n_edges, n_reciprocal, reciprocity, max_out_deg,
    max_in_deg, n_self_loops): reciprocity = the fraction of directed
    edges whose reverse also exists (Newman et al. 2002) — the
    mutual-citation / mutual-influence signal; self-loops counted
    separately and excluded from the edge set. All counts exact longs
    from one distinct + three aggregates; reciprocity is the derived
    double (same IEEE on any engine)."""
    raw = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    loops = raw.filter(F.col("a") == F.col("b")).distinct()
    e = raw.filter(F.col("a") != F.col("b")).distinct()
    rev = e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    recip = e.join(rev, ["a", "b"], "left_semi")
    outd = e.groupBy("a").agg(F.count("*").alias("d"))
    ind = e.groupBy("b").agg(F.count("*").alias("d"))
    nodes = (
        e.select(F.col("a").alias("n"))
        .union(e.select(F.col("b").alias("n")))
        .union(loops.select(F.col("a").alias("n")))
        .distinct()
    )
    return (
        nodes.agg(F.count("*").alias("n_nodes"))
        .crossJoin(e.agg(F.count("*").alias("n_edges")))
        .crossJoin(recip.agg(F.count("*").alias("n_reciprocal")))
        .crossJoin(
            outd.agg(F.coalesce(F.max("d"), F.lit(0)).alias("max_out_deg"))
        )
        .crossJoin(
            ind.agg(F.coalesce(F.max("d"), F.lit(0)).alias("max_in_deg"))
        )
        .crossJoin(loops.agg(F.count("*").alias("n_self_loops")))
        .select(
            "n_nodes", "n_edges", "n_reciprocal",
            F.when(F.col("n_edges") > 0,
                   F.round(F.col("n_reciprocal") / F.col("n_edges"), 6))
            .otherwise(F.lit(0.0)).alias("reciprocity"),
            "max_out_deg", "max_in_deg", "n_self_loops",
        )
    )


def katz_centrality(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 4,
    alpha_den: int = 100,
    k: int = 30,
) -> DataFrame:
    """Katz centrality (Katz, Psychometrika 18(1) 1953) truncated at
    `rounds` terms -> top-k (node, katz_fp, katz): x(i) = Σ_{r=1..R}
    α^r · walks_r(i) with α = 1/alpha_den, where walks_r(i) is the
    EXACT number of directed walks of length r ending at i ((Aᵀ)^r·1
    — the damped walk-count influence measure PageRank replaced with
    a stochastic matrix). Unlike PageRank/HITS there is nothing to
    normalize: walk counts are integers, so scaling the series by
    alpha_den^R gives katz_fp = Σ walks_r(i)·alpha_den^(R−r) — every
    intermediate an exact long (no fixed-point grid needed at all),
    bit-identical at any parallelism and restatable as R chained
    matrix-vector CTEs. `katz` = katz_fp / alpha_den^R is the
    readable double derived AFTER the total-ordered cut
    (katz_fp DESC, node ASC). Nodes no walk reaches are absent
    (score 0 — the truncated series has no β·1 ground term).

    Distributed shape: parallel edges collapse once up front (Katz is
    defined on the adjacency structure); each round is ONE equi-join
    of the distinct edge relation against the current walk-count
    vector plus a partial-combined sum, ending in a loop_ckpt (O(1)
    plan depth). Walk counts grow like deg^r — ANSI mode turns long
    overflow into an error rather than silent wraparound; pick
    rounds/alpha_den for the graph's degree profile (the classic
    convergence bound wants α < 1/λ_max anyway)."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    if alpha_den < 2:
        raise ValueError("alpha_den must be >= 2")
    ew = loop_ckpt(
        edges.select(
            F.col(src).alias("_src"), F.col(dst).alias("_dst")
        ).distinct()
    )
    nodes = (
        ew.select(F.col("_src").alias("node"))
        .union(ew.select(F.col("_dst").alias("node")))
        .distinct()
    )
    v = loop_ckpt(nodes.select("node", F.lit(1).cast("long").alias("w")))
    acc = None
    for r in range(1, rounds + 1):
        v = loop_ckpt(
            ew.join(v, ew["_src"] == v["node"])
            .groupBy(F.col("_dst").alias("node"))
            .agg(F.sum("w").cast("long").alias("w"))
        )
        mult = alpha_den ** (rounds - r)
        t = v.select(
            "node",
            (F.col("w") * F.lit(mult).cast("long")).cast("long").alias("t"),
        )
        acc = t if acc is None else acc.unionAll(t)
    out = acc.groupBy("node").agg(F.sum("t").cast("long").alias("katz_fp"))
    denom = float(alpha_den ** rounds)
    return (
        out.select(
            "node",
            "katz_fp",
            F.round(F.col("katz_fp") / F.lit(denom), 6).alias("katz"),
        )
        .orderBy(F.desc("katz_fp"), F.col("node").asc())
        .limit(int(k))
    )


def boruvka_mst(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    max_rounds: int | None = None,
) -> DataFrame:
    """Minimum spanning forest via Boruvka (1926) — the parallel-
    native MST algorithm: every round, each component elects its
    minimum-weight outgoing edge; elected edges merge components; the
    component count at least halves, so the loop runs <= log2(V)
    rounds (the same O(log) round discipline as the Kiveris
    large/small-star CC).

    Weights must be DISTINCT (callers derive them from the portable
    60-bit hash family when the domain has ties) — with distinct
    weights the MST is unique and the cut property gives an
    independent oracle: an edge is in the MST iff its endpoints are
    NOT connected using strictly lighter edges alone. Ties inside one
    round's election still break deterministically by (w, a, b), but
    the distinctness requirement is what makes the RESULT canonical.

    Round shape: two hash joins to label endpoints with component
    ids, one min-struct aggregate per component (partial combine),
    then the round's contraction reuses connected_components on the
    COMPONENT graph — whose size is the number of merging components,
    never the node count. Per-round state is loop_ckpt'd (O(1) plan
    depth); one bounded isEmpty scalar per round for convergence;
    raises past the round budget rather than returning a partial
    forest. Node ids must be strings (the CC election canonicalizes
    lexicographically).

    Returns the forest edge set (src, dst, w), src < dst.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
            F.col(weight).alias("w"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    e = loop_ckpt(e)
    nodes = (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .distinct()
    )
    comp = loop_ckpt(nodes.withColumn("comp", F.col("node")))
    if max_rounds is None:
        import math

        n = nodes.count()
        max_rounds = max(4, math.ceil(math.log2(max(n, 2))) + 2)

    mst = None
    for _ in range(max_rounds):
        ca = comp.select(
            F.col("node").alias("a"), F.col("comp").alias("ca")
        )
        cb = comp.select(
            F.col("node").alias("b"), F.col("comp").alias("cb")
        )
        cross = (
            e.join(ca, "a").join(cb, "b").filter(F.col("ca") != F.col("cb"))
        )
        if cross.isEmpty():
            break
        cand = cross.select(
            F.col("ca").alias("c"),
            F.struct("w", "a", "b", "ca", "cb").alias("edge"),
        ).union(
            cross.select(
                F.col("cb").alias("c"),
                F.struct("w", "a", "b", "ca", "cb").alias("edge"),
            )
        )
        picked = cand.groupBy("c").agg(F.min("edge").alias("edge"))
        new_edges = picked.select(
            F.col("edge.a").alias("a"),
            F.col("edge.b").alias("b"),
            F.col("edge.w").alias("w"),
        ).distinct()
        mst = (
            new_edges if mst is None else mst.unionByName(new_edges)
        )
        mst = loop_ckpt(mst)
        comp_edges = picked.select(
            F.col("edge.ca").alias("src"), F.col("edge.cb").alias("dst")
        ).distinct()
        from . import components as _components

        cc = _components.connected_components(comp_edges, "src", "dst")
        relabel = cc.select(
            F.col("node").alias("comp"), F.col("component").alias("_new")
        )
        comp = loop_ckpt(
            comp.join(relabel, "comp", "left").select(
                "node", F.coalesce("_new", F.col("comp")).alias("comp")
            )
        )
    else:
        raise RuntimeError(
            f"boruvka_mst: not converged in {max_rounds} rounds"
        )
    if mst is None:
        return e.select(
            F.col("a").alias(src), F.col("b").alias(dst), F.col("w")
        ).limit(0)
    return mst.select(
        F.col("a").alias(src), F.col("b").alias(dst), F.col("w")
    )
