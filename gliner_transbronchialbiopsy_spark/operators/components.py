"""Stage 3 — canonicalization via connected components (J5).

One bounded read of the edge table picks the path: a driver union-find
over the rows it returned (at most driver_cutoff edges), or alternating
large-star/small-star iterative joins (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14 — public algorithm) with a
driver-side convergence loop. Deterministic canonical ID election: every
member adopts the component's minimum node id (SURVEY.md §2.5 J5); node
ids are stable strings end to end (min is lexicographic) on both paths.

Star-path scale notes: each round is a large-star then a small-star
pass — plain groupBy(min) + equi-join shapes over string node ids
(never a collect_list of a neighborhood, so a giant star costs one
aggregate row); lineage is broken every round with localCheckpoint so
the plan depth stays O(1); convergence is detected by an
order-insensitive (count, bit_xor-of-hashes) fingerprint of the edge
set reaching a fixed point, and the operator RAISES if the iteration
budget runs out rather than returning a partial component map."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .loops import loop_ckpt


def _large_star(sym: DataFrame) -> DataFrame:
    """Large-star round (Kiveris SoCC'14 §3): for every node u, connect
    each strictly-GREATER neighbor v to m(u) = min(N(u) ∪ {u}).
    Expressed as one groupBy(min) + one equi-join — never a collect_list
    of the neighborhood, so a giant star costs one aggregate row, not
    one giant array row."""
    mins = sym.groupBy("a").agg(
        F.least(F.min("b"), F.first("a")).alias("m")
    )
    return (
        sym.filter(F.col("b") > F.col("a"))
        .join(mins, "a")
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _small_star(sym: DataFrame) -> DataFrame:
    """Small-star round: orient every edge (u, v) with v < u, then for
    every node u connect each neighbor (all <= u) AND u itself to
    m(u) = min(N(u) ∪ {u}) = min neighbor."""
    oriented = sym.filter(F.col("b") < F.col("a"))
    mins = oriented.groupBy("a").agg(F.min("b").alias("m"))
    joined = oriented.join(mins, "a")
    to_min = joined.select(F.col("b").alias("a"), F.col("m").alias("b"))
    self_to_min = joined.select("a", F.col("m").alias("b"))
    return (
        to_min.union(self_to_min)
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _edge_signature(sym: DataFrame) -> tuple[int, int, int]:
    """(count, hashxor_seed0, hashxor_seed1) — an order-insensitive
    fingerprint of the edge set, computed in one aggregate pass (no
    expensive exceptAll diff per iteration). bit_xor, not sum: xor never
    overflows (sum of xxhash64 trips ANSI long-overflow), and the edge
    set is distinct so xor-cancellation of duplicates cannot occur."""
    row = sym.agg(
        F.count("*").alias("n"),
        F.expr("bit_xor(xxhash64(a, b))").alias("h0"),
        F.expr("bit_xor(xxhash64(b, a, 7))").alias("h1"),
    ).head()
    return (row["n"], row["h0"], row["h1"])


def iteration_budget_for(n_edges: int) -> int:
    """Star rounds converge in ~log2(n) iterations in practice (the
    SoCC'14 bound is O(log^2 n) worst case); budget 2*log2(n)+4 with a
    floor of 20 so a 100 TB near-dup graph doesn't hit an arbitrary
    constant ceiling: 2M edges -> 46 rounds allowed, 10^12 -> 84. The
    raise-on-non-convergence contract is unchanged — the budget only
    scales with the input instead of being a constant."""
    import math

    return max(20, 2 * math.ceil(math.log2(n_edges + 2)) + 4)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int | None = None,
    driver_cutoff: int = 1_000_000,
) -> DataFrame:
    """edges(src, dst) [string ids] -> (node, component) where component
    is the lexicographic minimum string id in the node's component.

    Hybrid strategy, decided by ONE read of at most driver_cutoff + 1
    edges: if it returns at most driver_cutoff, a driver union-find runs
    over those rows (the iterative-join loop pays ~4 Spark jobs per
    iteration); otherwise alternating large-star/small-star rounds
    (Kiveris et al., SoCC'14) re-read the edges and converge in O(log n)
    rounds even on chain/path-shaped components — unlike plain
    neighbor-min propagation, whose O(diameter) rounds silently truncate
    on long chains. Both paths elect the same canonical minimum.

    max_iterations=None (the default) derives the budget from the
    symmetric edge count (iteration_budget_for — ~2*log2(n)+4, floor
    20), so the ceiling scales with the graph instead of being a
    constant. Raises RuntimeError if the budget is exhausted before the
    edge set reaches its star-forest fixed point (never returns a
    silently wrong partial answer)."""
    rows = edges.select(src, dst).limit(driver_cutoff + 1).collect()
    if len(rows) <= driver_cutoff:
        # driver union-find with path compression: the similarity graph
        # between distinct entity SURFACES is bounded by the surface
        # vocabulary, not the corpus size, so the big mention table
        # never leaves the executors
        parent: dict[str, str] = {}

        def find(x: str) -> str:
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = root, parent[x]
            return root

        for a, b in rows:
            a, b = find(a), find(b)
            if a != b:
                # deterministic: smaller string becomes the root
                lo, hi = (a, b) if a < b else (b, a)
                parent[hi] = lo
        nodes = sorted({n for r in rows for n in r})
        return edges.sparkSession.createDataFrame(
            [(n, find(n)) for n in nodes], "node string, component string"
        )
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    sym = loop_ckpt(sym)
    all_nodes = loop_ckpt(sym.select(F.col("a").alias("node")).distinct())

    cur = sym
    sig = _edge_signature(cur)
    if max_iterations is None:
        # sig[0] is the symmetric distinct edge count — already computed
        # for the convergence fingerprint, so the sizing is free
        max_iterations = iteration_budget_for(sig[0])
    converged = False
    for _ in range(max_iterations):
        # each round: large-star then small-star, re-symmetrized between
        # the two (both operators are defined over the symmetric closure)
        ls = _large_star(cur)
        ls_sym = (
            ls.union(ls.select(F.col("b").alias("a"), F.col("a").alias("b")))
            .distinct()
        )
        ss = _small_star(ls_sym)
        # break lineage: plan depth stays O(1), and loop_ckpt keeps the
        # checkpoint generations from compounding (operators/loops.py)
        cur = loop_ckpt(
            ss.union(ss.select(F.col("b").alias("a"), F.col("a").alias("b")))
            .distinct()
        )
        new_sig = _edge_signature(cur)
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    if not converged:
        raise RuntimeError(
            f"connected_components: star rounds did not converge within "
            f"{max_iterations} iterations (graph needs a higher budget); "
            "refusing to return a partial component map"
        )
    # fixed point: every component is a star — edges (member, min).
    stars = cur.filter(F.col("b") < F.col("a")).select(
        F.col("a").alias("node"), F.col("b").alias("component")
    )
    return (
        all_nodes.join(stars, "node", "left")
        .select("node", F.coalesce("component", "node").alias("component"))
    )


def canonical_map(
    edges: DataFrame,
    all_nodes: DataFrame,
    node_col: str = "node",
    src: str = "src",
    dst: str = "dst",
    max_iterations: int | None = None,
) -> DataFrame:
    """(node, canonical) over ALL nodes: isolated nodes canonicalize to
    themselves; connected ones to their component minimum."""
    comp = connected_components(edges, src=src, dst=dst, max_iterations=max_iterations)
    return (
        all_nodes.select(F.col(node_col).alias("node"))
        .distinct()
        .join(comp, "node", "left")
        .select(
            "node", F.coalesce("component", "node").alias("canonical")
        )
    )
