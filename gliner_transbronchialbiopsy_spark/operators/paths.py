"""SPARQL 1.1 property-path algebra over materialized KG triples,
compiled to set-semantic DataFrame relations.

The reference answers one-predicate questions per document
(src/streamlit/app/app.py results tab); real KG consumers chain
predicates — "every class this document's mentions entail" is
``(engine|exec_op|data_noun)/a/subclass_of*``, a property path, not a
single scan. This module evaluates the path algebra the way a
distributed engine must: every operator is a relation-to-relation
transform (project / union / equi-join / fixed-point join), so
Catalyst sees plain joins it can reorder, broadcast, and prune — no
per-row automaton, no Python in the loop.

A path spec is a nested tuple (no parser — the AST is the API):

    ("pred", name)        atom: pred-pruned triple scan -> (src, dst)
    ("inv", spec)         ^p   : swap endpoints
    ("seq", s1, s2, ...)  p/q  : relational composition (equi-join)
    ("alt", s1, s2, ...)  p|q  : union (set semantics)
    ("plus", spec)        p+   : transitive closure (path doubling)
    ("opt", spec)         p?   : zero-or-one (identity over the node
                                 universe, union p)

``p*`` is ``("opt", ("plus", spec))`` — SPARQL's ZeroOrMorePath.

Scale contract, stated bluntly: ``plus`` MATERIALIZES the transitive
closure of its inner relation. That is the right plan for
schema-sized relations (ontologies, org charts, the subclass lattice
— the relations real SPARQL stores saturate) and the wrong plan for
instance-sized ones: the closure of a clique is quadratic. For
instance-scale paths with a bound endpoint, evaluate the path's
closure step with :func:`graph.reachable` seeded at the bound end —
frontier rounds touch O(edges) and never materialize the closure.
``plus`` raises if its inner relation exceeds ``max_closure_rows``
unless the caller raises the cap, so a 10^12-triple graph cannot be
closed by accident. The seeded evaluator :func:`path_reachable` runs
its ``p+`` that way, as :func:`loops.frontier` rounds.

Zero-length semantics (``opt``, and ``p*`` through it) follow the
SPARQL spec: a zero-length path relates every graph TERM to itself,
so the identity relation is built over the node universe — distinct
subjects union objects of the full triple set (node-sized, never
quadratic), computed once per ``path_edges`` call and reused.

Determinism: every operator is set-semantic over (src, dst) string
pairs — results are partitioning- and parallelism-invariant, and the
whole algebra restates in DuckDB (recursive CTE for ``plus``), which
is how the contract oracle checks it value-for-value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .loops import frontier, loop_ckpt

#: ``plus`` refuses to close a relation wider than this unless the
#: caller raises the cap — closures are for schema-sized relations.
DEFAULT_MAX_CLOSURE_ROWS = 1_000_000


def closure(
    edges: DataFrame,
    max_depth: int = 64,
    max_closure_rows: int = DEFAULT_MAX_CLOSURE_ROWS,
) -> DataFrame:
    """Transitive closure (one-or-more hops) of an edge relation by
    path doubling: reach doubles per round, so depth-d graphs converge
    in ceil(log2(d)) + 1 joins, each a set-semantic self-join on the
    midpoint. Convergence is an exact count fixed point; raises if the
    relation is still growing at ``max_depth`` (a cycle cannot cause
    that — cycles close in finite rounds — only the cap can).

    The guard: refuses inner relations wider than
    ``max_closure_rows`` (see module docstring — closures are for
    ontology-sized relations; seed :func:`graph.reachable` for
    instance-scale paths)."""
    e = edges.select(
        F.col(edges.columns[0]).alias("src"),
        F.col(edges.columns[1]).alias("dst"),
    ).distinct()
    cur = loop_ckpt(e)
    n = cur.count()
    if n > max_closure_rows:
        raise ValueError(
            f"plus/closure over a {n}-row relation (cap "
            f"{max_closure_rows}): transitive closures are for "
            "schema-sized relations — for instance-scale paths seed "
            "graph.reachable at the bound endpoint instead, or raise "
            "max_closure_rows explicitly"
        )
    depth = 1
    while depth < max_depth:
        hop = (
            cur.alias("a")
            .join(cur.alias("b"), F.col("a.dst") == F.col("b.src"))
            .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
        )
        nxt = loop_ckpt(cur.unionAll(hop).distinct())
        n_nxt = nxt.count()
        if n_nxt > max_closure_rows:
            raise ValueError(
                f"plus/closure grew past {max_closure_rows} rows "
                f"({n_nxt}) — instance-scale relation; see the "
                "closure scale contract in operators/paths.py"
            )
        if n_nxt == n:
            return nxt
        cur, n = nxt, n_nxt
        depth *= 2
    raise ValueError(
        f"closure did not converge within depth {max_depth}"
    )


def _eval(t: DataFrame, spec, nodes: DataFrame, max_closure_rows: int) -> DataFrame:
    if not isinstance(spec, tuple) or not spec:
        raise ValueError(f"path spec must be a non-empty tuple, got {spec!r}")
    op, args = spec[0], spec[1:]
    if op == "pred":
        if len(args) != 1 or not isinstance(args[0], str):
            raise ValueError(f"('pred', name) takes one string, got {spec!r}")
        return (
            t.filter(F.col("pred") == F.lit(args[0]))
            .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
            .distinct()
        )
    if op == "neg":
        # SPARQL negated property set !(p1|...|pk), forward members
        # only: one scan with a NOT IN filter — still a single
        # pushed-down predicate, never a join against the pred list
        if not args or not all(isinstance(a, str) for a in args):
            raise ValueError(f"('neg', p1, ...) takes predicate strings, got {spec!r}")
        return (
            t.filter(~F.col("pred").isin(list(args)))
            .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
            .distinct()
        )
    if op == "inv":
        (inner,) = args
        e = _eval(t, inner, nodes, max_closure_rows)
        return e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    if op == "seq":
        if len(args) < 2:
            raise ValueError(f"('seq', ...) takes >=2 sub-paths, got {spec!r}")
        acc = _eval(t, args[0], nodes, max_closure_rows)
        for s in args[1:]:
            nxt = _eval(t, s, nodes, max_closure_rows)
            acc = (
                acc.alias("a")
                .join(nxt.alias("b"), F.col("a.dst") == F.col("b.src"))
                .select(
                    F.col("a.src").alias("src"), F.col("b.dst").alias("dst")
                )
                .distinct()
            )
        return acc
    if op == "alt":
        if len(args) < 2:
            raise ValueError(f"('alt', ...) takes >=2 sub-paths, got {spec!r}")
        acc = _eval(t, args[0], nodes, max_closure_rows)
        for s in args[1:]:
            acc = acc.unionAll(_eval(t, s, nodes, max_closure_rows))
        return acc.distinct()
    if op == "plus":
        (inner,) = args
        e = _eval(t, inner, nodes, max_closure_rows)
        return closure(e, max_closure_rows=max_closure_rows)
    if op == "opt":
        (inner,) = args
        e = _eval(t, inner, nodes, max_closure_rows)
        ident = nodes.select(
            F.col("node").alias("src"), F.col("node").alias("dst")
        )
        return e.unionAll(ident).distinct()
    raise ValueError(f"unknown path operator {op!r} in {spec!r}")


def path_reachable(
    triples: DataFrame,
    sources: DataFrame,
    spec,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    node: str = "node",
    max_hops: int = 64,
) -> DataFrame:
    """Seeded property-path evaluation — THE instance-scale path plan:
    the image of ``sources`` under the path relation, computed without
    ever materializing a closure.

    Where :func:`path_edges` builds the full (src, dst) relation a
    path denotes (right for unseeded analytics over schema-sized
    relations), a SPARQL query with a bound endpoint only needs the
    image of a node set, and every algebra operator maps to a node-set
    transform that stays frontier-sized:

    - ``pred``/``inv``  : one equi-join of the node set onto a
      pred-pruned scan;
    - ``seq``           : function composition — image(b, image(a, S));
    - ``alt``           : union of images;
    - ``opt``           : seeds union one application (zero-or-one;
      ``p*`` = ``("opt", ("plus", p))``);
    - ``plus``          : BFS fixed point over the INNER path's image
      function (:func:`loops.frontier` first-reach rounds, as in
      graph.reachable), so ``p+`` over a 10^12-triple relation
      touches O(edges reached), never O(closure).

    Returns the distinct image nodes as a one-column (``node``)
    DataFrame. ``max_hops`` bounds the plus loops (raises if still
    growing — a safety rail, not a semantic bound: set semantics make
    the fixed point finite on any graph)."""
    t = triples.select(
        F.col(subj).alias("subj"),
        F.col(pred).alias("pred"),
        F.col(obj).alias("obj"),
    )
    seeds = sources.select(F.col(node).alias("node")).distinct()

    def img(s: DataFrame, sp) -> DataFrame:
        if not isinstance(sp, tuple) or not sp:
            raise ValueError(f"path spec must be a non-empty tuple, got {sp!r}")
        op, args = sp[0], sp[1:]
        if op == "pred":
            (name,) = args
            return (
                s.join(t.filter(F.col("pred") == F.lit(name)),
                       s["node"] == F.col("subj"))
                .select(F.col("obj").alias("node"))
                .distinct()
            )
        if op == "neg":
            return (
                s.join(t.filter(~F.col("pred").isin(list(args))),
                       s["node"] == F.col("subj"))
                .select(F.col("obj").alias("node"))
                .distinct()
            )
        if op == "inv":
            (inner,) = args
            if inner[0] == "pred":
                return (
                    s.join(t.filter(F.col("pred") == F.lit(inner[1])),
                           s["node"] == F.col("obj"))
                    .select(F.col("subj").alias("node"))
                    .distinct()
                )
            if inner[0] == "neg":
                return (
                    s.join(t.filter(~F.col("pred").isin(list(inner[1:]))),
                           s["node"] == F.col("obj"))
                    .select(F.col("subj").alias("node"))
                    .distinct()
                )
            # ^(complex path): push the inversion inward
            return img(s, _invert(inner))
        if op == "seq":
            acc = s
            for sub in args:
                acc = img(acc, sub)
            return acc
        if op == "alt":
            accs = [img(s, sub) for sub in args]
            out = accs[0]
            for a in accs[1:]:
                out = out.unionAll(a)
            return out.distinct()
        if op == "opt":
            # zero-or-ONE: the seeds themselves union one application
            (inner,) = args
            return s.unionAll(img(s, inner)).distinct()
        if op == "plus":
            (inner,) = args
            visited, converged = frontier(
                img(s, inner), lambda f, _r: img(f, inner), ["node"], max_hops
            )
            if not converged:
                raise ValueError(
                    f"plus image still growing after {max_hops} rounds"
                )
            return visited
        raise ValueError(f"unknown path operator {op!r} in {sp!r}")

    return img(seeds, spec)


def _invert(sp):
    """Rewrite a path spec to its inverse: ^(a/b) = ^b/^a,
    ^(a|b) = ^a|^b, ^(p+) = (^p)+, ^^p = p."""
    op, args = sp[0], sp[1:]
    if op in ("pred", "neg"):
        return ("inv", sp)
    if op == "inv":
        return args[0]
    if op == "seq":
        return ("seq", *[_invert(a) for a in reversed(args)])
    if op == "alt":
        return ("alt", *[_invert(a) for a in args])
    if op in ("plus", "opt"):
        return (op, _invert(args[0]))
    raise ValueError(f"unknown path operator {op!r} in {sp!r}")


def path_edges(
    triples: DataFrame,
    spec,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    max_closure_rows: int = DEFAULT_MAX_CLOSURE_ROWS,
) -> DataFrame:
    """Evaluate a property-path spec against ``triples`` and return the
    relation it denotes: distinct (src, dst) endpoint pairs.

    Every ``pred`` atom is a pred-pruned scan of the one shared triple
    projection (constant pushed to the reader; partition-prunes a
    pred-partitioned snapshot), so a path over k distinct predicates
    touches k pruned scans regardless of graph width. The node
    universe for zero-length steps is computed once and localCheckpoint
    rides only on closure rounds — a closure-free path stays one lazy
    Catalyst plan end to end."""
    t = triples.select(
        F.col(subj).alias("subj"),
        F.col(pred).alias("pred"),
        F.col(obj).alias("obj"),
    )
    nodes = (
        t.select(F.col("subj").alias("node"))
        .unionAll(t.select(F.col("obj").alias("node")))
        .distinct()
    )
    return _eval(t, spec, nodes, max_closure_rows)


def repeat(spec, n: int, m: int | None):
    """Bounded repetition ``p{n,m}`` DESUGARED onto the existing
    algebra (union of p^k for n <= k <= m): n mandatory ``seq`` steps
    followed by m−n nested optional steps —
    ``p{1,3} = seq(p, opt(seq(p, opt(p))))`` — so both evaluators
    (:func:`path_edges` and the seeded :func:`path_reachable` image
    plan) and ``_invert`` handle it with ZERO new cases. ``m=None``
    is the unbounded tail ``p{n,}`` = p^n / p*  (star as
    ``opt(plus)``, inheriting plus's closure cap). The SPARQL 1.1
    final spec dropped {n,m} from property paths; this is the
    widely-implemented extension form (Jena/RDF4J), provided at the
    AST level. ``p{0,0}`` (pure zero-length) is not a relation and
    raises, matching the engine's ``opt`` convention that zero-length
    only adorns a real step."""
    if n < 0:
        raise ValueError("repetition lower bound must be >= 0")
    if m is not None and m < max(n, 1):
        raise ValueError(f"p{{{n},{m}}}: upper bound must be >= max(n, 1)")
    if m is None:
        tail = ("opt", ("plus", spec))
        core = [spec] * n + [tail]
        return core[0] if len(core) == 1 else ("seq", *core)
    tail = None
    for _ in range(m - n):
        tail = ("opt", spec if tail is None else ("seq", spec, tail))
    core = [spec] * n
    if tail is not None:
        core.append(tail)
    if not core:
        raise ValueError("p{0,0} is the empty path — not a relation")
    return core[0] if len(core) == 1 else ("seq", *core)
