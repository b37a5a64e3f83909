"""Basic-graph-pattern (BGP) matching over materialized KG triples —
the SPARQL conjunctive-query core, compiled to Catalyst self-joins.

The reference answers "which documents carry grade X AND site Y"
inside pandas after pivoting (src/streamlit/app/app.py results tab);
at KG scale the same question is a conjunctive pattern over the
(subj, pred, obj) table and must run as joins, not a pivot — a pivot
materializes every column for every subject, a BGP touches only the
predicates named in the query.

A pattern is a (s, p, o) triple of terms; a term starting with '?' is
a variable, anything else a constant. This module owns the two
pieces every KG query is compiled from:

1. one filtered scan per pattern (``_scan``) — constants become
   pushed-down predicates on the triple scan (pred = 'engine' reaches
   the parquet reader as a PushedFilter, and partition-prunes a
   pred-partitioned triples snapshot), variables become column
   renames. Matching SPARQL set semantics, each pattern scan is
   deduplicated, so duplicate triple rows (same assertion emitted by
   two pipeline versions) don't multiply the bindings;
2. the greedy join planner (``_join_group``) — relations ranked first
   (most constants, the most selective scans), then always one
   sharing a variable with what's bound so far, each an equi-join (a
   hash join on the shared variable columns); no cartesian unless the
   query itself is disconnected, which raises by default.

``_join_group`` is the one join planner of the KG query layer: rule
bodies (operators/rules.py, per-atom delta/full scans), every
composer group (operators/composer.py — path atoms, GRAPH groups over
quads, the stats-driven order of operators/kgstats.py) and the
composer's required blocks (where, GRAPH groups, UNION chains,
subqueries) hand it their prebuilt relations and a per-relation rank.

``bgp_match`` and ``bgp_union`` are the pattern-list front-ends: each
builds a :class:`composer.KGQuery` and compiles it with
``composer.compose``, the one query compiler, so OPTIONAL, MINUS,
UNION, FILTER and VALUES have one implementation.

At 10^12 triples the win is exactly the classic BGP plan: every scan
is pred-pruned before any join, and AQE picks broadcast sides for the
selective patterns. No Python runs per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_POS = ("subj", "pred", "obj")


def _is_var(term: str) -> bool:
    return isinstance(term, str) and term.startswith("?")


def _n_consts(pattern) -> int:
    return sum(not _is_var(x) for x in pattern)


def _scan(
    triples: DataFrame, pattern: tuple, positions: tuple = _POS
) -> tuple[DataFrame, set]:
    """One pattern -> (deduped scan with variable columns, var set).
    ``positions`` names the relation's columns the pattern's terms
    match, in order — (g, subj, pred, obj) for a quad pattern."""
    cond = []
    proj = []
    vars_: dict[str, str] = {}
    for pos, term in zip(positions, pattern):
        if _is_var(term):
            name = term[1:]
            if not name:
                raise ValueError(f"empty variable name in pattern {pattern!r}")
            if name in vars_:
                # repeated variable inside one pattern = equality
                cond.append(F.col(pos) == F.col(vars_[name]))
            else:
                vars_[name] = pos
                proj.append(F.col(pos).alias(name))
        else:
            cond.append(F.col(pos) == F.lit(term))
    df = triples
    for c in cond:
        df = df.filter(c)
    if not proj:
        # ASK-style fully-ground pattern: expose a constant marker
        return df.select(F.lit(1).alias("_ask")).distinct(), set()
    return df.select(*proj).distinct(), set(vars_)


def _join_group(
    rels: list, rank: list, allow_cartesian: bool, label: str
) -> tuple[DataFrame, set]:
    """Greedy connected-first join of prebuilt ``(DataFrame, vars)``
    relations -> (solutions, bound vars).

    Variable relations are ordered by ``(rank[i], i)``; the first one
    seeds, then the loop always takes the first pending relation that
    shares a bound variable (an equi-join on the shared variables).
    When none does the group is disconnected: raise, or with
    ``allow_cartesian`` cross-join the first pending one. Fully-ground
    (ASK-style) relations bind no variables: they are pure existence
    gates, cross-joined with their <=1-row relations LAST so they never
    seed the order (seeding with an empty bound set would spuriously
    disconnect every variable relation). A group with no variables
    returns the one-column ``_ask`` existence relation."""
    ask = [df for df, vs in rels if not vs]
    pending = sorted(
        (i for i, (_, vs) in enumerate(rels) if vs),
        key=lambda i: (rank[i], i),
    )
    bound: set = set()
    if pending:
        acc, vs = rels[pending.pop(0)]
        bound |= vs
    else:
        acc = ask.pop(0)
    while pending:
        nxt = next((i for i in pending if rels[i][1] & bound), None)
        if nxt is None:
            if not allow_cartesian:
                raise ValueError(
                    f"disconnected {label} (no shared variable); pass "
                    "allow_cartesian=True to cross-join the components"
                )
            nxt = pending[0]
        pending.remove(nxt)
        df, vs = rels[nxt]
        shared = sorted(vs & bound)
        if shared:
            acc = acc.join(df, on=shared, how="inner")
        else:
            acc = acc.crossJoin(df)
        bound |= vs
    for n, df in enumerate(ask):
        acc = acc.crossJoin(df.select(F.lit(1).alias(f"_ask{n}")))
        acc = acc.drop(f"_ask{n}")
    return acc, bound


def _values_with_undef(acc: DataFrame, cols, rows) -> DataFrame:
    """VALUES with UNDEF cells (None): each row is a PARTIAL mapping,
    compatible with a solution wherever its defined cells agree — the
    SPARQL 1.1 join-of-partial-mappings rule. Compiled per
    defined-column MASK group: rows sharing a mask become one inline
    relation joined on the mask's defined columns (set semantics per
    group, matching the no-UNDEF path's distinct); columns the group
    leaves UNDEF constrain nothing — fresh ones extend the solutions
    as NULL. A solution compatible with rows in several mask groups
    appears once per group (bag union), the SPARQL multiset join.

    Every group must share at least one DEFINED column with the bound
    solutions (the all-UNDEF row, which binds nothing, passes
    solutions through unchanged); a group whose defined columns are
    all fresh is the same disconnected cross product the no-UNDEF
    path rejects, and raises identically."""
    acc_cols = list(acc.columns)
    groups: dict[tuple, list] = {}
    for r in rows:
        mask = tuple(v is not None for v in r)
        groups.setdefault(mask, []).append(tuple(r))
    out_cols = acc_cols + [c for c in cols if c not in acc_cols]
    parts = []
    for mask, rws in sorted(groups.items()):
        def_cols = [c for c, m in zip(cols, mask) if m]
        undef_fresh = [
            c
            for c, m in zip(cols, mask)
            if not m and c not in acc_cols
        ]
        if not def_cols:
            # the all-UNDEF row: compatible with everything, binds
            # nothing — solutions pass through, fresh columns NULL
            part = acc
        else:
            shared = sorted(set(def_cols) & set(acc_cols))
            if not shared:
                raise ValueError(
                    f"VALUES mask group on {def_cols!r} shares no "
                    "variable with the bound set — a disconnected "
                    "VALUES is a cross product"
                )
            proj = [
                tuple(v for v, m in zip(r, mask) if m) for r in rws
            ]
            vdf = acc.sparkSession.createDataFrame(
                proj, list(def_cols)
            ).distinct()
            part = acc.join(F.broadcast(vdf), on=shared, how="inner")
        for c in undef_fresh:
            part = part.withColumn(c, F.lit(None).cast("string"))
        parts.append(part.select(*out_cols))
    res = parts[0]
    for p in parts[1:]:
        res = res.unionAll(p)
    return res


def _apply_solution_mods(acc: DataFrame, filters, values) -> DataFrame:
    """The FILTER / VALUES tail of ``composer.compose``.

    SPARQL scopes both to the whole group: VALUES joins the inline
    binding table onto the accumulated solutions (extending them with
    any fresh columns), then FILTER drops non-satisfying rows. Order
    matters when a filter references a VALUES-introduced variable."""
    if values is not None:
        cols, rows = values
        if not rows:
            raise ValueError("VALUES block has no rows")
        if any(v is None for r in rows for v in r):
            acc = _values_with_undef(acc, cols, rows)
        else:
            vdf = acc.sparkSession.createDataFrame(
                [tuple(r) for r in rows], list(cols)
            ).distinct()
            shared = sorted(set(cols) & set(acc.columns))
            if not shared:
                raise ValueError(
                    f"VALUES columns {list(cols)!r} share no variable "
                    "with the bound set — a disconnected VALUES is a "
                    "cross product"
                )
            # inline data is query-literal-sized: always broadcast
            acc = acc.join(F.broadcast(vdf), on=shared, how="inner")
    for flt in filters or []:
        acc = acc.filter(F.expr(flt) if isinstance(flt, str) else flt)
    return acc


def bgp_match(
    triples: DataFrame,
    patterns: list[tuple],
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    allow_cartesian: bool = False,
    optional: list[tuple] | None = None,
    filters=None,
    values: tuple | None = None,
    minus: list[list[tuple]] | None = None,
) -> DataFrame:
    """Match a conjunctive pattern list against ``triples`` — the
    :class:`composer.KGQuery` ``where=patterns`` (one single-pattern
    OPTIONAL group per ``optional`` pattern), compiled by
    ``composer.compose``.

    Returns one row per binding of the pattern variables, one column
    per variable (set semantics — duplicate triples don't multiply).
    Raises on a disconnected pattern unless ``allow_cartesian``.

    ``filters`` (SPARQL FILTER) is a list of Column or SQL-string
    expressions over the variable columns, applied after all pattern
    matching (group scope — so a filter sees OPTIONAL columns, NULL
    where unmatched, matching SPARQL's error-is-false on unbound).
    ``values`` (SPARQL VALUES) is ``(columns, rows)`` inline data
    inner-joined (broadcast) onto the solutions via the shared
    variables; fresh columns extend each solution. An UNDEF cell
    (None) makes its row a partial mapping that constrains only its
    defined columns (``_values_with_undef``).

    ``minus`` (SPARQL MINUS) is a list of pattern groups; solutions
    compatible with any binding of a group on their SHARED variables
    are removed — one left_anti join per group, each group's bindings
    computed with the same compiler. A group sharing NO variable with
    the solution set removes nothing (the SPARQL disjoint-domain
    rule). Applied after OPTIONAL, before VALUES/FILTER. One
    documented divergence: a solution whose shared variable is NULL
    (an unmatched OPTIONAL) never anti-matches (SQL NULL join
    semantics) and is kept, whereas SPARQL's compatible-mapping rule
    would let the unbound variable match anything — anchor MINUS
    groups on required variables when that distinction matters.

    ``optional`` patterns are left-joined onto the required bindings in
    order, their fresh variables NULL where unmatched (the common
    OPTIONAL case). An optional pattern must share at least one
    variable with the bound set (a disconnected OPTIONAL is a cross
    product and raises). A later optional may join on an earlier
    optional's variable, with one documented divergence from full
    SPARQL LeftJoin semantics: the chain join is NULL-rejecting, so a
    row whose earlier optional came up unbound stays NULL through the
    chain — SPARQL's compatible-mapping rule would instead let the
    later pattern bind the variable fresh. Order optionals so chains
    hang off required variables when that distinction matters.
    """
    from . import composer as _composer

    if not patterns:
        raise ValueError("empty pattern list")
    q = _composer.KGQuery(
        where=tuple(patterns),
        optional=tuple((p,) for p in optional or ()),
        minus=tuple(tuple(g) for g in minus or ()),
        filters=tuple(filters or ()),
        values=values,
    )
    return _composer.compose(
        triples, q, subj=subj, pred=pred, obj=obj,
        allow_cartesian=allow_cartesian,
    )


def bgp_union(
    triples: DataFrame,
    branches: list[list[tuple]],
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    allow_cartesian: bool = False,
    filters=None,
    values: tuple | None = None,
) -> DataFrame:
    """SPARQL UNION: match each branch pattern list independently and
    bag-union the solutions (the :class:`composer.KGQuery`
    ``union=branches``, compiled by ``composer.compose``). Branch
    variable sets may differ — the output carries the union of all
    variables, NULL where a branch does not bind one (SPARQL's
    unbound). Each branch is set-semantic
    (like bgp_match); the union itself is a bag, so a binding produced
    by two branches appears twice — exactly SPARQL's multiset UNION
    over DISTINCT-projected branches, and what `count(*)` aggregates
    downstream should see.

    ``filters`` / ``values`` apply AFTER the union (SPARQL group
    scope), not per-branch: a VALUES table joins once against the
    unioned solutions, and a FILTER referencing a variable one branch
    leaves unbound evaluates NULL -> dropped, per the error-is-false
    rule.

    Distributed shape: a union is plan-level concatenation (no
    shuffle); each branch keeps its own pred-pruned scans and join
    order, and the optional VALUES join broadcasts. At 10^12 triples a
    UNION of k branches costs exactly the k branch plans."""
    from . import composer as _composer

    if not branches:
        raise ValueError("empty branch list")
    q = _composer.KGQuery(
        union=tuple(tuple(b) for b in branches),
        filters=tuple(filters or ()),
        values=values,
    )
    return _composer.compose(
        triples, q, subj=subj, pred=pred, obj=obj,
        allow_cartesian=allow_cartesian,
    )
