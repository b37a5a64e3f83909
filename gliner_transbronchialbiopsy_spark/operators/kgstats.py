"""Predicate statistics + cost-based join ordering for the composer.

The composer's default join order is the classic syntactic heuristic
(most-constant pattern scans first, then greedy shared-variable
chaining — operators/bgp._join_group, ranked by
operators/composer._compile_group). That heuristic is
blind to the DATA: two patterns with one constant each tie, and the
tie-break is textual order, so a query that happens to list the huge
predicate first builds the huge intermediate first. At 10^12 triples
the predicate-count skew is exactly the hot-key skew the north star
calls out (boilerplate predicates dominate), and intermediate size —
not scan count — is what a bad order costs.

This module is the System-R-lite fix, split in two:

- :func:`collect_stats` gathers per-predicate statistics in ONE
  aggregation job over the triple relation: ``rollup(pred)`` with
  ``count(*)`` + ``approx_count_distinct(subj/obj)`` (HLL — no exact
  distinct shuffle; the rollup row gives the global totals in the
  same pass). The collected relation is one row per PREDICATE — the
  predicate vocabulary is schema-sized, never corpus-sized (same
  bounded-collect adjudication as the components driver cutoff), so
  a :class:`TripleStats` is a broadcastable plain dict an application
  computes once per snapshot and reuses across every query.
- :func:`order_group` picks the join order by estimated cardinality:
  seed with the smallest estimated relation, then repeatedly join the
  connected relation minimizing the estimated join size
  ``|A| * |B| / prod(max(ndv_A[v], ndv_B[v]))`` over the shared
  variables — the textbook independence estimator. The composer
  hands the permutation to the same ``bgp._join_group`` loop as its
  rank. Estimates steer ONLY the order; results are bit-identical
  with or without stats (inner joins commute), which is what the
  parity tests assert.

The reference has no optimizer (its pandas dashboard pivots a
corpus-sized frame per filter — src/streamlit/app/app.py:349-442);
the estimator form is public textbook material (Selinger et al.
1979's System R access-path selection; characteristic-set cardinality
work, Neumann & Moerkotte ICDE'11, already cited by
operators/kgvalidate.characteristic_sets).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class PredStat:
    """Statistics for one predicate: triple count and distinct
    subject/object counts (HLL estimates)."""

    count: int
    ndv_subj: int
    ndv_obj: int


@dataclass(frozen=True)
class TripleStats:
    """Snapshot-level statistics: global totals plus one
    :class:`PredStat` per predicate. Predicate-vocabulary-sized —
    safe to hold on the driver and close over in query planning."""

    total: int
    ndv_subj: int
    ndv_obj: int
    pred: dict  # predicate -> PredStat

    @property
    def n_preds(self) -> int:
        return len(self.pred)


def collect_stats(
    triples: DataFrame,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    rsd: float = 0.02,
) -> TripleStats:
    """One aggregation job -> :class:`TripleStats`.

    ``rollup(pred)`` emits one row per predicate plus the NULL-pred
    grand-total row, so per-pred and global counts/NDVs come from the
    same shuffle; ``approx_count_distinct`` keeps the NDV columns as
    mergeable HLL sketches (exact in sparse mode at small
    cardinalities, +-rsd at scale — order decisions only need relative
    magnitude). The collect is bounded by the predicate vocabulary.
    """
    rows = (
        triples.select(
            F.col(pred).alias("_p"),
            F.col(subj).alias("_s"),
            F.col(obj).alias("_o"),
        )
        .rollup("_p")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.approx_count_distinct("_s", rsd).alias("ns"),
            F.approx_count_distinct("_o", rsd).alias("no"),
        )
        .collect()
    )
    total, gns, gno = 0, 1, 1
    per: dict[str, PredStat] = {}
    for r in rows:
        if r["_p"] is None:
            total, gns, gno = r["n"], r["ns"], r["no"]
        else:
            per[r["_p"]] = PredStat(r["n"], r["ns"], r["no"])
    return TripleStats(total=total, ndv_subj=gns, ndv_obj=gno, pred=per)


def _is_var(term) -> bool:
    return isinstance(term, str) and term.startswith("?")


def estimate_pattern(pattern: tuple, stats: TripleStats):
    """(est_rows, {var: ndv}) for one triple pattern under the
    independence assumption. A ground position divides the base count
    by that position's NDV; a repeated variable inside one pattern
    adds an equality predicate (divide by the larger NDV). Variable
    NDVs are capped by the row estimate — a relation of k rows binds
    at most k distinct values."""
    s, p, o = pattern
    if _is_var(p):
        base = float(stats.total)
        ndv_s, ndv_o = float(stats.ndv_subj), float(stats.ndv_obj)
    else:
        st = stats.pred.get(p)
        if st is None:
            # predicate absent from the snapshot: empty scan. Order it
            # first — it zeroes every later intermediate.
            base, ndv_s, ndv_o = 0.0, 1.0, 1.0
        else:
            base = float(st.count)
            ndv_s, ndv_o = float(st.ndv_subj), float(st.ndv_obj)
    est = base
    if not _is_var(s):
        est /= max(ndv_s, 1.0)
    if not _is_var(o):
        est /= max(ndv_o, 1.0)
    if _is_var(s) and _is_var(o) and s == o:
        est /= max(ndv_s, ndv_o, 1.0)
    ndvs: dict[str, float] = {}
    if _is_var(s):
        ndvs[s[1:]] = min(ndv_s, max(est, 1.0))
    if _is_var(o):
        ndvs[o[1:]] = min(ndv_o, max(est, 1.0))
    if _is_var(p):
        ndvs[p[1:]] = min(float(stats.n_preds or 1), max(est, 1.0))
    return est, ndvs


def _estimate_spec(spec: tuple, stats: TripleStats) -> float:
    """Crude path-size heuristic — only relative magnitude matters.
    seq multiplies through the shared-midpoint NDV, alt sums, inv is
    size-preserving, opt adds the node universe, plus/star closures
    get a fixed expansion factor (closures are frontier-capped by
    paths.path_edges, so a constant multiplier is the honest bound)."""
    op = spec[0]
    if op == "pred":
        st = stats.pred.get(spec[1])
        return float(st.count) if st else 0.0
    if op == "neg":
        excluded = sum(
            float(stats.pred[p].count) for p in spec[1:] if p in stats.pred
        )
        return max(float(stats.total) - excluded, 0.0)
    if op == "inv":
        return _estimate_spec(spec[1], stats)
    if op == "seq":
        est = _estimate_spec(spec[1], stats)
        mid = max(float(stats.ndv_subj), 1.0)
        for part in spec[2:]:
            est = est * _estimate_spec(part, stats) / mid
        return est
    if op == "alt":
        return sum(_estimate_spec(part, stats) for part in spec[1:])
    if op == "opt":
        return _estimate_spec(spec[1], stats) + float(stats.ndv_subj)
    if op in ("plus", "star"):
        return 4.0 * _estimate_spec(spec[1], stats) + (
            float(stats.ndv_subj) if op == "star" else 0.0
        )
    return float(stats.total)


def estimate_path(src: str, spec: tuple, dst: str, stats: TripleStats):
    """(est_rows, {var: ndv}) for one path atom. A ground endpoint
    routes the composer to the seeded image plan, whose relation is
    one node's image — divide by the endpoint NDV like a ground
    pattern position."""
    est = _estimate_spec(spec, stats)
    if not _is_var(src):
        est /= max(float(stats.ndv_subj), 1.0)
    if not _is_var(dst):
        est /= max(float(stats.ndv_obj), 1.0)
    ndvs: dict[str, float] = {}
    nodes = max(float(stats.ndv_subj), float(stats.ndv_obj), 1.0)
    for term in (src, dst):
        if _is_var(term):
            ndvs[term[1:]] = min(nodes, max(est, 1.0))
    return est, ndvs


def order_group(metas, allow_cartesian: bool = False) -> list:
    """Greedy cost-based join order over ``metas`` — a sequence of
    ``(est_rows, {var: ndv})`` per relation. Seeds with the smallest
    estimate, then repeatedly appends the CONNECTED relation (shares
    a bound variable) minimizing the estimated join output; ties
    break on input position, so ordering is deterministic. Raises on
    a disconnected group unless ``allow_cartesian`` (mirroring the
    composer's contract — the cross product then joins the smallest
    component next). Returns the permutation as a list of indices."""
    n = len(metas)
    if n == 0:
        return []
    pending = list(range(n))
    first = min(pending, key=lambda i: (metas[i][0], i))
    pending.remove(first)
    order = [first]
    acc_est = max(metas[first][0], 0.0)
    acc_ndv = dict(metas[first][1])
    while pending:
        best, best_cost = None, None
        for i in pending:
            est_i, ndv_i = metas[i]
            shared = acc_ndv.keys() & ndv_i.keys()
            if not shared:
                continue
            denom = 1.0
            for v in shared:
                denom *= max(acc_ndv[v], ndv_i[v], 1.0)
            cost = acc_est * max(est_i, 0.0) / denom
            if best_cost is None or cost < best_cost - 1e-9:
                best, best_cost = i, cost
        if best is None:
            if not allow_cartesian:
                raise ValueError(
                    "disconnected query group (no shared variable); "
                    "pass allow_cartesian=True to cross-join components"
                )
            best = min(pending, key=lambda i: (metas[i][0], i))
            best_cost = acc_est * max(metas[best][0], 1.0)
        pending.remove(best)
        order.append(best)
        est_b, ndv_b = metas[best]
        new_est = max(best_cost, 0.0)
        if not math.isfinite(new_est):
            new_est = float("inf")
        merged = dict(acc_ndv)
        for v, d in ndv_b.items():
            merged[v] = min(merged.get(v, d), d)
        cap = max(new_est, 1.0)
        acc_ndv = {v: min(d, cap) for v, d in merged.items()}
        acc_est = new_est
    return order
