"""Rule-based KG materialization — datalog-lite over (subj, pred, obj)
triples: each rule is a conjunctive body of triple patterns (the same
term syntax as operators/bgp.py: '?x' variables, anything else a
constant) and one or more head templates instantiated per body
binding. ``materialize`` runs the rules to a fixed point with
SEMI-NAIVE evaluation (Ullman, Principles of Database and
Knowledge-Base Systems): after the first round, a body joins at least
one atom against the LAST round's delta instead of the full relation,
so a round's cost tracks the new facts, not the accumulated KG —
the evaluation discipline every production datalog/RDFS reasoner
(Jena RETE, RDFox, SociaLite) uses, and the only one that survives
10^12-triple closures.

This generalizes the reference's hard-wired enrichment steps (the
pivot's derived columns and the config-driven label hierarchy,
src/streamlit/app/app.py results tab; config.py) into user-stated
rules: "IF a doc mentions engine ?e AND op ?op THEN assert (?e runs
?op)" is a rule, not a code change.

Distributed shape per round: each rule body is a chain of equi-joins
on shared variables (greedy connected order, constants pushed into
the atom scans — bgp._join_group, the one planner of the KG query
layer: round one compiles the body with bgp_match, i.e. the composer,
later rounds feed it per-atom delta/full scans); the delta swap
multiplies that by the number of body atoms but each variant joins a
(small) delta against the indexed full relation, which AQE broadcasts
when it fits. New facts are diffed against the known set with ONE
left_anti join on the triple key, rounds end in a localCheckpoint
(O(1) plan depth), and convergence is detected by the new-fact count
— one bounded scalar per round, the components.py budget discipline.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import bgp as _bgp
from .loops import loop_ckpt

_POS = ("subj", "pred", "obj")


@dataclass(frozen=True)
class Rule:
    """head <- body: derive every head template per body binding."""

    body: tuple
    head: tuple
    name: str = field(default="")

    def __post_init__(self):
        if not self.body:
            raise ValueError("rule body must be non-empty")
        if not self.head:
            raise ValueError("rule head must be non-empty")
        body_vars = {
            t[1:]
            for pat in self.body
            for t in pat
            if _bgp._is_var(t)
        }
        for pat in self.head:
            if len(pat) != 3:
                raise ValueError(f"head template must be a triple: {pat!r}")
            for t in pat:
                if _bgp._is_var(t) and t[1:] not in body_vars:
                    raise ValueError(
                        f"unsafe rule: head variable {t} not bound in body"
                    )
        # the variable atoms must form one connected component: a rule
        # has no allow_cartesian, and a disconnected body is a cross
        # product (ground atoms are existence gates and join nothing)
        pending = [
            {t for t in pat if _bgp._is_var(t)} for pat in self.body
        ]
        pending = [vs for vs in pending if vs]
        comp = pending.pop(0) if pending else set()
        while nxt := next((vs for vs in pending if vs & comp), None):
            comp |= nxt
            pending.remove(nxt)
        if pending:
            raise ValueError(
                f"disconnected rule body: atoms binding {sorted(comp)} "
                "share no variable with the rest of the body"
            )


def rule(body: Sequence[tuple], head: Sequence[tuple], name: str = "") -> Rule:
    return Rule(tuple(tuple(p) for p in body), tuple(tuple(p) for p in head), name)


def _head_cols(pat: tuple) -> list:
    return [
        (F.col(t[1:]) if _bgp._is_var(t) else F.lit(t)).alias(pos)
        for pos, t in zip(_POS, pat)
    ]


def _eval_body(full: DataFrame, delta: DataFrame | None, body: tuple) -> DataFrame:
    """All bindings of the body conjunction. With a delta, evaluate the
    semi-naive union: one variant per atom position, that atom scanning
    the delta and the rest the full relation — exactly the bindings
    that involve at least one last-round fact (plus re-derivations that
    the left_anti diff later drops; correctness needs no more)."""
    if delta is None or not any(_bgp._is_var(t) for pat in body for t in pat):
        # round one, or a fully-ground body (no variable bindings to
        # delta-restrict): evaluate the conjunction naively (a ground
        # body is cheap: <=1 row per scan after dedup); the left_anti
        # diff keeps idempotence
        return _bgp.bgp_match(full, list(body))
    rank = [-_bgp._n_consts(p) for p in body]
    variants = []
    for i in range(len(body)):
        scans = [_bgp._scan(delta if j == i else full, p) for j, p in enumerate(body)]
        variants.append(_bgp._join_group(scans, rank, False, "rule body")[0])
    acc = variants[0]
    for v in variants[1:]:
        acc = acc.unionByName(v)
    return acc.distinct()


def _fire(bindings: DataFrame, heads: tuple) -> DataFrame:
    out = bindings.select(*_head_cols(heads[0]))
    for h in heads[1:]:
        out = out.unionByName(bindings.select(*_head_cols(h)))
    return out


def materialize(
    triples: DataFrame,
    rules: Sequence[Rule],
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    max_rounds: int = 25,
    rebase_every: int | None = None,
) -> DataFrame:
    """Fixed-point materialization -> (subj, pred, obj, inferred):
    asserted triples carry inferred=False, rule-derived ones True.
    Raises past max_rounds rather than looping silently (recursive
    rules over cyclic data converge because derivation is monotone
    over a finite Herbrand base — the row budget, like the capped
    closure in operators/paths.py, is the guard against rule sets
    whose base is corpus-sized).

    ``rebase_every=N`` re-checkpoints the accumulated derived set every
    N delta rounds, collapsing ``known`` back to two materialized
    leaves (base + derived). By default the accumulated KG is NEVER
    rewritten — ``known`` stays a lazy union over the checkpointed base
    and per-round checkpointed deltas, because at 10^12 triples a
    per-round full re-checkpoint would dominate the closure. That
    trade leaves plan depth growing one union leaf per round, which is
    fine for typical <=25-round fixpoints but makes a 100-round
    recursive ruleset (deep chain closures) pay quadratic planning
    time. Use rebase_every (10 is a good default) when the expected
    round count is large; the rewrite cost per rebase is one scan of
    the DERIVED set only (delta-sized accumulation, never the base
    KG), and the output is identical either way — pytest runs a
    30-round chain closure both ways and asserts equality."""
    if not rules:
        raise ValueError("empty rule list")
    base = loop_ckpt(
        triples.select(
            F.col(subj).alias("subj"),
            F.col(pred).alias("pred"),
            F.col(obj).alias("obj"),
        ).distinct()
    )
    if rebase_every is not None and rebase_every < 1:
        raise ValueError("rebase_every must be >= 1 (or None)")
    known = base
    delta: DataFrame | None = None  # round 1: full naive evaluation
    derived_acc: DataFrame | None = None
    for round_no in range(1, max_rounds + 1):
        fired = None
        for r in rules:
            out = _fire(_eval_body(known, delta, r.body), r.head)
            fired = out if fired is None else fired.unionByName(out)
        new = loop_ckpt(
            fired.distinct()
            .join(known, ["subj", "pred", "obj"], "left_anti")
        )
        if new.count() == 0:
            break
        derived_acc = (
            new if derived_acc is None else derived_acc.unionByName(new)
        )
        # known stays a LAZY union of the one checkpointed base and the
        # per-round checkpointed deltas — the accumulated KG is never
        # rewritten (at 10^12 triples a per-round full re-checkpoint
        # would dominate the closure); plan depth grows only with the
        # round count, each leaf already materialized. rebase_every
        # periodically collapses the derived accumulation to one leaf
        # (scans only the delta-sized derived set, never the base).
        if rebase_every is not None and round_no % rebase_every == 0:
            derived_acc = loop_ckpt(derived_acc)
        known = base.unionByName(derived_acc)
        delta = new
    else:
        raise RuntimeError(
            f"materialize did not converge within {max_rounds} rounds"
        )
    out = base.withColumn("inferred", F.lit(False))
    if derived_acc is not None:
        out = out.unionByName(derived_acc.withColumn("inferred", F.lit(True)))
    return out


def construct(
    triples: DataFrame,
    body: Sequence[tuple],
    head: Sequence[tuple],
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
) -> DataFrame:
    """SPARQL CONSTRUCT: one non-recursive rule application ->
    the derived triples only (set-semantic, may re-state existing
    assertions — CONSTRUCT builds a new graph, it does not extend the
    queried one). Sugar over a single bgp_match + template fire."""
    r = rule(body, head)
    t = triples.select(
        F.col(subj).alias("subj"),
        F.col(pred).alias("pred"),
        F.col(obj).alias("obj"),
    )
    return _fire(_eval_body(t, None, r.body), r.head).distinct()
