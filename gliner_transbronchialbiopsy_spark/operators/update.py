"""SPARQL 1.1 Update — DELETE/INSERT WHERE applied to a materialized
triple snapshot, closing the KG surface's CRUD loop.

The reference mutates its store imperatively: the corrections editor
rewrites per-document rows in place and appends a corrections log
(``/root/reference/src/streamlit/app/app.py`` corrections tab). At KG
scale the same intent — "for every solution of this pattern, retract
these assertions and assert those" — is SPARQL 1.1 Update's
``DELETE { ... } INSERT { ... } WHERE { ... }``: one declarative
graph-to-graph transform evaluated against the ORIGINAL graph state,
never a row-at-a-time edit loop.

Semantics (SPARQL 1.1 Update §3.1.3, specialised to this engine's
single default graph):

- the WHERE group is evaluated ONCE against the input graph (the full
  composer algebra — paths, OPTIONAL, MINUS, FILTER, VALUES — is
  allowed; aggregates and solution modifiers are not, exactly the
  CONSTRUCT restriction, because templates bind from raw solutions);
- the DELETE and INSERT templates are instantiated per solution;
  template slots that come up NULL (an unmatched OPTIONAL variable)
  skip that instantiation, per the spec's incomplete-triple rule;
- the result graph is ``(G \\ D) ∪ I`` with BOTH template sets
  computed against the pre-update ``G`` — a triple that is deleted and
  re-inserted by the same update survives;
- with ``where=None`` the templates must be ground: that is the
  ``DELETE DATA`` / ``INSERT DATA`` form.

Distributed shape — why this survives a 10^12-triple store:

- the solution relation is composed through ONE plan
  (operators/composer.py), every pattern atom a pred-pruned scan;
- the delete set and insert set are SOLUTION-sized, never store-sized
  — template instantiation is a projection of the bindings;
- retraction is one ``left_anti`` join of the store against the
  solution-sized delete set keyed on (subj, pred, obj) — AQE
  broadcasts the build side when it fits, and the store is NEVER
  globally shuffled;
- insert-dedup (don't double-assert what the surviving store already
  holds) anti-joins the solution-sized insert set against the store
  RESTRICTED TO THE TEMPLATE PREDICATES — with constant-pred
  templates (the overwhelmingly common form) that restriction is a
  pushed-down ``pred IN (...)`` filter that partition-prunes a
  pred-partitioned snapshot, so the big side of the dedup join is a
  few predicates' worth of triples, not the store;
- surviving store rows keep their physical multiplicity (lineage
  duplicates ride through untouched); the SET-semantic view of the
  result is ``.distinct()`` downstream, same as every other graph
  operator here. Inserted assertions are added exactly once.

No Python runs per row anywhere in the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import bgp as _bgp
from . import composer as _composer
from . import paths as _paths


def _check_templates(templates, what: str) -> tuple:
    out = []
    for t in templates:
        if _composer._is_path(t) or len(t) != 3:
            raise ValueError(
                f"{what} template must be a plain (s, p, o) triple, "
                f"got {t!r}"
            )
        out.append(tuple(t))
    return tuple(out)


def _ground_rows(spark, templates: tuple) -> DataFrame:
    rows = [tuple(str(x) for x in t) for t in templates]
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string"
    ).distinct()


def update_apply(
    triples: DataFrame,
    where: "_composer.KGQuery | None" = None,
    delete=(),
    insert=(),
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    allow_cartesian: bool = False,
    max_closure_rows: int = _paths.DEFAULT_MAX_CLOSURE_ROWS,
    stats=None,
    quads: "DataFrame | None" = None,
    graph_col: str = "g",
) -> DataFrame:
    """Apply one SPARQL-Update operation to the triple store and
    return the post-update store as (subj, pred, obj).

    ``where`` is a :class:`composer.KGQuery` (or None for the
    DATA forms); ``delete`` / ``insert`` are sequences of (s, p, o)
    templates whose variables must be bound by the WHERE solutions.
    At least one template list must be non-empty.
    """
    delete = _check_templates(delete, "DELETE")
    insert = _check_templates(insert, "INSERT")
    if not delete and not insert:
        raise ValueError("update needs at least one DELETE or INSERT template")

    t = triples.select(
        F.col(subj).alias("subj"),
        F.col(pred).alias("pred"),
        F.col(obj).alias("obj"),
    )
    if where is None:
        tvars = {
            x[1:] for tp in (*delete, *insert) for x in tp
            if _bgp._is_var(x)
        }
        if tvars:
            raise ValueError(
                f"DATA forms take ground triples only; variables "
                f"{sorted(tvars)} need a WHERE group"
            )
        spark = t.sparkSession
        d_set = _ground_rows(spark, delete) if delete else None
        i_set = _ground_rows(spark, insert) if insert else None
    else:
        _composer._check_raw_solutions(where, "UPDATE")
        sols = _composer.compose(
            triples, where, subj=subj, pred=pred, obj=obj,
            allow_cartesian=allow_cartesian,
            max_closure_rows=max_closure_rows, stats=stats,
            quads=quads, graph_col=graph_col,
        )
        # the WHERE is composed once: DELETE and INSERT fire from the
        # same solutions
        fire = _composer._fire_templates
        d_set = fire(sols, delete, "DELETE") if delete else None
        i_set = fire(sols, insert, "INSERT") if insert else None

    surviving = (
        t.join(d_set, ["subj", "pred", "obj"], "left_anti")
        if d_set is not None
        else t
    )
    if i_set is None:
        return surviving
    # dedup inserts against the SURVIVING store, restricted to the
    # template predicates when they are all constants — the pushed
    # pred IN (...) filter partition-prunes a pred-partitioned
    # snapshot, so the big side of this anti-join is a few predicates'
    # worth of triples, not the store.
    ins_preds = [tp[1] for tp in insert]
    existing = surviving
    if all(not _bgp._is_var(p) for p in ins_preds):
        existing = surviving.filter(F.col("pred").isin(ins_preds))
    additions = i_set.join(existing, ["subj", "pred", "obj"], "left_anti")
    return surviving.unionByName(additions)
