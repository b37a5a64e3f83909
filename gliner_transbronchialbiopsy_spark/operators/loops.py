"""Round-boundary checkpointing for iterative DataFrame loops, and the
one frontier driver the graph traversals share.

Every fixpoint loop in this engine (semi-naive rules, BFS frontiers,
k-core peeling, Bellman-Ford relaxation, label propagation, PageRank,
path-doubling closures) ends each round with an eager localCheckpoint
so the NEXT round plans over an O(1)-depth leaf. Round 5 measurement:
that discipline is necessary but NOT sufficient on Spark 4.x, because
``Dataset.localCheckpoint`` wraps the checkpointed rows in a
``LogicalRDD`` that carries ORIGIN metadata (the stats/constraints
machinery of the plan it replaced). When checkpoint generations chain
— round k's leaf is built from round k-1's leaf through a join — that
origin metadata COMPOUNDS across generations even though every plan
tree stays constant-sized, and the logical optimizer's walk over it
turns exponential in the round count:

    22-round chain-closure fixpoint, 60 input rows, local[8]
      round 17:  0.7s        round 21:  39s
      round 19:  7.3s        round 22: 125s
      round 20: 13s          round 23: 328s   (~2.5x per round)

Plan node count stayed linear (162 nodes at round 21); the time was
all in ``QueryExecution.optimizedPlan`` (and, with AQE, re-paid at
runtime per query stage). Disabling constraint propagation and the
runtime bloom-filter rule changed nothing; collapsing the union depth
(rebasing the accumulated delta set to one leaf per round) changed
nothing — the growth rides in the checkpointed leaf itself, not in
the visible plan.

:func:`loop_ckpt` is the fix: the PUBLIC ``localCheckpoint(eager=True)``
first (it copies UnsafeRows before persisting — skipping that copy and
checkpointing ``queryExecution.toRdd()`` directly returns ALIASED row
buffers and silently corrupt results; measured: 38 rows where the true
fixpoint has 15), then the materialized rows are re-wrapped in a fresh
metadata-free ``LogicalRDD`` via the session's
``internalCreateDataFrame``, cutting the origin chain every
generation. Same 22-round fixpoint: every round 0.3-0.6s, flat, exact
same result set. The rewrap drops the leaf's static size estimate, so
the STATIC planner will not auto-broadcast it — AQE re-decides from
true runtime sizes (on in this engine's sessions, session.py), and
explicit ``F.broadcast`` hints are unaffected.

``internalCreateDataFrame`` is ``private[sql]`` (py4j can call it; a
Spark upgrade could move it), so the rewrap is guarded: on any
reflection failure the plain checkpointed frame is returned and the
loop stays correct, merely slower past ~20 generations.

:func:`frontier` is the delta-loop discipline written once: only the
rows a round ADMITTED (first reached, or strictly improved) join the
edges next round, the admitted set and the state each end the round
in :func:`loop_ckpt`, and one bounded ``isEmpty()`` per round is the
convergence test. BFS, per-pivot BFS, the Brandes forward pass,
Bellman-Ford, temporal reach, the SCC coloring and membership rounds,
condensation levels and seeded ``p+`` all run through it; the callers
keep only their round step and their cap policy (silent hop cap, or
raise on ``converged=False``).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def loop_ckpt(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint for per-round loop state, with the
    checkpointed rows re-wrapped metadata-free so checkpoint
    generations cannot compound (see module docstring)."""
    ck = df.localCheckpoint(eager=True)
    try:
        jdf = ck._jdf
        jrdd = jdf.queryExecution().toRdd()
        jclean = df.sparkSession._jsparkSession.internalCreateDataFrame(
            jrdd, jdf.schema(), False
        )
        return DataFrame(jclean, df.sparkSession)
    except Exception:
        # private-API drift: fall back to the plain checkpoint —
        # correct, just exponential-prone past ~20 chained generations
        return ck


def frontier(
    seed: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    key: list[str],
    max_rounds: int,
    better: Callable[[Column, Column], Column] | None = None,
) -> tuple[DataFrame, bool]:
    """Run a frontier loop to its fixed point -> (state, converged).

    ``seed`` is the round-0 state and the first frontier. Round r
    (1-based) calls ``step(frontier, r)`` for candidate rows carrying
    the state's columns, at most one row per ``key``. With
    ``better=None`` a candidate is admitted when its key is not yet in
    the state (first reach: one left_anti); otherwise the state has
    one value column besides the key and ``better(new, old)`` decides
    (``n < o`` keeps minima, ``n > o`` maxima), an admitted row
    replacing its key's row. Only admitted rows form the next
    frontier. ``converged`` is False when every one of the
    ``max_rounds`` rounds admitted rows; the caller decides whether
    that is a silent cap or an error."""
    state = loop_ckpt(seed)
    front = state
    for r in range(1, max_rounds + 1):
        cand = step(front, r)
        if better is None:
            admitted = cand.join(state.select(*key), key, "left_anti")
        else:
            (val,) = [c for c in state.columns if c not in key]
            admitted = (
                cand.withColumnRenamed(val, "_new")
                .join(state, key, "left")
                .filter(
                    F.col(val).isNull() | better(F.col("_new"), F.col(val))
                )
                .select(*key, F.col("_new").alias(val))
            )
        admitted = loop_ckpt(admitted)
        if admitted.isEmpty():
            return state, True
        if better is not None:
            state = state.join(admitted.select(*key), key, "left_anti")
        state = loop_ckpt(state.unionByName(admitted))
        front = admitted
    return state, False
