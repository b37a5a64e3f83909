"""Tests for the relational/graph extensions added late in round 4:
exact group quantiles + winsorized stats, token-blocked fuzzy match,
degree-oriented triangle counting, and the bucketized time-range join.
"""

import datetime

import pytest
from pyspark.sql import functions as F

from gliner_transbronchialbiopsy_spark.operators import (
    graph,
    linking,
    quantiles,
    ranges,
)


# --- quantiles -------------------------------------------------------------
def test_group_quantiles_exact_interpolation(spark):
    """4 sorted values [1,2,3,10]: p50 at rank 0.5*3=1.5 -> 2.5; p25 at
    rank 0.75 -> 1.75 (linear interpolation, the quantile_cont rule)."""
    df = spark.createDataFrame(
        [("g", float(v)) for v in (1, 2, 3, 10)], "k string, v double"
    )
    row = quantiles.group_quantiles(df, ["k"], "v", [0.25, 0.5]).collect()[0]
    assert row["q_25"] == pytest.approx(1.75)
    assert row["q_50"] == pytest.approx(2.5)


def test_group_quantiles_approx_path_runs(spark):
    """exact=False swaps in the mergeable sketch; at tiny n with high
    accuracy it lands on an actual data value near the median."""
    df = spark.createDataFrame(
        [("g", float(v)) for v in range(101)], "k string, v double"
    )
    row = quantiles.group_quantiles(
        df, ["k"], "v", [0.5], exact=False
    ).collect()[0]
    assert 49.0 <= row["q_50"] <= 51.0


def test_winsorized_stats_clips_outlier(spark):
    """9 ones + one 1000: p05=1, p95 interpolates at rank 8.55 between
    1 and 1000 -> 550.45; the outlier clips to that, mean drops."""
    df = spark.createDataFrame(
        [("g", 1.0)] * 9 + [("g", 1000.0)], "k string, v double"
    )
    row = quantiles.winsorized_stats(df, ["k"], "v", 0.05, 0.95).collect()[0]
    assert row["n"] == 10
    assert row["q_lo"] == pytest.approx(1.0)
    assert row["q_hi"] == pytest.approx(550.45)
    assert row["winsor_mean"] == pytest.approx((9 * 1.0 + 550.45) / 10, abs=1e-3)


# --- fuzzy match -----------------------------------------------------------
def test_fuzzy_match_blocked_finds_typo_pair(spark):
    """'grade a2 biopsy' vs 'grade a3 biopsy' share tokens, dist 1;
    'unrelated text here' shares no token -> never a candidate even
    though its distance to anything is finite."""
    df = spark.createDataFrame(
        [("grade a2 biopsy",), ("grade a3 biopsy",), ("unrelated text here",)],
        "name string",
    )
    rows = linking.fuzzy_match_blocked(df, "name", max_dist=5).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["name_a"], r["name_b"], r["dist"]) == (
        "grade a2 biopsy",
        "grade a3 biopsy",
        1,
    )


def test_fuzzy_match_block_cap_bounds_hot_token(spark):
    """50 surfaces all sharing one hot token with block_cap=4: pairs
    only among the 4 first-ranked surfaces -> at most C(4,2)=6
    candidates (lower-bound-under-cap semantics, like ngram_jaccard)."""
    df = spark.createDataFrame(
        [(f"hot name{i:02d}",) for i in range(50)], "name string"
    )
    rows = linking.fuzzy_match_blocked(
        df, "name", max_dist=20, block_cap=4
    ).collect()
    # 'hot' block capped at 4; 'nameXX' tokens are distinct singletons
    assert 0 < len(rows) <= 6


def test_fuzzy_match_dedups_multi_token_pairs(spark):
    """A pair sharing TWO tokens appears once, not twice."""
    df = spark.createDataFrame(
        [("alpha beta one",), ("alpha beta two",)], "name string"
    )
    rows = linking.fuzzy_match_blocked(df, "name", max_dist=10).collect()
    assert len(rows) == 1


# --- triangles -------------------------------------------------------------
def test_triangle_count_k4(spark):
    """K4 has 4 nodes, 6 edges, 4 triangles; every edge oriented, each
    wedge enumerated exactly once at its lowest-ranked endpoint."""
    edges = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(a + 1, 4)],
        "src long, dst long",
    )
    row = graph.triangle_count(edges).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (4, 6, 4)


def test_triangle_count_dedups_and_ignores_direction(spark):
    """Duplicate edges, reversed edges and self-loops collapse: the
    triangle {1,2,3} counts once."""
    raw = [(1, 2), (2, 1), (2, 3), (3, 2), (1, 3), (1, 1), (2, 2)]
    edges = spark.createDataFrame(raw, "src long, dst long")
    row = graph.triangle_count(edges).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (3, 3, 1)


def test_triangle_count_star_has_none(spark):
    """A star (hub + 5 leaves) has wedges but zero triangles, and the
    hub (highest degree) is ranked last so it enumerates no wedges —
    the curse-of-the-last-reducer guard."""
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "src long, dst long"
    )
    row = graph.triangle_count(edges).collect()[0]
    assert row["n_triangles"] == 0
    assert row["n_wedges"] == 0  # leaves have out-degree 1, hub 0


# --- clustering coefficient ------------------------------------------------
def test_clustering_coef_k4_is_one(spark):
    """Every node of K4 has all neighbor pairs connected: C = 1."""
    edges = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(a + 1, 4)],
        "src long, dst long",
    )
    rows = graph.clustering_coefficients(edges).collect()
    assert {(r["node"], r["deg"], r["n_tri"], r["coef_fp"]) for r in rows} == {
        (n, 3, 3, 1_000_000_000) for n in range(4)
    }


def test_clustering_coef_star_and_pendant(spark):
    """A star hub has C=0 (no neighbor pair connected); a pendant node
    (deg 1) has no pair at all and emits 0."""
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 5)] + [(5, 1)], "src long, dst long"
    )
    got = {r["node"]: (r["n_tri"], r["coef_fp"]) for r in
           graph.clustering_coefficients(edges).collect()}
    assert got[0] == (0, 0)       # hub: 6 pairs, none closed
    assert got[5] == (0, 0)       # pendant: deg 1
    assert all(v == (0, 0) for v in got.values())


def test_clustering_coef_partial_closure(spark):
    """Node 0 with neighbors {1,2,3}, only (1,2) connected: C(0) =
    2*1/(3*2) = 1/3 in fixed point; nodes 1,2 are in one triangle with
    both their neighbor pairs... deg(1)=2 -> C=1."""
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 2)], "src long, dst long"
    )
    got = {r["node"]: (r["deg"], r["n_tri"], r["coef_fp"]) for r in
           graph.clustering_coefficients(edges).collect()}
    assert got[0] == (3, 1, 333_333_333)
    assert got[1] == (2, 1, 1_000_000_000)
    assert got[2] == (2, 1, 1_000_000_000)
    assert got[3] == (1, 0, 0)


# --- Adamic-Adar -----------------------------------------------------------
def test_adamic_adar_matches_python_oracle(spark):
    """Two candidate pairs with different common-neighbor rarity: the
    rarer shared neighbor scores higher. Existing edges excluded."""
    import math

    # u1,u2 share v (deg 2); u3,u4 share h (deg 4, also wired to u1,u2)
    edges = [(1, 10), (2, 10),            # v=10: deg 2
             (3, 20), (4, 20), (1, 20), (2, 20)]  # h=20: deg 4
    df = spark.createDataFrame(edges, "src long, dst long")
    got = [
        (r["u"], r["w"], r["n_common"], r["score_fp"])
        for r in graph.adamic_adar(df, k=100).collect()
    ]
    w2 = math.floor(1e9 / math.log(2))
    w4 = math.floor(1e9 / math.log(4))
    # expected pairs: all non-adjacent pairs sharing >=1 center
    exp = {}
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    for v, ns in adj.items():
        wv = math.floor(1e9 / math.log(len(ns))) if len(ns) >= 2 else None
        if wv is None or len(ns) > 32:
            continue
        ns = sorted(ns)
        for i in range(len(ns)):
            for j in range(i + 1, len(ns)):
                u, w = ns[i], ns[j]
                if w in adj.get(u, ()):
                    continue
                c, s = exp.get((u, w), (0, 0))
                exp[(u, w)] = (c + 1, s + wv)
    want = sorted(
        ((u, w, c, s) for (u, w), (c, s) in exp.items()),
        key=lambda r: (-r[3], r[0], r[1]),
    )
    assert got == want
    # sanity on the rarity ordering: (1,2) share BOTH 10 and 20
    scores = {(u, w): s for u, w, _, s in got}
    assert scores[(1, 2)] == w2 + w4
    assert scores[(3, 4)] == w4 < scores[(1, 2)]


def test_adamic_adar_center_cap_drops_hub(spark):
    """A center above max_center_deg enumerates no pairs."""
    edges = [(0, i) for i in range(1, 6)]  # hub 0, deg 5
    df = spark.createDataFrame(edges, "src long, dst long")
    assert graph.adamic_adar(df, max_center_deg=4).count() == 0
    assert graph.adamic_adar(df, max_center_deg=5).count() == 10


# --- k-core ----------------------------------------------------------------
def test_kcore_k4_plus_tail(spark):
    """K4 with a pendant path hanging off it: the 2-core is exactly
    the K4 (every tail node peels — the path end first, then the
    cascade), and within the core every degree is 3."""
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    tail = [(3, 4), (4, 5), (5, 6)]
    edges = spark.createDataFrame(k4 + tail, "src long, dst long")
    got = {r["node"]: r["degree"] for r in graph.kcore(edges, k=2).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_kcore_whole_graph_peels_to_empty(spark):
    """A star has no 2-core: the leaves peel in round one, the hub in
    round two, and the fixed point is the empty graph."""
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "src long, dst long"
    )
    assert graph.kcore(edges, k=2).count() == 0


def test_kcore_fixed_rounds_matches_fixed_point(spark):
    """rounds=R >= convergence gives the exact k-core (idempotent
    peeling) — the property the contract query's rounds=4 oracle
    relies on. Also: self-loops and duplicate/reversed edges don't
    inflate degrees."""
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    noisy = k4 + [(1, 0), (2, 2), (0, 1), (3, 4), (4, 5)]
    edges = spark.createDataFrame(noisy, "src long, dst long")
    exact = sorted(
        (r["node"], r["degree"]) for r in graph.kcore(edges, k=2).collect()
    )
    fixed = sorted(
        (r["node"], r["degree"])
        for r in graph.kcore(edges, k=2, rounds=5).collect()
    )
    assert exact == fixed == [(0, 3), (1, 3), (2, 3), (3, 3)]
    # the path a-b-c-d peels from both ends, one round per layer: one
    # round is not enough to reach its (empty) 2-core
    path = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    with pytest.raises(RuntimeError, match="kcore did not converge"):
        graph.kcore(path, k=2, max_rounds=1)


def test_kcore_contract_rounds_margin(spark):
    """The contract query's rounds=4 must be >= the true convergence
    round count on the test data — assert rounds=4 output equals the
    fixed-point output at sf0.001."""
    import __spark_entry__ as entry

    sf_dir = "/root/testdata/sf0.001"
    got = {
        (r["node"], r["degree"])
        for r in entry.q_graph_kcore(spark, sf_dir).collect()
    }
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    rel = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    want = {
        (r["node"], r["degree"])
        for r in graph.kcore(rel, k=8).collect()
    }
    assert got == want and len(got) > 0


# --- time-range join -------------------------------------------------------
def _ev(spark, rows):
    return spark.createDataFrame(
        [
            (i, datetime.datetime(2024, 1, 1, 0, 0, 0) + datetime.timedelta(seconds=s))
            for i, s in rows
        ],
        "event_id long, ts timestamp",
    )


def test_time_window_pairs_within_and_outside(spark):
    """window=60s: right events at +30s and -59s match, +61s does not;
    dt_sec is signed."""
    left = _ev(spark, [(1, 1000)])
    right = _ev(spark, [(10, 1030), (11, 941), (12, 1061), (13, 2000)])
    rows = ranges.time_window_pairs(
        left, right.withColumnRenamed("event_id", "rid"), "event_id", "rid",
        window_sec=60,
    ).collect()
    got = {(r["rid"], r["dt_sec"]) for r in rows}
    assert got == {(10, 30), (11, -59)}


def test_time_window_pairs_no_duplicate_across_buckets(spark):
    """A right event exactly on a bucket boundary joins via exactly one
    of the left row's 3 candidate buckets — no duplicate pairs."""
    left = _ev(spark, [(1, 100)])
    right = _ev(spark, [(10, 120)])  # bucket boundary at window=60
    rows = ranges.time_window_pairs(
        left, right.withColumnRenamed("event_id", "rid"), "event_id", "rid",
        window_sec=60,
    ).collect()
    assert len(rows) == 1


# --- KG constraint validation ----------------------------------------------
def _triples(spark, rows):
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


def _rules(spark, rows):
    return spark.createDataFrame(
        rows, "pred string, functional boolean, obj_pattern string"
    )


def test_kg_constraints_functional_cardinality(spark):
    from gliner_transbronchialbiopsy_spark.operators import kgvalidate

    t = _triples(
        spark,
        [("d1", "grade", "A2"), ("d1", "grade", "A3"), ("d2", "grade", "A2"),
         ("d1", "grade", "A2")],  # duplicate binding is NOT a 2nd object
    )
    r = _rules(spark, [("grade", True, None)])
    rows = kgvalidate.constraint_violations(t, r).collect()
    assert len(rows) == 1
    v = rows[0]
    assert (v["subj"], v["violation"], v["n_bad"]) == (
        "d1", "functional_cardinality", 2,
    )


def test_kg_constraints_obj_shape_anchored(spark):
    """Pattern 'A[0-4]' must FULL-match: 'A2' passes, 'A22' and 'B1'
    violate (anchoring — a bare substring match would pass 'A22')."""
    from gliner_transbronchialbiopsy_spark.operators import kgvalidate

    t = _triples(
        spark,
        [("d1", "grade", "A2"), ("d1", "grade", "A22"), ("d2", "grade", "B1")],
    )
    r = _rules(spark, [("grade", False, "A[0-4]")])
    rows = kgvalidate.constraint_violations(t, r).collect()
    got = {(v["subj"], v["violation"], v["n_bad"]) for v in rows}
    assert got == {("d1", "obj_shape", 1), ("d2", "obj_shape", 1)}


def test_kg_constraints_unruled_pred_open_world(spark):
    from gliner_transbronchialbiopsy_spark.operators import kgvalidate

    t = _triples(spark, [("d1", "site", "x"), ("d1", "site", "y")])
    r = _rules(spark, [("grade", True, None)])
    assert kgvalidate.constraint_violations(t, r).count() == 0


# --- SCD2 state intervals ----------------------------------------------------
def test_state_intervals_collapses_runs_and_closes(spark):
    from gliner_transbronchialbiopsy_spark.operators import ranges

    df = spark.createDataFrame(
        [
            (1, "a", 10, 0),
            (1, "a", 20, 1),   # same state -> merges into the first run
            (1, "b", 30, 2),
            (1, "a", 40, 3),   # state returns -> NEW interval, not merged
            (2, "x", 15, 4),
        ],
        "k long, s string, t long, e long",
    )
    out = ranges.state_intervals(df, "k", "s", "t", tie="e")
    rows = sorted(
        (r["key"], r["state"], r["valid_from"], r["valid_to"], r["n_events"])
        for r in out.collect()
    )
    assert rows == [
        (1, "a", 10, 30, 2),
        (1, "a", 40, None, 1),
        (1, "b", 30, 40, 1),
        (2, "x", 15, None, 1),
    ]


def test_state_intervals_tiebreak_orders_equal_timestamps(spark):
    from gliner_transbronchialbiopsy_spark.operators import ranges

    df = spark.createDataFrame(
        [(1, "b", 10, 2), (1, "a", 10, 1)], "k long, s string, t long, e long"
    )
    out = ranges.state_intervals(df, "k", "s", "t", tie="e")
    rows = sorted((r["state"], r["n_events"]) for r in out.collect())
    # e=1 ('a') sorts first, then 'b': two intervals, one event each
    assert rows == [("a", 1), ("b", 1)]


def test_state_intervals_equal_ts_valid_to_uses_tie(spark):
    # regression: the interval-close lead must order by (valid_from,
    # tie) — with two intervals opening at the same timestamp, plain
    # valid_from ordering leaves valid_to nondeterministic
    from gliner_transbronchialbiopsy_spark.operators import ranges

    df = spark.createDataFrame(
        [(1, "a", 10, 1), (1, "b", 10, 2), (1, "c", 20, 3)],
        "k long, s string, t long, e long",
    )
    out = ranges.state_intervals(df, "k", "s", "t", tie="e")
    rows = sorted(
        (r["state"], r["valid_from"], r["valid_to"]) for r in out.collect()
    )
    assert rows == [("a", 10, 10), ("b", 10, 20), ("c", 20, None)]


def test_state_intervals_null_states_merge(spark):
    # regression: consecutive NULL states are ONE run (null-safe
    # change detection), and a NULL->value transition opens a new one
    from gliner_transbronchialbiopsy_spark.operators import ranges

    df = spark.createDataFrame(
        [(1, None, 10, 1), (1, None, 20, 2), (1, "a", 30, 3)],
        "k long, s string, t long, e long",
    )
    out = ranges.state_intervals(df, "k", "s", "t", tie="e")
    rows = sorted(
        (
            (r["state"], r["valid_from"], r["valid_to"], r["n_events"])
            for r in out.collect()
        ),
        key=lambda x: x[1],
    )
    assert rows == [(None, 10, 30, 2), ("a", 30, None, 1)]


def test_asof_state_boundaries(spark):
    from gliner_transbronchialbiopsy_spark.operators import ranges

    rows = [
        ("u1", "a", "2024-01-01 00:00:00", 1),
        ("u1", "b", "2024-01-10 00:00:00", 2),
        ("u2", "c", "2024-01-05 00:00:00", 3),
    ]
    ev = spark.createDataFrame(
        rows, "user_id string, state string, ts string, event_id long"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    iv = ranges.state_intervals(ev, "user_id", "state", "ts", tie="event_id")

    def states_at(t):
        return {
            (r["key"], r["state"])
            for r in ranges.asof_state(iv, t).collect()
        }

    # before everything: nothing valid
    assert states_at("2023-12-31 00:00:00") == set()
    # at == valid_from is INCLUDED (half-open [from, to))
    assert states_at("2024-01-01 00:00:00") == {("u1", "a")}
    # at == next interval's valid_from: old state EXCLUDED, new included
    assert states_at("2024-01-10 00:00:00") == {("u1", "b"), ("u2", "c")}
    # open interval (valid_to NULL) covers far future
    assert states_at("2030-01-01 00:00:00") == {("u1", "b"), ("u2", "c")}
    # Column-typed `at` works too
    got = ranges.asof_state(
        iv, F.lit("2024-01-06 00:00:00").cast("timestamp")
    )
    assert {(r["key"], r["state"]) for r in got.collect()} == {
        ("u1", "a"), ("u2", "c")
    }


# --- inactivity-gap sessionization -------------------------------------------
def test_sessionize_splits_on_gap_and_keeps_boundary(spark):
    from gliner_transbronchialbiopsy_spark.operators import ranges
    import pyspark.sql.functions as F

    base = "2024-01-01 00:"
    df = spark.createDataFrame(
        [
            (1, f"{base}00:00", 0),
            (1, f"{base}10:00", 1),   # 600s gap -> same session
            (1, f"{base}40:00", 2),   # exactly 1800s -> SAME session (>)
            (1, f"{base}40:01", 3),
            (2, f"{base}00:00", 4),   # other user independent
        ],
        "user_id long, ts_s string, event_id long",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    out = ranges.sessionize(df, "user_id", "ts", timeout_sec=1800,
                            tie="event_id")
    got = {r["event_id"]: r["session_no"] for r in out.collect()}
    assert got == {0: 1, 1: 1, 2: 1, 3: 1, 4: 1}


def test_sessionize_new_session_past_timeout_and_numbering(spark):
    from gliner_transbronchialbiopsy_spark.operators import ranges
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 0),
            (1, "2024-01-01 00:30:01", 1),  # 1801s gap -> session 2
            (1, "2024-01-01 02:00:00", 2),  # long gap   -> session 3
            (1, "2024-01-01 02:00:00", 3),  # equal ts, tie orders it
        ],
        "user_id long, ts_s string, event_id long",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    out = ranges.sessionize(df, "user_id", "ts", timeout_sec=1800,
                            tie="event_id")
    got = {r["event_id"]: r["session_no"] for r in out.collect()}
    assert got == {0: 1, 1: 2, 2: 3, 3: 3}
    # epoch_sec carried through for downstream rollups
    assert all(r["epoch_sec"] is not None for r in out.collect())


def test_sessionize_single_exchange_plan(spark):
    """Both window expressions must share ONE hash exchange on the
    session key — a second exchange would double the shuffle at
    10^12 events."""
    from gliner_transbronchialbiopsy_spark.operators import ranges
    import pyspark.sql.functions as F

    df = spark.range(100).select(
        (F.col("id") % 7).alias("user_id"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id") * 100)
        .alias("ts"),
        F.col("id").alias("event_id"),
    )
    out = ranges.sessionize(df, "user_id", "ts", tie="event_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


# --- OLAP cube ---------------------------------------------------------------
def test_cube_single_pass_expand_plan_and_grand_total(spark):
    """CUBE must compile to ONE Expand + ONE aggregation exchange
    (partial map-side combine), never one scan per grouping set."""
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [("a", "x", 1.0), ("a", "y", 2.0), ("b", "x", 3.0)],
        "c1 string, c2 string, v double",
    )
    out = df.cube("c1", "c2").agg(
        F.sum("v").alias("s"), F.grouping_id().alias("gid")
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Expand") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    rows = {(r["c1"], r["c2"], r["gid"]): r["s"] for r in out.collect()}
    assert rows[(None, None, 3)] == 6.0          # grand total
    assert rows[("a", None, 1)] == 3.0           # rollup over c2
    assert rows[(None, "x", 2)] == 4.0           # rollup over c1
    assert len(rows) == 8


# --- interval overlap join ---------------------------------------------------
def test_interval_overlap_semantics_and_single_match(spark):
    from gliner_transbronchialbiopsy_spark.operators import ranges

    left = spark.createDataFrame(
        [
            (1, 0, 100),       # overlaps r1 (same bucket)
            (2, 950, 1050),    # crosses a bucket boundary (W=1000)
            (3, 200, 300),     # touches r3 end-to-start: NO overlap
            (4, 0, 5000),      # spans 5 buckets, overlaps r4 -> ONCE
        ],
        "lid long, s long, e long",
    )
    right = spark.createDataFrame(
        [
            (10, 50, 60),
            (20, 1000, 1100),
            (30, 300, 400),
            (40, 3500, 3600),
        ],
        "rid long, s long, e long",
    )
    out = ranges.interval_overlap_pairs(
        left, right, "lid", "rid", "s", "e", bucket_width=1000
    )
    got = sorted((r["lid"], r["rid"], r["overlap_sec"]) for r in out.collect())
    assert got == [
        (1, 10, 10),       # [50,60) inside [0,100)
        (2, 20, 50),       # [1000,1050)
        (4, 10, 10),
        (4, 20, 100),
        (4, 30, 100),
        (4, 40, 100),      # matched exactly once despite 5 shared buckets
    ]


def test_interval_overlap_random_parity(spark):
    import random as _random
    from gliner_transbronchialbiopsy_spark.operators import ranges

    rng = _random.Random(7)
    L = [(i, rng.randrange(0, 500), 0) for i in range(60)]
    L = [(i, s, s + rng.randrange(1, 400)) for i, s, _ in L]
    R = [(i, rng.randrange(0, 500), 0) for i in range(60)]
    R = [(i, s, s + rng.randrange(1, 400)) for i, s, _ in R]
    ldf = spark.createDataFrame(L, "lid long, s long, e long")
    rdf = spark.createDataFrame(R, "rid long, s long, e long")
    out = ranges.interval_overlap_pairs(
        ldf, rdf, "lid", "rid", "s", "e", bucket_width=100
    )
    got = sorted((r["lid"], r["rid"], r["overlap_sec"]) for r in out.collect())
    exp = sorted(
        (li, ri, min(le, re) - max(ls, rs))
        for li, ls, le in L
        for ri, rs, re in R
        if ls < re and rs < le
    )
    assert got == exp


# --- session n-grams ----------------------------------------------------------
def test_session_ngrams_respects_session_boundaries(spark):
    from gliner_transbronchialbiopsy_spark.operators import ranges
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 0, "view"),
            (1, "2024-01-01 00:01:00", 1, "click"),
            (1, "2024-01-01 00:02:00", 2, "buy"),
            # 2h gap -> new session: no gram may span it
            (1, "2024-01-01 02:30:00", 3, "view"),
            (1, "2024-01-01 02:31:00", 4, "click"),
            (2, "2024-01-01 00:00:00", 5, "view"),
            (2, "2024-01-01 00:01:00", 6, "click"),
        ],
        "user_id long, ts_s string, event_id long, event_type string",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    out = ranges.session_ngrams(
        df, "user_id", "ts", "event_type", timeout_sec=1800, n=2,
        tie="event_id",
    )
    got = {r["gram"]: r["n_occurrences"] for r in out.collect()}
    assert got == {"view;click": 3, "click;buy": 1}


def test_session_ngrams_single_exchange_plan(spark):
    """The n-gram window must REUSE sessionize's user_id exchange —
    a (user, session_no) window key would add a second shuffle."""
    from gliner_transbronchialbiopsy_spark.operators import ranges
    import pyspark.sql.functions as F

    df = spark.range(200).select(
        (F.col("id") % 9).alias("user_id"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id") * 700)
        .alias("ts"),
        F.col("id").alias("event_id"),
        F.concat(F.lit("t"), (F.col("id") % 3).cast("string"))
        .alias("event_type"),
    )
    out = ranges.session_ngrams(
        df, "user_id", "ts", "event_type", n=3, tie="event_id"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # one exchange for the windows + one for the final gram count agg
    assert plan.count("Exchange hashpartitioning") == 2


def test_interval_overlap_excludes_degenerate_zero_length(spark):
    """[s, s) is the empty set: it overlaps nothing even when the raw
    inequality pair would admit it (caught live at sf0.1 — floored
    sub-second state flips produce zero-length intervals)."""
    from gliner_transbronchialbiopsy_spark.operators import ranges

    left = spark.createDataFrame(
        [(1, 5, 5), (2, 3, 8)], "lid long, s long, e long"
    )
    right = spark.createDataFrame(
        [(10, 3, 8), (20, 5, 5)], "rid long, s long, e long"
    )
    out = ranges.interval_overlap_pairs(
        left, right, "lid", "rid", "s", "e", bucket_width=10
    )
    got = sorted((r["lid"], r["rid"]) for r in out.collect())
    assert got == [(2, 10)]  # only the two real intervals pair up


# --- as-of join ----------------------------------------------------------------
def test_asof_join_tie_and_latest_semantics(spark):
    from gliner_transbronchialbiopsy_spark.operators import ranges
    import pyspark.sql.functions as F

    left = spark.createDataFrame(
        [
            (1, 7, "2024-01-01 00:10:00"),  # between q1 and q2 -> q1
            (1, 8, "2024-01-01 00:20:00"),  # exactly at q2     -> q2 (tie)
            (1, 9, "2024-01-01 00:01:00"),  # before any quote  -> NULL
            (2, 10, "2024-01-01 09:00:00"), # other key         -> NULL
        ],
        "user_id long, event_id long, ts_s string",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    right = spark.createDataFrame(
        [
            (1, "2024-01-01 00:05:00", 100.0),
            (1, "2024-01-01 00:20:00", 200.0),
        ],
        "user_id long, ts_s string, quote double",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    out = ranges.asof_join(left, right, "user_id", "ts", "ts", ["quote"])
    got = {r["event_id"]: r["quote"] for r in out.collect()}
    assert got == {7: 100.0, 8: 200.0, 9: None, 10: None}


def test_asof_join_tolerance_nulls_stale_matches(spark):
    from gliner_transbronchialbiopsy_spark.operators import ranges
    import pyspark.sql.functions as F

    left = spark.createDataFrame(
        [(1, 7, "2024-01-01 01:00:00")],
        "user_id long, event_id long, ts_s string",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    right = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 5.0)],
        "user_id long, ts_s string, quote double",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    loose = ranges.asof_join(
        left, right, "user_id", "ts", "ts", ["quote"], tolerance_sec=7200
    ).collect()
    tight = ranges.asof_join(
        left, right, "user_id", "ts", "ts", ["quote"], tolerance_sec=60
    ).collect()
    assert loose[0]["quote"] == 5.0
    assert tight[0]["quote"] is None and tight[0]["asof_ts"] is None


def test_asof_join_null_value_in_latest_right_row_is_kept(spark):
    """The match is row-atomic: a legitimately-NULL value in the LATEST
    right row must be returned as NULL, not skipped over to an older
    right row's value (and multiple value_cols must all come from the
    same matched row)."""
    from gliner_transbronchialbiopsy_spark.operators import ranges
    import pyspark.sql.functions as F

    left = spark.createDataFrame(
        [(1, 7, "2024-01-01 01:00:00")],
        "user_id long, event_id long, ts_s string",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    right = spark.createDataFrame(
        [
            (1, "2024-01-01 00:10:00", 100.0, 11.0),
            (1, "2024-01-01 00:20:00", None, 22.0),  # latest: bid NULL
        ],
        "user_id long, ts_s string, bid double, ask double",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    out = ranges.asof_join(
        left, right, "user_id", "ts", "ts", ["bid", "ask"]
    ).collect()
    assert out[0]["bid"] is None          # NOT 100.0 from the older row
    assert out[0]["ask"] == 22.0          # same matched row
    assert out[0]["asof_ts"] is not None


def test_asof_join_plan_one_exchange_no_join(spark):
    from gliner_transbronchialbiopsy_spark.operators import ranges
    import pyspark.sql.functions as F

    mk = lambda n: spark.range(n).select(  # noqa: E731
        (F.col("id") % 5).alias("user_id"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id") * 60)
        .alias("ts"),
        F.col("id").alias("v"),
    )
    out = ranges.asof_join(
        mk(100).withColumnRenamed("v", "event_id"),
        mk(50).withColumnRenamed("v", "quote"),
        "user_id", "ts", "ts", ["quote"],
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_decayed_counts_known_values(spark):
    """Frecency weights: event at T counts 1.0, one half-life back
    counts 0.5, two back 0.25."""
    import pyspark.sql.functions as F
    import __spark_entry__ as entrymod

    # exercise the same arithmetic inline on a fixture frame
    ev = spark.createDataFrame(
        [(1, 0), (1, 7 * 86400), (1, 14 * 86400)],
        "user_id long, ago long",
    )
    hl = 7 * 86400.0
    got = ev.agg(
        F.round(F.sum(F.pow(F.lit(2.0), -(F.col("ago") / hl))), 6)
    ).collect()[0][0]
    assert got == 1.75  # 1 + 0.5 + 0.25
