"""KG query-layer operators: BGP matching, bounded reachability,
RDFS-lite type inference, N-Triples serialization."""

import importlib.util
import os

import pytest
from pyspark.sql import functions as F

from gliner_transbronchialbiopsy_spark.operators import bgp, composer, graph, rules
from gliner_transbronchialbiopsy_spark.sources import export

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_spec = importlib.util.spec_from_file_location(
    "explain_audit", os.path.join(REPO, "tools", "explain_audit.py")
)
explain_audit = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(explain_audit)


def _triples(spark, rows):
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


# --- BGP matching -----------------------------------------------------------
def test_bgp_two_patterns_join_on_shared_var(spark):
    t = _triples(
        spark,
        [
            ("d1", "engine", "spark"),
            ("d1", "exec_op", "join"),
            ("d2", "engine", "hash"),
            ("d3", "exec_op", "sort"),
        ],
    )
    out = bgp.bgp_match(t, [("?doc", "engine", "?e"), ("?doc", "exec_op", "?op")])
    assert sorted(out.columns) == ["doc", "e", "op"]
    rows = [(r["doc"], r["e"], r["op"]) for r in out.collect()]
    assert rows == [("d1", "spark", "join")]


def test_bgp_set_semantics_dedupes_duplicate_triples(spark):
    t = _triples(
        spark,
        [("d1", "engine", "spark")] * 3 + [("d1", "exec_op", "join")] * 2,
    )
    out = bgp.bgp_match(t, [("?doc", "engine", "?e"), ("?doc", "exec_op", "?op")])
    assert out.count() == 1


def test_bgp_ground_pattern_filters(spark):
    t = _triples(
        spark,
        [
            ("d1", "engine", "spark"),
            ("d1", "exec_op", "join"),
            ("d2", "engine", "vector"),
            ("d2", "exec_op", "filter"),
        ],
    )
    out = bgp.bgp_match(t, [("?doc", "exec_op", "join"), ("?doc", "engine", "?e")])
    rows = [tuple(r) for r in out.select("doc", "e").collect()]
    assert rows == [("d1", "spark")]


def test_bgp_repeated_variable_means_equality(spark):
    t = _triples(
        spark,
        [("a", "p", "a"), ("a", "p", "b"), ("c", "q", "c")],
    )
    out = bgp.bgp_match(t, [("?x", "p", "?x")])
    rows = [tuple(r) for r in out.collect()]
    assert rows == [("a",)]


def test_bgp_disconnected_raises_without_flag(spark):
    t = _triples(spark, [("d1", "p", "x"), ("d2", "q", "y")])
    with pytest.raises(ValueError, match="disconnected"):
        bgp.bgp_match(t, [("?a", "p", "?b"), ("?c", "q", "?d")])
    out = bgp.bgp_match(
        t, [("?a", "p", "?b"), ("?c", "q", "?d")], allow_cartesian=True
    )
    assert out.count() == 1  # 1 binding of each component


def test_bgp_var_to_var_chain(spark):
    # path query: ?a knows ?b, ?b knows ?c
    t = _triples(
        spark,
        [("a", "knows", "b"), ("b", "knows", "c"), ("c", "knows", "d")],
    )
    out = bgp.bgp_match(t, [("?a", "knows", "?b"), ("?b", "knows", "?c")])
    rows = sorted(tuple(r) for r in out.select("a", "b", "c").collect())
    assert rows == [("a", "b", "c"), ("b", "c", "d")]


def test_bgp_ask_pattern_mixed_with_variables(spark):
    # regression: a fully-ground (ASK-style) pattern must act as a pure
    # existence filter, never seed the greedy join order (which would
    # spuriously report the variable patterns as disconnected)
    t = _triples(
        spark,
        [("d1", "engine", "spark"), ("d1", "exec_op", "join"),
         ("d2", "exec_op", "sort")],
    )
    out = bgp.bgp_match(
        t, [("d1", "engine", "spark"), ("?d", "exec_op", "?op")]
    )
    rows = sorted(tuple(r) for r in out.select("d", "op").collect())
    assert rows == [("d1", "join"), ("d2", "sort")]
    # absent ground pattern -> existence filter empties the result
    empty = bgp.bgp_match(
        t, [("d1", "engine", "duckdb"), ("?d", "exec_op", "?op")]
    )
    assert empty.count() == 0


def test_bgp_all_ground_ask(spark):
    t = _triples(spark, [("d1", "engine", "spark"), ("d1", "exec_op", "join")])
    yes = bgp.bgp_match(
        t, [("d1", "engine", "spark"), ("d1", "exec_op", "join")]
    )
    assert yes.columns == ["_ask"] and yes.count() == 1
    no = bgp.bgp_match(
        t, [("d1", "engine", "spark"), ("d1", "exec_op", "sort")]
    )
    assert no.count() == 0
    # an ASK-only match still applies its group modifiers
    gated = bgp.bgp_match(t, [("d1", "engine", "spark")], filters=["1 = 0"])
    assert gated.count() == 0
    with pytest.raises(ValueError, match="variable-free"):
        bgp.bgp_match(
            t, [("d1", "engine", "spark")], optional=[("?d", "exec_op", "?o")]
        )


# one join planner (bgp._join_group) behind every caller: the same
# pattern list plans to the same physical plan, Spark's per-session
# ids masked, whether it enters through bgp_match, a composer group or
# a rule body's first (naive) round
_PLANNER_CASES = {
    "constant_seeded_chain": (
        [("?e", "runs", "?op"), ("?d", "engine", "?e"),
         ("?d", "exec_op", "join")],
        False,
    ),
    "ask_mixed_with_variables": (
        [("?d", "exec_op", "?op"), ("d1", "engine", "spark"),
         ("?d", "engine", "?e")],
        False,
    ),
    "repeated_variable": ([("?x", "runs", "?x"), ("?x", "exec_op", "?o")], False),
    "disconnected_pair": ([("?a", "engine", "?b"), ("?c", "runs", "?d")], True),
}


@pytest.mark.parametrize("case", sorted(_PLANNER_CASES))
def test_one_planner_plans_every_caller_alike(spark, case):
    pats, cartesian = _PLANNER_CASES[case]
    t = _triples(
        spark,
        [("d1", "engine", "spark"), ("d1", "exec_op", "join"),
         ("spark", "runs", "join"), ("join", "runs", "join")],
    )

    def plan(df):
        # the physical plan, and the analyzed logical plan it came from
        # (the optimizer prunes the ASK gates' marker columns, so only
        # the logical plan shows how each caller built them)
        return explain_audit.mask_session_ids(
            explain_audit.plan_of(df)
            + df._jdf.queryExecution().analyzed().toString()
        )

    # plans are compared before anything executes: a collected
    # adaptive plan prints its final form
    ref = bgp.bgp_match(t, pats, allow_cartesian=cartesian)
    composed = composer.compose(
        t, composer.KGQuery(where=tuple(pats)), allow_cartesian=cartesian
    )
    assert plan(composed) == plan(ref)
    if not cartesian:  # rule bodies never cross-join
        assert plan(rules._eval_body(t, None, tuple(pats))) == plan(ref)
    assert sorted(composed.collect()) == sorted(ref.collect())


# --- reachability -----------------------------------------------------------
def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def _sources(spark, nodes):
    return spark.createDataFrame([(n,) for n in nodes], "node string")


def test_reachable_chain_min_distance(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c")])
    out = graph.reachable(e, _sources(spark, ["a"]), max_hops=3)
    dist = {r["node"]: r["dist"] for r in out.collect()}
    # c reachable at dist 1 via the shortcut, NOT 2 via b
    assert dist == {"a": 0, "b": 1, "c": 1, "d": 2}


def test_reachable_respects_max_hops_and_direction(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("x", "a")])
    out = graph.reachable(e, _sources(spark, ["a"]), max_hops=1)
    dist = {r["node"]: r["dist"] for r in out.collect()}
    # x points INTO a: not reachable; c is 2 hops: cut by max_hops
    assert dist == {"a": 0, "b": 1}


def test_reachable_early_exit_on_empty_frontier_and_isolated_source(spark):
    e = _edges(spark, [("a", "b")])
    out = graph.reachable(e, _sources(spark, ["z", "a"]), max_hops=10)
    dist = {r["node"]: r["dist"] for r in out.collect()}
    # isolated source still reported at dist 0; loop exits after round 2
    assert dist == {"z": 0, "a": 0, "b": 1}


def test_reachable_multi_source_elects_min(spark):
    e = _edges(spark, [("a", "m"), ("b", "m"), ("m", "t")])
    out = graph.reachable(e, _sources(spark, ["a", "b"]), max_hops=4)
    dist = {r["node"]: r["dist"] for r in out.collect()}
    assert dist == {"a": 0, "b": 0, "m": 1, "t": 2}


def test_reachable_cycle_terminates(spark):
    e = _edges(spark, [("a", "b"), ("b", "a")])
    out = graph.reachable(e, _sources(spark, ["a"]), max_hops=8)
    dist = {r["node"]: r["dist"] for r in out.collect()}
    assert dist == {"a": 0, "b": 1}


# --- type inference ---------------------------------------------------------
def test_infer_types_transitive_closure(spark):
    it = spark.createDataFrame(
        [("x", "exec_op"), ("y", "artifact")], "inst string, cls string"
    )
    sc = spark.createDataFrame(
        [("exec_op", "operation"), ("operation", "kg_term"), ("artifact", "kg_term")],
        "sub string, sup string",
    )
    out = graph.infer_types(it, sc)
    rows = {(r["inst"], r["cls"]): r["asserted"] for r in out.collect()}
    assert rows == {
        ("x", "exec_op"): True,
        ("x", "operation"): False,
        ("x", "kg_term"): False,
        ("y", "artifact"): True,
        ("y", "kg_term"): False,
    }


def test_infer_types_deep_chain_path_doubling(spark):
    # 9-level chain: needs 4 doubling rounds (1,2,4,8 -> 9 via union)
    sc = spark.createDataFrame(
        [(f"c{i}", f"c{i+1}") for i in range(9)], "sub string, sup string"
    )
    it = spark.createDataFrame([("x", "c0")], "inst string, cls string")
    out = graph.infer_types(it, sc, max_depth=16)
    inferred = {r["cls"] for r in out.filter(~F.col("asserted")).collect()}
    assert inferred == {f"c{i}" for i in range(1, 10)}


def test_infer_types_does_not_duplicate_asserted(spark):
    # asserted type that is ALSO entailed stays a single asserted row
    it = spark.createDataFrame(
        [("x", "exec_op"), ("x", "operation")], "inst string, cls string"
    )
    sc = spark.createDataFrame(
        [("exec_op", "operation")], "sub string, sup string"
    )
    out = graph.infer_types(it, sc)
    rows = [(r["inst"], r["cls"], r["asserted"]) for r in out.collect()]
    assert sorted(rows) == [("x", "exec_op", True), ("x", "operation", True)]


# --- N-Triples --------------------------------------------------------------
def test_ntriples_escape_chain(spark):
    t = _triples(spark, [("s1", "p", 'a"b\\c\nd\te\rf')])
    line = export.to_ntriples(t).collect()[0]["ntriple"]
    assert line == '<urn:kg:s1> <urn:kg:p> "a\\"b\\\\c\\nd\\te\\rf" .'


def test_ntriples_plain_row_shape(spark):
    t = _triples(spark, [("doc/1@HEAD", "engine", "spark")])
    line = export.to_ntriples(t).collect()[0]["ntriple"]
    assert line == '<urn:kg:doc/1@HEAD> <urn:kg:engine> "spark" .'


# --- label propagation -------------------------------------------------------
def test_lpa_two_triangles_two_communities(spark):
    e = _edges(
        spark,
        [("1", "2"), ("2", "3"), ("1", "3"), ("a", "b"), ("b", "c"), ("a", "c")],
    )
    out = graph.label_propagation(e, iterations=3)
    lab = {r["node"]: r["label"] for r in out.collect()}
    assert lab == {"1": "1", "2": "1", "3": "1", "a": "a", "b": "a", "c": "a"}


def test_lpa_deterministic_tie_break_min_label(spark):
    # star: center x with leaves l1, l2 — each leaf sees only x, x sees
    # a tie between the leaf labels and must elect the min
    e = _edges(spark, [("x", "l1"), ("x", "l2")])
    out = graph.label_propagation(e, iterations=1)
    lab = {r["node"]: r["label"] for r in out.collect()}
    assert lab == {"x": "l1", "l1": "x", "l2": "x"}


def test_lpa_dedups_parallel_and_reverse_edges(spark):
    # the duplicate/reverse edges must NOT double the neighbor count
    # (else 'm' would elect 'a' over the 2-vote majority 'z')
    e = _edges(
        spark,
        [("m", "a"), ("m", "a"), ("a", "m"), ("m", "z1"), ("m", "z2"),
         ("z1", "z"), ("z2", "z")],
    )
    out = graph.label_propagation(e, iterations=2)
    lab = {r["node"]: r["label"] for r in out.collect()}
    # round 1: z1, z2 both elect min(m, z) = m?  no: z1 sees {m, z} tie
    # -> min label 'm'; m sees {a, z1, z2} all cnt 1 -> 'a'
    # round 2: m sees labels {m(from a? a saw only m -> 'm'), 'm', 'm'}
    assert lab["m"] == "m"


# --- triple diff -------------------------------------------------------------
def test_triple_diff_added_removed(spark):
    from gliner_transbronchialbiopsy_spark.operators import kgvalidate

    old = _triples(spark, [("s1", "p", "a"), ("s2", "p", "b")])
    new = _triples(spark, [("s1", "p", "a"), ("s3", "p", "c")])
    out = kgvalidate.triple_diff(old, new)
    rows = {(r["subj"], r["change"]) for r in out.collect()}
    assert rows == {("s3", "added"), ("s2", "removed")}


def test_triple_diff_set_semantics(spark):
    from gliner_transbronchialbiopsy_spark.operators import kgvalidate

    old = _triples(spark, [("s1", "p", "a")] * 3)
    new = _triples(spark, [("s1", "p", "a"), ("s1", "p", "a"), ("s2", "p", "b")])
    out = kgvalidate.triple_diff(old, new)
    rows = [(r["subj"], r["change"]) for r in out.collect()]
    assert rows == [("s2", "added")]


def test_triple_diff_identical_snapshots_empty(spark):
    from gliner_transbronchialbiopsy_spark.operators import kgvalidate

    t = _triples(spark, [("s1", "p", "a"), ("s2", "q", "b")])
    assert kgvalidate.triple_diff(t, t).count() == 0


# --- OPTIONAL patterns -------------------------------------------------------
def test_bgp_optional_keeps_unmatched_with_null(spark):
    t = _triples(
        spark,
        [
            ("d1", "engine", "vector"),
            ("d1", "exec_op", "join"),
            ("d2", "engine", "vector"),  # no exec_op -> NULL op
        ],
    )
    out = bgp.bgp_match(
        t, [("?doc", "engine", "vector")], optional=[("?doc", "exec_op", "?op")]
    )
    rows = {(r["doc"], r["op"]) for r in out.collect()}
    assert rows == {("d1", "join"), ("d2", None)}


def test_bgp_optional_disconnected_raises(spark):
    t = _triples(spark, [("d1", "p", "x")])
    with pytest.raises(ValueError, match="OPTIONAL"):
        bgp.bgp_match(t, [("?a", "p", "?b")], optional=[("?c", "q", "?d")])


def test_bgp_optional_chains_on_optional_var(spark):
    t = _triples(
        spark,
        [
            ("d1", "engine", "vector"),
            ("d1", "exec_op", "join"),
            ("join", "data_noun", "table"),
        ],
    )
    out = bgp.bgp_match(
        t,
        [("?doc", "engine", "vector")],
        optional=[("?doc", "exec_op", "?op"), ("?op", "data_noun", "?n")],
    )
    rows = {(r["doc"], r["op"], r["n"]) for r in out.collect()}
    assert rows == {("d1", "join", "table")}


# --- FILTER / VALUES / UNION -------------------------------------------------
def test_bgp_filter_drops_nonmatching_and_null(spark):
    """FILTER is group-scoped: it sees OPTIONAL columns, and a NULL
    (unbound) comparison is dropped — SPARQL's error-is-false."""
    t = _triples(
        spark,
        [
            ("d1", "engine", "vector"),
            ("d1", "exec_op", "join"),
            ("d2", "engine", "vector"),  # no exec_op -> NULL op
        ],
    )
    out = bgp.bgp_match(
        t,
        [("?doc", "engine", "vector")],
        optional=[("?doc", "exec_op", "?op")],
        filters=["op = 'join'"],
    )
    assert {(r["doc"], r["op"]) for r in out.collect()} == {("d1", "join")}


def test_bgp_values_restricts_and_extends(spark):
    """VALUES joins on the shared var and appends fresh columns."""
    t = _triples(
        spark,
        [("d1", "engine", "spark"), ("d2", "engine", "hash"),
         ("d3", "engine", "group")],
    )
    out = bgp.bgp_match(
        t,
        [("?doc", "engine", "?e")],
        values=(["e", "family"], [("spark", "jvm"), ("hash", "algo")]),
    )
    rows = {(r["doc"], r["e"], r["family"]) for r in out.collect()}
    assert rows == {("d1", "spark", "jvm"), ("d2", "hash", "algo")}


def test_bgp_values_disconnected_raises(spark):
    t = _triples(spark, [("d1", "engine", "spark")])
    with pytest.raises(ValueError, match="VALUES"):
        bgp.bgp_match(
            t, [("?doc", "engine", "?e")],
            values=(["zzz"], [("x",)]),
        )
    # an all-UNDEF row binds nothing: solutions pass through once
    got = bgp.bgp_match(
        t, [("?doc", "engine", "?e")],
        values=(["e"], [(None,)]),
    )
    assert [tuple(r) for r in got.collect()] == [("d1", "spark")]


def test_bgp_union_bag_semantics_and_null_padding(spark):
    """A binding produced by both branches appears twice (multiset
    UNION of set-semantic branches); a variable bound by only one
    branch is NULL in the other's rows."""
    t = _triples(
        spark,
        [
            ("d1", "engine", "spark"),
            ("d1", "exec_op", "spark"),   # same (doc, term) via branch 2
            ("d2", "exec_op", "scan"),
            ("d2", "data_noun", "table"),
        ],
    )
    out = bgp.bgp_union(
        t,
        [
            [("?doc", "engine", "?term")],
            [("?doc", "exec_op", "?term"), ("?doc", "data_noun", "?n")],
        ],
    )
    rows = sorted(
        (r["doc"], r["term"], r["n"]) for r in out.collect()
    )
    assert rows == [("d1", "spark", None), ("d2", "scan", "table")]
    # duplicate across branches WITHOUT the second branch's extra
    # pattern: d1/spark appears twice
    out2 = bgp.bgp_union(
        t,
        [[("?doc", "engine", "?term")], [("?doc", "exec_op", "?term")]],
    )
    assert out2.filter("doc = 'd1'").count() == 2


def test_bgp_minus_removes_compatible_solutions(spark):
    t = _triples(
        spark,
        [
            ("d1", "engine", "spark"), ("d1", "exec_op", "join"),
            ("d2", "engine", "hash"),
            ("d3", "engine", "spark"), ("d3", "exec_op", "scan"),
        ],
    )
    out = bgp.bgp_match(
        t,
        [("?doc", "engine", "?e")],
        minus=[[("?doc", "exec_op", "join")]],
    )
    assert {(r["doc"], r["e"]) for r in out.collect()} == {
        ("d2", "hash"), ("d3", "spark")
    }


def test_bgp_minus_disjoint_domain_keeps_all(spark):
    t = _triples(spark, [("d1", "engine", "spark"), ("x", "q", "y")])
    out = bgp.bgp_match(
        t,
        [("?doc", "engine", "?e")],
        minus=[[("?a", "q", "?b")]],  # no shared var -> removes nothing
    )
    assert out.count() == 1


def test_bgp_minus_null_optional_kept(spark):
    """Documented divergence: a NULL shared var never anti-matches."""
    t = _triples(
        spark,
        [("d1", "engine", "spark"), ("d1", "exec_op", "join"),
         ("d2", "engine", "hash"), ("join", "data_noun", "table")],
    )
    out = bgp.bgp_match(
        t,
        [("?doc", "engine", "?e")],
        optional=[("?doc", "exec_op", "?op")],
        minus=[[("?op", "data_noun", "?n")]],
    )
    rows = {(r["doc"], r["op"]) for r in out.collect()}
    # d1's op=join anti-matches; d2's op is NULL -> kept
    assert rows == {("d2", None)}


def test_bgp_union_group_scoped_filter_values(spark):
    """filters/values run once, after the union — not per branch."""
    t = _triples(
        spark,
        [("d1", "engine", "spark"), ("d2", "exec_op", "scan"),
         ("d3", "exec_op", "join")],
    )
    out = bgp.bgp_union(
        t,
        [[("?doc", "engine", "?term")], [("?doc", "exec_op", "?term")]],
        values=(["term", "family"],
                [("spark", "eng"), ("scan", "op"), ("join", "op")]),
        filters=["term <> 'join'"],
    )
    rows = {(r["doc"], r["term"], r["family"]) for r in out.collect()}
    assert rows == {("d1", "spark", "eng"), ("d2", "scan", "op")}


# --- negative sampling -------------------------------------------------------
def test_negative_samples_never_equal_positive_and_deterministic(spark):
    from gliner_transbronchialbiopsy_spark.operators import negsample

    t = _triples(
        spark,
        [(f"d{i}", "p", o) for i, o in enumerate(["a", "b", "c", "a", "b"])],
    )
    for portable in (False, True):
        out1 = negsample.negative_samples(t, k=3, portable_hash=portable)
        rows1 = sorted(tuple(r) for r in out1.collect())
        rows2 = sorted(
            tuple(r)
            for r in negsample.negative_samples(
                t, k=3, portable_hash=portable
            ).collect()
        )
        assert rows1 == rows2                      # deterministic
        assert len(rows1) == 5 * 3                 # k per distinct triple
        for _, pred, obj, _, neg in rows1:
            assert neg != obj and neg in {"a", "b", "c"}


def test_negative_samples_single_object_pred_drops(spark):
    from gliner_transbronchialbiopsy_spark.operators import negsample

    t = _triples(
        spark,
        [("d1", "only", "x"), ("d2", "only", "x"), ("d1", "multi", "a"),
         ("d2", "multi", "b")],
    )
    out = negsample.negative_samples(t, k=1)
    assert {r["pred"] for r in out.collect()} == {"multi"}


def test_negative_samples_k_validation(spark):
    from gliner_transbronchialbiopsy_spark.operators import negsample

    t = _triples(spark, [("d1", "p", "a")])
    with pytest.raises(ValueError, match="k must be"):
        negsample.negative_samples(t, k=0)


# --- random walks ------------------------------------------------------------
def test_random_walks_shape_and_determinism(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a"), ("b", "a")])
    for portable in (False, True):
        out1 = sorted(
            tuple(r)
            for r in graph.random_walks(
                e, walk_length=3, walks_per_node=2, portable_hash=portable
            ).collect()
        )
        out2 = sorted(
            tuple(r)
            for r in graph.random_walks(
                e, walk_length=3, walks_per_node=2, portable_hash=portable
            ).collect()
        )
        assert out1 == out2
        assert len(out1) == 3 * 2  # every node x walks_per_node
        for start, walk, path in out1:
            nodes = path.split(">")
            assert nodes[0] == start and len(nodes) == 4
            # every hop is a real edge
            edges = {("a", "b"), ("b", "c"), ("c", "a"), ("b", "a")}
            for u, v in zip(nodes, nodes[1:]):
                assert (u, v) in edges


def test_random_walks_dead_end_stops_early(spark):
    e = _edges(spark, [("a", "b"), ("b", "t")])  # t has no out-edges
    out = graph.random_walks(e, walk_length=5, walks_per_node=1)
    paths = {r["start"]: r["path"] for r in out.collect()}
    assert paths["a"] == "a>b>t"
    assert paths["b"] == "b>t"
    assert "t" not in paths  # t never appears in the edge-src node set


def test_random_walks_validation(spark):
    e = _edges(spark, [("a", "b")])
    with pytest.raises(ValueError, match="walk_length"):
        graph.random_walks(e, walk_length=0)


# --- property paths ----------------------------------------------------------
def test_path_pred_inv_seq_alt(spark):
    from gliner_transbronchialbiopsy_spark.operators import paths

    t = _triples(
        spark,
        [
            ("d1", "engine", "spark"),
            ("d2", "engine", "spark"),
            ("d2", "uses", "arrow"),
            ("d3", "uses", "arrow"),
        ],
    )
    # engine/^engine : doc -> engine surface -> docs sharing it
    spec = ("seq", ("pred", "engine"), ("inv", ("pred", "engine")))
    got = {
        (r["src"], r["dst"])
        for r in paths.path_edges(t, spec).collect()
    }
    assert got == {
        ("d1", "d1"), ("d1", "d2"), ("d2", "d1"), ("d2", "d2"),
    }
    # alt: engine|uses
    alt = paths.path_edges(t, ("alt", ("pred", "engine"), ("pred", "uses")))
    assert alt.count() == 4


def test_path_plus_closure_and_star(spark):
    from gliner_transbronchialbiopsy_spark.operators import paths

    t = _triples(
        spark,
        [("a", "sub", "b"), ("b", "sub", "c"), ("c", "sub", "d")],
    )
    plus = {
        (r["src"], r["dst"])
        for r in paths.path_edges(t, ("plus", ("pred", "sub"))).collect()
    }
    assert plus == {
        ("a", "b"), ("a", "c"), ("a", "d"),
        ("b", "c"), ("b", "d"), ("c", "d"),
    }
    star = {
        (r["src"], r["dst"])
        for r in paths.path_edges(
            t, ("opt", ("plus", ("pred", "sub")))
        ).collect()
    }
    # zero-length: every graph term relates to itself
    assert star == plus | {(x, x) for x in "abcd"}


def test_path_plus_converges_on_cycle(spark):
    from gliner_transbronchialbiopsy_spark.operators import paths

    t = _triples(spark, [("a", "p", "b"), ("b", "p", "a")])
    got = {
        (r["src"], r["dst"])
        for r in paths.path_edges(t, ("plus", ("pred", "p"))).collect()
    }
    assert got == {("a", "b"), ("b", "a"), ("a", "a"), ("b", "b")}


def test_path_closure_cap_raises_on_instance_scale(spark):
    from gliner_transbronchialbiopsy_spark.operators import paths

    t = _triples(spark, [(f"n{i}", "p", f"n{i+1}") for i in range(20)])
    with pytest.raises(ValueError, match="schema-sized"):
        paths.path_edges(t, ("plus", ("pred", "p")), max_closure_rows=5)


def test_path_spec_validation(spark):
    from gliner_transbronchialbiopsy_spark.operators import paths

    t = _triples(spark, [("a", "p", "b")])
    with pytest.raises(ValueError, match="non-empty tuple"):
        paths.path_edges(t, "p")
    with pytest.raises(ValueError, match="unknown path operator"):
        paths.path_edges(t, ("star", ("pred", "p")))
    with pytest.raises(ValueError, match=">=2 sub-paths"):
        paths.path_edges(t, ("seq", ("pred", "p")))


# --- domain/range inference --------------------------------------------------
def test_infer_domain_range_types_both_ends(spark):
    t = _triples(
        spark,
        [("d1", "engine", "spark"), ("d1", "uses", "arrow"),
         ("d2", "engine", "hash")],
    )
    rules = spark.createDataFrame(
        [("engine", "domain", "document"), ("engine", "range", "system")],
        "pred string, kind string, cls string",
    )
    got = {
        (r["inst"], r["cls"])
        for r in graph.infer_domain_range(t, rules).collect()
    }
    # 'uses' has no rule -> contributes nothing
    assert got == {
        ("d1", "document"), ("d2", "document"),
        ("spark", "system"), ("hash", "system"),
    }


def test_infer_domain_range_rejects_unknown_kind(spark):
    t = _triples(spark, [("d1", "engine", "spark")])
    rules = spark.createDataFrame(
        [("engine", "codomain", "x")], "pred string, kind string, cls string"
    )
    with pytest.raises(ValueError, match="unknown rule kind"):
        graph.infer_domain_range(t, rules)


def test_domain_range_composes_with_subclass_saturation(spark):
    t = _triples(spark, [("d1", "exec_op", "join")])
    rules = spark.createDataFrame(
        [("exec_op", "range", "operation")],
        "pred string, kind string, cls string",
    )
    memb = graph.infer_domain_range(t, rules)
    sc = spark.createDataFrame(
        [("operation", "kg_term")], "sub string, sup string"
    )
    full = {
        (r["inst"], r["cls"], r["asserted"])
        for r in graph.infer_types(memb, sc).collect()
    }
    assert full == {
        ("join", "operation", True),
        ("join", "kg_term", False),
    }


# --- link-prediction metrics -------------------------------------------------
def _cands(spark, rows):
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string, candidate string, "
              "is_pos boolean, score long"
    )


def test_linkpred_filtered_ranks_and_fixed_point_mrr(spark):
    from gliner_transbronchialbiopsy_spark.operators import kgeval

    rows = [
        # g1: neg ahead -> rank 2
        ("s1", "p", "o1", "o1", True, 10),
        ("s1", "p", "o1", "a", False, 20),
        ("s1", "p", "o1", "b", False, 5),
        # g2: positive on top -> rank 1
        ("s2", "p", "o2", "o2", True, 30),
        ("s2", "p", "o2", "a", False, 10),
        ("s2", "p", "o2", "b", False, 5),
        # g3: two positives, one neg between them (filtered: the other
        # positive never depresses the rank)
        ("s3", "p", "o3", "p1", True, 10),
        ("s3", "p", "o3", "p2", True, 8),
        ("s3", "p", "o3", "n", False, 9),
    ]
    out = kgeval.link_prediction_metrics(_cands(spark, rows)).collect()[0]
    assert out["n_pos"] == 4
    # rr: 1/2, 1, 1, 1/2 -> sum 3e9, mrr = 3e9 div 4
    assert out["mrr_fp"] == 750_000_000
    assert out["hits_1"] == 2
    assert out["hits_3"] == 4
    assert out["hits_10"] == 4


def test_linkpred_score_tie_breaks_on_candidate(spark):
    from gliner_transbronchialbiopsy_spark.operators import kgeval

    rows = [
        ("s", "p", "o", "b", True, 10),
        ("s", "p", "o", "a", False, 10),  # ties, 'a' < 'b' -> ahead
        ("s", "p", "o", "c", False, 10),  # ties, 'c' > 'b' -> behind
    ]
    out = kgeval.link_prediction_metrics(_cands(spark, rows)).collect()[0]
    assert out["n_pos"] == 1 and out["hits_1"] == 0 and out["hits_3"] == 1
    assert out["mrr_fp"] == 500_000_000  # rank 2


def test_linkpred_ks_validation(spark):
    from gliner_transbronchialbiopsy_spark.operators import kgeval

    with pytest.raises(ValueError, match="ks"):
        kgeval.link_prediction_metrics(_cands(spark, []), ks=(0,))


# --- weighted shortest paths -------------------------------------------------
def _wedges(spark, rows):
    return spark.createDataFrame(rows, "src string, dst string, w long")


def test_shortest_paths_prefers_cheaper_longer_route(spark):
    e = _wedges(spark, [("a", "b", 1), ("b", "c", 1), ("a", "c", 5)])
    out = graph.shortest_paths(e, _sources(spark, ["a"]), max_hops=2, weight="w")
    dist = {r["node"]: r["dist"] for r in out.collect()}
    assert dist == {"a": 0, "b": 1, "c": 2}
    # hop bound 1 can only take the direct edge
    out1 = graph.shortest_paths(e, _sources(spark, ["a"]), max_hops=1, weight="w")
    assert {r["node"]: r["dist"] for r in out1.collect()} == {
        "a": 0, "b": 1, "c": 5,
    }


def test_shortest_paths_unweighted_matches_bfs(spark):
    e = _wedges(spark, [("a", "b", 9), ("b", "c", 9), ("a", "c", 9)])
    out = graph.shortest_paths(e, _sources(spark, ["a"]), max_hops=3)
    assert {r["node"]: r["dist"] for r in out.collect()} == {
        "a": 0, "b": 1, "c": 1,
    }


def test_shortest_paths_negative_edges_hop_bounded(spark):
    # hop bound makes negative edges total: the a->b->a loop (-4) may
    # overtake the source's 0 exactly once within 2 hops
    e = _wedges(spark, [("a", "b", 1), ("b", "a", -5)])
    out = graph.shortest_paths(e, _sources(spark, ["a"]), max_hops=2, weight="w")
    assert {r["node"]: r["dist"] for r in out.collect()} == {"a": -4, "b": 1}


def test_shortest_paths_parallel_edges_take_min(spark):
    e = _wedges(spark, [("a", "b", 7), ("a", "b", 3)])
    out = graph.shortest_paths(e, _sources(spark, ["a"]), max_hops=1, weight="w")
    assert {r["node"]: r["dist"] for r in out.collect()} == {"a": 0, "b": 3}


def test_shortest_paths_validation(spark):
    e = _wedges(spark, [("a", "b", 1)])
    with pytest.raises(ValueError, match="max_hops"):
        graph.shortest_paths(e, _sources(spark, ["a"]), max_hops=-1)


# --- seeded property-path evaluation ------------------------------------------
def test_path_reachable_seq_inv_from_seed(spark):
    from gliner_transbronchialbiopsy_spark.operators import paths

    t = _triples(
        spark,
        [("d1", "engine", "spark"), ("d2", "engine", "spark"),
         ("d3", "engine", "hash"),
         ("d1", "exec_op", "join"), ("d2", "exec_op", "sort"),
         ("d3", "exec_op", "filter")],
    )
    seeds = _sources(spark, ["spark"])
    # ^engine/exec_op from the 'spark' surface: ops of spark docs
    out = paths.path_reachable(
        t, seeds, ("seq", ("inv", ("pred", "engine")), ("pred", "exec_op"))
    )
    assert {r["node"] for r in out.collect()} == {"join", "sort"}


def test_path_reachable_plus_and_star_on_chain_with_cycle(spark):
    from gliner_transbronchialbiopsy_spark.operators import paths

    t = _triples(
        spark,
        [("a", "p", "b"), ("b", "p", "c"), ("c", "p", "a")],
    )
    seeds = _sources(spark, ["a"])
    plus = paths.path_reachable(t, seeds, ("plus", ("pred", "p")))
    assert {r["node"] for r in plus.collect()} == {"a", "b", "c"}
    # the max_hops rail: a chain a -> ... -> f still grows after 2 rounds
    chain = _triples(spark, [(a, "p", b) for a, b in zip("abcde", "bcdef")])
    with pytest.raises(ValueError, match="still growing"):
        paths.path_reachable(chain, seeds, ("plus", ("pred", "p")), max_hops=2)
    # star keeps the seed even when it has no edges
    t2 = _triples(spark, [("x", "p", "y")])
    star = paths.path_reachable(
        t2, _sources(spark, ["z"]), ("opt", ("plus", ("pred", "p")))
    )
    assert {r["node"] for r in star.collect()} == {"z"}


def test_path_reachable_opt_is_zero_or_one(spark):
    from gliner_transbronchialbiopsy_spark.operators import paths

    t = _triples(spark, [("a", "p", "b"), ("b", "p", "c")])
    out = paths.path_reachable(t, _sources(spark, ["a"]), ("opt", ("pred", "p")))
    # NOT transitive: c requires two applications
    assert {r["node"] for r in out.collect()} == {"a", "b"}


def test_path_reachable_inverts_complex_paths(spark):
    from gliner_transbronchialbiopsy_spark.operators import paths

    t = _triples(spark, [("a", "p", "m"), ("m", "q", "z")])
    # ^(p/q) from z = ^q/^p -> {a}
    out = paths.path_reachable(
        t, _sources(spark, ["z"]),
        ("inv", ("seq", ("pred", "p"), ("pred", "q"))),
    )
    assert {r["node"] for r in out.collect()} == {"a"}


def test_path_reachable_agrees_with_path_edges_image(spark):
    from gliner_transbronchialbiopsy_spark.operators import paths

    t = _triples(
        spark,
        [("d1", "engine", "spark"), ("d1", "exec_op", "join"),
         ("spark", "a", "engine"), ("join", "a", "exec_op"),
         ("engine", "sub", "system"), ("exec_op", "sub", "operation"),
         ("system", "sub", "kg_term"), ("operation", "sub", "kg_term")],
    )
    spec = (
        "seq",
        ("alt", ("pred", "engine"), ("pred", "exec_op")),
        ("pred", "a"),
        ("opt", ("plus", ("pred", "sub"))),
    )
    seeds = _sources(spark, ["d1"])
    seeded = {r["node"] for r in paths.path_reachable(t, seeds, spec).collect()}
    full = {
        r["dst"]
        for r in paths.path_edges(t, spec).collect()
        if r["src"] == "d1"
    }
    assert seeded == full == {
        "engine", "exec_op", "system", "operation", "kg_term",
    }


# --- pairwise clustering evaluation ------------------------------------------
def test_clustering_metrics_exact_counts(spark):
    from gliner_transbronchialbiopsy_spark.operators import kgeval

    pred = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 2), ("d", 2), ("e", 3)],
        "node string, cluster long",
    )
    gold = spark.createDataFrame(
        [("a", 9), ("b", 9), ("c", 9), ("d", 8), ("e", 8)],
        "node string, cluster long",
    )
    r = kgeval.clustering_metrics(pred, gold).collect()[0]
    # pred pairs: {a,b},{c,d}; gold pairs: {a,b},{a,c},{b,c},{d,e};
    # agreed: {a,b}
    assert (r["n_items"], r["n_pred_pairs"], r["n_gold_pairs"], r["n_both"]) == (
        5, 2, 4, 1
    )
    assert r["precision_fp"] == 500_000_000
    assert r["recall_fp"] == 250_000_000
    assert r["f1_fp"] == (2 * 500_000_000 * 250_000_000) // 750_000_000


def test_clustering_metrics_perfect_and_empty(spark):
    from gliner_transbronchialbiopsy_spark.operators import kgeval

    pred = spark.createDataFrame(
        [("a", 1), ("b", 1)], "node string, cluster long"
    )
    r = kgeval.clustering_metrics(pred, pred).collect()[0]
    assert r["precision_fp"] == r["recall_fp"] == r["f1_fp"] == 10**9
    singletons = spark.createDataFrame(
        [("a", 1), ("b", 2)], "node string, cluster long"
    )
    r2 = kgeval.clustering_metrics(singletons, singletons).collect()[0]
    # no pairs anywhere: all ratios defined as 0
    assert (r2["n_pred_pairs"], r2["precision_fp"], r2["f1_fp"]) == (0, 0, 0)


def test_clustering_metrics_ignores_items_missing_from_gold(spark):
    from gliner_transbronchialbiopsy_spark.operators import kgeval

    pred = spark.createDataFrame(
        [("a", 1), ("b", 1), ("z", 1)], "node string, cluster long"
    )
    gold = spark.createDataFrame(
        [("a", 9), ("b", 9)], "node string, cluster long"
    )
    r = kgeval.clustering_metrics(pred, gold).collect()[0]
    # z drops out of the evaluated universe; {a,b} agreed
    assert (r["n_items"], r["n_pred_pairs"], r["n_both"]) == (2, 1, 1)


def test_hits_parity_and_determinism(spark):
    """graph.hits vs a pure-python restatement of the same integer
    recurrence on a seeded random digraph, plus exact equality at two
    parallelism levels (the fixed-point arithmetic is the determinism
    guarantee)."""
    import random

    from gliner_transbronchialbiopsy_spark.operators import graph as g

    rng = random.Random(77)
    nodes = [f"n{i}" for i in range(12)]
    edges = sorted({
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(40)
    })
    df = spark.createDataFrame(edges, "src string, dst string")

    def py_hits(es, k, scale=g.SCALE):
        ns = sorted({x for e in es for x in e})
        n = len(ns)
        hub = {x: scale // n for x in ns}
        auth = {}
        for _ in range(k):
            raw = {x: 0 for x in ns}
            for s, d in es:
                raw[d] += hub[s]
            tot = sum(raw.values())
            auth = {x: (raw[x] * scale) // tot if tot else 0 for x in ns}
            raw = {x: 0 for x in ns}
            for s, d in es:
                raw[s] += auth[d]
            tot = sum(raw.values())
            hub = {x: (raw[x] * scale) // tot if tot else 0 for x in ns}
        return {x: (hub[x], auth[x]) for x in ns}

    want = py_hits(edges, 3)
    got = {
        r["node"]: (r["hub_fp"], r["auth_fp"])
        for r in g.hits(df, iterations=3).collect()
    }
    assert got == want
    got1 = {
        r["node"]: (r["hub_fp"], r["auth_fp"])
        for r in g.hits(df.repartition(1), iterations=3).collect()
    }
    assert got1 == want
    # a pure source never accumulates authority; a pure sink no hub
    chain = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    rows = {r["node"]: r for r in g.hits(chain, iterations=2).collect()}
    assert rows["a"]["auth_fp"] == 0 and rows["c"]["hub_fp"] == 0

    import pytest as _pytest

    with _pytest.raises(ValueError, match="iterations"):
        g.hits(df, iterations=0)
