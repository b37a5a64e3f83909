"""KG query composer (operators/composer.py): one plan for BGP +
property paths + OPTIONAL/UNION/MINUS/FILTER/VALUES + aggregates,
checked for parity against the hand-wired per-operator compositions
it replaces (the round-4 verdict's top ask)."""

import pytest
from pyspark.sql import functions as F

from gliner_transbronchialbiopsy_spark.operators import bgp, composer, paths
from gliner_transbronchialbiopsy_spark.operators.composer import KGQuery, Path


def _triples(spark, rows):
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


@pytest.fixture(scope="module")
def kg(spark):
    """Small KG: docs mention engines/ops/nouns; surfaces have type
    links; a subclass lattice sits above the labels."""
    rows = []
    for d, eng, ops, nouns in [
        ("d1", "spark", ["join", "filter"], ["table"]),
        ("d2", "hash", ["join"], ["row"]),
        ("d3", "spark", ["sort"], ["table", "row"]),
        ("d4", "vector", ["join", "sort"], []),
        ("d5", "hash", ["filter"], ["column"]),
    ]:
        rows.append((d, "engine", eng))
        rows += [(d, "exec_op", o) for o in ops]
        rows += [(d, "data_noun", n) for n in nouns]
    surfaces = {(o, p) for _, p, o in rows}
    rows += [(s, "a", lbl) for s, lbl in surfaces]
    rows += [
        ("engine", "subclass_of", "system"),
        ("system", "subclass_of", "kg_term"),
        ("exec_op", "subclass_of", "operation"),
        ("operation", "subclass_of", "kg_term"),
        ("data_noun", "subclass_of", "artifact"),
        ("artifact", "subclass_of", "kg_term"),
    ]
    return rows


def _rowset(df):
    return sorted(tuple(r) for r in df.collect())


def test_pure_bgp_parity_with_bgp_match(spark, kg):
    t = _triples(spark, kg)
    pats = [("?doc", "engine", "?eng"), ("?doc", "exec_op", "join")]
    opt = [("?doc", "data_noun", "?noun")]
    minus = [[("?doc", "data_noun", "table")]]
    flt = ["eng <> 'vector'"]
    vals = (("eng",), (("spark",), ("hash",)))
    want = bgp.bgp_match(
        t, pats, optional=opt, minus=minus, filters=flt, values=vals
    )
    got = composer.compose(
        t,
        KGQuery(
            where=tuple(pats),
            optional=(tuple(opt),),
            minus=(tuple(minus[0]),),
            filters=tuple(flt),
            values=vals,
        ),
    )
    assert sorted(got.columns) == sorted(want.columns)
    cols = sorted(want.columns)
    assert _rowset(got.select(*cols)) == _rowset(want.select(*cols))


def test_path_atom_parity_with_hand_wired_join(spark, kg):
    """var-var path atom == bgp_match + path_edges + manual join (the
    glue every kg_* contract query used to write)."""
    t = _triples(spark, kg)
    spec = ("seq", ("pred", "a"), ("opt", ("plus", ("pred", "subclass_of"))))
    hand = (
        bgp.bgp_match(t, [("?doc", "engine", "?eng")])
        .join(
            paths.path_edges(t, spec).select(
                F.col("src").alias("eng"), F.col("dst").alias("cls")
            ),
            "eng",
        )
        .select("doc", "eng", "cls")
    )
    got = composer.compose(
        t,
        KGQuery(
            where=(
                ("?doc", "engine", "?eng"),
                Path("?eng", spec, "?cls"),
            ),
            select=("doc", "eng", "cls"),
        ),
    )
    assert _rowset(got) == _rowset(hand.distinct())


def test_ground_src_path_routes_seeded_plan(spark, kg):
    """A path atom with a ground src must evaluate via the seeded
    image plan: with a tiny closure cap the var-var form raises (it
    materializes the closure) while the seeded form still answers."""
    t = _triples(spark, kg)
    spec = ("plus", ("pred", "subclass_of"))
    with pytest.raises(ValueError, match="closure"):
        composer.compose(
            t,
            KGQuery(where=(Path("?x", spec, "?y"),)),
            max_closure_rows=2,
        ).collect()
    got = composer.compose(
        t,
        KGQuery(where=(Path("engine", spec, "?y"),)),
        max_closure_rows=2,
    )
    assert _rowset(got) == [("kg_term",), ("system",)]
    # ground dst: inverted seeded evaluation
    got2 = composer.compose(
        t,
        KGQuery(where=(Path("?x", spec, "kg_term"),)),
        max_closure_rows=2,
    )
    assert _rowset(got2) == [
        ("artifact",), ("data_noun",), ("engine",),
        ("exec_op",), ("operation",), ("system",),
    ]


def test_fully_ground_path_is_existence_gate(spark, kg):
    t = _triples(spark, kg)
    hit = composer.compose(
        t,
        KGQuery(
            where=(
                ("?doc", "engine", "?eng"),
                Path("engine", ("plus", ("pred", "subclass_of")), "kg_term"),
            )
        ),
    )
    miss = composer.compose(
        t,
        KGQuery(
            where=(
                ("?doc", "engine", "?eng"),
                Path("kg_term", ("plus", ("pred", "subclass_of")), "engine"),
            )
        ),
    )
    assert hit.count() == 5
    assert miss.count() == 0


def test_union_branches_join_where_block(spark, kg):
    """{ ?doc engine ?eng } . { {?doc exec_op join} UNION {?doc
    exec_op sort} } — branch solutions bag-union, then join the
    required block on ?doc."""
    t = _triples(spark, kg)
    got = composer.compose(
        t,
        KGQuery(
            where=(("?doc", "engine", "?eng"),),
            union=(
                (("?doc", "exec_op", "join"),),
                (("?doc", "exec_op", "sort"),),
            ),
        ),
    )
    # d1(join), d2(join), d3(sort), d4(join AND sort -> two rows, bag)
    rows = sorted((r["doc"], r["eng"]) for r in got.collect())
    assert rows == [
        ("d1", "spark"), ("d2", "hash"), ("d3", "spark"),
        ("d4", "vector"), ("d4", "vector"),
    ]


def _match(rows, pattern):
    """Plain-Python set-semantic match of one pattern over tuples ->
    distinct binding dicts."""
    out = []
    for row in rows:
        b = {}
        if all(
            (b.setdefault(term[1:], val) == val) if term.startswith("?")
            else term == val
            for term, val in zip(pattern, row)
        ) and b not in out:
            out.append(b)
    return out


def _join(left, right):
    """Plain-Python natural join of two bags of binding dicts (a cross
    product when they share no variable)."""
    return [
        {**a, **b} for a in left for b in right
        if all(a[k] == b[k] for k in a.keys() & b.keys())
    ]


def _quads(kg):
    # one named graph per document: its assertions
    return [(f"g_{s}", s, p, o) for s, p, o in kg if s.startswith("d")]


def _case_union_cartesian(kg):
    q = KGQuery(
        where=(("?doc", "engine", "?eng"),),
        union=(
            (("?x", "subclass_of", "kg_term"),),
            (("?x", "subclass_of", "operation"),),
        ),
    )
    branches = _match(kg, ("?x", "subclass_of", "kg_term")) + _match(
        kg, ("?x", "subclass_of", "operation")
    )
    return q, True, _join(_match(kg, ("?doc", "engine", "?eng")), branches)


def _case_subquery_links_union(kg):
    # the UNION binds only ?op; the later subquery projects (eng, op)
    # and connects it to the where block
    sub = KGQuery(
        where=(("?d", "engine", "?eng"), ("?d", "exec_op", "?op")),
        select=("eng", "op"),
        distinct=True,
    )
    q = KGQuery(
        where=(("?doc", "engine", "?eng"),),
        union=((("?op", "a", "exec_op"),), (("?op", "a", "data_noun"),)),
        subqueries=(sub,),
    )
    docs = _join(
        _match(kg, ("?d", "engine", "?eng")),
        _match(kg, ("?d", "exec_op", "?op")),
    )
    pairs = []
    for b in docs:
        if {"eng": b["eng"], "op": b["op"]} not in pairs:
            pairs.append({"eng": b["eng"], "op": b["op"]})
    ops = _match(kg, ("?op", "a", "exec_op")) + _match(
        kg, ("?op", "a", "data_noun")
    )
    engines = _match(kg, ("?doc", "engine", "?eng"))
    return q, False, _join(_join(engines, ops), pairs)


def _case_ground_where_gates_graph(gate):
    def case(kg):
        q = KGQuery(
            where=(gate,),
            graphs=(("?g", (("?d", "engine", "?e"),)),),
        )
        want = (
            _match(_quads(kg), ("?g", "?d", "engine", "?e"))
            if gate in kg else []
        )
        return q, False, want
    return case


@pytest.mark.parametrize(
    "case",
    [
        _case_union_cartesian,
        _case_subquery_links_union,
        _case_ground_where_gates_graph(("d1", "engine", "spark")),
        _case_ground_where_gates_graph(("d1", "engine", "hash")),
    ],
    ids=["union-cartesian", "subquery-links-union", "ground-gate-hit",
         "ground-gate-miss"],
)
def test_required_blocks_form_one_join_step(spark, kg, case):
    """where, GRAPH, UNION and subquery blocks join in one planner
    step: out of written order when a later block connects them, as a
    cross product with allow_cartesian, and with a variable-free
    where as an existence gate."""
    q, allow_cartesian, want = case(kg)
    quads = spark.createDataFrame(
        _quads(kg), "g string, subj string, pred string, obj string"
    )
    got = composer.compose(
        _triples(spark, kg), q, allow_cartesian=allow_cartesian, quads=quads
    )
    cols = sorted(got.columns)
    if want:
        assert cols == sorted(want[0])
    assert sorted(tuple(r[c] for c in cols) for r in got.collect()) == sorted(
        tuple(b[c] for c in cols) for b in want
    )


def test_aggregates_match_manual_groupby(spark, kg):
    t = _triples(spark, kg)
    base = bgp.bgp_match(
        t,
        [("?doc", "engine", "?eng")],
        optional=[("?doc", "data_noun", "?noun")],
    )
    want = base.groupBy("eng").agg(
        F.expr("count(*)").alias("n_bindings"),
        F.expr("count(DISTINCT doc)").alias("n_docs"),
        F.expr("count(noun)").alias("n_noun_bindings"),
    )
    got = composer.compose(
        t,
        KGQuery(
            where=(("?doc", "engine", "?eng"),),
            optional=((("?doc", "data_noun", "?noun"),),),
            group_by=("eng",),
            aggs=(
                ("count(*)", "n_bindings"),
                ("count(DISTINCT doc)", "n_docs"),
                ("count(noun)", "n_noun_bindings"),
            ),
        ),
    )
    assert _rowset(got) == _rowset(want)


def test_global_aggregate_without_group_by(spark, kg):
    t = _triples(spark, kg)
    got = composer.compose(
        t,
        KGQuery(
            where=(("?doc", "engine", "?eng"),),
            aggs=(("count(DISTINCT eng)", "n_engines"),),
        ),
    )
    assert got.collect()[0]["n_engines"] == 3


def test_select_distinct_order_limit(spark, kg):
    t = _triples(spark, kg)
    got = composer.compose(
        t,
        KGQuery(
            where=(("?doc", "exec_op", "?op"),),
            select=("op",),
            distinct=True,
            order_by=(("op", "desc"),),
            limit=2,
        ),
    )
    assert [r["op"] for r in got.collect()] == ["sort", "join"]


def test_optional_group_with_path_atom(spark, kg):
    """OPTIONAL groups accept path atoms too: entailed classes of the
    optional noun, NULL where the doc has no noun."""
    t = _triples(spark, kg)
    spec = ("seq", ("pred", "a"), ("pred", "subclass_of"))
    got = composer.compose(
        t,
        KGQuery(
            where=(("?doc", "engine", "?eng"),),
            optional=(
                (("?doc", "data_noun", "?noun"), Path("?noun", spec, "?ncls")),
            ),
        ),
    )
    by_doc = {}
    for r in got.collect():
        by_doc.setdefault(r["doc"], set()).add((r["noun"], r["ncls"]))
    assert by_doc["d4"] == {(None, None)}
    assert by_doc["d2"] == {("row", "artifact")}


def test_error_cases(spark, kg):
    t = _triples(spark, kg)
    with pytest.raises(ValueError, match="where block"):
        composer.compose(t, KGQuery())
    with pytest.raises(ValueError, match="disconnected"):
        composer.compose(
            t,
            KGQuery(where=(("?a", "engine", "?b"), ("?c", "exec_op", "?d"))),
        )
    with pytest.raises(ValueError, match="OPTIONAL"):
        composer.compose(
            t,
            KGQuery(
                where=(("?doc", "engine", "?eng"),),
                optional=((("?x", "exec_op", "?y"),),),
            ),
        )
    with pytest.raises(ValueError, match="disconnected"):
        composer.compose(
            t,
            KGQuery(
                where=(("?doc", "engine", "?eng"),),
                union=((("?x", "exec_op", "?y"),),),
            ),
        )
    with pytest.raises(ValueError, match="agg"):
        composer.compose(
            t,
            KGQuery(where=(("?doc", "engine", "?eng"),), group_by=("eng",)),
        )


def test_minus_disjoint_domain_removes_nothing(spark, kg):
    t = _triples(spark, kg)
    got = composer.compose(
        t,
        KGQuery(
            where=(("?doc", "engine", "?eng"),),
            minus=((("?x", "exec_op", "join"),),),
        ),
    )
    assert got.count() == 5


def test_compose_construct_skips_unbound_template_slots(spark, kg):
    """CONSTRUCT incomplete-triple rule: a head referencing an
    OPTIONAL variable fires only for solutions that bound it; other
    heads still fire for every solution."""
    t = _triples(spark, kg)
    out = composer.compose_construct(
        t,
        KGQuery(
            where=(("?doc", "engine", "?eng"),),
            optional=((("?doc", "data_noun", "?noun"),),),
        ),
        heads=(
            ("?eng", "used_with", "?noun"),
            ("?eng", "a", "engine_surface"),
        ),
    )
    got = _rowset(out)
    # d4 (vector) has no noun: no used_with row, but the type row fires
    assert ("vector", "a", "engine_surface") in got
    assert not any(s == "vector" and p == "used_with" for s, p, _ in got)
    assert ("spark", "used_with", "table") in got
    assert ("hash", "used_with", "row") in got


def test_compose_construct_parity_with_rules_construct(spark, kg):
    """A plain-BGP body must reproduce rules.construct exactly."""
    from gliner_transbronchialbiopsy_spark.operators import rules

    t = _triples(spark, kg)
    body = [("?d", "engine", "?e"), ("?d", "exec_op", "?op")]
    heads = [("?e", "runs", "?op")]
    want = _rowset(rules.construct(t, body, heads))
    got = _rowset(
        composer.compose_construct(t, KGQuery(where=tuple(body)), heads=heads)
    )
    assert got == want


def test_compose_construct_validation(spark, kg):
    t = _triples(spark, kg)
    with pytest.raises(ValueError, match="raw solutions"):
        composer.compose_construct(
            t,
            KGQuery(where=(("?d", "engine", "?e"),), limit=5),
            heads=(("?e", "a", "x"),),
        )
    with pytest.raises(ValueError, match="not bound"):
        composer.compose_construct(
            t,
            KGQuery(where=(("?d", "engine", "?e"),),),
            heads=(("?e", "runs", "?missing"),),
        )
