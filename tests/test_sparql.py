"""SPARQL text front-end (operators/sparql.py): the parser maps the
supported SPARQL 1.1 subset onto composer.KGQuery, so every test is
either (a) an AST-shape check or (b) an execution-parity check
against the hand-built KGQuery the text should compile to — the
execution semantics themselves are the composer's, already covered
by tests/test_composer.py."""

import pytest

from gliner_transbronchialbiopsy_spark.operators import composer, sparql
from gliner_transbronchialbiopsy_spark.operators.composer import KGQuery, Path
from gliner_transbronchialbiopsy_spark.operators.sparql import (
    SparqlSyntaxError,
    parse,
)


def _triples(spark, rows):
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


@pytest.fixture(scope="module")
def kg(spark):
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


# ---------------------------------------------------------------- AST


def test_parse_bgp_modifiers_ast():
    pq = parse(
        """
        SELECT DISTINCT ?doc ?eng WHERE {
          ?doc engine ?eng .
          ?doc exec_op "join" .
          OPTIONAL { ?doc data_noun ?n }
          MINUS { ?doc data_noun table }
          FILTER (?eng != "vector" && strlen(?eng) > 3)
          VALUES ?eng { spark hash }
        }
        ORDER BY ?doc DESC(?eng) LIMIT 7
        """
    )
    assert pq.form == "select"
    q = pq.query
    assert q.where == (("?doc", "engine", "?eng"), ("?doc", "exec_op", "join"))
    assert q.optional == ((("?doc", "data_noun", "?n"),),)
    assert q.minus == ((("?doc", "data_noun", "table"),),)
    assert q.filters == ("eng != 'vector' AND length ( eng ) > 3",)
    assert q.values == (("eng",), (("spark",), ("hash",)))
    assert q.select == ("doc", "eng")
    assert q.distinct is True
    assert q.order_by == (("doc", "asc"), ("eng", "desc"))
    assert q.limit == 7


def test_parse_path_ast_and_semicolon_lists():
    pq = parse(
        "SELECT * WHERE { ?d (engine|exec_op)/a/subclass_of+ ?c ; "
        "engine ?e , ?e2 . }"
    )
    q = pq.query
    assert q.where[0] == Path(
        "?d",
        (
            "seq",
            ("alt", ("pred", "engine"), ("pred", "exec_op")),
            ("pred", "a"),
            ("plus", ("pred", "subclass_of")),
        ),
        "?c",
    )
    # ';' reuses the subject, ',' reuses subject+predicate
    assert q.where[1] == ("?d", "engine", "?e")
    assert q.where[2] == ("?d", "engine", "?e2")
    assert q.select is None


def test_parse_star_inverse_ground_path():
    pq = parse('SELECT ?x WHERE { ?x ^(subclass_of*) "kg_term" . }')
    assert pq.query.where == (
        Path("?x", ("inv", ("opt", ("plus", ("pred", "subclass_of")))),
             "kg_term"),
    )


def test_parse_union_values_tuple_aggs():
    pq = parse(
        """
        SELECT ?eng (count(DISTINCT ?doc) AS ?n) WHERE {
          { ?doc engine ?eng } UNION { ?doc exec_op ?eng }
          VALUES (?doc ?eng) { (d1 spark) (d2 join) }
        }
        GROUP BY ?eng
        """
    )
    q = pq.query
    assert q.where == ()
    assert q.union == (
        (("?doc", "engine", "?eng"),),
        (("?doc", "exec_op", "?eng"),),
    )
    assert q.values == (("doc", "eng"), (("d1", "spark"), ("d2", "join")))
    assert q.group_by == ("eng",)
    assert q.aggs == (("count ( DISTINCT doc )", "n"),)
    assert q.select == ("eng", "n")


def test_parse_construct_ast():
    pq = parse(
        "CONSTRUCT { ?d has_system ?e . ?e part_of kb } "
        "WHERE { ?d engine ?e . FILTER(?e = \"spark\") }"
    )
    assert pq.form == "construct"
    assert pq.heads == (
        ("?d", "has_system", "?e"),
        ("?e", "part_of", "kb"),
    )
    assert pq.query.filters == ("e = 'spark'",)


@pytest.mark.parametrize(
    "text, msg",
    [
        ("PREFIX x: <http://x> SELECT ?a WHERE { ?a b ?c }", "subset"),
        ("SELECT ?a WHERE { ?a ?p ?c }", "variable predicate"),
        ("SELECT ?a WHERE { ?a b ?c } trailing", "trailing input"),
        (
            "SELECT ?a WHERE { ?a b ?c VALUES (?a ?c) { (x) } }",
            "arity",
        ),
        ("SELECT (count(*) AS ?n) ?a WHERE { ?a b ?c }", "GROUP BY"),
        ("SELECT ?a WHERE { }", "binds no patterns"),
        ("CONSTRUCT { ?a b+ ?c } WHERE { ?a b ?c }", "CONSTRUCT templates"),
    ],
)
def test_parse_errors(text, msg):
    with pytest.raises(SparqlSyntaxError, match=msg):
        parse(text)


# ------------------------------------------------------------- parity


def test_exec_parity_bgp_modifiers(spark, kg):
    t = _triples(spark, kg)
    got = sparql.sparql(
        t,
        """
        SELECT DISTINCT ?doc ?eng WHERE {
          ?doc engine ?eng . ?doc exec_op join .
          OPTIONAL { ?doc data_noun ?noun }
          MINUS { ?doc data_noun table }
          FILTER (?eng != "vector")
          VALUES ?eng { spark hash }
        }
        """,
    )
    want = composer.compose(
        t,
        KGQuery(
            where=(("?doc", "engine", "?eng"), ("?doc", "exec_op", "join")),
            optional=((("?doc", "data_noun", "?noun"),),),
            minus=((("?doc", "data_noun", "table"),),),
            filters=("eng != 'vector'",),
            values=(("eng",), (("spark",), ("hash",))),
            select=("doc", "eng"),
            distinct=True,
        ),
    )
    assert got.columns == want.columns
    assert _rowset(got) == _rowset(want)
    assert _rowset(got)  # non-vacuous


def test_exec_parity_path_union_agg(spark, kg):
    t = _triples(spark, kg)
    got = sparql.sparql(
        t,
        """
        SELECT ?cls (count(DISTINCT ?doc) AS ?n_docs) WHERE {
          { ?doc engine ?s } UNION { ?doc exec_op ?s }
          ?s a/subclass_of+ ?cls .
        }
        GROUP BY ?cls
        ORDER BY DESC(?n_docs) ?cls
        """,
    )
    want = composer.compose(
        t,
        KGQuery(
            where=(
                Path(
                    "?s",
                    ("seq", ("pred", "a"), ("plus", ("pred", "subclass_of"))),
                    "?cls",
                ),
            ),
            union=(
                (("?doc", "engine", "?s"),),
                (("?doc", "exec_op", "?s"),),
            ),
            group_by=("cls",),
            aggs=(("count(DISTINCT doc)", "n_docs"),),
            select=("cls", "n_docs"),
            order_by=(("n_docs", "desc"), ("cls", "asc")),
        ),
    )
    assert got.columns == ["cls", "n_docs"]
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in want.collect()
    ]
    assert got.count() > 0


def test_exec_parity_ground_path_limit(spark, kg):
    t = _triples(spark, kg)
    got = sparql.sparql(
        t,
        'SELECT ?x WHERE { ?x a/subclass_of* "kg_term" . } '
        "ORDER BY ?x LIMIT 3",
    )
    want = composer.compose(
        t,
        KGQuery(
            where=(
                Path(
                    "?x",
                    (
                        "seq",
                        ("pred", "a"),
                        ("opt", ("plus", ("pred", "subclass_of"))),
                    ),
                    "kg_term",
                ),
            ),
            select=("x",),
            order_by=(("x", "asc"),),
            limit=3,
        ),
    )
    assert _rowset(got) == _rowset(want)
    assert got.count() == 3


def test_exec_parity_construct(spark, kg):
    t = _triples(spark, kg)
    got = sparql.sparql(
        t,
        "CONSTRUCT { ?doc has_system ?eng . ?eng part_of kb } "
        "WHERE { ?doc engine ?eng . MINUS { ?doc exec_op sort } }",
    )
    want = composer.compose_construct(
        t,
        KGQuery(
            where=(("?doc", "engine", "?eng"),),
            minus=((("?doc", "exec_op", "sort"),),),
        ),
        heads=(("?doc", "has_system", "?eng"), ("?eng", "part_of", "kb")),
    )
    assert got.columns == ["subj", "pred", "obj"]
    assert _rowset(got) == _rowset(want)
    assert _rowset(got)


def test_pure_aggregate_no_group(spark, kg):
    t = _triples(spark, kg)
    got = sparql.sparql(
        t,
        "SELECT (count(*) AS ?n) WHERE { ?d engine ?e . }",
    )
    assert [tuple(r) for r in got.collect()] == [(5,)]


# ----------------------------------------------------------------- ASK


def test_parse_ask_ast():
    for text in ("ASK { ?d engine ?e }", "ASK WHERE { ?d engine ?e }"):
        pq = parse(text)
        assert pq.form == "ask"
        assert pq.query == KGQuery(
            where=(("?d", "engine", "?e"),), select=None, limit=1
        )


def test_exec_ask_true_false(spark, kg):
    t = _triples(spark, kg)
    yes = sparql.sparql(
        t,
        'ASK { ?d engine ?e . ?d exec_op "join" FILTER (?e = "spark") }',
    )
    assert [r["ask"] for r in yes.collect()] == [True]
    no = sparql.sparql(t, 'ASK WHERE { ?d engine "duck" }')
    assert [r["ask"] for r in no.collect()] == [False]


def test_exec_ask_with_path(spark, kg):
    t = _triples(spark, kg)
    got = sparql.sparql(t, 'ASK { ?s a/subclass_of+ "kg_term" }')
    assert [r["ask"] for r in got.collect()] == [True]


@pytest.mark.parametrize(
    "text, msg",
    [
        ("ASK { ?d engine ?e } LIMIT 3", "trailing input"),
        ("ASK { ?d engine ?e } ORDER BY ?d", "trailing input"),
        ("ASK { }", "binds no patterns"),
        ("ASK ?d { ?d engine ?e }", "expected { "),
    ],
)
def test_parse_ask_errors(text, msg):
    with pytest.raises(SparqlSyntaxError, match=msg):
        parse(text)


# --------------------------------------- DESCRIBE / HAVING / OFFSET


def test_parse_describe_ast():
    pq = parse('DESCRIBE ?e d9 WHERE { ?d engine ?e }')
    assert pq.form == "describe"
    assert pq.targets == ("?e", "d9")
    assert pq.query.where == (("?d", "engine", "?e"),)
    ground = parse("DESCRIBE d9")
    assert ground.targets == ("d9",) and ground.query == KGQuery()


def test_exec_describe(spark, kg):
    t = _triples(spark, kg)
    # ?e binds engines of docs running "join": spark, hash, vector —
    # description = all triples whose SUBJECT is one of those nodes
    got = sparql.sparql(
        t, 'DESCRIBE ?e WHERE { ?d engine ?e . ?d exec_op "join" }'
    )
    want = sorted(
        (s, p, o)
        for (s, p, o) in set(kg)
        if s in {"spark", "hash", "vector"}
    )
    assert _rowset(got) == want
    # ground + var mix unions the node sets
    got2 = sparql.sparql(t, 'DESCRIBE ?e d1 WHERE { ?d engine ?e }')
    want2 = sorted(
        (s, p, o)
        for (s, p, o) in set(kg)
        if s in {"spark", "hash", "vector", "d1"}
    )
    assert _rowset(got2) == want2


def test_exec_having_hidden_agg(spark, kg):
    t = _triples(spark, kg)
    got = sparql.sparql(
        t,
        """
        SELECT ?op (count(*) AS ?n) WHERE { ?d exec_op ?op }
        GROUP BY ?op HAVING (count(*) >= 2)
        """,
    )
    # join x3, filter x2, sort x2 — hidden alias reused from ?n, no
    # _hv column in the output
    assert got.columns == ["op", "n"]
    assert _rowset(got) == [("filter", 2), ("join", 3), ("sort", 2)]
    # HAVING with an aggregate NOT declared in SELECT: hidden agg
    got2 = sparql.sparql(
        t,
        """
        SELECT ?op WHERE { ?d exec_op ?op }
        GROUP BY ?op HAVING (count(DISTINCT ?d) > 2)
        """,
    )
    assert got2.columns == ["op"]
    assert _rowset(got2) == [("join",)]


def test_exec_offset_limit_slice(spark, kg):
    t = _triples(spark, kg)
    base = 'SELECT ?op (count(*) AS ?n) WHERE { ?d exec_op ?op } ' \
           'GROUP BY ?op ORDER BY DESC(?n) ?op'
    full = [tuple(r) for r in sparql.sparql(t, base).collect()]
    sliced = [
        tuple(r)
        for r in sparql.sparql(t, base + " OFFSET 1 LIMIT 2").collect()
    ]
    assert sliced == full[1:3]


@pytest.mark.parametrize(
    "text, msg",
    [
        ("DESCRIBE ?e", "needs a WHERE group"),
        ("DESCRIBE WHERE { ?d engine ?e }", "ground terms"),
        ("DESCRIBE ?e WHERE { ?d engine ?e } LIMIT 2", "trailing input"),
        (
            "SELECT ?e WHERE { ?d engine ?e } HAVING (count(*) > 1)",
            "requires GROUP BY",
        ),
        (
            "SELECT ?e WHERE { ?d engine ?e } GROUP BY ?e HAVING ?e",
            "needs .expr. groups",
        ),
        (
            "SELECT * WHERE { ?d engine ?e } GROUP BY ?e",
            "project .vars explicitly",
        ),
    ],
)
def test_parse_describe_having_errors(text, msg):
    with pytest.raises(SparqlSyntaxError, match=msg):
        parse(text)


def test_describe_unbound_var_raises(spark, kg):
    t = _triples(spark, kg)
    with pytest.raises(ValueError, match="not bound"):
        sparql.sparql(t, 'DESCRIBE ?x WHERE { ?d engine ?e }')


# ------------------------------------------- BIND / FILTER EXISTS


def test_parse_bind_exists_ast():
    pq = parse(
        'SELECT ?d WHERE { ?d engine ?e '
        'BIND (concat(?e, "!") AS ?tag) '
        'FILTER EXISTS { ?d exec_op "join" } '
        'FILTER NOT EXISTS { ?d exec_op "scan" } }'
    )
    q = pq.query
    assert q.binds == (('concat ( e , \'!\' )', "tag"),)
    assert q.exists == ((("?d", "exec_op", "join"),),)
    assert q.not_exists == ((("?d", "exec_op", "scan"),),)


def test_exec_exists_not_exists(spark, kg):
    t = _triples(spark, kg)
    got = sparql.sparql(
        t,
        'SELECT ?d WHERE { ?d engine ?e '
        'FILTER EXISTS { ?d exec_op "join" } }',
    )
    assert _rowset(got) == [("d1",), ("d2",), ("d4",)]
    got2 = sparql.sparql(
        t,
        'SELECT ?d WHERE { ?d engine ?e '
        'FILTER NOT EXISTS { ?d data_noun ?n } }',
    )
    assert _rowset(got2) == [("d4",)]


def test_minus_vs_not_exists_disjoint_divergence(spark, kg):
    """The documented spec divergence: with DISJOINT domains MINUS
    removes nothing while NOT EXISTS tests plain existence — a
    matching group removes every solution."""
    t = _triples(spark, kg)
    minus = sparql.sparql(
        t, 'SELECT ?e WHERE { ?d engine ?e MINUS { ?x data_noun "row" } }'
    )
    assert len(_rowset(minus)) == 5  # one per doc, nothing removed
    ne = sparql.sparql(
        t,
        'SELECT ?e WHERE { ?d engine ?e '
        'FILTER NOT EXISTS { ?x data_noun "row" } }',
    )
    assert _rowset(ne) == []  # "row" exists somewhere -> all removed
    ne2 = sparql.sparql(
        t,
        'SELECT ?e WHERE { ?d engine ?e '
        'FILTER NOT EXISTS { ?x data_noun "nope" } }',
    )
    assert len(_rowset(ne2)) == 5  # no match anywhere -> all kept


def test_exec_bind(spark, kg):
    t = _triples(spark, kg)
    got = sparql.sparql(
        t,
        'SELECT ?d ?flag WHERE { ?d engine ?e '
        'BIND (?e = "spark" AS ?flag) } ORDER BY ?d',
    )
    assert [tuple(r) for r in got.collect()] == [
        ("d1", True), ("d2", False), ("d3", True),
        ("d4", False), ("d5", False),
    ]
    with pytest.raises(ValueError, match="already bound"):
        sparql.sparql(
            t, 'SELECT ?d WHERE { ?d engine ?e BIND (1 AS ?e) }'
        ).collect()


def test_parse_exists_errors():
    with pytest.raises(SparqlSyntaxError, match="expected EXISTS"):
        parse('SELECT ?d WHERE { ?d engine ?e FILTER NOT (?e = "x") }')
    with pytest.raises(SparqlSyntaxError, match="empty pattern group"):
        parse("SELECT ?d WHERE { ?d engine ?e FILTER EXISTS { } }")


def test_parse_subquery_ast():
    p = parse(
        "SELECT ?e ?n WHERE { ?d engine ?e "
        "{ SELECT ?e (count(*) AS ?n) WHERE { ?d2 engine ?e } "
        "GROUP BY ?e } }"
    )
    assert len(p.query.subqueries) == 1
    sub = p.query.subqueries[0]
    assert sub.where == (("?d2", "engine", "?e"),)
    assert sub.group_by == ("e",)
    assert sub.aggs == (("count ( * )", "n"),)  # token-joined SQL form
    assert sub.select == ("e", "n")


def test_exec_subquery_aggregate_then_join(spark, kg):
    t = _triples(spark, kg)
    # engines by their distinct op count (subquery), joined back to
    # the docs that also bind a data_noun
    got = sparql.sparql(
        t,
        """
        SELECT DISTINCT ?e ?noun ?n_ops WHERE {
          ?d engine ?e .
          ?d data_noun ?noun .
          { SELECT ?e (count(DISTINCT ?op) AS ?n_ops) WHERE {
              ?d2 engine ?e . ?d2 exec_op ?op } GROUP BY ?e }
          FILTER (?n_ops >= 2)
        }
        ORDER BY ?e ?noun
        """,
    )
    # spark: ops {join,filter,sort} = 3; hash: {join,filter} = 2;
    # vector: {join,sort} = 2 but binds no data_noun
    assert [tuple(r) for r in got.collect()] == [
        ("hash", "column", 2), ("hash", "row", 2),
        ("spark", "row", 3), ("spark", "table", 3),
    ]


def test_exec_subquery_only_body(spark, kg):
    t = _triples(spark, kg)
    got = sparql.sparql(
        t,
        "SELECT ?e ?n WHERE { { SELECT ?e (count(*) AS ?n) WHERE { "
        "?d engine ?e } GROUP BY ?e } } ORDER BY ?e",
    )
    assert [tuple(r) for r in got.collect()] == [
        ("hash", 2), ("spark", 2), ("vector", 1)
    ]


def test_subquery_disconnected_raises(spark, kg):
    t = _triples(spark, kg)
    with pytest.raises(ValueError, match="disconnected"):
        sparql.sparql(
            t,
            "SELECT ?x WHERE { ?x exec_op ?w "
            "{ SELECT ?y WHERE { ?y engine ?z } } }",
        ).collect()


def test_subquery_scope_hides_inner_vars(spark, kg):
    # ?d2 is not projected by the subquery, so the outer FILTER on it
    # must fail (column unknown) rather than silently correlate —
    # SPARQL subqueries share ONLY projected variables
    t = _triples(spark, kg)
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        sparql.sparql(
            t,
            'SELECT ?e WHERE { ?d engine ?e '
            '{ SELECT ?e WHERE { ?d2 engine ?e } } FILTER (?d2 <> "x") }',
        ).collect()


def test_exec_multiple_union_chains(spark, kg):
    # two independent UNION chains: each bag-unions its branches, then
    # joins the accumulated solutions on ?d — conjunctive semantics
    t = _triples(spark, kg)
    got = sparql.sparql(
        t,
        """
        SELECT DISTINCT ?d WHERE {
          { ?d exec_op "join" } UNION { ?d exec_op "sort" }
          { ?d engine "spark" } UNION { ?d engine "hash" }
        }
        ORDER BY ?d
        """,
    )
    # join|sort docs: d1,d2,d3,d4; spark|hash docs: d1,d2,d3,d5
    assert [r["d"] for r in got.collect()] == ["d1", "d2", "d3"]
    p = parse(
        "SELECT ?d WHERE { { ?d b ?x } UNION { ?d c ?x } "
        "{ ?d e ?y } UNION { ?d f ?y } { ?d g ?z } UNION { ?d h ?z } }"
    )
    assert len(p.query.union) == 2
    assert len(p.query.union_chains) == 2
    assert all(len(c) == 2 for c in p.query.union_chains)


def test_exec_group_concat_and_sample(spark, kg):
    t = _triples(spark, kg)
    got = sparql.sparql(
        t,
        'SELECT ?e (group_concat(DISTINCT ?op; SEPARATOR = "|") AS ?ops) '
        "(SAMPLE(?d) AS ?a_doc) WHERE { ?d engine ?e . ?d exec_op ?op } "
        "GROUP BY ?e ORDER BY ?e",
    )
    # deterministic by definition: sorted concat, min-valued SAMPLE
    assert [tuple(r) for r in got.collect()] == [
        ("hash", "filter|join", "d2"),
        ("spark", "filter|join|sort", "d1"),
        ("vector", "join|sort", "d4"),
    ]


def test_parse_group_concat_errors():
    with pytest.raises(SparqlSyntaxError, match="SEPARATOR"):
        parse(
            'SELECT (group_concat(?x; FOO = ",") AS ?g) '
            "WHERE { ?d engine ?x }"
        )
    with pytest.raises(SparqlSyntaxError, match="malformed GROUP_CONCAT"):
        parse("SELECT (group_concat() AS ?g) WHERE { ?d engine ?x }")


def test_exec_negated_property_set(spark, kg):
    t = _triples(spark, kg)
    got = sparql.sparql(
        t,
        "SELECT DISTINCT ?x WHERE { d3 !(engine|a) ?x } ORDER BY ?x",
    )
    # d3's non-engine, non-a assertions: exec_op sort + nouns
    assert [r["x"] for r in got.collect()] == ["row", "sort", "table"]
    with pytest.raises(SparqlSyntaxError, match="inverse members"):
        parse("SELECT ?x WHERE { d1 !(engine|^a) ?x }")


def test_negated_set_inverse_and_estimate():
    from gliner_transbronchialbiopsy_spark.operators import kgstats, paths
    from gliner_transbronchialbiopsy_spark.operators.kgstats import (
        PredStat,
        TripleStats,
    )

    assert paths._invert(("neg", "p", "q")) == ("inv", ("neg", "p", "q"))
    st = TripleStats(
        total=100,
        ndv_subj=10,
        ndv_obj=10,
        pred={"p": PredStat(70, 10, 10), "q": PredStat(30, 10, 10)},
    )
    assert kgstats._estimate_spec(("neg", "p"), st) == 30.0
    assert kgstats._estimate_spec(("neg", "p", "q"), st) == 0.0


def test_filter_builtins_bound_str_starts(spark, kg):
    t = _triples(spark, kg)
    # BOUND over an OPTIONAL-produced NULL: docs WITHOUT a data_noun
    got = sparql.sparql(
        t,
        "SELECT ?d WHERE { ?d engine ?e OPTIONAL { ?d data_noun ?n } "
        "FILTER (!bound(?n)) } ORDER BY ?d",
    )
    assert [r["d"] for r in got.collect()] == ["d4"]
    # STRSTARTS / IF / COALESCE / STR pass through (via BIND — SELECT
    # (expr AS ?v) is the aggregate projection form in this subset)
    got = sparql.sparql(
        t,
        'SELECT DISTINCT ?e ?kind WHERE { '
        "?d engine ?e OPTIONAL { ?d data_noun ?none } "
        'BIND (IF(strstarts(?e, "s"), "s-engine", '
        'coalesce(str(?none), "other")) AS ?kind) } ORDER BY ?e',
    )
    rows = {(r["e"], r["kind"]) for r in got.collect()}
    assert ("spark", "s-engine") in rows
    assert ("hash", "other") in rows or ("hash", "column") in rows


def test_values_undef_partial_mappings(spark, kg):
    t = _triples(spark, kg)
    # three mask groups: fully ground, engine-only, op-only
    got = sparql.sparql(
        t,
        """
        SELECT ?d ?e ?op WHERE {
          ?d engine ?e . ?d exec_op ?op
          VALUES (?e ?op) { (spark join) (hash UNDEF) (UNDEF sort) }
        }
        ORDER BY ?d ?e ?op
        """,
    )
    # d1 spark/join + spark/filter: only (spark join) matches join;
    # d2 hash: every op; d3 spark/sort + d4 vector/sort via (UNDEF sort)
    assert [tuple(r) for r in got.collect()] == [
        ("d1", "spark", "join"),
        ("d2", "hash", "join"),
        ("d3", "spark", "sort"),
        ("d4", "vector", "sort"),
        ("d5", "hash", "filter"),
    ]


def test_values_undef_fresh_column_and_multiset(spark, kg):
    t = _triples(spark, kg)
    got = sparql.sparql(
        t,
        """
        SELECT ?d ?tag WHERE {
          ?d engine ?e
          VALUES (?e ?tag) { (spark star) (UNDEF UNDEF) }
        }
        ORDER BY ?d ?tag
        """,
    )
    rows = [tuple(r) for r in got.collect()]
    # every doc passes the all-UNDEF row (tag NULL); spark docs ALSO
    # match (spark, star) — one result per compatible row (multiset)
    assert rows.count(("d1", "star")) == 1 and rows.count(("d1", None)) == 1
    assert rows.count(("d2", None)) == 1 and ("d2", "star") not in rows
    assert len(rows) == 7  # 5 docs x all-UNDEF + 2 spark docs x star


# -- named graphs (GRAPH groups over the quad relation) --------------
@pytest.fixture(scope="module")
def quads(spark):
    return spark.createDataFrame(
        [
            ("g1", "d1", "engine", "spark"),
            ("g1", "d1", "exec_op", "join"),
            ("g2", "d2", "engine", "hash"),
            ("g2", "d2", "exec_op", "join"),
            ("g2", "d3", "engine", "spark"),
            ("g3", "d3", "engine", "spark"),
        ],
        "g string, subj string, pred string, obj string",
    )


def test_graph_var_term_binds_provenance(spark, kg, quads):
    out = sparql.sparql(
        _triples(spark, kg), "SELECT ?g ?d ?e WHERE { GRAPH ?g { ?d engine ?e } }",
        quads=quads,
    )
    assert sorted(tuple(r) for r in out.collect()) == [
        ("g1", "d1", "spark"),
        ("g2", "d2", "hash"),
        ("g2", "d3", "spark"),
        ("g3", "d3", "spark"),
    ]


def test_graph_ground_term_prunes(spark, kg, quads):
    out = sparql.sparql(
        _triples(spark, kg), "SELECT ?d WHERE { GRAPH g2 { ?d engine ?e } }", quads=quads
    )
    assert sorted(r["d"] for r in out.collect()) == ["d2", "d3"]


def test_graph_two_patterns_same_graph(spark, kg, quads):
    # both patterns must match within the SAME named graph: d3's
    # engine lives in g2/g3 but its exec_op in none, so only d1/d2
    out = sparql.sparql(
        _triples(spark, kg),
        "SELECT ?g ?d WHERE { GRAPH ?g { ?d engine ?e . "
        "?d exec_op join } }",
        quads=quads,
    )
    assert sorted(tuple(r) for r in out.collect()) == [
        ("g1", "d1"), ("g2", "d2"),
    ]


def test_graph_joins_default_graph(spark, quads):
    t = _triples(spark, [("d1", "kind", "alpha"), ("d3", "kind", "beta")])
    out = sparql.sparql(
        t,
        "SELECT ?g ?d ?k WHERE { ?d kind ?k . "
        "GRAPH ?g { ?d engine spark } }",
        quads=quads,
    )
    assert sorted(tuple(r) for r in out.collect()) == [
        ("g1", "d1", "alpha"), ("g2", "d3", "beta"), ("g3", "d3", "beta"),
    ]


def test_graph_errors(spark, kg, quads):
    with pytest.raises(ValueError, match="no quads relation"):
        sparql.sparql(
            _triples(spark, kg),
            "SELECT ?d WHERE { GRAPH ?g { ?d engine ?e } }",
        )
    with pytest.raises(SparqlSyntaxError, match="VARIABLE graph term"):
        parse("SELECT ?d WHERE { GRAPH ?g { ?d engine+ ?e } }")
    with pytest.raises(SparqlSyntaxError, match="SERVICE"):
        parse("SELECT ?d WHERE { SERVICE x { ?d p ?o } }")
    # DELETE WHERE sugar rejects GRAPH groups (templates are triples)
    with pytest.raises(SparqlSyntaxError, match="plain triple-pattern"):
        sparql.parse_update("DELETE WHERE { GRAPH ?g { ?d p ?o } }")


def test_graph_parse_shape():
    pq = parse("SELECT ?g WHERE { GRAPH ?g { ?d engine ?e } }")
    assert pq.query.graphs == (("?g", (("?d", "engine", "?e"),)),)
    pq2 = parse('SELECT ?d WHERE { GRAPH "g one" { ?d engine ?e } }')
    assert pq2.query.graphs[0][0] == "g one"


def test_graph_ground_term_allows_paths(spark, quads):
    t = _triples(spark, [("dummy", "p", "o")])
    q2 = quads.union(
        spark.createDataFrame(
            [("g2", "spark", "subclass_of", "system")],
            "g string, subj string, pred string, obj string",
        )
    )
    out = sparql.sparql(
        t,
        'SELECT ?d ?c WHERE { GRAPH g2 { ?d engine/subclass_of+ ?c } }',
        quads=q2,
    )
    assert sorted(tuple(r) for r in out.collect()) == [("d3", "system")]
    # variable graph term + path still raises
    with pytest.raises(SparqlSyntaxError, match="VARIABLE graph term"):
        parse("SELECT ?d WHERE { GRAPH ?g { ?d engine+ ?e } }")


# -- bounded path repetition p{n,m} ---------------------------------
def test_path_repetition(spark):
    t = _triples(
        spark,
        [("a", "p", "b"), ("b", "p", "c"), ("c", "p", "d"), ("d", "p", "e")],
    )
    def xs(q):
        return sorted(r["x"] for r in sparql.sparql(t, q).collect())

    assert xs("SELECT ?x WHERE { a p{2,3} ?x }") == ["c", "d"]
    assert xs("SELECT ?x WHERE { a p{2} ?x }") == ["c"]
    assert xs("SELECT ?x WHERE { a p{2,} ?x }") == ["c", "d", "e"]
    assert xs("SELECT ?x WHERE { a p{0,2} ?x }") == ["a", "b", "c"]
    # bound object routes the seeded INVERTED image plan
    assert xs("SELECT ?x WHERE { ?x p{2,3} e }") == ["b", "c"]


def test_path_repetition_desugar_and_errors():
    from gliner_transbronchialbiopsy_spark.operators import paths as _p

    assert _p.repeat(("pred", "p"), 2, 2) == (
        "seq", ("pred", "p"), ("pred", "p"),
    )
    assert _p.repeat(("pred", "p"), 1, 3) == (
        "seq", ("pred", "p"),
        ("opt", ("seq", ("pred", "p"), ("opt", ("pred", "p")))),
    )
    assert _p.repeat(("pred", "p"), 0, 1) == ("opt", ("pred", "p"))
    assert _p.repeat(("pred", "p"), 1, None) == (
        "seq", ("pred", "p"), ("opt", ("plus", ("pred", "p"))),
    )
    for bad in ("a p{0} ?x", "a p{3,2} ?x", "a p{1.5} ?x"):
        with pytest.raises(SparqlSyntaxError):
            parse("SELECT ?x WHERE { " + bad + " }")
