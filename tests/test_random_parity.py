"""Seeded-random parity: the round-4 operators vs brute-force
pure-Python references on small random instances (fixed seeds, so the
cases are deterministic but unbiased by hand-picked fixtures)."""

import math
import random

import pytest
from pyspark.sql import functions as F

from gliner_transbronchialbiopsy_spark.operators import (
    graph,
    kgeval,
    packing,
    rules,
)


def _rand_edges(seed, n_nodes=12, n_edges=30):
    rng = random.Random(seed)
    return list(
        {
            (rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(n_edges)
        }
    )


def test_kcore_matches_python_peeling(spark):
    for seed in (1, 2, 3):
        edges = _rand_edges(seed)
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            (r["node"], r["degree"])
            for r in graph.kcore(df, k=3).collect()
        }
        # python reference: iterative peeling on the simple graph
        adj = {}
        for a, b in edges:
            if a == b:
                continue
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        changed = True
        while changed:
            changed = False
            for n in [n for n, ns in adj.items() if len(ns) < 3]:
                for m in adj.pop(n):
                    adj[m].discard(n)
                changed = True
        want = {(n, len(ns)) for n, ns in adj.items() if ns}
        assert got == want, f"seed {seed}"


def test_ktruss_matches_python_peeling(spark):
    """graph.ktruss vs brute-force synchronous edge peeling: each
    round recomputes every edge's within-subgraph triangle support
    and drops all edges below k-2 simultaneously (the same
    synchronous schedule the operator runs)."""
    for seed, k in ((11, 3), (12, 4), (13, 4)):
        edges = _rand_edges(seed, n_nodes=10, n_edges=28)
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            (r["u"], r["v"], r["support"])
            for r in graph.ktruss(df, k=k).collect()
        }
        cur = {
            (min(a, b), max(a, b)) for a, b in edges if a != b
        }

        def _supports(es):
            adj = {}
            for u, v in es:
                adj.setdefault(u, set()).add(v)
                adj.setdefault(v, set()).add(u)
            return {
                (u, v): len(adj[u] & adj[v]) for u, v in es
            }

        while True:
            sup = _supports(cur)
            nxt = {e for e in cur if sup[e] >= k - 2}
            if nxt == cur:
                break
            cur = nxt
        sup = _supports(cur)
        want = {(u, v, sup[(u, v)]) for u, v in cur}
        assert got == want, f"seed {seed} k {k}"


def test_ktruss_fixed_rounds_matches_fixed_point(spark):
    """rounds=R >= convergence gives the exact k-truss (idempotent
    peeling) — the property the contract query's rounds=8 oracle
    relies on. A K4 with a pendant triangle: the pendant edges are in
    one triangle each (support 1 < 2) and peel; the K4 edges each sit
    in 2 triangles and survive the 4-truss."""
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    noisy = k4 + [(3, 4), (4, 5), (3, 5), (1, 0), (2, 2)]
    edges = spark.createDataFrame(noisy, "src long, dst long")
    exact = sorted(
        (r["u"], r["v"], r["support"])
        for r in graph.ktruss(edges, k=4).collect()
    )
    fixed = sorted(
        (r["u"], r["v"], r["support"])
        for r in graph.ktruss(edges, k=4, rounds=6).collect()
    )
    want = sorted((a, b, 2) for a, b in k4)
    assert exact == fixed == want
    # the 4-truss of this graph is empty, but peeling it takes more
    # than one round, so max_rounds=1 must raise
    two_wedges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("b", "d"),
         ("d", "e"), ("c", "e")],
        "src string, dst string",
    )
    with pytest.raises(RuntimeError, match="ktruss did not converge"):
        graph.ktruss(two_wedges, k=4, max_rounds=1)


def test_ktruss_contract_rounds_margin(spark):
    """The contract query's rounds=8 must carry margin over the true
    convergence round count — assert the rounds=8 output equals the
    fixed-point output on the sf0.001 co-purchase graph."""
    import __spark_entry__ as entry

    sf_dir = "/root/testdata/sf0.001"
    got = sorted(
        (r["u"], r["v"], r["support"])
        for r in entry.q_graph_ktruss(spark, sf_dir).collect()
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_orderkey") % 6 == 0
    ).select("l_orderkey", "l_partkey")
    rel = (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
    )
    fix = graph.ktruss(rel, k=4)
    want = sorted(
        (r["u"], r["v"], r["support"])
        for r in fix.orderBy(
            F.desc("support"), F.col("u").asc(), F.col("v").asc()
        ).limit(100).collect()
    )
    assert got == want and len(got) == 100


def test_bm25_matches_python_reference(spark):
    """termstats.bm25_topk vs a pure-python Okapi BM25 computing the
    SAME fixed-point formula (floor grids over IEEE doubles + exact
    long sums) on seeded random corpora — scores must be identical
    longs, not approximately equal."""
    from gliner_transbronchialbiopsy_spark.operators import termstats

    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    for seed in (31, 32):
        rng = random.Random(seed)
        docs = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(3, 40))))
            for i in range(60)
        ] + [(60, ""), (61, "   ")]  # blank docs count toward N, dl=0
        df = spark.createDataFrame(docs, "doc_id long, text string")
        qt = ["alpha", "delta", "zeta"]
        got = [
            (r["doc_id"], r["n_terms"], r["score_fp"])
            for r in termstats.bm25_topk(df, qt, k=10).collect()
        ]

        c0, c1, tf_num = termstats.bm25_constants()
        toks = {i: t.split() if t.split() else [] for i, t in docs}
        n_docs = len(docs)
        sum_dl = sum(len(v) for v in toks.values())
        dfreq = {
            q: sum(1 for v in toks.values() if q in v) for q in qt
        }
        idf = {
            q: math.floor(
                math.log((n_docs - dfc + 0.5) / (dfc + 0.5) + 1.0)
                * termstats.SCALE
            )
            for q, dfc in dfreq.items()
            if dfc > 0
        }
        want = []
        for i, v in toks.items():
            terms = [q for q in qt if q in v]
            if not terms:
                continue
            s = 0
            for q in terms:
                c = v.count(q)
                den = math.floor(
                    (float(c) + c0 + c1 * ((float(len(v)) * n_docs) / sum_dl))
                    * 1000.0
                )
                s += (idf[q] * c * tf_num) // (den * 10)
            want.append((i, len(terms), s))
        want.sort(key=lambda r: (-r[2], r[0]))
        assert got == want[:10], f"seed {seed}"


def test_skyline_matches_python_dominance(spark):
    """operators/skyline.skyline vs brute-force O(n^2) dominance on
    seeded random points — mixed minimize/maximize criteria, forced
    exact duplicates (equal vectors never dominate each other, so
    duplicate frontier points survive as a group), and enough
    partitions that the local-prune + global-merge phases both run."""
    from gliner_transbronchialbiopsy_spark.operators import skyline as sky

    for seed, dims in ((21, 2), (22, 3)):
        rng = random.Random(seed)
        rows = [
            tuple(rng.randrange(20) for _ in range(dims)) + (i,)
            for i in range(120)
        ]
        rows += rows[:10]  # exact duplicates (distinct ids below)
        rows = [r[:-1] + (j,) for j, r in enumerate(rows)]
        cols = [f"c{d}" for d in range(dims)]
        schema = ", ".join(f"{c} long" for c in cols) + ", rid long"
        df = spark.createDataFrame(rows, schema).repartition(7)
        mins, maxs = cols[: dims // 2 + 1], cols[dims // 2 + 1 :]
        got = {
            r["rid"]
            for r in sky.skyline(df, minimize=mins, maximize=maxs).collect()
        }

        def _dominates(b, a):
            al, st = True, False
            for j in range(dims):
                bb, aa = b[j], a[j]
                if j < len(mins):
                    al &= bb <= aa
                    st |= bb < aa
                else:
                    al &= bb >= aa
                    st |= bb > aa
            return al and st

        want = {
            a[-1]
            for a in rows
            if not any(_dominates(b, a) for b in rows)
        }
        assert got == want and len(want) > 0, f"seed {seed}"


def test_clustering_coefficients_match_python(spark):
    for seed in (4, 5):
        edges = _rand_edges(seed)
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r["node"]: (r["deg"], r["n_tri"], r["coef_fp"])
            for r in graph.clustering_coefficients(df).collect()
        }
        adj = {}
        for a, b in edges:
            if a == b:
                continue
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        for n, ns in adj.items():
            tri = sum(
                1
                for x in ns
                for y in ns
                if x < y and y in adj[x]
            )
            d = len(ns)
            coef = 0 if d < 2 else (2 * tri * 10**9) // (d * (d - 1))
            assert got[n] == (d, tri, coef), f"seed {seed} node {n}"


def test_adamic_adar_matches_python(spark):
    for seed in (6, 7):
        edges = _rand_edges(seed, n_nodes=10, n_edges=22)
        df = spark.createDataFrame(edges, "src long, dst long")
        got = [
            (r["u"], r["w"], r["n_common"], r["score_fp"])
            for r in graph.adamic_adar(df, max_center_deg=5, k=1000).collect()
        ]
        adj = {}
        for a, b in edges:
            if a == b:
                continue
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        exp = {}
        for v, ns in adj.items():
            if not (2 <= len(ns) <= 5):
                continue
            wv = math.floor(1e9 / math.log(len(ns)))
            sns = sorted(ns)
            for i in range(len(sns)):
                for j in range(i + 1, len(sns)):
                    u, w = sns[i], sns[j]
                    if w in adj.get(u, ()):
                        continue
                    c, s = exp.get((u, w), (0, 0))
                    exp[(u, w)] = (c + 1, s + wv)
        want = sorted(
            ((u, w, c, s) for (u, w), (c, s) in exp.items()),
            key=lambda r: (-r[3], r[0], r[1]),
        )
        assert got == want, f"seed {seed}"


def _py_datalog(facts, rule_list):
    known = set(facts)
    while True:
        new = set()
        for body, heads in rule_list:
            binds = [dict()]
            for s, p, o in body:
                nxt = []
                for b in binds:
                    for fs, fp, fo in known:
                        bb = dict(b)
                        ok = True
                        for term, val in ((s, fs), (p, fp), (o, fo)):
                            if term.startswith("?"):
                                if bb.get(term, val) != val:
                                    ok = False
                                    break
                                bb[term] = val
                            elif term != val:
                                ok = False
                                break
                        if ok:
                            nxt.append(bb)
                binds = nxt
            for b in binds:
                for hs, hp, ho in heads:
                    new.add(
                        tuple(
                            b[t] if t.startswith("?") else t
                            for t in (hs, hp, ho)
                        )
                    )
        if new <= known:
            return known
        known |= new


def test_rules_fixpoint_matches_python_datalog(spark):
    for seed in (8, 9):
        rng = random.Random(seed)
        nodes = [f"n{i}" for i in range(6)]
        facts = {
            (rng.choice(nodes), rng.choice(["p", "q"]), rng.choice(nodes))
            for _ in range(14)
        }
        rule_list = [
            ([("?a", "p", "?b"), ("?b", "q", "?c")], [("?a", "r", "?c")]),
            ([("?a", "r", "?b"), ("?b", "r", "?c")], [("?a", "r", "?c")]),
        ]
        t = spark.createDataFrame(
            list(facts), "subj string, pred string, obj string"
        )
        rs = [rules.rule(b, h) for b, h in rule_list]
        got = {
            (r["subj"], r["pred"], r["obj"])
            for r in rules.materialize(t, rs).collect()
        }
        assert got == _py_datalog(facts, rule_list), f"seed {seed}"


def test_clustering_metrics_match_bruteforce_pairs(spark):
    from itertools import combinations

    for seed in (10, 11):
        rng = random.Random(seed)
        items = [f"i{k}" for k in range(15)]
        pred = [(i, rng.randrange(4)) for i in items]
        gold = [(i, rng.randrange(3)) for i in items]
        r = kgeval.clustering_metrics(
            spark.createDataFrame(pred, "node string, cluster long"),
            spark.createDataFrame(gold, "node string, cluster long"),
        ).collect()[0]
        pd_, gd = dict(pred), dict(gold)
        pp = {frozenset(p) for p in combinations(items, 2)
              if pd_[min(p)] == pd_[max(p)]}
        gp = {frozenset(p) for p in combinations(items, 2)
              if gd[min(p)] == gd[max(p)]}
        assert (r["n_pred_pairs"], r["n_gold_pairs"], r["n_both"]) == (
            len(pp), len(gp), len(pp & gp)
        ), f"seed {seed}"


def test_chunk_sliding_reconstructs_tokens(spark):
    for seed in (12,):
        rng = random.Random(seed)
        texts = [
            (i, " ".join(f"w{rng.randrange(50)}" for _ in range(rng.randrange(0, 40))))
            for i in range(20)
        ]
        docs = spark.createDataFrame(texts, "doc_id long, text string")
        rows = packing.chunk_sliding(docs, chunk_tokens=7, overlap=3).collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], []).append(r)
        for i, text in texts:
            toks = text.split()
            if not toks:
                assert i not in by_doc
                continue
            chunks = sorted(by_doc[i], key=lambda r: r["chunk_idx"])
            # stride alignment + full coverage + exact slice content
            for k, r in enumerate(chunks):
                assert r["start_tok"] == k * 4
                assert r["chunk_text"].split() == [
                    t.lower() for t in toks[r["start_tok"]: r["start_tok"] + r["n_tok"]]
                ]
            covered = set()
            for r in chunks:
                covered |= set(range(r["start_tok"], r["start_tok"] + r["n_tok"]))
            assert covered == set(range(len(toks)))


def test_scc_matches_python_tarjan(spark):
    import sys

    def tarjan(edges):
        # iterative-enough for these sizes; recursion bounded by nodes
        sys.setrecursionlimit(10000)
        adj = {}
        nodes = set()
        for s, d in edges:
            adj.setdefault(s, []).append(d)
            nodes.update((s, d))
        index, low, onstk, stk, out, ctr = {}, {}, set(), [], {}, [0]

        def strong(v):
            index[v] = low[v] = ctr[0]
            ctr[0] += 1
            stk.append(v)
            onstk.add(v)
            for w in adj.get(v, []):
                if w not in index:
                    strong(w)
                    low[v] = min(low[v], low[w])
                elif w in onstk:
                    low[v] = min(low[v], index[w])
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stk.pop()
                    onstk.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                m = max(comp)
                for w in comp:
                    out[w] = m

        for v in sorted(nodes):
            if v not in index:
                strong(v)
        return out

    for seed, n, m in [(1, 40, 90), (3, 25, 20), (4, 60, 240)]:
        rng = random.Random(seed)
        ns = [f"n{i:03d}" for i in range(n)]
        es = set()
        while len(es) < m:
            es.add((rng.choice(ns), rng.choice(ns)))
        es = sorted(es)
        df = spark.createDataFrame(es, "src string, dst string")
        got = {r["node"]: r["scc_id"] for r in graph.scc(df).collect()}
        assert got == tarjan(es)


def test_scc_edge_cases(spark):
    # self-loop, chained 2-cycles, and a pure DAG (all singletons)
    es = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "d"), ("d", "c"),
          ("e", "e")]
    df = spark.createDataFrame(es, "src string, dst string")
    got = {r["node"]: r["scc_id"] for r in graph.scc(df).collect()}
    assert got == {"a": "b", "b": "b", "c": "d", "d": "d", "e": "e"}
    dag = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c")], "src string, dst string"
    )
    got = {r["node"]: r["scc_id"] for r in graph.scc(dag).collect()}
    assert got == {"a": "a", "b": "b", "c": "c"}
    # n9 -> ... -> n0 colors every node n9 in nine rounds: a budget of
    # three rounds (shared by peel, coloring and sweep) must raise
    chain = spark.createDataFrame(
        [(f"n{i}", f"n{i - 1}") for i in range(9, 0, -1)],
        "src string, dst string",
    )
    with pytest.raises(RuntimeError, match="scc did not converge"):
        graph.scc(chain, max_rounds=3).collect()


def test_condensation_levels_match_python(spark):
    import sys
    from collections import Counter

    def reference(edges):
        sys.setrecursionlimit(10000)
        adj, nodes = {}, set()
        for s, d in edges:
            adj.setdefault(s, []).append(d)
            nodes.update((s, d))
        index, low, onstk, stk, out, ctr = {}, {}, set(), [], {}, [0]

        def strong(v):
            index[v] = low[v] = ctr[0]
            ctr[0] += 1
            stk.append(v)
            onstk.add(v)
            for w in adj.get(v, []):
                if w not in index:
                    strong(w)
                    low[v] = min(low[v], low[w])
                elif w in onstk:
                    low[v] = min(low[v], index[w])
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stk.pop()
                    onstk.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                m = max(comp)
                for w in comp:
                    out[w] = m

        for v in sorted(nodes):
            if v not in index:
                strong(v)
        se = {(out[s], out[d]) for s, d in edges if out[s] != out[d]}
        lvl = {c: 0 for c in set(out.values())}
        changed = True
        while changed:  # bellman longest-path on the (small) DAG
            changed = False
            for a, b in se:
                if lvl[a] + 1 > lvl[b]:
                    lvl[b] = lvl[a] + 1
                    changed = True
        sz = Counter(out.values())
        return {(c, sz[c], lvl[c]) for c in lvl}

    for seed, n, m in [(1, 40, 90), (7, 30, 45)]:
        rng = random.Random(seed)
        ns = [f"n{i:03d}" for i in range(n)]
        es = sorted({(rng.choice(ns), rng.choice(ns)) for _ in range(m)})
        df = spark.createDataFrame(es, "src string, dst string")
        got = {tuple(r) for r in graph.condensation_levels(df).collect()}
        assert got == reference(es)
    # c0 -> ... -> c9 is nine levels deep; scc() converges within the
    # same budget of five, so the error is the level loop's own
    chain = spark.createDataFrame(
        [(f"c{i}", f"c{i + 1}") for i in range(9)], "src string, dst string"
    )
    with pytest.raises(
        RuntimeError, match="condensation_levels did not converge"
    ):
        graph.condensation_levels(chain, max_rounds=5).collect()


def _bfs_dists(adj, src, max_hops):
    dist = {src: 0}
    frontier = [src]
    for d in range(1, max_hops + 1):
        nxt = []
        for n in frontier:
            for m in adj.get(n, ()):
                if m not in dist:
                    dist[m] = d
                    nxt.append(m)
        frontier = nxt
        if not frontier:
            break
    return dist


def test_pivot_distances_and_centrality_match_python(spark):
    import hashlib

    for seed in (7, 8):
        edges = _rand_edges(seed, n_nodes=15, n_edges=40)
        df = spark.createDataFrame(
            [(str(a), str(b)) for a, b in edges], "src string, dst string"
        )
        adj = {}
        for a, b in edges:
            adj.setdefault(str(a), []).append(str(b))
        nodes = sorted({str(x) for e in edges for x in e})
        piv = sorted(
            nodes,
            key=lambda n: (hashlib.sha256(n.encode()).hexdigest(), n),
        )[:4]
        pdf = spark.createDataFrame([(p,) for p in piv], "node string")
        got = {
            (r["pivot"], r["node"], r["dist"])
            for r in graph.pivot_distances(df, pdf, max_hops=3).collect()
        }
        want = set()
        for p in piv:
            for n, d in _bfs_dists(adj, p, 3).items():
                want.add((p, n, d))
        assert got == want, f"seed {seed}"
        cent = {
            r["node"]: (
                r["n_from"], r["sum_dist"], r["harmonic_fp"],
                r["closeness_fp"],
            )
            for r in graph.centrality_estimate(
                df, n_pivots=4, max_hops=3
            ).collect()
        }
        agg = {}
        for p in piv:
            for n, d in _bfs_dists(adj, p, 3).items():
                if d >= 1:
                    e = agg.setdefault(n, [0, 0, 0])
                    e[0] += 1
                    e[1] += d
                    e[2] += 10**9 // d
        wantc = {
            n: (c, s, h, (c * 10**9) // s) for n, (c, s, h) in agg.items()
        }
        assert cent == wantc, f"seed {seed}"


def test_jaccard_matches_python(spark):
    from collections import Counter

    for seed in (9, 10):
        edges = _rand_edges(seed, n_nodes=14, n_edges=45)
        df = spark.createDataFrame(edges, "src long, dst long")
        und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
        nbr = {}
        for a, b in und:
            nbr.setdefault(a, set()).add(b)
            nbr.setdefault(b, set()).add(a)
        cap = 5
        common = Counter()
        for c, ns in nbr.items():
            if 2 <= len(ns) <= cap:
                s = sorted(ns)
                for i in range(len(s)):
                    for j in range(i + 1, len(s)):
                        common[(s[i], s[j])] += 1
        rows = []
        for (u, w), nc in common.items():
            du, dw = len(nbr[u]), len(nbr[w])
            rows.append((u, w, nc, du, dw, (nc * 10**9) // (du + dw - nc)))
        want = set(sorted(rows, key=lambda r: (-r[5], r[0], r[1]))[:20])
        got = {
            tuple(r)
            for r in graph.jaccard_similarity(
                df, max_center_deg=cap, min_common=1, k=20
            ).collect()
        }
        assert got == want, f"seed {seed}"


def test_temporal_reachable_matches_walk_enumeration(spark):
    for seed in (11, 12, 13):
        rng = random.Random(seed)
        edges = [
            (rng.randrange(10), rng.randrange(10), rng.randrange(20))
            for _ in range(40)
        ]
        edges = [(a, b, t) for a, b, t in edges if a != b]
        df = spark.createDataFrame(edges, "src long, dst long, etime long")
        seeds_df = spark.createDataFrame([(0,), (1,)], "node long")
        got = {
            (r["node"], r["arrival"])
            for r in graph.temporal_reachable(
                df, seeds_df, F.lit(3), max_hops=3
            ).collect()
        }
        # brute force: enumerate time-respecting walk states level by
        # level (the recursive-CTE shape), min arrival per node
        cur = {(0, 3), (1, 3)}
        best = {n: a for n, a in cur}
        for _ in range(3):
            nxt = set()
            for n, a in cur:
                for s, d, t in edges:
                    if s == n and t >= a:
                        nxt.add((d, t))
            cur = nxt
            for d, t in nxt:
                if d not in best or t < best[d]:
                    best[d] = t
        assert got == set(best.items()), f"seed {seed}"


def test_naive_bayes_matches_python(spark):
    import hashlib

    from gliner_transbronchialbiopsy_spark.operators import nbayes

    rng = random.Random(21)
    vocab = {
        "a": ["foo", "bar", "baz", "zap"],
        "b": ["qux", "quux", "bar", "zip"],
        "c": ["corge", "foo", "grault"],
    }
    labels = sorted(vocab)
    train = [
        (lbl, " ".join(rng.choices(vocab[lbl], k=rng.randrange(3, 9))))
        for lbl in labels
        for _ in range(8)
    ]
    test = [
        (i, " ".join(rng.choices(vocab[rng.choice(labels)], k=rng.randrange(0, 7))))
        for i in range(12)
    ]
    B, ALPHA, S = 16, 1, 10**9

    got = {
        (r["doc_id"], r["pred"], r["score_fp"])
        for r in nbayes.naive_bayes_classify(
            spark.createDataFrame(train, "label string, text string"),
            spark.createDataFrame(test, "doc_id long, text string"),
            n_buckets=B, alpha=ALPHA, portable_hash=True,
        ).collect()
    }

    def bucket(tok):
        return int(hashlib.sha256(tok.encode()).hexdigest()[:15], 16) % B

    n_docs = {l: sum(1 for x, _ in train if x == l) for l in labels}
    prior = {
        l: math.floor(math.log(n_docs[l] / len(train)) * S) for l in labels
    }
    cb, tot = {}, {l: 0 for l in labels}
    for l, text in train:
        for t in text.lower().split():
            cb[(l, bucket(t))] = cb.get((l, bucket(t)), 0) + 1
            tot[l] += 1
    llh = {
        (l, b): math.floor(
            math.log((cb.get((l, b), 0) + ALPHA) / (tot[l] + ALPHA * B)) * S
        )
        for l in labels
        for b in range(B)
    }
    want = set()
    for i, text in test:
        scores = {
            l: prior[l]
            + sum(llh[(l, bucket(t))] for t in text.lower().split())
            for l in labels
        }
        pred = min(labels, key=lambda l: (-scores[l], l))
        want.add((i, pred, scores[pred]))
    assert got == want


def test_stupid_backoff_matches_python(spark):
    from collections import Counter

    from gliner_transbronchialbiopsy_spark.operators import termstats

    rng = random.Random(31)
    words = ["alpha", "beta", "gamma", "delta", "eps"]
    docs = [
        (i, " ".join(rng.choices(words, k=rng.randrange(0, 12))))
        for i in range(20)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["doc_id"], r["n_tokens"], r["nll_fp"], r["m_fp"], r["avg_nll"])
        for r in termstats.stupid_backoff_score(df).collect()
    }
    S = 10**9
    A = math.floor(math.log(0.4) * S)

    def q(x):
        return math.floor(math.log(x) * S)

    toks = {i: t.lower().split() for i, t in docs}
    allt = [w for v in toks.values() for w in v]
    N = len(allt)
    uni = Counter(allt)
    bi = Counter(
        (v[i - 1], v[i]) for v in toks.values() for i in range(1, len(v))
    )
    want = set()
    for d, v in toks.items():
        if not v:
            want.add((d, 0, 0, 0, 0.0))
            continue
        lp = q(uni[v[0]] / N)
        for i in range(1, len(v)):
            pr, cu = v[i - 1], v[i]
            lp += q(bi[(pr, cu)] / uni[pr]) if (pr, cu) in bi else A + q(
                uni[cu] / N
            )
        nll = -lp
        want.add((d, len(v), nll, nll // len(v), round(nll / len(v) / S, 4)))
    assert got == want


def test_funnel_steps_matches_python(spark):
    from gliner_transbronchialbiopsy_spark.operators import ranges

    for seed in (41, 42):
        rng = random.Random(seed)
        types = ["view", "click", "purchase", "error"]
        rows = [
            (rng.randrange(6), rng.choice(types), rng.randrange(100))
            for _ in range(60)
        ]
        # ints-as-timestamps would break the ts cast downstream; the
        # operator itself only compares/mins, so longs work here
        df = spark.createDataFrame(
            rows, "user_id long, event_type string, ts long"
        )
        got = {
            (r["user_id"], r["t_1"], r["t_2"], r["t_3"])
            for r in ranges.funnel_steps(
                df, ["view", "click", "purchase"]
            ).collect()
        }
        want = set()
        by_user = {}
        for u, et, ts in rows:
            by_user.setdefault(u, []).append((et, ts))
        for u, evs in by_user.items():
            v = [t for e, t in evs if e == "view"]
            if not v:
                continue
            t1 = min(v)
            c = [t for e, t in evs if e == "click" and t > t1]
            t2 = min(c) if c else None
            t3 = None
            if t2 is not None:
                p = [t for e, t in evs if e == "purchase" and t > t2]
                t3 = min(p) if p else None
            want.add((u, t1, t2, t3))
        assert got == want, f"seed {seed}"


def test_betweenness_matches_python(spark):
    import hashlib

    S = 10**9
    for seed in (51, 52, 53):
        edges = [
            (a, b) for a, b in _rand_edges(seed, n_nodes=12, n_edges=35)
            if a != b
        ]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            (r["node"], r["bet_fp"])
            for r in graph.betweenness_estimate(
                df, n_pivots=4, max_hops=3
            ).collect()
        }
        eset = set(edges)
        adj = {}
        for a, b in eset:
            adj.setdefault(a, set()).add(b)
        nodes = sorted({x for e in edges for x in e})
        piv = sorted(
            nodes,
            key=lambda n: (hashlib.sha256(str(n).encode()).hexdigest(), n),
        )[:4]
        bet = {}
        for p in piv:
            # forward: levels + sigma
            dist, sigma = {p: 0}, {p: 1}
            levels = [[p]]
            for d in range(1, 4):
                nxt = {}
                for u in levels[d - 1]:
                    for w in adj.get(u, ()):
                        if w not in dist:
                            nxt[w] = nxt.get(w, 0) + sigma[u]
                if not nxt:
                    break
                for w, s in nxt.items():
                    dist[w] = d
                    sigma[w] = s
                levels.append(sorted(nxt))
            # backward: deepest level first, Brandes fp recurrence
            delta = {v: 0 for v in dist}
            for d in range(len(levels) - 1, 0, -1):
                for u in levels[d - 1]:
                    c = 0
                    for w in adj.get(u, ()):
                        if dist.get(w) == d:
                            c += (sigma[u] * (S + delta[w])) // sigma[w]
                    delta[u] = c
            for v, dl in delta.items():
                if v != p:
                    bet[v] = bet.get(v, 0) + dl
        want = {(v, b) for v, b in bet.items() if b > 0}
        assert got == want, f"seed {seed}"


def test_prefix_filter_jaccard_is_lossless(spark):
    from gliner_transbronchialbiopsy_spark.operators import dedup

    for seed in (61, 62):
        rng = random.Random(seed)
        words = [f"w{k}" for k in range(12)]
        docs = [
            (i, " ".join(rng.choices(words, k=rng.randrange(3, 15))))
            for i in range(25)
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        t = 0.4
        got = {
            (r["id_a"], r["id_b"], r["shared"], r["sz_a"], r["sz_b"])
            for r in dedup.prefix_filter_jaccard_pairs(
                df, n=3, threshold=t
            ).collect()
        }
        # brute force over distinct 3-gram sets (word_ngrams semantics:
        # short docs collapse to the single whole-text gram)
        def gset(text):
            ws = text.lower().split()
            if len(ws) >= 3:
                return {
                    " ".join(ws[i:i + 3]) for i in range(len(ws) - 2)
                }
            return {" ".join(ws)}

        sets = {i: gset(tx) for i, tx in docs}
        want = set()
        for a in sets:
            for b in sets:
                if a < b:
                    inter = len(sets[a] & sets[b])
                    if inter and inter / len(sets[a] | sets[b]) >= t:
                        want.add((a, b, inter, len(sets[a]), len(sets[b])))
        assert got == want, f"seed {seed}"


def test_tfidf_cosine_matches_python(spark):
    from collections import Counter

    from gliner_transbronchialbiopsy_spark.operators import termstats

    rng = random.Random(71)
    words = [f"w{k}" for k in range(10)]
    docs = [
        (i, " ".join(rng.choices(words, k=rng.randrange(1, 12))))
        for i in range(15)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = [
        (r["id_a"], r["id_b"], r["dot_fp"], r["norm2_a"], r["norm2_b"])
        for r in termstats.tfidf_cosine_topk(df, k=10).collect()
    ]
    tf = {i: Counter(t.lower().split()) for i, t in docs}
    dfc = Counter(w for c in tf.values() for w in c)
    N = len(docs)
    wts = {
        i: {
            w: c * math.floor(math.log(N / dfc[w]) * 100)
            for w, c in cnts.items()
        }
        for i, cnts in tf.items()
    }
    norms = {i: sum(v * v for v in ws.values()) for i, ws in wts.items()}
    rows = []
    for a in wts:
        for b in wts:
            if a < b:
                dot = sum(
                    wa * wts[b][w]
                    for w, wa in wts[a].items()
                    if w in wts[b] and wa > 0 and wts[b][w] > 0
                )
                if dot > 0:
                    rows.append((a, b, dot, norms[a], norms[b]))
    rows.sort(
        key=lambda r: (-(r[2] / (math.sqrt(r[3]) * math.sqrt(r[4]))), r[0], r[1])
    )
    assert got == rows[:10]


def test_assortativity_matches_python(spark):
    for seed in (81, 82):
        edges = [
            (a, b) for a, b in _rand_edges(seed, n_nodes=10, n_edges=25)
            if a != b
        ]
        df = spark.createDataFrame(edges, "src long, dst long")
        row = graph.degree_assortativity(df).collect()[0]
        und = {(min(a, b), max(a, b)) for a, b in edges}
        deg = {}
        for a, b in und:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        pairs = [(deg[a], deg[b]) for a, b in und] + [
            (deg[b], deg[a]) for a, b in und
        ]
        m = len(pairs)
        sx = sum(x for x, _ in pairs)
        sy = sum(y for _, y in pairs)
        sxy = sum(x * y for x, y in pairs)
        sx2 = sum(x * x for x, _ in pairs)
        sy2 = sum(y * y for _, y in pairs)
        assert (
            row["n_edges"], row["sum_x"], row["sum_y"], row["sum_xy"],
            row["sum_x2"], row["sum_y2"],
        ) == (m, sx, sy, sxy, sx2, sy2), f"seed {seed}"
        vx, vy = m * sx2 - sx * sx, m * sy2 - sy * sy
        if vx > 0 and vy > 0:
            want = round(
                (float(m) * sxy - float(sx) * sy)
                / math.sqrt((float(m) * sx2 - float(sx) * sx)
                            * (float(m) * sy2 - float(sy) * sy)), 6)
            assert abs(row["assortativity"] - want) < 1e-9, f"seed {seed}"


def test_modularity_matches_python(spark):
    for seed in (91, 92):
        edges = [
            (a, b) for a, b in _rand_edges(seed, n_nodes=12, n_edges=30)
            if a != b
        ]
        df = spark.createDataFrame(edges, "src long, dst long")
        # arbitrary deterministic partition: label = node % 3
        und = {(min(a, b), max(a, b)) for a, b in edges}
        nodes = sorted({x for e in und for x in e})
        lab_df = spark.createDataFrame(
            [(n, n % 3) for n in nodes], "node long, label long"
        )
        row = graph.modularity(df, lab_df).collect()[0]
        m = len(und)
        deg = {}
        for a, b in und:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        e_c, d_c = {}, {}
        for a, b in und:
            if a % 3 == b % 3:
                e_c[a % 3] = e_c.get(a % 3, 0) + 1
        for n in nodes:
            d_c[n % 3] = d_c.get(n % 3, 0) + deg[n]
        q_num = sum(
            4 * m * e_c.get(c, 0) - d_c[c] * d_c[c] for c in d_c
        )
        assert (row["m"], row["n_communities"], row["q_num"]) == (
            m, len(d_c), q_num,
        ), f"seed {seed}"
        assert abs(
            row["modularity"] - round(q_num / (4.0 * m * m), 6)
        ) < 1e-9, f"seed {seed}"


def test_cms_matches_python_and_is_one_sided(spark):
    import hashlib
    from collections import Counter

    from gliner_transbronchialbiopsy_spark.operators import sketches

    rng = random.Random(101)
    words = [f"t{k}" for k in range(40)]
    docs = [
        (" ".join(rng.choices(words, k=rng.randrange(1, 20))),)
        for _ in range(30)
    ]
    df = spark.createDataFrame(docs, "text string")
    D, W = 3, 32  # small width forces collisions -> overcounts appear
    got = {
        (r["token"], r["true_c"], r["est_c"], r["overcount"])
        for r in sketches.heavy_hitters_check(
            df, k=15, depth=D, width=W
        ).collect()
    }
    toks = [w for t, in docs for w in t.lower().split()]
    true = Counter(toks)

    def h(tok, i):
        return int(
            hashlib.sha256(f"{tok}\x1f{i}".encode()).hexdigest()[:15], 16
        ) % W

    cells = Counter((i, h(t, i)) for t in toks for i in range(D))
    top = sorted(true.items(), key=lambda kv: (-kv[1], kv[0]))[:15]
    want = set()
    for tok, c in top:
        est = min(cells[(i, h(tok, i))] for i in range(D))
        assert est >= c  # the one-sided guarantee
        want.add((tok, c, est, est - c))
    assert got == want


def test_edge_support_matches_python(spark):
    from collections import Counter

    for seed in (111, 112):
        edges = [
            (a, b) for a, b in _rand_edges(seed, n_nodes=10, n_edges=28)
            if a != b
        ]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            (r["u"], r["v"], r["support"])
            for r in graph.edge_support(df, k=100).collect()
        }
        und = {(min(a, b), max(a, b)) for a, b in edges}
        nbr = {}
        for a, b in und:
            nbr.setdefault(a, set()).add(b)
            nbr.setdefault(b, set()).add(a)
        sup = Counter()
        for u, v in und:
            sup[(u, v)] = len(nbr[u] & nbr[v])
        want = {(u, v, sup[(u, v)]) for u, v in und}
        assert got == want, f"seed {seed}"


def test_directed_summary_matches_python(spark):
    for seed in (121, 122):
        rng = random.Random(seed)
        edges = [
            (rng.randrange(8), rng.randrange(8)) for _ in range(30)
        ]
        df = spark.createDataFrame(edges, "src long, dst long")
        row = graph.directed_summary(df).collect()[0]
        loops = {(a, b) for a, b in edges if a == b}
        e = {(a, b) for a, b in edges if a != b}
        recip = {(a, b) for a, b in e if (b, a) in e}
        outd, ind = {}, {}
        for a, b in e:
            outd[a] = outd.get(a, 0) + 1
            ind[b] = ind.get(b, 0) + 1
        nodes = {x for p in e for x in p} | {a for a, _ in loops}
        assert (
            row["n_nodes"], row["n_edges"], row["n_reciprocal"],
            row["max_out_deg"], row["max_in_deg"], row["n_self_loops"],
        ) == (
            len(nodes), len(e), len(recip),
            max(outd.values(), default=0), max(ind.values(), default=0),
            len(loops),
        ), f"seed {seed}"
        assert abs(
            row["reciprocity"]
            - (round(len(recip) / len(e), 6) if e else 0.0)
        ) < 1e-9, f"seed {seed}"


def test_scd2_apply_equals_full_rebuild(spark):
    from gliner_transbronchialbiopsy_spark.operators import ranges

    for seed in (131, 132):
        rng = random.Random(seed)
        # strictly increasing ts so the append-only contract holds at
        # any cutoff; repeated states force run merges at the seam
        rows = [
            (rng.randrange(5), rng.choice("abc"), t, t)
            for t in range(80)
        ]
        cutoff = 50
        ev = spark.createDataFrame(rows, "k long, s string, t long, i long")
        hist = ev.filter(F.col("t") < cutoff)
        batch = ev.filter(F.col("t") >= cutoff)
        iv = ranges.state_intervals(hist, "k", "s", "t", tie="i")
        applied = ranges.scd2_apply(iv, batch, "k", "s", "t", tie="i")
        full = ranges.state_intervals(ev, "k", "s", "t", tie="i")
        assert sorted(tuple(r) for r in applied.collect()) == sorted(
            tuple(r) for r in full.collect()
        ), f"seed {seed}"


def test_linear_counting_matches_python(spark):
    import hashlib

    from gliner_transbronchialbiopsy_spark.operators import sketches

    rng = random.Random(141)
    rows = [
        (rng.choice("pq"), f"v{rng.randrange(60)}") for _ in range(200)
    ]
    df = spark.createDataFrame(rows, "grp string, val string")
    M = 64
    got = {
        (r["grp"], r["n_occupied"], r["est_distinct"])
        for r in sketches.linear_counting(
            df, "val", group="grp", m=M
        ).collect()
    }
    want = set()
    for g in ("p", "q"):
        occ = {
            int(hashlib.sha256(v.encode()).hexdigest()[:15], 16) % M
            for gg, v in rows
            if gg == g
        }
        n = len(occ)
        est = round(-M * math.log((M - n) / M), 4) if n < M else None
        want.add((g, n, est))
    assert got == want
    # estimates track the true distinct counts within linear-counting
    # error at this load factor
    for g in ("p", "q"):
        true = len({v for gg, v in rows if gg == g})
        est = next(e for gg, _, e in got if gg == g)
        assert est is not None and abs(est - true) / true < 0.25


def test_hll_matches_python_and_merges(spark):
    import hashlib

    from gliner_transbronchialbiopsy_spark.operators import sketches

    P, W = 7, 53  # smallest allowed p keeps the test sketch tiny
    M = 1 << P

    def py_registers(vals):
        regs = {}
        for v in vals:
            h = int(hashlib.sha256(v.encode()).hexdigest()[:15], 16)
            bucket, rem = h >> W, h % (1 << W)
            rho = (W + 1) if rem == 0 else (W + 1 - rem.bit_length())
            regs[bucket] = max(regs.get(bucket, 0), rho)
        return regs

    rng = random.Random(151)
    rows = [
        (rng.choice("pq"), f"v{rng.randrange(400)}") for _ in range(800)
    ]
    df = spark.createDataFrame(rows, "grp string, val string")
    got = {
        (r["grp"], r["bucket"], r["register"])
        for r in sketches.hll_registers(df, "val", group="grp", p=P)
        .collect()
    }
    want = {
        (g, b, m)
        for g in ("p", "q")
        for b, m in py_registers(
            [v for gg, v in rows if gg == g]
        ).items()
    }
    assert got == want
    # merge property: bucket-wise max of the two group sketches ==
    # the sketch of the union (partial aggregation IS the merge)
    union_regs = py_registers([v for _, v in rows])
    merged = {}
    for g, b, m in want:
        merged[b] = max(merged.get(b, 0), m)
    assert merged == union_regs
    # estimate tracks true distinct within ~4 standard errors at p=7
    est_rows = sketches.hll_cardinality(
        df, "val", group="grp", p=P
    ).collect()
    for r in est_rows:
        true = len({v for gg, v in rows if gg == r["grp"]})
        se = 1.04 / math.sqrt(M)
        assert abs(r["est_distinct"] - true) / true < 4 * se, (
            r["grp"], r["est_distinct"], true,
        )
        # the exact long state is internally consistent
        assert r["n_zero"] == M - len(
            py_registers([v for gg, v in rows if gg == r["grp"]])
        )


def test_rrf_fuse_matches_python(spark):
    from gliner_transbronchialbiopsy_spark.operators import termstats

    K0, SCALE = 60, 1_000_000
    for seed in (11, 12):
        rng = random.Random(seed)
        ids = list(range(30))
        lists = []
        for _ in range(3):
            rng.shuffle(ids)
            lists.append([(d, i + 1) for i, d in enumerate(ids[:15])])
        dfs = [
            spark.createDataFrame(lst, "doc_id long, rank int")
            for lst in lists
        ]
        got = [
            (r["doc_id"], r["n_lists"], r["rrf_fp"], r["rrf"])
            for r in termstats.rrf_fuse(
                dfs, k0=K0, k=10, scale=SCALE
            ).collect()
        ]
        # pure-python reference: integer contributions, exact sums
        acc = {}
        for lst in lists:
            for d, rank in lst:
                n, s = acc.get(d, (0, 0))
                acc[d] = (n + 1, s + SCALE // (K0 + rank))
        want = sorted(
            ((d, n, s, round(s / SCALE, 6)) for d, (n, s) in acc.items()),
            key=lambda t: (-t[2], t[0]),
        )[:10]
        assert got == want, f"seed {seed}"
    # a doc ranked #1 in two arms must outscore a doc ranked #1 in one
    both = spark.createDataFrame([(1, 1), (2, 2)], "doc_id long, rank int")
    one = spark.createDataFrame([(2, 1), (1, 2)], "doc_id long, rank int")
    solo = spark.createDataFrame([(9, 1)], "doc_id long, rank int")
    fused = {
        r["doc_id"]: r["rrf_fp"]
        for r in termstats.rrf_fuse([both, one, solo], k=5).collect()
    }
    assert fused[1] == fused[2] > fused[9]


def test_katz_matches_python_walk_counts(spark):
    from gliner_transbronchialbiopsy_spark.operators import graph

    R, DEN = 3, 10
    for seed in (21, 22, 23):
        edges = _rand_edges(seed, n_nodes=10, n_edges=25)
        simple = {(a, b) for a, b in edges}
        df = spark.createDataFrame(list(simple), "src long, dst long")
        got = [
            (r["node"], r["katz_fp"], r["katz"])
            for r in graph.katz_centrality(
                df, rounds=R, alpha_den=DEN, k=100
            ).collect()
        ]
        # python reference: exact walk counts by matrix-vector rounds
        nodes = {a for a, _ in simple} | {b for _, b in simple}
        v = {n: 1 for n in nodes}
        acc = {}
        for r in range(1, R + 1):
            nxt = {}
            for a, b in simple:
                if a in v:
                    nxt[b] = nxt.get(b, 0) + v[a]
            v = nxt
            for n, w in v.items():
                acc[n] = acc.get(n, 0) + w * DEN ** (R - r)
        want = sorted(
            (
                (n, s, round(s / float(DEN ** R), 6))
                for n, s in acc.items()
            ),
            key=lambda t: (-t[1], t[0]),
        )
        assert got == want, f"seed {seed}"


def test_bloom_semijoin_matches_python(spark):
    import hashlib

    from gliner_transbronchialbiopsy_spark.operators import sketches

    M, NH = 256, 3

    def py_bits(keys):
        out = set()
        for v in keys:
            for s in range(NH):
                h = int(hashlib.sha256(
                    f"{v}\x1f{s}".encode()).hexdigest()[:15], 16)
                out.add(h % M)
        return out

    rng = random.Random(161)
    build_keys = {f"b{rng.randrange(200)}" for _ in range(60)}
    probe_rows = [f"b{rng.randrange(400)}" for _ in range(300)]
    build = spark.createDataFrame([(v,) for v in build_keys], "k string")
    probe = spark.createDataFrame([(v,) for v in probe_rows], "k string")

    bits = py_bits(build_keys)
    got_bits = {
        r["bit"]
        for r in sketches.bloom_bits(build, "k", m_bits=M, n_hashes=NH)
        .collect()
    }
    assert got_bits == bits

    def py_pass(v):
        return all(
            int(hashlib.sha256(f"{v}\x1f{s}".encode())
                .hexdigest()[:15], 16) % M in bits
            for s in range(NH)
        )

    got_pass = sorted(
        r["k"]
        for r in sketches.bloom_semijoin(
            probe, "k",
            sketches.bloom_bits(build, "k", m_bits=M, n_hashes=NH),
            m_bits=M, n_hashes=NH,
        ).collect()
    )
    want_pass = sorted(v for v in probe_rows if py_pass(v))
    assert got_pass == want_pass
    # no false negatives: every true member passes
    assert all(py_pass(v) for v in probe_rows if v in build_keys)

    audit = sketches.bloom_semijoin_audit(
        build, probe, "k", "k", m_bits=M, n_hashes=NH
    ).collect()[0]
    n_true = sum(1 for v in probe_rows if v in build_keys)
    assert audit["n_true"] == n_true
    assert audit["n_bloom_pass"] == len(want_pass) >= n_true
    assert audit["n_false_pos"] == len(want_pass) - n_true


def test_snm_pairs_matches_python(spark):
    from gliner_transbronchialbiopsy_spark.operators import linking

    for seed, w in ((31, 3), (32, 5)):
        rng = random.Random(seed)
        rows = [
            (i, "".join(rng.choice("abc") for _ in range(4)))
            for i in range(40)
        ]
        df = spark.createDataFrame(rows, "rid long, name string")
        got = {
            (r["id_a"], r["id_b"], r["rank_dist"])
            for r in linking.snm_pairs(
                df, "name", "rid", window=w
            ).collect()
        }
        # python reference: one global sort, all pairs within w
        order = sorted(rows, key=lambda t: (t[1], t[0]))
        want = {
            (order[i][0], order[j][0], j - i)
            for i in range(len(order))
            for j in range(i + 1, min(i + w, len(order)))
        }
        assert got == want, f"seed {seed} w {w}"
    # prefix_len > 1 must not change the pair set (buckets stay
    # contiguous under the sort order for any prefix length)
    df = spark.createDataFrame(rows, "rid long, name string")
    p1 = {
        (r["id_a"], r["id_b"])
        for r in linking.snm_pairs(df, "name", "rid", window=4).collect()
    }
    p2 = {
        (r["id_a"], r["id_b"])
        for r in linking.snm_pairs(
            df, "name", "rid", window=4, prefix_len=2
        ).collect()
    }
    assert p1 == p2


def test_kmv_theta_matches_python(spark):
    import hashlib

    from gliner_transbronchialbiopsy_spark.operators import sketches

    K = 16
    R = 1 << 60

    def h60(v):
        return int(hashlib.sha256(v.encode()).hexdigest()[:15], 16)

    rng = random.Random(171)
    a_vals = {f"a{rng.randrange(300)}" for _ in range(120)}
    b_vals = {f"a{rng.randrange(300)}" for _ in range(120)}
    da = spark.createDataFrame([(v,) for v in a_vals], "k string")
    db = spark.createDataFrame([(v,) for v in b_vals], "k string")

    # state parity: exactly the K smallest distinct hashes
    got_state = sorted(
        r["h"] for r in sketches.kmv_state(da, "k", k=K).collect()
    )
    want_state = sorted({h60(v) for v in a_vals})[:K]
    assert got_state == want_state

    # distinct estimate tracks truth within bottom-k error (~1/sqrt(k-2))
    est = sketches.kmv_distinct(da, "k", k=K).collect()[0]
    assert est["n_state"] == K and est["kth_hash"] == want_state[-1]
    assert abs(est["est_distinct"] - len(a_vals)) / len(a_vals) < 1.0

    # theta intersection: python reference of the same estimator
    sa = sorted({h60(v) for v in a_vals})[:K]
    sb = sorted({h60(v) for v in b_vals})[:K]
    theta = min(
        sa[-1] if len(sa) >= K else R, sb[-1] if len(sb) >= K else R
    )
    n_common = len({h for h in sa if h < theta} & {h for h in sb
                                                   if h < theta})
    row = sketches.theta_intersection(da, db, "k", k=K).collect()[0]
    assert row["theta"] == theta
    assert row["n_common_below"] == n_common
    assert row["est_intersection"] == round(n_common * float(R) / theta, 4)

    # unsaturated degenerate case: theta = R, estimate == exact
    small_a = spark.createDataFrame([("x1",), ("x2",), ("x3",)], "k string")
    small_b = spark.createDataFrame([("x2",), ("x3",), ("x4",)], "k string")
    row = sketches.theta_intersection(small_a, small_b, "k", k=K).collect()[0]
    assert row["theta"] == R and row["est_intersection"] == 2.0


def test_ams_f2_matches_python(spark):
    import hashlib

    from gliner_transbronchialbiopsy_spark.operators import sketches

    L = 16

    def lane_sign(v, j):
        b, lane = divmod(j, 4)
        dig = hashlib.sha256(f"{v}\x1f{b}".encode()).hexdigest()
        h = int(dig[15 * lane:15 * lane + 15], 16)
        return 1 - 2 * (h % 2)

    rng = random.Random(181)
    rows = [f"u{rng.randrange(20)}" for _ in range(400)]
    df = spark.createDataFrame([(v,) for v in rows], "v string")
    got = sketches.ams_f2(df, "v", lanes=L).collect()[0]
    zs = [sum(lane_sign(v, j) for v in rows) for j in range(L)]
    sum_sq = sum(z * z for z in zs)
    assert got["n_lanes"] == L
    assert got["sum_sq"] == sum_sq
    assert got["est_f2"] == round(sum_sq / float(L), 4)
    # the estimator tracks the true self-join size within ~4 std errs
    from collections import Counter

    f2 = sum(c * c for c in Counter(rows).values())
    assert abs(got["est_f2"] - f2) / f2 < 4 * (2.0 / L) ** 0.5
    # merge property: lane sums of a split stream add
    half = len(rows) // 2
    d1 = spark.createDataFrame([(v,) for v in rows[:half]], "v string")
    d2 = spark.createDataFrame([(v,) for v in rows[half:]], "v string")
    z1 = [sum(lane_sign(v, j) for v in rows[:half]) for j in range(L)]
    z2 = [sum(lane_sign(v, j) for v in rows[half:]) for j in range(L)]
    merged_sum_sq = sum((a + b) ** 2 for a, b in zip(z1, z2))
    assert merged_sum_sq == sum_sq


def test_hrw_routing_matches_python_and_minimal_disruption(spark):
    import hashlib

    from gliner_transbronchialbiopsy_spark.operators import skew

    N = 5

    def h60(v, s):
        return int(hashlib.sha256(
            f"{v}\x1f{s}".encode()).hexdigest()[:15], 16)

    def route(v, shards):
        return max(shards, key=lambda s: h60(v, s))

    rng = random.Random(191)
    rows = [f"k{rng.randrange(60)}" for _ in range(250)]
    df = spark.createDataFrame([(v,) for v in rows], "v string")
    out = {
        r["shard"]: (r["n_rows"], r["n_keys"], r["n_stay"], r["n_move"])
        for r in skew.hrw_disruption_audit(
            df, "v", n_shards=N, removed=N - 1
        ).collect()
    }
    # python reference
    full = list(range(N))
    reduced = list(range(N - 1))
    want = {}
    for v in set(rows):
        s = route(v, full)
        s2 = route(v, reduced)
        nr, nk, st, mv = want.get(s, (0, 0, 0, 0))
        c = rows.count(v)
        want[s] = (nr + c, nk + 1, st + (s2 == s), mv + (s2 != s))
    assert out == want
    # the minimal-disruption theorem: only the removed shard moves
    for s, (_, nk, st, mv) in out.items():
        if s == N - 1:
            assert mv == nk and st == 0
        else:
            assert mv == 0 and st == nk


# --- PassJoin edit-distance pairs vs brute force ------------------------------
def _lev(a, b):
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_edit_distance_pairs_matches_bruteforce_random(spark):
    from gliner_transbronchialbiopsy_spark.operators import editsim

    for seed, d in ((11, 1), (12, 1), (13, 2)):
        rng = random.Random(seed)
        alpha = "ab"  # tiny alphabet -> dense near-pair structure
        rows = [
            (i, "".join(rng.choice(alpha) for _ in range(rng.randint(d + 1, 7))))
            for i in range(40)
        ]
        df = spark.createDataFrame(rows, "id long, s string")
        got = sorted(
            (r["id_a"], r["id_b"], r["ed"])
            for r in editsim.edit_distance_pairs(df, "id", "s", d=d).collect()
        )
        exp = sorted(
            (a[0], b[0], _lev(a[1], b[1]))
            for i, a in enumerate(rows)
            for b in rows[i + 1 :]
            if _lev(a[1], b[1]) <= d
        )
        assert got == exp, f"seed={seed} d={d}"


def test_edit_distance_pairs_max_bucket_is_lower_bound(spark):
    from gliner_transbronchialbiopsy_spark.operators import editsim

    # 30 strings sharing segment 'aaa' -> one hot bucket; capping it
    # drops candidates but never invents pairs
    rows = [(i, "aaa" + format(i, "03d")) for i in range(30)]
    df = spark.createDataFrame(rows, "id long, s string")
    full = editsim.edit_distance_pairs(df, "id", "s", d=1).collect()
    capped = editsim.edit_distance_pairs(
        df, "id", "s", d=1, max_bucket=5
    ).collect()
    full_set = {(r["id_a"], r["id_b"]) for r in full}
    capped_set = {(r["id_a"], r["id_b"]) for r in capped}
    assert capped_set <= full_set
    assert len(full_set) > 0


# --- Boruvka MST vs Kruskal --------------------------------------------------
def _kruskal(edges):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    out = []
    for w, a, b in sorted((w, a, b) for a, b, w in edges):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
            out.append((a, b, w))
    return sorted(out)


def test_boruvka_mst_matches_kruskal_random(spark):
    for seed in (1, 2, 5):
        rng = random.Random(seed)
        nodes = [f"n{i:02d}" for i in range(25)]
        es = set()
        while len(es) < 60:
            a, b = rng.sample(nodes, 2)
            es.add((min(a, b), max(a, b)))
        ws = rng.sample(range(1, 100000), len(es))
        edges = [(a, b, w) for (a, b), w in zip(sorted(es), ws)]
        df = spark.createDataFrame(edges, "src string, dst string, w long")
        got = sorted(
            (r["src"], r["dst"], r["w"])
            for r in graph.boruvka_mst(df).collect()
        )
        assert got == _kruskal(edges), f"seed={seed}"


def test_boruvka_mst_disconnected_forest_and_empty(spark):
    # two components -> spanning FOREST (n1 + n2 - 2 edges); and the
    # empty edge set returns an empty frame with the right schema
    edges = [("a", "b", 3), ("b", "c", 1), ("x", "y", 2)]
    df = spark.createDataFrame(edges, "src string, dst string, w long")
    got = sorted(
        (r["src"], r["dst"], r["w"])
        for r in graph.boruvka_mst(df).collect()
    )
    assert got == [("a", "b", 3), ("b", "c", 1), ("x", "y", 2)]
    empty = spark.createDataFrame([], "src string, dst string, w long")
    out = graph.boruvka_mst(empty)
    assert out.columns == ["src", "dst", "w"] and out.count() == 0
