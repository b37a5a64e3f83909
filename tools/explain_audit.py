"""Physical-plan audit: prints `.explain("formatted")` for key queries
and checks the properties that matter at 100 TB:

- parquet scans carry PushedFilters + pruned ReadSchema
- dimension joins go broadcast
- non-UDF stages sit inside WholeStageCodegen spans

Writes PLANS.md with Spark's per-session ids masked, so a rerun on
unchanged plans leaves it byte-identical.
Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import re
import sys

sys.path.insert(0, ".")

import __spark_entry__ as entrymod  # noqa: E402
from gliner_transbronchialbiopsy_spark.session import get_spark  # noqa: E402

# expected substrings; "!" prefix = must be ABSENT
AUDIT = {
    "q1_pricing_summary": (
        "PushedFilters: [IsNotNull(l_shipdate)",  # filter reaches the scan
        "HashAggregate",  # partial + final (map-side combine)
        "!InPandas",  # pure JVM
    ),
    "q3_top_orders": ("BroadcastHashJoin",),  # dim side broadcast
    "broadcast_lookup": ("BroadcastHashJoin",),
    "filter_range": ("PushedFilters: [IsNotNull(value)", "!InPandas"),
    # examined r06: Spark 4.1's WindowGroupLimit(Partial) already
    # reduces the pre-exchange volume to <=1 row per key per input
    # partition, and a max(struct(...)) aggregation rewrite plans as
    # SortAggregate (struct agg buffers defeat HashAggregate) — no win
    # on either axis, so the window row_number form stays
    "last_writer_wins": ("Window", "WindowGroupLimit", "!InPandas"),
    # detection runs upstream behind the mention store's one EAGER
    # localCheckpoint barrier (the UDF executes once per session and
    # sf_dir, not per consumer), so the visible consumption plan is a
    # pure scan of the checkpointed mention RDD: no Python node, no
    # join, no exchange. detect() itself returns a lazy plan (one
    # MapInPandas, no Scan ExistingRDD), pinned by
    # tests/test_mention_store.py
    "kg_triples": ("Scan ExistingRDD", "!InPandas", "!Exchange"),
    "text_quality": ("!InPandas",),  # regex/count features stay JVM
    "sim_topk_cosine": ("TakeOrderedAndProject", "!InPandas"),  # no full sort
    # two-level agg: partial combine before the shuffle, no Python
    "vocab_topk": ("HashAggregate", "TakeOrderedAndProject", "!InPandas"),
    # PMI collocations: the unigram vocab broadcasts onto the filtered
    # bigram table (twice), top-k is a distributed TakeOrdered — never
    # a single-partition global sort, no shuffle on the join
    "colloc_pmi": (
        "BroadcastHashJoin",
        "TakeOrderedAndProject",
        "!InPandas",
        "!SortMergeJoin",
    ),
    # bounded-slice pair mining: broadcast non-equi join (documented),
    # top-k via TakeOrdered, filter pushed to the scan
    "sim_pairs_topk": (
        "BroadcastNestedLoopJoin",
        "TakeOrderedAndProject",
        "PushedFilters: [IsNotNull(vec_id)",
        "!InPandas",
    ),
    # deterministic sampling: the bucket predicate evaluates at the scan
    "sample_stratified": ("HashAggregate", "!InPandas", "!SortMergeJoin"),
    # hyperplane-bucketed embedding dedup: the signature projection is
    # checkpointed (census + both join sides read the cut, not the
    # sign-hash subtree), the bucket cap is a left-semi join, all JVM
    "embedding_near_dup": ("Scan ExistingRDD", "LeftSemi", "!InPandas"),
    # trained-centroid IVF at full probe: bucket filter + exact cosine,
    # top-k via TakeOrdered, zero Python, no full sort
    "sim_ivf_kmeans": ("TakeOrderedAndProject", "!InPandas", "!Sort "),
    # salted two-phase agg: the first exchange hashes on (key, _salt)
    # so a hot key spreads; two HashAggregate pairs, all JVM
    "skew_salted_agg": ("_salt", "HashAggregate", "!InPandas"),
    # MinHash+LSH near-dup: the signature stage is a pure projection
    # (round 4 — no shingle explode/aggregation), checkpointed once
    # (Scan ExistingRDD feeds the census + both join sides), banding
    # and estimate all JVM
    # (the one Generate in this plan is the 8-band explode — 8 tiny
    # rows per signature, intended; the shingle explode is gone)
    "dedup_minhash": ("Scan ExistingRDD", "!InPandas"),
    # fixed-point unigram LM: the (token, lp_fp) table joins back onto
    # the exploded tokens via an explicit broadcast; vocab build is a
    # partial-combine HashAggregate; zero Python
    "lm_perplexity": ("BroadcastHashJoin", "HashAggregate", "!InPandas"),
    # TF-IDF: document-frequency table broadcast onto per-doc term
    # counts, per-doc top-k via Window, all JVM
    "tfidf_terms": ("BroadcastHashJoin", "Window", "!InPandas"),
    # cross-doc line dedup: the boilerplate set broadcasts into a
    # left_anti join (the exploded data side never shuffles for it);
    # counting shuffle keys on sha2, not line bytes
    "line_dedup": ("BroadcastHashJoin LeftAnti", "sha2", "!InPandas"),
    # fixed-point PageRank: each round ends in a localCheckpoint, so
    # the visible plan reads the checkpointed rank RDD — iterations
    # never stack into one mega-plan; zero Python
    "graph_pagerank": ("Scan ExistingRDD", "!InPandas"),
    # k-core peeling: each synchronous round ends in a localCheckpoint
    # (plan stays O(1) deep); the final degree count is a plain
    # HashAggregate over the checkpointed survivor edges, zero Python
    "graph_kcore": ("Scan ExistingRDD", "HashAggregate", "!InPandas"),
    # OPTIONAL is a left outer join onto the required bindings
    "kg_bgp_optional": ("LeftOuter", "!InPandas"),
    # UNION is plan-level concatenation (no shuffle of its own); the
    # VALUES inline table joins broadcast; zero Python
    "kg_bgp_union": ("Union", "BroadcastHashJoin", "!InPandas"),
    # per-node triangles: the explode is three projections unioned,
    # counted in one HashAggregate — no window, zero Python
    "graph_clustering": ("HashAggregate", "!InPandas", "!Window"),
    # wedge self-join keyed on the center, pair sums partial-combined,
    # top-k via TakeOrdered — never a global sort; zero Python
    "graph_adamic_adar": (
        "TakeOrderedAndProject",
        "HashAggregate",
        "!InPandas",
    ),
    # tertile cuts are ONE mergeable percentile aggregate broadcast
    # back as a projection — no window, no global sort, zero Python
    "perplexity_buckets": ("ObjectHashAggregate", "!InPandas", "!Window"),
    # CONSTRUCT: one hash join + template projection, zero Python
    "kg_construct": ("HashAggregate", "!InPandas"),
    # MINUS compiles to a left_anti hash join on the shared variable
    "kg_bgp_minus": ("LeftAnti", "!InPandas"),
    # pair counts from cluster-size sums — aggregates only, no
    # self-join anywhere in the metric
    "kg_cluster_eval": ("HashAggregate", "!InPandas"),
    # direct mapping is scan + explode per table, plan-level union —
    # no join, no shuffle before the summary aggregate, zero Python
    "kg_direct_map": ("Union", "HashAggregate", "!SortMergeJoin", "!InPandas"),
    # per-subject pred-set profile: two agg pairs, zero Python
    "kg_charsets": ("ObjectHashAggregate", "!InPandas"),
    # sliding chunks: tokenize + sequence + slice + posexplode is a
    # pure narrow projection — no shuffle before the summary, no Python
    "chunk_sliding": ("Generate", "!Exchange hashpartitioning(doc_id", "!InPandas"),
    # LF evaluation is a projection on the doc scan; the vote is one
    # partial-combined aggregate pair + a per-doc window on the tiny
    # per-label relation; zero Python
    "weak_labels": ("HashAggregate", "!InPandas"),
    # seeded PageRank: same checkpointed-round shape as graph_pagerank
    "graph_ppr": ("Scan ExistingRDD", "!InPandas"),
    # semi-naive fixpoint: rounds end in localCheckpoints; the final
    # projection reads checkpointed RDDs, zero Python
    "kg_rule_closure": ("Scan ExistingRDD", "!InPandas"),
    # exact group quantiles: single partial+final agg pair (percentile
    # is an ObjectHashAggregate buffer), zero Python, no window
    "quantiles_exact": ("Aggregate", "!InPandas", "!Window"),
    # winsorized stats: the one-row-per-group quantile frame broadcasts
    # back onto the fact table — the second pass is NOT a wide shuffle
    "winsorized_stats": ("BroadcastHashJoin", "!InPandas"),
    # token-blocked fuzzy match: candidate generation is an equi-join
    # on the token (never a nested loop); levenshtein verify is JVM
    "fuzzy_match_blocked": (
        "levenshtein",
        "!BroadcastNestedLoopJoin",
        "!InPandas",
    ),
    # bucketized range join: the window predicate becomes an equi-join
    # on the bucket id — the BroadcastNestedLoop Spark would pick for
    # the raw inequality predicate must NOT appear
    "range_window_join": ("!BroadcastNestedLoopJoin", "!InPandas"),
    # degree-oriented triangles: wedge + closure joins are hash joins
    # on node/pair keys; the only nested-loop is the final 4-way
    # single-row count product (cost 1x1x1x1, intended)
    "graph_triangles": ("HashAggregate", "!InPandas"),
    # SHACL-lite KG audit: the rules table broadcasts onto the triple
    # stream (detection itself sits behind the usual checkpoint
    # barrier, so no Python appears downstream); cardinality agg is
    # the only wide shuffle
    "kg_constraint_violations": ("BroadcastHashJoin", "!InPandas"),
    # DSIR importance weights: the n_buckets-row log-ratio model
    # broadcasts onto the exploded raw token stream (corpus text never
    # shuffles for the scoring join); count aggs partial-combine; JVM
    "dsir_weights": ("BroadcastHashJoin", "HashAggregate", "!InPandas"),
    # SCD2 intervals: the lag + run-sum windows share one
    # Exchange+Sort on (key, ts, tie); the interval-close lead runs on
    # the (smaller) interval rows; all JVM
    "state_intervals": ("Window", "!InPandas"),
    # random walks: steps end in localCheckpoint (plan reads the
    # checkpointed walk-state RDD), every draw resolves via hash joins
    "graph_random_walks": ("Scan ExistingRDD", "!InPandas"),
    # negative sampling: the pool draws resolve via (pred, idx) hash
    # joins against the indexed object table — never a nested loop,
    # never a driver-side array; the pool window is vocab-sized
    "kg_negative_samples": (
        "Window",
        "!BroadcastNestedLoopJoin",
        "!InPandas",
    ),
    # BPE pair stats: both aggs partial-combine (word build + pair
    # reduce), the pair explode is a JVM HOF, top-k via TakeOrdered
    "bpe_pair_counts": (
        "HashAggregate",
        "TakeOrderedAndProject",
        "!InPandas",
    ),
    # synchronous LPA: rounds end in localCheckpoint, so the visible
    # plan aggregates the checkpointed label RDD only; zero Python
    "graph_communities": ("Scan ExistingRDD", "!InPandas"),
    # KG snapshot diff: two left_anti hash joins on the triple key —
    # never a nested loop; output diff-sized
    "kg_diff": ("LeftAnti", "!BroadcastNestedLoopJoin", "!InPandas"),
    # BGP matcher: every pattern scan reads the checkpointed triple RDD
    # (detection behind the barrier), pattern constants become plain
    # Filter operators above it, the variable joins are hash joins —
    # never a nested loop (the patterns share ?doc)
    "kg_bgp_match": (
        "Scan ExistingRDD",
        "!BroadcastNestedLoopJoin",
        "!InPandas",
    ),
    # bounded BFS: each round ends in an eager localCheckpoint, so the
    # visible plan aggregates the checkpointed visited RDD only —
    # iterations never stack; zero Python
    "kg_reachability": ("Scan ExistingRDD", "!InPandas"),
    # RDFS entailment: the closed (tiny) ontology broadcasts onto the
    # instance scan — instances shuffle only for their own distinct
    "kg_type_inference": ("BroadcastHashJoin", "!InPandas"),
    # N-Triples sink: one pure string projection, no shuffle at all
    # after the triple dedup, no Python
    "kg_ntriples": ("Project", "!InPandas", "!SortMergeJoin"),
    # property path: the subclass closure is path-doubled behind eager
    # localCheckpoints (schema-sized by contract), so the visible plan
    # joins the checkpointed closure RDD; atoms are pred-pruned scans,
    # zero Python
    "kg_property_path": ("Scan ExistingRDD", "!InPandas"),
    # rdfs2/rdfs3: the (pred, kind, cls) rule table broadcasts onto the
    # one triple scan; instances shuffle only for the closing distinct
    "kg_domain_range": ("BroadcastHashJoin", "!InPandas"),
    # filtered link-prediction ranking: one window pass over k+1-row
    # groups, then one global aggregate — no joins after the candidate
    # build, no Python
    "kg_linkpred_metrics": ("Window", "HashAggregate", "!InPandas"),
    # Bellman-Ford rounds end in eager localCheckpoints, so the visible
    # plan reads the checkpointed best-distance RDD; zero Python
    "kg_weighted_paths": ("Scan ExistingRDD", "!InPandas"),
    # seeded path image: node-set equi-joins onto the checkpointed
    # extended graph; the star step's BFS rounds end in checkpoints
    "kg_path_seeded": ("Scan ExistingRDD", "!InPandas"),
    # sameAs rewrite: CC election behind its iteration checkpoints,
    # the triple rewrite is one hash join + one aggregate, no Python
    "kg_sameas_rewrite": ("HashAggregate", "!InPandas"),
    # composed KG query (round-5): BGP + path + MINUS + VALUES +
    # FILTER compile to ONE pipeline — every pattern atom and the path
    # relation read the single checkpointed extended graph (no
    # re-execution of the upstream pipeline per block), the MINUS
    # group is a left_anti hash join, the VALUES inline table
    # broadcasts, variable joins are hash joins (never a nested loop),
    # zero Python downstream of the detection barrier
    "kg_composed_query": (
        "Scan ExistingRDD",
        "LeftAnti",
        "BroadcastHashJoin",
        "!BroadcastNestedLoopJoin",
        "!InPandas",
    ),
    # composed CONSTRUCT: the OPTIONAL group is a left outer join, the
    # two head templates a plan-level union
    "kg_composed_construct": ("LeftOuter", "!InPandas"),
    # composed aggregates: two pred-pruned scans of the checkpointed
    # triples, one left join, one partial+final aggregate pair
    "kg_composed_agg": ("Scan ExistingRDD", "HashAggregate", "!InPandas"),
    # SPARQL text front-end (round-5): the parsed query plans
    # identically to a hand-built KGQuery — one pipeline over the
    # checkpointed extended graph, hash joins only, partial+final
    # aggregates, ORDER BY + LIMIT fused into TakeOrderedAndProject,
    # zero Python anywhere (parsing happens on the driver before the
    # plan exists)
    "kg_sparql_query": (
        "Scan ExistingRDD",
        "HashAggregate",
        "TakeOrderedAndProject",
        "!BroadcastNestedLoopJoin",
        "!InPandas",
    ),
    # SPARQL ASK (round-5): existence is a PLAN property — the body
    # compiles with LIMIT 1, so LocalLimit/GlobalLimit sit BELOW the
    # boolean count aggregate and Spark stops the scan at the first
    # solution; joins are hash joins, zero Python
    "kg_sparql_ask": (
        "LocalLimit",
        "GlobalLimit",
        "HashAggregate",
        "!BroadcastNestedLoopJoin",
        "!InPandas",
    ),
    # two independent UNION chains: each chain is a plan-level union
    # of its branch scans, the chains join on the shared ?d
    "kg_sparql_multiunion": ("Union", "!InPandas"),
    # bounded repetition p{1,2}: the optional second step desugars to
    # a zero-length union branch
    "kg_sparql_repetition": ("Union", "!InPandas"),
    # SPARQL DESCRIBE (round-5): the description is ONE left_semi join
    # of the triple store against the distinct described-node set —
    # never a nested loop, zero Python
    "kg_sparql_describe": (
        "LeftSemi",
        "!BroadcastNestedLoopJoin",
        "!InPandas",
    ),
    # SPARQL HAVING + OFFSET (round-5): inline HAVING aggregates become
    # hidden agg columns (filtered post-agg, projected away — never a
    # second aggregation pass or a window), and ORDER BY + OFFSET +
    # LIMIT fuse into one TakeOrderedAndProject (no global sort)
    "kg_sparql_having": (
        "HashAggregate",
        "TakeOrderedAndProject",
        "!Window",
        "!InPandas",
    ),
    # FILTER EXISTS / NOT EXISTS / BIND (round-5): correlated
    # existence is a semi join AND an anti join in the same pipeline
    # (never a nested loop); BIND is a plain projection; zero Python
    # cost-based join ordering (round-5): the stats-ordered BGP is
    # still all-JVM — pattern scans over the checkpointed extended
    # graph (pred-pruned parquet scans in production, see
    # triples_pred_pruned_scan), the NOT EXISTS gate as an anti join,
    # no nested loop, no Python. Stats change ONLY the join order.
    "kg_optimized_bgp": (
        "Scan ExistingRDD",
        "LeftAnti",
        "HashAggregate",
        "!BroadcastNestedLoopJoin",
        "!InPandas",
    ),
    "kg_sparql_exists": (
        "LeftSemi",
        "LeftAnti",
        "HashAggregate",
        "!BroadcastNestedLoopJoin",
        "!InPandas",
    ),
    # SPARQL 1.1 subquery (round-5): the nested grouped SELECT joins
    # the outer BGP as a plain hash-join branch under one tree — two
    # aggregate levels (subquery GROUP BY + outer DISTINCT), no
    # nested loop, no Python
    "kg_sparql_subquery": (
        "HashAggregate",
        "!BroadcastNestedLoopJoin",
        "!InPandas",
    ),
    # VALUES UNDEF (round-5): one broadcast join per defined-column
    # mask group, bag-unioned — no nested loop, no Python
    "kg_sparql_undef": (
        "BroadcastHashJoin",
        "Union",
        "!BroadcastNestedLoopJoin",
        "!InPandas",
    ),
    # winnowing (round-5): a pure projection — the scan reads ONLY
    # (doc_id, text), the fingerprint selection runs as flat HOFs, and
    # there is NO shuffle anywhere in the per-doc plan
    "winnow_fingerprints": (
        "ReadSchema: struct<doc_id:bigint,text:string",
        "!Exchange",
        "!InPandas",
    ),
    # winnow pair mining (round-5): census-capped fp self-join —
    # hash joins + aggregates only
    "winnow_pairs": (
        "HashAggregate",
        "!BroadcastNestedLoopJoin",
        "!InPandas",
    ),
    # AS OF slice (round-5): two range predicates over the SCD2
    # window output — no join anywhere, pure JVM
    "kg_asof_snapshot": (
        "Window",
        "HashAggregate",
        "!Join",
        "!InPandas",
    ),
    # condensation levels (round-5): same checkpointed-iteration shape
    # as graph_scc, final plan = super-node joins + aggregates
    "graph_condensation": (
        "Scan ExistingRDD",
        "HashAggregate",
        "!BroadcastNestedLoopJoin",
        "!InPandas",
    ),
    # GROUP_CONCAT/SAMPLE + negated property set (round-5): the NOT-IN
    # scan is a plain filter, aggregation is sort-free collect+sort
    # inside the agg — all JVM
    "kg_sparql_aggpath": (
        "HashAggregate",
        "!BroadcastNestedLoopJoin",
        "!InPandas",
    ),
    # SCC (round-5): the visible plan is the two nested aggregates over
    # the final peel's checkpointed assignment RDD — every iterative
    # round ran behind loop_ckpt barriers, no Python anywhere
    "graph_scc": (
        "Scan ExistingRDD",
        "HashAggregate",
        "!InPandas",
        "!BroadcastNestedLoopJoin",
    ),
    # OWL-lite entailment (round-5): the joint semi-naive fixpoint runs
    # behind per-round localCheckpoints, so the visible plan of the
    # inferred-triples output is ONLY the checkpointed delta RDDs —
    # compiled axiom rules never stack into one mega-plan; zero Python
    "kg_owl_entail": ("Scan ExistingRDD", "!InPandas"),
    # SPARQL Update (round-5 resumed): delete = solution-sized
    # left_anti, insert-dedup anti-join, no Python, no cartesian
    # anywhere. r06: the mention cache became a checkpoint scan, and a
    # Scan ExistingRDD reports no size statistics, so the INITIAL plan
    # can no longer prove the anti-join's build side small (AQE
    # converts it to broadcast at runtime from the real shuffle sizes;
    # production consumption reads pred-partitioned parquet snapshots,
    # which carry file statistics, so the static decision returns
    # there) — assert the join family + no cartesian instead of the
    # static broadcast pick.
    "kg_update_where": (
        "LeftAnti",
        "!InPandas",
        "!BroadcastNestedLoopJoin",
    ),
    "kg_sparql_update": (
        "LeftAnti",
        "!InPandas",
        "!BroadcastNestedLoopJoin",
    ),
    # earliest-arrival temporal reachability: the DP loop runs behind
    # per-round localCheckpoints, so the visible plan is checkpointed
    # frontier RDDs + the hour roll-up; zero Python
    "kg_temporal_reach": ("Scan ExistingRDD", "HashAggregate", "!InPandas"),
    # pivot-sampled centrality: same checkpointed-loop shape; the
    # final plan is one aggregate over the checkpointed distance
    # relation — never a per-pivot job
    "graph_centrality": (
        "Scan ExistingRDD",
        "HashAggregate",
        "TakeOrderedAndProject",
        "!InPandas",
    ),
    # capped-center wedge join: hash joins on the center key only,
    # top-k via TakeOrdered, no cartesian, pure JVM
    "graph_jaccard": (
        "TakeOrderedAndProject",
        "!InPandas",
        "!BroadcastNestedLoopJoin",
    ),
    # SCD2 CDC apply: the window runs over pseudo+batch only (the
    # history pass-through is a semi-filtered union, never re-sorted)
    "scd2_apply": ("Window", "LeftSemi", "!InPandas"),
    # edge support: oriented-closure joins + one count agg + left
    # join for support-0 edges; TakeOrdered cut, pure JVM
    "graph_edge_support": (
        "TakeOrderedAndProject",
        "HashAggregate",
        "!InPandas",
    ),
    # k-truss: the final plan (post loop_ckpt rounds) is one oriented
    # support closure over the checkpointed converged edge leaf + the
    # left support join + TakeOrdered cut; the per-round peels are
    # materialized behind the scan so no exponential lineage shows
    "graph_ktruss": (
        "TakeOrderedAndProject",
        "HashAggregate",
        "!InPandas",
    ),
    # BM25: query-vocab filter before any shuffle, idf + totals
    # broadcast back, exact-long sum agg, TakeOrdered cut, pure JVM
    "bm25_topk": (
        "BroadcastHashJoin",
        "TakeOrderedAndProject",
        "HashAggregate",
        "!InPandas",
    ),
    # skyline: the Arrow-batched local prune IS the design (the one
    # sanctioned Python stage), global merge = broadcast dominance
    # anti-join over the tiny candidate set — BNLJ on candidates,
    # never on the input
    "skyline_pareto": (
        "MapInPandas",
        "BroadcastNestedLoopJoin",
    ),
    # directed profile: distinct + semi-join + single-row aggregates
    # (the one-row crossJoins are broadcast scalar products)
    "graph_reciprocity": ("LeftSemi", "HashAggregate", "!InPandas"),
    # linear counting: one distinct-bucket agg pair per group + the
    # exact-count companion; no window, pure JVM
    "linear_counting": ("HashAggregate", "!Window", "!InPandas"),
    # Count-Min: cell sums partial-combine (the sketch merge); the
    # probe joins the broadcast d*w cell grid; no window, pure JVM
    "cms_heavy_hitters": (
        "BroadcastHashJoin",
        "HashAggregate",
        "!InPandas",
        "!Window",
    ),
    # HRW routing: both assignments are projections (no join, no
    # window); the only shuffles are the two grouping aggregates
    "hrw_routing": ("HashAggregate", "!Window", "!InPandas", "!Join"),
    # AMS F2: all 64 lanes are aggregate expressions over one scan —
    # no explode, no window, no join anywhere in the sketch side
    "ams_f2": ("HashAggregate", "!Window", "!InPandas", "!Explode"),
    # theta intersection: bottom-k states join on hash, scalars
    # enter as broadcast one-row cross joins — never a driver collect
    "theta_intersection": (
        "Window",
        "HashAggregate",
        "!InPandas",
    ),
    # SNM blocking: per-prefix-bucket windows (never a single global
    # one), broadcast offsets, block-id equi-join — no BNLJ on ranks
    "snm_blocking": (
        "Window",
        "BroadcastHashJoin",
        "!BroadcastNestedLoopJoin",
        "!InPandas",
    ),
    # Bloom semi-join: the filter state and the passing key set both
    # broadcast (the probe table never shuffles); no sort-merge path
    "bloom_semijoin": (
        "BroadcastHashJoin",
        "!SortMergeJoin",
        "!InPandas",
    ),
    # HLL: register MAX agg partial-combines (the sketch merge), the
    # readout re-aggregates m rows per group; no window, pure JVM
    "hll_cardinality": ("HashAggregate", "!Window", "!InPandas"),
    # RRF fusion: both arms end in TakeOrdered cuts (never a global
    # sort), fusion is a bounded union + sum agg, pure JVM end to end
    "rrf_hybrid": (
        "TakeOrderedAndProject",
        "Union",
        "HashAggregate",
        "!InPandas",
    ),
    # Katz: each walk round is one edge-vector join + partial-combined
    # sum behind a loop_ckpt leaf; final plan = bounded term union +
    # sum + TakeOrdered, pure JVM
    "graph_katz": (
        "TakeOrderedAndProject",
        "HashAggregate",
        "!InPandas",
        "!Window",
    ),
    # modularity: label-attach joins + label-keyed sums + one-row
    # roll-up over the checkpointed LPA labels; no window, pure JVM
    "graph_modularity": ("HashAggregate", "!InPandas"),
    # assortativity: one distinct + degree agg + two degree attaches
    # + a single-row aggregate; no window, pure JVM
    "graph_assortativity": ("HashAggregate", "!Window", "!InPandas"),
    # sparse TF-IDF cosine: token-keyed index join, TakeOrdered cut,
    # pure JVM. The one BroadcastNestedLoopJoin in this plan is the
    # ONE-ROW ndocs scalar crossJoin (intended — a broadcast of a
    # single aggregate row, not a pair enumeration).
    "tfidf_cosine": (
        "TakeOrderedAndProject",
        "HashAggregate",
        "!InPandas",
    ),
    # prefix-filter Jaccard: gram-keyed equi-joins + one per-doc
    # window for the prefix cut; no cartesian, pure JVM
    "jaccard_prefix_join": (
        "Window",
        "HashAggregate",
        "!InPandas",
        "!BroadcastNestedLoopJoin",
    ),
    # Brandes sampled betweenness: checkpointed forward/backward
    # rounds, final plan one agg + TakeOrdered, pure JVM
    "graph_betweenness": (
        "Scan ExistingRDD",
        "HashAggregate",
        "TakeOrderedAndProject",
        "!InPandas",
    ),
    # greedy funnel: per-step min-aggs + user-keyed joins, no window
    "event_funnel": ("HashAggregate", "!Window", "!InPandas"),
    # pivot-BFS distance histogram: one agg over checkpointed rounds
    "graph_distance_hist": (
        "Scan ExistingRDD",
        "HashAggregate",
        "!InPandas",
    ),
    # Stupid Backoff: broadcast unigram lookups; the bigram count
    # join is the one sharded shuffle (SortMergeJoin is acceptable
    # there), scoring all JVM
    "lm_stupid_backoff": (
        "BroadcastHashJoin",
        "TakeOrderedAndProject",
        "!InPandas",
    ),
    # named graphs: quad scans join the default-graph pattern as hash
    # joins on the doc key; no cartesian, no Python
    "kg_graph_bgp": (
        "HashAggregate",
        "!InPandas",
        "!BroadcastNestedLoopJoin",
    ),
    # GRAPH ?g group through the text front-end: the two 4-term quad
    # scans join on BOTH ?d and ?g (same-graph matching)
    "kg_sparql_graph": ("Left keys [2]", "!InPandas"),
    # Naive Bayes: dense model broadcast onto per-doc bucket counts,
    # partial-combine aggregates, argmax is an agg (no window), JVM
    "nb_classify": (
        "BroadcastHashJoin",
        "HashAggregate",
        "!InPandas",
        "!Window",
    ),
    # sessionize: both window expressions (lag gap flag + running
    # session counter) and the per-session rollup share ONE hash
    # exchange on user_id; no join anywhere
    "event_sessions": (
        "Window",
        "!InPandas",
        "!SortMergeJoin",
        "!BroadcastHashJoin",
    ),
    # ES weighted sample: the key is a pure projection (zero
    # shuffle), top-k is TakeOrdered — never a sort exchange
    "weighted_sample": (
        "TakeOrderedAndProject",
        "!InPandas",
        "!Exchange hashpartitioning",
    ),
    # OLAP cube: one Expand feeding one partial+final aggregate —
    # never a scan or join per grouping set
    "cube_revenue": (
        "Expand",
        "HashAggregate",
        "!InPandas",
        "!Join",
    ),
    # PassJoin: the edit-distance inequality becomes an equi-join on
    # pigeonhole segment keys — no nested loop, no Python
    "edit_distance_pairs": (
        "!BroadcastNestedLoopJoin",
        "!InPandas",
        "!CartesianProduct",
    ),
    # interval overlap: the range predicate becomes a day-bucket
    # equi-join with canonical-bucket single-match. The one-row
    # horizon crossJoin is a broadcast BNLJ by design (same
    # adjudication as tfidf_cosine's ndocs row), so only the
    # cartesian check applies
    "interval_overlap": (
        "HashAggregate",
        "!InPandas",
        "!CartesianProduct",
    ),
    # session trigrams: the n-gram window reuses sessionize's
    # user_id exchange (lead(session_no) guard, not a second window
    # key); no join anywhere
    "session_ngrams": (
        "Window",
        "HashAggregate",
        "!InPandas",
        "!SortMergeJoin",
        "!BroadcastHashJoin",
    ),
    # stratified ES sample: one exchange on source, row_number rank,
    # key is a projection
    "weighted_sample_group": (
        "Window",
        "!InPandas",
        "!SortMergeJoin",
    ),
    # frecency: map-side decay arithmetic + one partial-combine agg;
    # the one-row T crossJoin is the adjudicated broadcast BNLJ
    "decayed_counts": (
        "HashAggregate",
        "!InPandas",
        "!SortMergeJoin",
        "!CartesianProduct",
    ),
    # phrase search: each join side pre-filtered to one term's
    # postings; pure JVM, no nested loop
    "phrase_search": (
        "HashAggregate",
        "!InPandas",
        "!BroadcastNestedLoopJoin",
        "!CartesianProduct",
    ),
    # as-of join: union + last(ignorenulls) running window — one
    # exchange, NO join node at all
    "asof_join_quotes": (
        "Window",
        "!InPandas",
        "!SortMergeJoin",
        "!BroadcastHashJoin",
        "!BroadcastNestedLoopJoin",
    ),
    # Boruvka MST: per-round state is checkpointed RDD leaves (the
    # iterative-loop discipline); the visible plan is joins over
    # those leaves with no Python and no nested loop
    "graph_mst": (
        "Scan ExistingRDD",
        "!InPandas",
        "!BroadcastNestedLoopJoin",
        "!CartesianProduct",
    ),
}


# expression ids (`doc_id#60414`, `id#5L`), exchange ids (`plan_id=12`,
# `[id=#7]`) and RDD ids (`MapPartitionsRDD[732]`) are numbered per
# session: every run differs
_SESSION_IDS = re.compile(r"(#|plan_id=|\[id=|RDD\[)\d+")


def mask_session_ids(plan: str) -> str:
    return _SESSION_IDS.sub(r"\1_", plan)


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("explain_audit", cpus=4, shuffle_partitions=4)
    qs = entrymod.queries()
    sections, failures = [], []
    for name, expectations in AUDIT.items():
        df = qs[name](spark, sf_dir)
        plan = plan_of(df)
        checks = []
        for token in expectations:
            if token.startswith("!"):
                ok = token[1:] not in plan
                label = f"absent `{token[1:]}`"
            else:
                ok = token in plan
                label = f"present `{token}`"
            checks.append(f"  - {'OK ' if ok else 'FAIL'} {label}")
            if not ok:
                failures.append((name, token))
        sections.append(
            f"## {name}\n\n" + "\n".join(checks) + "\n\n```\n" + plan + "```\n"
        )

    # --- partition-pruning audit on a written pred-partitioned snapshot
    # (VERDICT r3 #4): the triples layout partitions by pred
    # (kg_pipeline stage 4); prove a pred-filtered read-back prunes at
    # the scan — PartitionFilters carries the pred equality and the
    # scan's file count drops to the one selected directory.
    import tempfile

    from pyspark.sql import functions as F  # noqa: E402

    from gliner_transbronchialbiopsy_spark.sources.checkpoint import (  # noqa: E402
        CheckpointManager,
    )

    with tempfile.TemporaryDirectory() as td:
        ckpt = CheckpointManager(td)
        snap = spark.range(0, 10000).select(
            F.concat(F.lit("doc-"), F.col("id")).alias("subj"),
            F.element_at(
                F.array(F.lit("grade"), F.lit("site"), F.lit("date")),
                (F.col("id") % 3 + 1).cast("int"),
            ).alias("pred"),
            F.col("id").cast("string").alias("obj"),
        )
        ckpt.write("triples", snap, partition_by=("pred",), lineage_key="pred")
        pruned = ckpt.read(spark, "triples").filter(F.col("pred") == "grade")
        # the scan's location names a fresh temporary directory per run
        plan = plan_of(pruned).replace(td, "<tmpdir>")
        n_grade = pruned.count()
        checks = []
        pf = plan.split("PartitionFilters: [", 1)
        ok_pf = len(pf) == 2 and "pred" in pf[1].split("]", 1)[0]
        checks.append(
            f"  - {'OK ' if ok_pf else 'FAIL'} present `PartitionFilters` on pred"
        )
        if not ok_pf:
            failures.append(("triples_pred_pruned_scan", "PartitionFilters"))
        # behavioral: garbage every NON-selected partition's files —
        # the pruned read must still succeed (never opens them)
        import glob as _glob
        import os as _os

        n_bad = 0
        for p in ("site", "date"):
            for fpath in _glob.glob(
                _os.path.join(td, "triples", "data", f"pred={p}", "*.parquet")
            ):
                with open(fpath, "wb") as fh:
                    fh.write(b"garbage")
                n_bad += 1
        try:
            ok_files = (
                n_bad > 0
                and ckpt.read(spark, "triples")
                .filter(F.col("pred") == "grade")
                .count()
                == n_grade
            )
        except Exception:
            ok_files = False
        checks.append(
            f"  - {'OK ' if ok_files else 'FAIL'} pruned read untouched by "
            f"{n_bad} corrupted non-selected partition files"
        )
        if not ok_files:
            failures.append(("triples_pred_pruned_scan", "behavioral-prune"))
        sections.append(
            "## triples_pred_pruned_scan\n\n"
            "Read-back of a pred-partitioned triples snapshot with a "
            "single-pred filter: partition pruning at the scan "
            "(behavioral double-check lives in "
            "tests/test_pipeline_e2e.py::"
            "test_triples_pred_filter_prunes_partitions — corrupted "
            "non-selected partitions are never opened).\n\n"
            + "\n".join(checks) + "\n\n```\n" + plan + "```\n"
        )

    # --- named-graph partition pruning on the --emit-quads layout:
    # a GROUND GRAPH term must reach the quad scan as a partition
    # filter on g, and corrupting every NON-selected graph partition
    # must not disturb the query (those directories are never opened)
    from gliner_transbronchialbiopsy_spark.operators import composer  # noqa: E402

    with tempfile.TemporaryDirectory() as td:
        qsnap = spark.range(0, 9000).select(
            F.element_at(
                F.array(F.lit("src1"), F.lit("src2"), F.lit("src3")),
                (F.col("id") % 3 + 1).cast("int"),
            ).alias("g"),
            F.concat(F.lit("doc-"), F.col("id")).alias("subj"),
            F.element_at(
                F.array(F.lit("engine"), F.lit("exec_op")),
                (F.col("id") % 2 + 1).cast("int"),
            ).alias("pred"),
            F.col("id").cast("string").alias("obj"),
        )
        qdir = _os.path.join(td, "quads")
        qsnap.write.partitionBy("g").parquet(qdir)
        quads = spark.read.parquet(qdir)
        t_empty = spark.createDataFrame(
            [], "subj string, pred string, obj string"
        )
        q = composer.KGQuery(
            graphs=(("src2", (("?d", "engine", "?e"),)),)
        )
        sols = composer.compose(t_empty, q, quads=quads)
        plan = plan_of(sols).replace(td, "<tmpdir>")
        n_src2 = sols.count()
        checks = []
        pf = plan.split("PartitionFilters: [", 1)
        ok_pf = len(pf) == 2 and "g" in pf[1].split("]", 1)[0]
        checks.append(
            f"  - {'OK ' if ok_pf else 'FAIL'} present `PartitionFilters` on g"
        )
        if not ok_pf:
            failures.append(("quads_graph_pruned_scan", "PartitionFilters"))
        n_bad = 0
        for gname in ("src1", "src3"):
            for fpath in _glob.glob(
                _os.path.join(qdir, f"g={gname}", "*.parquet")
            ):
                with open(fpath, "wb") as fh:
                    fh.write(b"garbage")
                n_bad += 1
        try:
            # re-read with the RECORDED schema (what a cataloged quad
            # table provides) — schema inference would sample footers
            # from arbitrary partitions at planning time, which is an
            # ingest-layout concern, not a pruning one
            reread = spark.read.schema(quads.schema).parquet(qdir)
            ok_files = (
                n_bad > 0
                and composer.compose(t_empty, q, quads=reread).count()
                == n_src2
            )
        except Exception:
            ok_files = False
        checks.append(
            f"  - {'OK ' if ok_files else 'FAIL'} ground-GRAPH query "
            f"untouched by {n_bad} corrupted non-selected graph partitions"
        )
        if not ok_files:
            failures.append(("quads_graph_pruned_scan", "behavioral-prune"))
        sections.append(
            "## quads_graph_pruned_scan\n\n"
            "A ground GRAPH term over the --emit-quads layout "
            "(parquet partitioned by the provenance graph column): "
            "the graph constant reaches the scan as a partition "
            "filter, and corrupted non-selected graph partitions are "
            "never opened.\n\n"
            + "\n".join(checks) + "\n\n```\n" + plan + "```\n"
        )

    with open("PLANS.md", "w") as f:
        f.write(mask_session_ids(
            "# PLANS — physical-plan audit (`.explain('formatted')`)\n\n"
            "Checked properties: filter pushdown to parquet scans, "
            "broadcast joins on dimension tables, whole-stage codegen "
            "for JVM stages, Python confined to the one MapInPandas "
            "detection stage.\n\n" + "\n".join(sections)
        ))
    n_cases = len(AUDIT) + 2  # + the two behavioral pruning cases
    print(f"{n_cases - len({n for n, _ in failures})}/{n_cases} clean; "
          f"failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
