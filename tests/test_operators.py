"""Operator-level Spark tests: overlap merge, pivot, linking,
connected components, corrections, dedup."""

import pytest
from pyspark.sql import functions as F

from gliner_transbronchialbiopsy_spark.plans import corpus_curation
from gliner_transbronchialbiopsy_spark.operators import (
    skew,
    components,
    dedup,
    linking,
    merge,
    pivot,
    stats,
)

MENTION_SCHEMA = (
    "repo string, path string, commit string, mention_id string, "
    "text string, label string, score double, start_idx int, end_idx int"
)


def _mentions(spark, rows):
    full = [("r", "p", "c", f"m{i}", *row) for i, row in enumerate(rows)]
    return spark.createDataFrame(full, MENTION_SCHEMA)


# --- A2 overlap merge (entity_processor.py:137-192 semantics) ---------------
def test_merge_keeps_higher_score(spark):
    m = _mentions(spark, [("A0", "Grade A", 0.6, 10, 20), ("A1", "Grade A", 0.9, 12, 22)])
    out = merge.merge_overlaps(m).collect()
    assert len(out) == 1 and out[0]["text"] == "A1"


def test_merge_iou_exactly_half_not_merged(spark):
    # spans [0,10) and [5,15): overlap 5, union 15 -> 1/3 < 0.5 kept;
    # craft IoU == 0.5 exactly: [0,10) & [0,20): overlap 10, union 20
    m = _mentions(spark, [("x", "Site", 0.9, 0, 10), ("y", "Site", 0.8, 0, 20)])
    out = merge.merge_overlaps(m).collect()
    assert len(out) == 2  # strict > threshold (reference :179)


def test_merge_equal_scores_keeps_first(spark):
    m = _mentions(spark, [("first", "Site", 0.8, 0, 10), ("second", "Site", 0.8, 1, 10)])
    out = merge.merge_overlaps(m).collect()
    # IoU = 9/10 > 0.5; equal scores -> current kept (strict < at :181)
    assert len(out) == 1 and out[0]["text"] == "first"


def test_merge_linear_sweep_not_transitive(spark):
    # chain a-b overlap, b-c overlap, a-c don't: reference sweep keeps
    # max(a,b) then compares with c
    m = _mentions(
        spark,
        [("a", "Site", 0.9, 0, 10), ("b", "Site", 0.5, 2, 12), ("c", "Site", 0.7, 9, 19)],
    )
    out = {r["text"] for r in merge.merge_overlaps(m).collect()}
    # a vs b: IoU 8/12 > .5 -> keep a (0.9). a vs c: overlap 1/union 19 -> keep both
    assert out == {"a", "c"}


# --- A1 pivot ----------------------------------------------------------------
def test_pivot_wide_order_and_nulls(spark):
    m = _mentions(
        spark,
        [
            ("B0", "Grade B", 0.7, 30, 32),
            ("A0", "Grade A", 0.9, 10, 12),
            ("A1", "Grade A", 0.8, 20, 22),
        ],
    )
    row = pivot.pivot_wide(m).collect()[0]
    assert row["Grade A"] == "A0;A1"  # span order, not collect order
    assert row["Grade B"] == "B0"
    assert row["Site"] is None
    assert row["scores"]["Grade A"] == [0.9, 0.8]


def test_melt_to_triples_roundtrip(spark):
    m = _mentions(
        spark, [("A0", "Grade A", 0.9, 0, 2), ("A1", "Grade A", 0.8, 5, 7)]
    )
    wide = pivot.pivot_wide(m, with_scores=False)
    triples = pivot.melt_to_triples(wide).collect()
    assert {(t["pred"], t["obj"]) for t in triples} == {
        ("Grade A", "A0"), ("Grade A", "A1"),
    }
    assert all(t["subj"] == "r/p@c" for t in triples)


# --- J4 linking ---------------------------------------------------------------
def test_linking_finds_near_duplicates(spark):
    rows = [
        ("doc", "lobe inférieur droit"),
        ("doc", "lobe inferieur droit"),   # near-dup (accent dropped)
        ("doc", "complètement différent"),
    ]
    df = spark.createDataFrame(rows, "label string, text string")
    edges = linking.link_surfaces(
        df, num_hashes=32, bands=16, jaccard_threshold=0.5
    ).collect()
    found = {(e["text_a"], e["text_b"]) for e in edges}
    assert ("lobe inferieur droit", "lobe inférieur droit") in found
    assert all("différent" not in a and "différent" not in b for a, b in found)


def test_minhash_is_unbiased_jaccard_estimate(spark):
    # identical strings must always collide on every band
    df = spark.createDataFrame(
        [("l", "texte identique"), ("l", "texte identique x")],
        "label string, text string",
    )
    sigs = linking.minhash_signatures(df, num_hashes=8).collect()
    assert len(sigs) == 2
    assert all(len(s["sig"]) == 8 for s in sigs)


# --- J5 connected components ---------------------------------------------------
def test_connected_components_two_clusters(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "src string, dst string"
    )
    comp = {r["node"]: r["component"] for r in components.connected_components(edges).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["x"] == comp["y"] == "x"


def test_connected_components_star_graph(spark):
    # hot-key shape: one hub connected to 30 spokes
    edges = spark.createDataFrame(
        [("hub", f"s{i:02d}") for i in range(30)], "src string, dst string"
    )
    comp = components.connected_components(edges)
    assert comp.select("component").distinct().count() == 1
    assert comp.count() == 31


def test_canonical_map_covers_isolated_nodes(spark):
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    nodes = spark.createDataFrame([("a",), ("b",), ("z",)], "node string")
    cmap = {r["node"]: r["canonical"] for r in components.canonical_map(edges, nodes).collect()}
    assert cmap == {"a": "a", "b": "a", "z": "z"}


# --- O4/J2 corrections ----------------------------------------------------------
def test_last_writer_wins_and_apply(spark):
    base = spark.createDataFrame(
        [("d1", "Site", "LID"), ("d2", "Site", "LM")],
        "document string, entity_type string, value string",
    )
    corr = spark.createDataFrame(
        [
            ("d1", "Site", "LSD", "2024-01-01 10:00:00", 1),
            ("d1", "Site", "LIG", "2024-01-02 10:00:00", 2),  # latest wins
        ],
        "document string, entity_type string, corrected_value string, "
        "timestamp string, correction_id int",
    )
    out = {
        r["document"]: r["value"]
        for r in stats.apply_corrections(
            base, corr, ("document", "entity_type"), "value"
        ).collect()
    }
    assert out == {"d1": "LIG", "d2": "LM"}


# --- dedup ----------------------------------------------------------------------
def test_exact_duplicates(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")],
        "doc_id long, text string",
    )
    out = dedup.exact_duplicates(df).collect()
    assert len(out) == 1
    assert out[0]["n_dups"] == 2 and out[0]["doc_ids"] == [1, 2]


def test_ngram_jaccard_identical_docs(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f"), (3, "z z z q q q")],
        "doc_id long, text string",
    )
    out = dedup.ngram_jaccard_pairs(df, threshold=0.9).collect()
    assert len(out) == 1
    assert (out[0]["id_a"], out[0]["id_b"]) == (1, 2)
    assert out[0]["jaccard"] == pytest.approx(1.0)


def test_simhash_identical_zero_hamming(spark):
    df = spark.createDataFrame(
        [(1, "pareil pareil pareil"), (2, "pareil pareil pareil")],
        "doc_id long, text string",
    )
    out = dedup.simhash_buckets(df).collect()
    assert len(out) == 1 and out[0]["hamming"] == 0


# --- similarity: IVF recall vs brute force -----------------------------------
def test_ivf_recall_against_brute_force(spark):
    from gliner_transbronchialbiopsy_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qvec = list(emb.filter(F.col("vec_id") == 0).head()["embedding"])
    corpus_df = emb.filter(F.col("vec_id") != 0)
    exact = [r["vec_id"] for r in similarity.brute_force_topk(corpus_df, qvec, k=10).collect()]
    assigned = similarity.ivf_assign(corpus_df, n_buckets=8)
    approx = [
        r["vec_id"]
        for r in similarity.ivf_topk(assigned, qvec, k=10, n_probe=4, n_buckets=8).collect()
    ]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5  # 4/8 buckets probed; recall must beat chance
    # and probing everything equals brute force exactly
    full = [
        r["vec_id"]
        for r in similarity.ivf_topk(assigned, qvec, k=10, n_probe=8, n_buckets=8).collect()
    ]
    assert full == exact


# --- F14 highlight + doc-level merge variant -----------------------------------
def test_highlight_mentions(spark):
    from gliner_transbronchialbiopsy_spark.functions import spark_fns

    df = spark.createDataFrame(
        [("grade A0 noté (A0)", "A0", "Grade A")],
        "text string, surface string, label string",
    )
    out = df.select(
        spark_fns.highlight_mentions(
            F.col("text"), F.col("surface"), F.col("label")
        ).alias("html")
    ).head()["html"]
    assert out.count('<span class="entity" data-label="Grade A">A0</span>') == 2


def test_merge_across_labels_doc_level(spark):
    # reference variant: merge across ALL labels of a doc at once
    # (entity_processor.py:153-188) — pass group_cols without 'label'
    m = _mentions(
        spark,
        [("A0", "Grade A", 0.6, 10, 20), ("LID", "Site", 0.9, 12, 22)],
    )
    out = merge.merge_overlaps(m, group_cols=("repo", "path", "commit"))
    rows = out.collect()
    # IoU = 8/12 > 0.5 across labels -> higher score wins even cross-label
    assert len(rows) == 1 and rows[0]["text"] == "LID"


# --- J5 distributed CC: large-star/small-star -----------------------------------
def test_cc_distributed_chain_converges_olog(spark):
    """A 10k-node chain (diameter ~10k) converges within the default
    20-iteration budget — the O(log n) property plain neighbor-min
    propagation does not have. driver_cutoff=0 forces the star path."""
    n = 10_000
    edges = spark.createDataFrame(
        [(f"n{i:05d}", f"n{i + 1:05d}") for i in range(n - 1)],
        "src string, dst string",
    )
    comp = components.connected_components(edges, driver_cutoff=0)
    got = comp.select("component").distinct().collect()
    assert [r["component"] for r in got] == ["n00000"]
    assert comp.count() == n


def test_cc_distributed_matches_driver_union_find(spark):
    import random

    rng = random.Random(7)
    nodes = [f"v{i:03d}" for i in range(300)]
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(260)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    edf = spark.createDataFrame(edges, "src string, dst string")
    dist = {
        r["node"]: r["component"]
        for r in components.connected_components(edf, driver_cutoff=0).collect()
    }
    drv = {
        r["node"]: r["component"]
        for r in components.connected_components(edf).collect()
    }
    assert dist == drv


def test_cc_reads_small_edge_set_once(spark):
    """Below the cutoff the path decision and the union-find share ONE
    bounded read of the edges: one Spark job over a one-partition input
    (a count followed by a collect would run two)."""
    edf = spark.range(0, 40, numPartitions=1).select(
        F.format_string("n%02d", F.col("id")).alias("src"),
        F.format_string("n%02d", F.col("id") - F.col("id") % 4).alias("dst"),
    )
    sc = spark.sparkContext
    sc.setJobGroup("cc_one_read", "connected_components job count")
    try:
        comp = components.connected_components(edf, driver_cutoff=100)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("cc_one_read")) == 1
    got = {r["node"]: r["component"] for r in comp.collect()}
    assert got == {f"n{i:02d}": f"n{i - i % 4:02d}" for i in range(40)}


def test_cc_raises_on_exhausted_iterations(spark):
    edges = spark.createDataFrame(
        [(f"c{i:03d}", f"c{i + 1:03d}") for i in range(199)],
        "src string, dst string",
    )
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="did not converge"):
        components.connected_components(edges, driver_cutoff=0, max_iterations=1)


def test_highlight_mentions_metachar_surface(spark):
    """Replacement-side '$' and '\\' must be escaped: Java regexp_replace
    treats them as group references in the replacement string."""
    from gliner_transbronchialbiopsy_spark.functions import spark_fns

    df = spark.createDataFrame(
        [
            ("total: $100 payés", "$100", "Montant"),
            (r"chemin a\b vu", r"a\b", "Path"),
        ],
        "text string, surface string, label string",
    )
    rows = df.select(
        "surface",
        spark_fns.highlight_mentions(
            F.col("text"), F.col("surface"), F.col("label")
        ).alias("html"),
    ).collect()
    out = {r["surface"]: r["html"] for r in rows}
    assert '<span class="entity" data-label="Montant">$100</span>' in out["$100"]
    assert '<span class="entity" data-label="Path">a\\b</span>' in out[r"a\b"]


def test_label_config_validation():
    from gliner_transbronchialbiopsy_spark import config as cfg

    cfg.validate_label_config()  # shipped config is consistent
    import pytest as _pytest

    with _pytest.raises(ValueError, match="diverge"):
        cfg.validate_label_config(labels=("Site", "Ghost"), slugs={"Site": "site"})


def test_latest_state_reapply_no_duplicate_column(spark):
    """Re-applying latest_state to its own output (refresh pattern)
    must not produce a duplicate last_updated column."""
    import pandas as pd

    from gliner_transbronchialbiopsy_spark.operators.corrections import (
        CORRECTION_SCHEMA, CorrectionsLog,
    )
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="corr_reapply_")
    log = CorrectionsLog(spark, os.path.join(d, "log"))
    events = spark.createDataFrame(
        pd.DataFrame(
            {
                "document": ["d1"],
                "entity_type": ["Site"],
                "original_value": ["LID"],
                "corrected_value": ["LM"],
                "timestamp": pd.to_datetime(["2024-01-01 10:00"]),
                "user": ["u"],
                "notes": [None],
                "correction_id": [1],
            }
        ),
        CORRECTION_SCHEMA,
    )
    log.append(events)
    base = spark.createDataFrame(
        [("d1", "LID"), ("d2", "LSG")], "document string, Site string"
    )
    once = log.latest_state(base, label_cols=("Site",))
    twice = log.latest_state(once, label_cols=("Site",))
    assert twice.columns.count("last_updated") == 1
    rows = {r["document"]: r["Site"] for r in twice.collect()}
    assert rows == {"d1": "LM", "d2": "LSG"}


def test_highlight_label_with_metachars(spark):
    """Free-form model labels with $ or \\ must not corrupt the
    replacement (same escaping as the surface side)."""
    from gliner_transbronchialbiopsy_spark.functions import spark_fns

    df = spark.createDataFrame(
        [("prix total 100", "100", "PRICE_$1")],
        "text string, surface string, label string",
    )
    out = df.select(
        spark_fns.highlight_mentions(
            F.col("text"), F.col("surface"), F.col("label")
        ).alias("html")
    ).head()["html"]
    assert 'data-label="PRICE_$1">100</span>' in out


def test_checkpoint_variant_mismatch_recomputes(spark, tmpdir_path):
    """A stage snapshot written under one variant must be recomputed,
    not served, when requested under another (e.g. resuming with
    --gliner-model against a pattern-catalog workdir)."""
    from gliner_transbronchialbiopsy_spark.sources.checkpoint import (
        CheckpointManager,
    )

    ckpt = CheckpointManager(tmpdir_path)
    calls = []

    def make(tag):
        def compute():
            calls.append(tag)
            return spark.createDataFrame([(tag,)], "which string")

        return compute

    a = ckpt.get_or_compute(spark, "st", make("catalog"), variant="catalog:a")
    assert a.head()["which"] == "catalog"
    # same variant -> served from snapshot, no recompute
    a2 = ckpt.get_or_compute(spark, "st", make("catalog2"), variant="catalog:a")
    assert a2.head()["which"] == "catalog" and calls == ["catalog"]
    # different variant -> recomputed and replaced
    b = ckpt.get_or_compute(spark, "st", make("gliner"), variant="gliner:m")
    assert b.head()["which"] == "gliner" and calls == ["catalog", "gliner"]


def test_minhash_gid_injective_on_separator_bytes(spark):
    """(label='a', text='b\\x1fc') and (label='a\\x1fb', text='c') must
    get DISTINCT signatures (the old separator-joined group id pooled
    them into one)."""
    from gliner_transbronchialbiopsy_spark.operators import linking

    df = spark.createDataFrame(
        [("a", "b\x1fc du texte assez long"), ("a\x1fb", "c du texte assez long")],
        "label string, text string",
    )
    sigs = linking.minhash_signatures(df, "text", ("label",), num_hashes=8)
    rows = sigs.collect()
    assert len(rows) == 2
    by_label = {r["label"]: (tuple(r["sig"]), r["n_shingles"]) for r in rows}
    assert by_label["a"] != by_label["a\x1fb"]


def test_latest_state_hostile_label_names(spark):
    """Labels containing dots and backticks must round-trip: the
    corrections travel as a map keyed by the literal label string, so
    no column-name parsing is involved."""
    import os
    import tempfile

    import pandas as pd

    from gliner_transbronchialbiopsy_spark.operators.corrections import (
        CORRECTION_SCHEMA, CorrectionsLog,
    )

    d = tempfile.mkdtemp(prefix="corr_hostile_")
    log = CorrectionsLog(spark, os.path.join(d, "log"))
    hostile = ["v1.0", "Grade `A`"]
    events = spark.createDataFrame(
        pd.DataFrame(
            {
                "document": ["d1", "d1"],
                "entity_type": hostile,
                "original_value": ["x", "y"],
                "corrected_value": ["X2", "Y2"],
                "timestamp": pd.to_datetime(["2024-01-01 10:00"] * 2),
                "user": ["u", "u"],
                "notes": pd.array([None, None], dtype="string"),
                "correction_id": [1, 2],
            }
        ),
        CORRECTION_SCHEMA,
    )
    log.append(events)
    base = spark.createDataFrame(
        [("d1", "x", "y"), ("d2", "a", "b")],
        ["document", *hostile],
    )
    out = {
        r["document"]: (r[hostile[0]], r[hostile[1]])
        for r in log.latest_state(base, label_cols=tuple(hostile)).collect()
    }
    assert out["d1"] == ("X2", "Y2")
    assert out["d2"] == ("a", "b")


def test_cc_iteration_budget_autoscales():
    from gliner_transbronchialbiopsy_spark.operators import components

    assert components.iteration_budget_for(10) == 20  # floor
    assert components.iteration_budget_for(2_000_000) == 46
    assert components.iteration_budget_for(10**12) == 84


def test_ivf_kmeans_recall_meets_hash_centroids(spark):
    """Trained centroids (Lloyd's k-means as a DataFrame loop) at
    partial probe: full probe equals brute force exactly, and
    half-probe recall@10 must MATCH OR BEAT the hash-pseudo-centroid
    variant on the same corpus (real centroids track the data)."""
    from gliner_transbronchialbiopsy_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qvec = list(emb.filter(F.col("vec_id") == 0).head()["embedding"])
    corpus = emb.filter(F.col("vec_id") != 0)
    exact = [
        r["vec_id"]
        for r in similarity.brute_force_topk(corpus, qvec, k=10).collect()
    ]

    cents = similarity.ivf_train_kmeans(corpus, n_buckets=8, iterations=3)
    assigned = similarity.ivf_assign_centroids(corpus, cents)
    full = [
        r["vec_id"]
        for r in similarity.ivf_topk_kmeans(
            assigned, cents, qvec, k=10, n_probe=8
        ).collect()
    ]
    assert full == exact

    km_half = {
        r["vec_id"]
        for r in similarity.ivf_topk_kmeans(
            assigned, cents, qvec, k=10, n_probe=4
        ).collect()
    }
    hash_assigned = similarity.ivf_assign(corpus, n_buckets=8)
    hash_half = {
        r["vec_id"]
        for r in similarity.ivf_topk(
            hash_assigned, qvec, k=10, n_probe=4, n_buckets=8
        ).collect()
    }
    km_recall = len(km_half & set(exact)) / 10
    hash_recall = len(hash_half & set(exact)) / 10
    assert km_recall >= hash_recall
    assert km_recall >= 0.5


# --- explicit skew handling: salted two-phase aggregation -------------------
def _skewed_events(spark):
    # one hot key (90% of rows) + two cold keys, with nulls in `value`
    rows = [(i, "hot", float(i % 7)) for i in range(1800)]
    rows += [(10_000 + i, "cold_a", float(i)) for i in range(150)]
    rows += [(20_000 + i, "cold_b", None) for i in range(50)]
    return spark.createDataFrame(rows, "event_id long, event_type string, value double")


def test_salted_agg_matches_plain_groupby(spark):
    ev = _skewed_events(spark)
    metrics = {
        "n": ("count", "value"),
        "total": ("sum", "value"),
        "vmin": ("min", "value"),
        "vmax": ("max", "value"),
        "vavg": ("avg", "value"),
    }
    got = {
        r["event_type"]: r
        for r in skew.salted_agg(
            ev, ["event_type"], metrics, salt_on="event_id", n_salts=16
        ).collect()
    }
    want = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("total"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
            F.avg("value").alias("vavg"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k]["n"] == want[k]["n"]
        for c in ("total", "vmin", "vmax", "vavg"):
            if want[k][c] is None:
                assert got[k][c] is None  # all-null group (cold_b)
            else:
                assert got[k][c] == pytest.approx(want[k][c], rel=1e-12)


def test_salted_agg_plan_spreads_hot_key(spark):
    # phase 1 must shuffle on (key, _salt) -- the hot key fans out --
    # and phase 2 on the bare key; _salt must not leak into the output
    ev = _skewed_events(spark)
    out = skew.salted_agg(
        ev, ["event_type"], {"n": ("count", "value")},
        salt_on="event_id", n_salts=16,
    )
    assert out.columns == ["event_type", "n"]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan  # first exchange keys include the salt
    phase1 = ev.withColumn(
        "_salt", F.pmod(F.xxhash64("event_id"), F.lit(16))
    ).groupBy("event_type", "_salt").count()
    # the hot key really spreads: >1 phase-1 partial per hot key
    hot_partials = phase1.filter(F.col("event_type") == "hot").count()
    assert hot_partials > 1


def test_salts_for_autoscale_bounds():
    # tiny/uniform inputs: NO fan-out (the fixed-default 32x partial-row
    # multiplication must not be charged to small groups)
    assert skew.salts_for(0) == 1
    assert skew.salts_for(999_999) == 1
    # scales linearly with the hot key, clamped at max_salts
    assert skew.salts_for(10_000_000) == 10
    assert skew.salts_for(10**9) == 256
    assert skew.salts_for(5_000, target_rows_per_task=1_000) == 5


def test_auto_salts_estimates_from_sample(spark):
    ev = _skewed_events(spark)
    # full sample -> exact hot count 1800; 1k-row target -> 2 salts
    n = skew.auto_salts(
        ev, ["event_type"], sample_fraction=1.0, target_rows_per_task=1_000
    )
    assert n == 2
    # default 1M-row target: this toy table needs no fan-out at all
    assert skew.auto_salts(ev, ["event_type"], sample_fraction=1.0) == 1
    # empty input
    empty = ev.filter(F.col("event_id") < 0)
    assert skew.auto_salts(empty, ["event_type"], sample_fraction=1.0) == 1
    # derived salts drive salted_agg to the same result as plain groupBy
    got = {
        r["event_type"]: r["n"]
        for r in skew.salted_agg(
            ev, ["event_type"], {"n": ("count", "value")},
            salt_on="event_id", n_salts=n,
        ).collect()
    }
    want = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_salted_agg_rejects_unknown_op(spark):
    ev = _skewed_events(spark)
    with pytest.raises(ValueError, match="unsupported op"):
        skew.salted_agg(
            ev, ["event_type"], {"d": ("countDistinct", "value")},
            salt_on="event_id",
        )
    with pytest.raises(ValueError, match="non-empty"):
        skew.salted_agg(ev, ["event_type"], {}, salt_on="event_id")


def test_salted_distinct_agg_matches_count_distinct(spark):
    ev = _skewed_events(spark)
    got = {
        r["event_type"]: r["n_distinct"]
        for r in skew.salted_distinct_agg(ev, ["event_type"], "value").collect()
    }
    want = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("value").alias("n"))
        .collect()
    }
    # exact parity incl. NULL handling: the all-NULL group (cold_b)
    # must appear with 0, matching countDistinct's skip-NULL semantics
    assert got == want
    assert got["cold_b"] == 0


# --- corpus curation plan: lang -> quality -> dedup keep-first --------------
def _curation_docs(spark):
    good = "the cat and the dog is with the man of the house and the tree"
    junk = "the !!!!!!!!!!!!!!!!!!!!!!!!!!!!!!"  # en, punct-swamped
    rows = [
        (3, good),          # duplicate pair: lowest id must win
        (10, good),
        (5, good + " extra words here"),  # unique good english
        (7, "le chat est la les de et la le"),  # french -> lang reject
        (9, junk),          # english but low quality
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_curation_flag_charges_first_failing_stage(spark):
    docs = _curation_docs(spark)
    fate = {
        r["doc_id"]: r["reject_stage"]
        for r in corpus_curation.flag(
            docs, langs=("en",), min_quality=0.4
        ).collect()
    }
    assert fate == {
        3: None,
        10: "duplicate",
        5: None,
        7: "lang",
        9: "quality",
    }


def test_curation_curate_matches_flag_survivors(spark):
    docs = _curation_docs(spark)
    kept = corpus_curation.curate(docs, langs=("en",), min_quality=0.4)
    assert sorted(r["doc_id"] for r in kept.collect()) == [3, 5]
    # kept rows retain the sampling columns and drop the audit ones
    assert {"doc_id", "text", "lang_pred", "quality_score"} <= set(kept.columns)
    assert "reject_stage" not in kept.columns and "_rank" not in kept.columns


def test_curation_report_partitions_the_input(spark):
    docs = _curation_docs(spark)
    row = corpus_curation.report(
        docs, langs=("en",), min_quality=0.4, near_dup=False
    ).collect()[0]
    assert row["n_input"] == 5
    assert row["n_lang"] == 1
    assert row["n_quality"] == 1
    assert row["n_duplicate"] == 1
    assert row["n_near_duplicate"] == 0
    assert row["n_kept"] == 2
    assert (
        row["n_lang"] + row["n_quality"] + row["n_duplicate"]
        + row["n_near_duplicate"] + row["n_kept"]
        == row["n_input"]
    )


def _near_dup_docs(spark):
    """Five english docs: a planted near-dup cluster {2, 11, 30} (same
    long text with one word swapped / appended), one byte-copy of the
    cluster rep (charged 'duplicate', not 'near_duplicate'), and one
    unrelated survivor."""
    base = (
        "the cat and the dog is with the man of the house and the tree "
        "and the bird is of the garden with the sun and the rain of the "
        "morning and the evening is with the wind"
    )
    other = (
        "the ship and the sea is with the crew of the harbor and the "
        "wave and the storm is of the night with the moon and the star "
        "of the tide and the sail is with the rope"
    )
    rows = [
        (2, base),
        (11, base.replace("garden", "meadow")),
        (30, base + " and the snow"),
        (4, base),   # byte-identical to doc 2 -> exact-dup stage
        (6, other),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_curation_near_dup_keeps_lowest_string_id_per_cluster(spark):
    docs = _near_dup_docs(spark)
    for portable in (False, True):
        kept = corpus_curation.curate_near_dup(
            docs, langs=("en",), min_quality=0.4, portable_hash=portable
        )
        # cluster {2, 11, 30}: min STRING id '11' survives (the LSH
        # stage's rep ids are strings; documented election order);
        # doc 4 already fell to the exact-dedup stage
        assert sorted(r["doc_id"] for r in kept.collect()) == [6, 11], (
            f"portable={portable}"
        )


def test_curation_report_charges_near_duplicates(spark):
    docs = _near_dup_docs(spark)
    row = corpus_curation.report(
        docs, langs=("en",), min_quality=0.4, portable_hash=True
    ).collect()[0]
    assert row["n_input"] == 5
    assert row["n_lang"] == 0 and row["n_quality"] == 0
    assert row["n_duplicate"] == 1      # doc 4, byte-copy of doc 2
    assert row["n_near_duplicate"] == 2  # docs 2 and 30 lose to '11'
    assert row["n_kept"] == 2
    assert (
        row["n_lang"] + row["n_quality"] + row["n_duplicate"]
        + row["n_near_duplicate"] + row["n_kept"]
        == row["n_input"]
    )
    # the report's kept count must equal the curate_near_dup keep list
    kept = corpus_curation.curate_near_dup(
        docs, langs=("en",), min_quality=0.4, portable_hash=True
    ).count()
    assert kept == row["n_kept"]


def test_curation_repetition_stage_charges_and_orders(spark):
    """A highly repetitive doc is charged 'repetition' (after quality,
    before duplicate); the same doc duplicated still charges its copy
    to 'duplicate'? No — byte-copies share the repetition fate, so BOTH
    rows fall to 'repetition', never reaching the dedup rank."""
    reps = "the cat the cat the cat the cat the cat"
    rows = [
        (1, "the dog and the man is with the tree of the house and more"),
        (2, reps),
        (3, reps),  # byte-copy of the repetitive doc
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fate = {
        r["doc_id"]: r["reject_stage"]
        for r in corpus_curation.flag(
            docs, langs=("en",), min_quality=0.1,
            max_top_bigram_frac=0.2, dup_gram_n=2,
        ).collect()
    }
    assert fate == {1: None, 2: "repetition", 3: "repetition"}
    row = corpus_curation.report(
        docs, langs=("en",), min_quality=0.1,
        max_top_bigram_frac=0.2, dup_gram_n=2, near_dup=False,
    ).collect()[0]
    assert row["n_repetition"] == 2 and row["n_duplicate"] == 0
    assert row["n_kept"] == 1
    kept = corpus_curation.curate(
        docs, langs=("en",), min_quality=0.1,
        max_top_bigram_frac=0.2, dup_gram_n=2,
    )
    assert [r["doc_id"] for r in kept.collect()] == [1]
    # feature columns are audit-internal, dropped from the keep list
    assert "top_bigram_frac" not in kept.columns


def test_curation_repetition_disabled_reports_zero_column(spark):
    """Caps unset -> stage off, but n_repetition is still in the
    schema (STAGES is the report contract) and counts zero."""
    row = corpus_curation.report(
        _curation_docs(spark), langs=("en",), min_quality=0.4,
        near_dup=False,
    ).collect()[0]
    assert row["n_repetition"] == 0


def test_curation_scrub_pii_redacts_after_dedup(spark):
    """Two docs identical except for their embedded email must BOTH
    survive exact dedup (keyed on original bytes), then come out with
    the email redacted — the documented dedup-before-redaction order."""
    rows = [
        (1, "the cat and the dog of the house writes to a.a@ex.com ok"),
        (2, "the cat and the dog of the house writes to b.b@ex.com ok"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kept = corpus_curation.curate(
        docs, langs=("en",), min_quality=0.1, scrub_pii=True
    ).collect()
    assert len(kept) == 2
    for r in kept:
        assert "<EMAIL>" in r["text"] and "@ex.com" not in r["text"]


def test_salted_distinct_agg_null_keys(spark):
    # groupBy treats a NULL key as a group; the restoring join must be
    # null-safe or the NULL group's count silently becomes 0
    df = spark.createDataFrame(
        [(None, "u1"), (None, "u2"), ("a", "u1")],
        "k string, v string",
    )
    got = {
        r["k"]: r["n_distinct"]
        for r in skew.salted_distinct_agg(df, ["k"], "v").collect()
    }
    want = {
        r["k"]: r["n"]
        for r in df.groupBy("k").agg(F.countDistinct("v").alias("n")).collect()
    }
    assert got == want == {None: 2, "a": 1}


def test_salted_agg_rejects_reserved_column_collision(spark):
    df = spark.createDataFrame([(1, "a", 0.5)], "_salt long, k string, v double")
    with pytest.raises(ValueError, match="collide with"):
        skew.salted_agg(df, ["k"], {"n": ("count", "v")}, salt_on="v")


# --- positional phrase search ---------------------------------------------------
def test_phrase_match_counts_overlapping_occurrences(spark):
    from gliner_transbronchialbiopsy_spark.operators import search

    docs = spark.createDataFrame(
        [
            (1, "a a a a"),        # 'a a' occurs 3x (overlaps count)
            (2, "x a a y a a"),    # 2x, non-adjacent
            (3, "a b a"),          # 0x
            (4, "  a   a  "),      # whitespace runs + padding -> 1x
        ],
        "doc_id long, text string",
    )
    idx = search.postings(docs)
    got = {
        r["doc_id"]: r["n_hits"]
        for r in search.phrase_match(idx, ["a", "a"]).collect()
    }
    assert got == {1: 3, 2: 2, 4: 1}


def test_phrase_match_trigram_and_validation(spark):
    import pytest as _pytest
    from gliner_transbronchialbiopsy_spark.operators import search

    docs = spark.createDataFrame(
        [(1, "k a r k a r k a"), (2, "k a k a r")],
        "doc_id long, text string",
    )
    idx = search.postings(docs)
    got = {
        r["doc_id"]: r["n_hits"]
        for r in search.phrase_match(idx, ["k", "a", "r"]).collect()
    }
    assert got == {1: 2, 2: 1}
    with _pytest.raises(ValueError, match="empty phrase"):
        search.phrase_match(idx, [])
