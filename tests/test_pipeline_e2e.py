"""End-to-end KG pipeline on the deterministic fixture corpus:
triple P/R >= 0.95 vs gold (BASELINE.md gate), per-row sha256 lineage,
and stage-checkpoint resume."""

import hashlib

import pytest
from pyspark.sql import functions as F

from gliner_transbronchialbiopsy_spark.plans import kg_pipeline
from gliner_transbronchialbiopsy_spark.sources import corpus
from gliner_transbronchialbiopsy_spark.sources.checkpoint import CheckpointManager


@pytest.fixture(scope="module")
def pipeline_out(spark, tmp_path_factory):
    docs_pd, gold_pd = corpus.generate_corpus(n_docs=250, seed=42)
    workdir = str(tmp_path_factory.mktemp("kgwork"))
    docs = spark.createDataFrame(docs_pd)
    triples = kg_pipeline.run_pipeline(spark, docs, workdir)
    return docs_pd, gold_pd, triples, workdir, docs


def test_triple_precision_recall(pipeline_out):
    _, gold_pd, triples, _, _ = pipeline_out
    got = {
        (r["path"], r["pred"], r["obj"].lower())
        for r in triples.select("path", "pred", "obj").collect()
    }
    gold = {
        (r["path"], __import__(
            "gliner_transbronchialbiopsy_spark.config", fromlist=["config"]
        ).LABEL_SLUGS[r["label"]], r["value"].lower())
        for _, r in corpus.gold_triples(gold_pd).iterrows()
    }
    tp = len(got & gold)
    precision = tp / len(got)
    recall = tp / len(gold)
    assert precision >= 0.95, f"precision {precision:.4f} < 0.95"
    assert recall >= 0.95, f"recall {recall:.4f} < 0.95"


def test_sha256_lineage_invariant(pipeline_out):
    docs_pd, _, triples, _, _ = pipeline_out
    expected = {
        r.path: hashlib.sha256(r.content.encode()).hexdigest()
        for r in docs_pd.itertuples()
    }
    rows = triples.select("path", "content_sha256").distinct().collect()
    assert rows
    for r in rows:
        assert r["content_sha256"] == expected[r["path"]]


def test_triples_partitioned_by_pred(pipeline_out):
    *_, workdir, _ = pipeline_out
    import os

    data_dir = os.path.join(workdir, "triples", "data")
    parts = [d for d in os.listdir(data_dir) if d.startswith("pred=")]
    assert len(parts) >= 10  # all frequent labels present as partitions


def test_triples_pred_filter_prunes_partitions(pipeline_out, spark, tmp_path):
    """A pred-filtered read of the written triples snapshot must touch
    ONLY the selected pred directory (partition pruning — the local
    analogue of Iceberg partition-spec pruning, SURVEY.md §4).

    Proof is behavioral, not just plan-text: on a COPY of the snapshot,
    every part file of every OTHER pred partition is overwritten with
    garbage bytes; the pruned read still succeeds (those files were
    never opened) while an unfiltered scan of the same copy raises."""
    import contextlib
    import glob
    import io
    import os
    import shutil

    import pytest

    *_, workdir, _ = pipeline_out
    copy_root = str(tmp_path / "snap")
    shutil.copytree(
        os.path.join(workdir, "triples"), os.path.join(copy_root, "triples")
    )
    ckpt = CheckpointManager(copy_root)
    data_dir = os.path.join(copy_root, "triples", "data")
    preds = sorted(
        d.split("=", 1)[1] for d in os.listdir(data_dir) if d.startswith("pred=")
    )
    assert len(preds) >= 2
    target = preds[0]

    pruned = ckpt.read(spark, "triples").filter(F.col("pred") == target)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    pf = plan.split("PartitionFilters: [", 1)
    assert len(pf) == 2 and "pred" in pf[1].split("]", 1)[0]

    n_target = pruned.count()
    assert n_target > 0
    n_corrupted = 0
    for p in preds[1:]:
        for f in glob.glob(os.path.join(data_dir, f"pred={p}", "*.parquet")):
            with open(f, "wb") as fh:
                fh.write(b"not a parquet file")
            n_corrupted += 1
    assert n_corrupted > 0
    # pruned read: the corrupted files are never opened
    assert (
        ckpt.read(spark, "triples").filter(F.col("pred") == target).count()
        == n_target
    )
    # full scan hits the corruption — guards against the pruned read
    # passing only because garbage parquet were somehow readable
    with pytest.raises(Exception):
        ckpt.read(spark, "triples").count()


def test_lineage_metrics_written(pipeline_out):
    *_, workdir, _ = pipeline_out
    ckpt = CheckpointManager(workdir)
    m = ckpt.metrics("triples")
    assert m["rows"] > 0
    assert m["lineage_partitions"] >= 10
    for stage in ("sectionized", "mentions", "entities"):
        assert ckpt.exists(stage)
        assert ckpt.metrics(stage)["rows"] > 0


def test_resume_skips_completed_stages(pipeline_out, spark):
    docs_pd, _, triples, workdir, docs = pipeline_out
    n = triples.count()
    # second run must reuse snapshots (same row count, no recompute of
    # the mentions stage: we poison the input to prove it's not re-read)
    poisoned = docs.withColumn("content", F.lit("CONCLUSION vide"))
    again = kg_pipeline.run_pipeline(spark, poisoned, workdir)
    assert again.count() == n


def test_bucketed_sectionize_snapshot(pipeline_out, spark, tmp_path):
    """run_pipeline(bucket_docs=N) writes the sectionized snapshot as a
    bucketed table: triples byte-identical to the plain layout, the
    read-back scan satisfies a content_sha256 grouping with NO exchange,
    and a fresh catalog (new-session resume) re-registers the table from
    the recorded spec."""
    import contextlib
    import io

    docs_pd, _, triples_plain, _, docs = pipeline_out
    workdir = str(tmp_path / "bucketed")
    triples_b = kg_pipeline.run_pipeline(spark, docs, workdir, bucket_docs=4)
    cols = sorted(triples_plain.columns)
    assert sorted(triples_b.columns) == cols
    a = set(map(tuple, triples_plain.select(*cols).collect()))
    b = set(map(tuple, triples_b.select(*cols).collect()))
    assert a == b and len(a) > 0

    ckpt = CheckpointManager(workdir)
    spec = ckpt.bucket_spec("sectionized")
    assert spec == {
        "bucket_col": "content_sha256",
        "n_buckets": 4,
        "bucket_table": spec["bucket_table"],
    }
    # simulate a new-session resume: drop the catalog entry, read again
    spark.sql(f"DROP TABLE IF EXISTS `{spec['bucket_table']}`")
    sec = ckpt.read(spark, "sectionized")
    assert spark.catalog.tableExists(spec["bucket_table"])
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        sec.groupBy("content_sha256").count().explain("formatted")
    assert "Exchange" not in buf.getvalue()
    # resume: second run must reuse every stage (detect not re-run)
    n = triples_b.count()
    again = kg_pipeline.run_pipeline(spark, docs, workdir, bucket_docs=4)
    assert again.count() == n


def test_sharded_detect_partition_granular_resume(pipeline_out, spark, tmp_path):
    """run_pipeline(detect_shards=K): detection commits per shard, a
    failure mid-stage resumes at the first incomplete shard (north
    rule's stage-partition granularity), and the final triples are
    byte-identical to the unsharded pipeline."""
    from gliner_transbronchialbiopsy_spark.sources.checkpoint import (
        CheckpointManager as CM,
    )

    _, _, triples_plain, _, docs = pipeline_out
    workdir = str(tmp_path / "sharded")
    triples_s = kg_pipeline.run_pipeline(spark, docs, workdir, detect_shards=3)
    cols = sorted(triples_plain.columns)
    a = set(map(tuple, triples_plain.select(*cols).collect()))
    b = set(map(tuple, triples_s.select(*cols).collect()))
    assert a == b and len(a) > 0
    m = CM(workdir).metrics("mentions")
    assert m["n_shards"] == 3 and m["rows"] > 0

    # partition-granular resume: kill after shard 0 by making shard 1
    # raise; rerun completes shard 0 is NOT recomputed (its marker and
    # data survive), shards 1-2 are
    workdir2 = str(tmp_path / "killed")
    ckpt2 = CM(workdir2)
    sectionized = kg_pipeline.sectionize(kg_pipeline.validate_documents(docs))
    computed: list[int] = []

    def shard_fn_factory(fail_at):
        def _shard(k):
            if k == fail_at:
                raise RuntimeError("killed mid-stage")
            computed.append(k)
            return kg_pipeline.detect(
                sectionized.filter(
                    F.pmod(F.xxhash64("content_sha256"), F.lit(3)) == k
                )
            )
        return _shard

    with pytest.raises(RuntimeError, match="killed mid-stage"):
        ckpt2.get_or_compute_sharded(spark, "mentions", shard_fn_factory(1), 3)
    assert computed == [0]
    assert not ckpt2.exists("mentions")  # stage not complete
    # resume: shard 0 skipped, 1 and 2 computed
    out = ckpt2.get_or_compute_sharded(
        spark, "mentions", shard_fn_factory(None), 3
    )
    assert computed == [0, 1, 2]
    assert ckpt2.exists("mentions")
    assert "shard" not in out.columns
    n_out = out.count()  # snapshot count BEFORE the invalidation rewrite
    # a different variant invalidates every shard marker
    computed.clear()
    out2 = ckpt2.get_or_compute_sharded(
        spark, "mentions", shard_fn_factory(None), 3, variant="other"
    )
    assert computed == [0, 1, 2]
    assert out2.count() == n_out


def _range_shard_fn(spark, calls=None):
    def _shard(k):
        if calls is not None:
            calls.append(k)
        return (
            spark.range(30)
            .select("id", (F.col("id") * 2).alias("v"))
            .filter(F.pmod("id", F.lit(3)) == k)
        )
    return _shard


def test_sharded_over_unsharded_snapshot_invalidates(spark, tmp_path):
    """Switching a stage from the unsharded to the sharded layout must
    wipe the old root part files — mixing them with shard=k dirs breaks
    parquet partition discovery (review finding r4)."""
    from gliner_transbronchialbiopsy_spark.sources.checkpoint import (
        CheckpointManager as CM,
    )

    ckpt = CM(str(tmp_path / "w"))
    ckpt.write("st", spark.range(30).select("id", (F.col("id") * 2).alias("v")))
    assert ckpt.exists("st")
    out = ckpt.get_or_compute_sharded(spark, "st", _range_shard_fn(spark), 3)
    assert out.count() == 30
    assert sorted(out.columns) == ["id", "v"]
    assert (ckpt.metrics_or_none("st") or {}).get("n_shards") == 3
    # re-read from scratch (fresh reader) also clean
    assert ckpt.read(spark, "st").count() == 30


def test_sharded_tolerates_truncated_marker_and_metrics(spark, tmp_path):
    """A kill mid-marker-write (partial JSON) must cost ONE shard's
    recompute, not block resume; a truncated _metrics.json must not
    crash read()/resume (review findings r4)."""
    import os

    from gliner_transbronchialbiopsy_spark.sources.checkpoint import (
        CheckpointManager as CM,
    )

    root = str(tmp_path / "w2")
    ckpt = CM(root)
    ckpt.get_or_compute_sharded(spark, "st", _range_shard_fn(spark), 3)
    # simulate the kill: stage incomplete again, marker 1 truncated
    os.remove(os.path.join(root, "st", "data", "_SUCCESS"))
    os.remove(os.path.join(root, "st", "_metrics.json"))
    with open(os.path.join(root, "st", "_shards", "1.json"), "w") as f:
        f.write('{"shard": 1, "ro')  # partial JSON
    calls: list[int] = []
    out = ckpt.get_or_compute_sharded(spark, "st", _range_shard_fn(spark, calls), 3)
    assert calls == [1]  # only the corrupt-marker shard recomputed
    assert out.count() == 30
    # truncated metrics on a COMPLETE stage: read still works
    with open(os.path.join(root, "st", "_metrics.json"), "w") as f:
        f.write('{"stage": "st", "ro')
    assert ckpt.metrics_or_none("st") is None
    # (shard column no longer droppable without metrics — but the read
    # itself must not raise, which is the crash the fix removes)
    assert ckpt.read(spark, "st").count() == 30


def test_resume_filter_left_anti(spark, tmp_path):
    ckpt = CheckpointManager(str(tmp_path))
    df = spark.range(10).withColumnRenamed("id", "k")
    ckpt.write("stage1", df.filter(F.col("k") < 4))
    remaining = ckpt.resume_filter(spark, "stage1", df, ("k",))
    assert sorted(r.k for r in remaining.collect()) == [4, 5, 6, 7, 8, 9]


def test_pluggable_model_detector_gets_overlap_merge(spark):
    """A model-backed detector (GLiNER stand-in) that emits overlapping
    same-label spans plugs into kg_pipeline.detect via `detector=`, and
    the overlap merge applies (higher score wins) before the fan-out —
    the path a real GLiNER user runs."""
    from pyspark.sql import functions as F

    from gliner_transbronchialbiopsy_spark.plans import kg_pipeline

    def fake_model_detector(docs, text_col, id_cols):
        import pandas as pd

        schema = (
            ", ".join(f"{c} string" for c in id_cols)
            + ", mention_id string, text string, label string, "
            + "score double, start_idx int, end_idx int"
        )

        def run(batches):
            for pdf in batches:
                out = []
                for row in pdf.itertuples(index=False):
                    key = getattr(row, id_cols[0])
                    # two overlapping same-label spans (IoU 8/12 > 0.5)
                    out.append((key, "m1", "grade a zero", "Grade A", 0.60, 10, 22))
                    out.append((key, "m2", "a zero", "Grade A", 0.95, 14, 22))
                    # plus a clean span of another label
                    out.append((key, "m3", "LID", "Site", 0.80, 30, 33))
                yield pd.DataFrame(
                    out,
                    columns=[*id_cols, "mention_id", "text", "label",
                             "score", "start_idx", "end_idx"],
                )

        return docs.mapInPandas(run, schema=schema)

    docs = spark.createDataFrame(
        [("r", "p1", "c", "txt", "du texte medical assez long ici present")],
        "repo string, path string, commit string, lang string, content string",
    )
    validated = kg_pipeline.validate_documents(docs)
    sectionized = validated.select(
        "repo", "path", "commit", "lang", "content_sha256",
        F.col("content").alias("conclusion"),
    )
    mentions = kg_pipeline.detect(sectionized, detector=fake_model_detector)
    got = {(r["label"], r["text"], r["score"]) for r in mentions.collect()}
    # overlap merged: only the higher-score Grade A span survives
    assert got == {("Grade A", "a zero", 0.95), ("Site", "LID", 0.80)}


def test_detector_variant_tracks_pattern_bodies():
    """Editing a regex body (not just the label set) must change the
    checkpoint variant, or a resume would serve stale snapshots."""
    from gliner_transbronchialbiopsy_spark.plans import kg_pipeline as kp

    a = kp.detector_variant({"Site": r"\bLID\b"}, 0.5)
    b = kp.detector_variant({"Site": r"\bLM\b"}, 0.5)
    c = kp.detector_variant({"Site": r"\bLID\b"}, 0.7)
    assert a != b and a != c
    assert a == kp.detector_variant({"Site": r"\bLID\b"}, 0.5)


def test_mention_id_null_id_columns_distinct(spark):
    """Rows differing only in WHICH id column is NULL must get distinct
    mention_ids (concat_ws would skip the null and collide them)."""
    from pyspark.sql import functions as F

    from gliner_transbronchialbiopsy_spark.operators import ner

    docs = spark.createDataFrame(
        [("r", "p", None, "mot commun ici"), ("r", None, "p", "mot commun ici")],
        "repo string, path string, commit string, conclusion string",
    )
    out = ner.detect_mentions_deduped(
        docs, text_col="conclusion",
        catalog={"W": r"\bcommun\b"}, id_cols=("repo", "path", "commit"),
    )
    ids = [r["mention_id"] for r in out.collect()]
    assert len(ids) == 2 and ids[0] != ids[1]


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_checkpoint_lineage_count_rides_the_lineage_write(spark, tmp_path):
    """The lineage group count is observed on the lineage write: one job
    for the stage write, two (shuffle map + result) for the grouped
    lineage write, and no re-run of the group-by to count it."""
    import json

    mgr = CheckpointManager(str(tmp_path))
    df = spark.range(0, 200, numPartitions=2).select(
        F.col("id"), F.format_string("p%d", F.col("id") % 7).alias("pred")
    )
    for stage, rows in (("seven", df), ("none", df.filter("id < 0"))):
        n_jobs = _jobs_in_group(
            spark, f"lineage_{stage}",
            lambda: mgr.write(stage, rows, lineage_key="pred"),
        )
        assert n_jobs == 3
        m = json.loads((tmp_path / stage / "_metrics.json").read_text())
        lineage = spark.read.parquet(str(tmp_path / stage / "_lineage"))
        assert m["lineage_partitions"] == lineage.count()
    assert mgr.metrics("seven")["lineage_partitions"] == 7
    assert mgr.metrics("none")["lineage_partitions"] == 0


def test_warm_pipeline_run_compiles_no_classes(spark, tmp_path):
    """get_spark sizes Spark's generated-class cache above the KG job's
    working set, so a second run of the same pipeline in one session
    reuses every class the first run compiled (a 100-entry cache,
    Spark's default, evicts and recompiles them)."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
    compiles = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )
    docs = spark.createDataFrame(corpus.generate_corpus(n_docs=30, seed=42)[0])
    kg_pipeline.run_pipeline(spark, docs, str(tmp_path / "cold"))
    before = compiles.getCount()
    kg_pipeline.run_pipeline(spark, docs, str(tmp_path / "warm"))
    assert compiles.getCount() - before == 0


def test_checkpoint_empty_stage_roundtrips(spark, tmpdir_path):
    """An empty stage (e.g. zero mentions at tiny scale) must read back
    with its schema instead of failing UNABLE_TO_INFER_SCHEMA."""
    from gliner_transbronchialbiopsy_spark.sources.checkpoint import (
        CheckpointManager,
    )

    ckpt = CheckpointManager(tmpdir_path)
    empty = spark.createDataFrame([], "a string, b int")
    out = ckpt.get_or_compute(spark, "empty_stage", lambda: empty)
    assert out.count() == 0
    assert out.columns == ["a", "b"]
    # resume path: served from the snapshot, same schema
    again = ckpt.get_or_compute(spark, "empty_stage", lambda: 1 / 0)
    assert again.columns == ["a", "b"]


def test_canonicalize_hostile_surface_bytes(spark):
    """Node ids are to_json-encoded: a surface containing \\x1f (the old
    separator byte), quotes, or backslashes must round-trip through the
    CC stage byte-exact and link to its near-duplicate."""
    from gliner_transbronchialbiopsy_spark.plans import kg_pipeline

    hostile_a = 'abc\x1fdef "quoted" \\back\\slash du texte partage xyz'
    hostile_b = 'abc\x1fdef "quoted" \\back\\slash du texte partage xyw'
    plain = "surface totalement differente sans rapport aucun"
    mentions = spark.createDataFrame(
        [("L", hostile_a), ("L", hostile_b), ("L", plain)],
        "label string, text string",
    )
    cmap = kg_pipeline.canonicalize(mentions)
    rows = {r["text"]: r for r in cmap.collect()}
    # byte-exact round-trip of every surface, label intact
    assert set(rows) == {hostile_a, hostile_b, plain}
    assert all(r["label"] == "L" for r in rows.values())
    # the two near-duplicates share one canonical: the lexicographic min
    expected = min(hostile_a, hostile_b)
    assert rows[hostile_a]["canonical_text"] == expected
    assert rows[hostile_b]["canonical_text"] == expected
    # the unrelated surface canonicalizes to itself
    assert rows[plain]["canonical_text"] == plain


def test_canonicalize_without_near_duplicates_is_identity(spark):
    """No similarity edges at all: the union-find over zero rows leaves
    every distinct (label, text) as its own canonical surface, one row
    each, however often it repeats and whichever labels share a text."""
    from gliner_transbronchialbiopsy_spark.plans import kg_pipeline

    surfaces = [
        ("disease", "adenocarcinoma"),
        ("disease", "sarcoidosis"),
        ("anatomy", "right lower lobe"),
        ("anatomy", "adenocarcinoma"),
        ("procedure", "bronchoalveolar lavage"),
    ]
    mentions = spark.createDataFrame(
        surfaces + surfaces[:2], "label string, text string"
    )
    rows = kg_pipeline.canonicalize(mentions).collect()
    assert sorted(
        (r["label"], r["text"], r["canonical_text"]) for r in rows
    ) == sorted((label, text, text) for label, text in surfaces)


def test_consumption_layer_coherence(pipeline_out):
    """The KG consumption layer, end-to-end on REAL pipeline triples:
    BGP / MINUS partition the doc set, the rule engine's symmetric
    co-occurrence closure holds, characteristic sets account for every
    subject and assertion, and the catalog's own object shapes audit
    clean — each layer cross-checked against a directly-computed
    number, not against itself."""
    from gliner_transbronchialbiopsy_spark.operators import (
        bgp,
        kgvalidate,
        rules,
    )

    _, _, triples, _, _ = pipeline_out
    g = triples.select(
        "subj", "pred", F.col("canonical_obj").alias("obj")
    ).distinct()
    preds = [r["pred"] for r in
             g.groupBy("pred").count().orderBy(F.desc("count"),
                                               F.asc("pred")).collect()]
    a_l, b_l = preds[0], preds[1]

    # BGP + MINUS partition: docs-with-A = (A and B) + (A minus B)
    both = bgp.bgp_match(
        g, [("?d", a_l, "?x"), ("?d", b_l, "?y")]
    ).select("d").distinct().count()
    only_a = bgp.bgp_match(
        g, [("?d", a_l, "?x")], minus=[[("?d", b_l, "?y")]]
    ).select("d").distinct().count()
    with_a = g.filter(F.col("pred") == a_l).select("subj").distinct().count()
    assert both + only_a == with_a

    # rule closure: symmetric co-occurrence is closed and disjoint
    # from the asserted preds
    rs = [
        rules.rule([("?d", a_l, "?x"), ("?d", b_l, "?y")],
                   [("?x", "cooccurs_with", "?y")]),
        rules.rule([("?x", "cooccurs_with", "?y")],
                   [("?y", "cooccurs_with", "?x")]),
    ]
    derived = rules.materialize(g, rs).filter(F.col("inferred"))
    pairs = {(r["subj"], r["obj"]) for r in derived.collect()}
    assert pairs and all((b, a) in pairs for a, b in pairs)
    assert {r["pred"] for r in derived.select("pred").distinct().collect()} \
        == {"cooccurs_with"}

    # characteristic sets: subjects and assertions fully accounted
    cs = kgvalidate.characteristic_sets(g)
    totals = cs.agg(F.sum("n_subjects"), F.sum("n_triples")).collect()[0]
    assert totals[0] == g.select("subj").distinct().count()
    assert totals[1] == g.count()

    # SHACL-lite: every emitted obj fullmatches its label's VALUE
    # shape (lookaround patterns audit against their span shape) —
    # and the rules actually engage (the join is not vacuous)
    from gliner_transbronchialbiopsy_spark import config
    from gliner_transbronchialbiopsy_spark.functions import patterns as pat

    rules_df = g.sparkSession.createDataFrame(
        [
            (
                config.LABEL_SLUGS.get(label, label),
                False,
                pat.value_shape(label, rx),
            )
            for label, rx in sorted(pat.MEDICAL_PATTERNS.items())
        ],
        "pred string, functional boolean, obj_pattern string",
    )
    t3 = triples.select("subj", "pred", "obj")
    assert t3.join(
        F.broadcast(rules_df.select("pred")), "pred"
    ).count() == t3.count()  # every pred is ruled
    viol = kgvalidate.constraint_violations(t3, rules_df)
    assert viol.agg(F.coalesce(F.sum("n_bad"), F.lit(0))).collect()[0][0] == 0


def test_checkpoint_write_failure_leaves_no_observation_state(spark, tmp_path):
    """ADVICE (r3/r4 open item), closed by measurement: on Spark 4.1
    the session ObservationManager completes observations on query
    FAILURE too, so a raised checkpoint write leaves no entry in the
    manager's registry and a retry's same-name Observation registers
    cleanly. This pins both halves: the registry drains back to its
    pre-write size after a failed write, and a second write of the
    same stage succeeds end-to-end (metrics + readable snapshot)."""
    import time

    om = spark._jsparkSession.observationManager()
    fld = [
        f for f in om.getClass().getDeclaredFields()
        if f.getName() == "observations"
    ][0]
    fld.setAccessible(True)
    registry = fld.get(om)
    base_size = registry.size()

    mgr = CheckpointManager(str(tmp_path / "work"))
    # stage dir parent is a regular FILE -> the parquet write's mkdir
    # fails (root ignores permission bits, so chmod tricks don't work
    # in this sandbox; a file-in-the-way fails for any uid)
    (tmp_path / "work").mkdir()
    (tmp_path / "work" / "stagex").write_text("in the way")
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 3).alias("grp")
    )
    with pytest.raises(Exception):
        mgr.write("stagex", df)
    # listener completion is async: poll briefly for the drain
    for _ in range(100):
        if registry.size() <= base_size:
            break
        time.sleep(0.1)
    assert registry.size() <= base_size
    # retry with the obstruction removed: same stage name, fresh
    # same-name Observation — must register and complete normally
    (tmp_path / "work" / "stagex").unlink()
    mgr.write("stagex", df)
    assert mgr.metrics("stagex")["rows"] == 100
    assert mgr.read(spark, "stagex").count() == 100
