"""The four-stage KG-construction DAG (north_star), end to end.

documents(repo, path, commit, lang, content)
  stage 0 validate     Catalyst filters (S4/P3/P6) + sha256 lineage col
  stage 1 sectionize   clean+conclusion pandas UDF (F1-F10)
  stage 2 mentions     dedup-by-sha -> pattern/GLiNER mapInPandas (M1-M3)
                       -> overlap merge (A2)
  stage 3 link         MinHash-LSH blocking (J4) -> jaccard verify ->
                       connected components (J5) -> canonical surface
  stage 4 triples      (subj, pred, obj, canonical_obj, score,
                       provenance, content_sha256) partitioned by pred

Every stage snapshots through CheckpointManager (kill/rerun resumes at
stage granularity; per-pred lineage rows on the triples stage). The
whole job is also exposed as `run_pipeline` for spark-submit.

Reference lifecycle being generalized: app.process_file
(src/streamlit/app/app.py:162-230); see SURVEY.md §3.1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import config
from ..functions import patterns as pat
from ..functions import spark_fns
from ..operators import components, linking, merge, ner
from ..sources.checkpoint import CheckpointManager

DOC_COLS = ("repo", "path", "commit")


def validate_documents(docs: DataFrame) -> DataFrame:
    """Stage 0: S4 size cap + allowed-lang + P6 non-empty, plus the
    content_sha256 lineage column (the per-row invariant)."""
    return (
        docs.filter(
            F.col("content").isNotNull()
            & (F.trim(F.col("content")) != "")
            & (F.length("content") <= F.lit(config.MAX_FILE_SIZE))
        )
        .withColumn("content_sha256", spark_fns.content_sha256(F.col("content")))
    )


def sectionize(docs: DataFrame) -> DataFrame:
    """Stage 1: conclusion extraction (F8/F9) — the one pandas-UDF pass
    over full content. Downstream stages never read `content` again
    (column pruning does the rest)."""
    return docs.select(
        *DOC_COLS,
        "lang",
        "content_sha256",
        spark_fns.extract_conclusion_udf(F.col("content")).alias("conclusion"),
    )


def detect(
    sectionized: DataFrame,
    catalog: dict[str, str] | None = None,
    threshold: float = config.DEFAULT_CONFIDENCE_THRESHOLD,
    partitions: int | None = None,
    detector=None,
    detector_overlaps: bool | None = None,
    docs_clustered: bool = False,
) -> DataFrame:
    """Stage 2: dedup-by-content -> detect -> [overlap-merge] -> fan out.

    Returns a LAZY plan: on the catalog path detection (a Python
    mapInPandas stage) runs each time the result is executed. The
    caller installs the one barrier its use needs — a stage snapshot
    (detect_checkpointed) or an eager localCheckpoint when it reads the
    mentions several times — and then calls release_doc_cache(result).
    (The overlap merge of the detector path cuts its own input, which
    it reads three times; see merge.merge_overlaps.)

    Both detection AND the overlap merge run at distinct-content
    granularity (overlaps are a pure function of the text, so merging
    before the fan-out to duplicate documents does strictly less work —
    the same M3 argument as dedup-before-inference), then results
    rejoin every (repo, path, commit, sha).

    Shuffle inventory (the 4->16 scaling bottleneck is shuffles of the
    mention/doc tables, so each one is deliberate):
    - ONE clustering exchange on content sha, materialized, serves
      THREE purposes at once: (a) the dedup clustering — dropDuplicates
      adds no exchange because the child partitioning already satisfies
      its grouping (alias-aware), (b) the length balancer — hash-on-sha
      scatters document lengths uniformly, which is what a separate
      length-bucket repartition would buy, and (c) the fan-out join's
      DOC side — the probe reads the same materialized clustering, so
      only the mention side shuffles for the join (mapInPandas output
      carries no partitioning guarantee). Column pruning would
      otherwise specialize the exchange per consumer (killing reuse),
      hence the materialization barrier rather than a bare repartition.
    - docs_clustered=True skips that exchange entirely: the caller
      attests the input is already clustered by content_sha256 — e.g.
      a bucketed stage table (sources.checkpoint.write_bucketed) or an
      Iceberg bucket(n, content_sha256) layout — so the SCAN provides
      the clustering and the doc table never shuffles at all (the
      run_kg_job --bucketed-docs path).
    - the overlap-merge window shuffle runs ONLY when the detector can
      actually emit per-label overlaps (detector_overlaps=True, the
      GLiNER path). A single compiled regex's finditer output is
      non-overlapping within a label BY CONSTRUCTION (re.finditer scans
      left to right, resuming at each match end), so for pattern
      catalogs the per-(sha,label) sweep is a provable no-op and its
      full-mention-table shuffle is skipped. merge_overlaps stays the
      default for any detector without this guarantee.

    `detector` plugs a model-backed stage in place of the pattern
    catalog: any callable (docs, text_col, id_cols) -> mention rows
    with the ner.MENTION_FIELDS shape (use ner.gliner_detector(...)).
    When a detector is passed, `catalog` and `threshold` are NOT
    applied — the detector owns its configuration (gliner_detector
    bakes its own threshold/labels and declares them in its checkpoint
    variant). Model detectors CAN emit overlapping same-label spans, so
    detector_overlaps defaults to True for them and False for the regex
    catalog. (The reference DEFINES merge_overlapping_entities,
    entity_processor.py:137-192, but never calls it — the merge here is
    a generalization, not call-site parity. Note also a scope
    difference: this default merges per-(sha_key, label), while the
    reference's function merges across labels — overlapping
    different-label spans both survive here. For cross-label semantics
    call merge.merge_overlaps with group_cols omitting 'label', which
    it already supports; see test_merge_across_labels_doc_level.)"""
    if detector_overlaps is None:
        detector_overlaps = detector is not None
    if docs_clustered and partitions:
        raise ValueError(
            "detect(): `partitions` and `docs_clustered=True` are "
            "mutually exclusive — docs_clustered means the input scan "
            "already provides the content_sha256 clustering, so a "
            "repartition would silently be skipped rather than applied; "
            "pick the input layout's parallelism (bucket count) or drop "
            "docs_clustered"
        )
    hashed = sectionized.select(
        *DOC_COLS, "content_sha256", "conclusion"
    ).filter(
        F.col("conclusion").isNotNull() & (F.trim(F.col("conclusion")) != "")
    )
    doc_cache = None
    if not docs_clustered:
        # the single doc-table exchange (see docstring): cluster once,
        # persist, and let both consumers (dedup + fan-out probe)
        # inherit the partitioning instead of shuffling separately.
        # persist (not localCheckpoint): InMemoryTableScan PRESERVES the
        # child's outputPartitioning — alias-aware, so the dedup's
        # sha_key grouping and the join's content_sha256 clustering are
        # both satisfied with zero further exchanges — while a
        # checkpoint's Scan ExistingRDD reports unknown partitioning and
        # re-shuffles (verified on this Spark build). The cache block is
        # released by the ContextCleaner once the plan is unreferenced.
        n = (partitions,) if partitions else ()
        hashed = doc_cache = hashed.repartition(*n, "content_sha256").persist()
    distinct = hashed.select(
        F.col("content_sha256").alias("sha_key"), "conclusion"
    ).dropDuplicates(["sha_key"])
    if detector is not None:
        found = detector(distinct, "conclusion", ("sha_key",))
    else:
        found = ner.detect_mentions(
            distinct,
            text_col="conclusion",
            catalog=catalog or pat.MEDICAL_PATTERNS,
            threshold=threshold,
            id_cols=("sha_key",),
            partitions=None,  # the sha repartition above already balanced
            # the sha-keyed mention_id the worker would emit is
            # discarded below (the output id is re-derived JVM-side
            # over the FULL doc key) — don't pay Python sha256+json
            # per mention for a dropped column
            emit_mention_id=False,
        )
    merged = (
        merge.merge_overlaps(found, group_cols=("sha_key", "label"))
        if detector_overlaps
        else found
    )
    fanned = hashed.select(*DOC_COLS, "content_sha256").join(
        merged, hashed["content_sha256"] == merged["sha_key"], "inner"
    )
    # mention_id covers the full (repo, path, commit) key — a path-only
    # key would collide across repos/commits sharing a path — and the
    # key is serialized with to_json, which represents NULLs and field
    # boundaries structurally (concat_ws SKIPS null fields, so rows
    # differing only in which id column is null would collide)
    out = fanned.select(
        *DOC_COLS,
        F.sha2(
            F.to_json(
                F.struct(*DOC_COLS, "start_idx", "end_idx", "label")
            ),
            256,
        ).alias("mention_id"),
        "text", "label", "score", "start_idx", "end_idx", "content_sha256",
    )
    # hand the internal doc cache to the caller for release: once the
    # caller has MATERIALIZED this result (stage snapshot / its own
    # localCheckpoint), the clustered doc table is dead weight in block
    # storage — release_doc_cache(out) frees it (recompute-safe: an
    # unpersisted cache just recomputes if the plan ever re-executes)
    out._kg_doc_cache = doc_cache
    return out


def release_doc_cache(mentions: DataFrame) -> None:
    """Unpersist the clustered document cache detect() attached to its
    result. Call AFTER materializing the mentions (checkpoint write or
    eager localCheckpoint) — before that, releasing just forces a
    recompute."""
    cache = getattr(mentions, "_kg_doc_cache", None)
    if cache is not None:
        try:
            cache.unpersist()
        except Exception:
            pass  # owning session may already be stopped


_NODE_SCHEMA = "label string, text string"


def _node_id(label_col, text_col) -> F.Column:
    """Injective string node id for the CC stage: to_json(struct(...))
    escapes field contents and represents NULLs structurally, so NO
    surface can collide or corrupt the id — unlike a separator join,
    where a surface containing the separator byte shifts field
    boundaries (the repo-wide injective-key rule, same as mention_id)."""
    return F.to_json(
        F.struct(F.col(label_col).alias("label"), F.col(text_col).alias("text"))
    )


def canonicalize(mentions: DataFrame) -> DataFrame:
    """Stage 3: similarity edges between (label, surface) pairs ->
    connected components -> (label, text, canonical) map.

    Node ids are to_json(struct(label, text)) and the output (label,
    text) is recovered with from_json — a lossless round-trip for ANY
    surface bytes. Canonical election stays the component's minimum
    node id; within a component every node shares the same label (edges
    never cross labels), so for ordinary surfaces the elected text is
    the lexicographic-minimum surface, as before."""
    edges = linking.link_surfaces(
        mentions, text_col="text", key_cols=("label",)
    ).select(
        _node_id("label", "text_a").alias("src"),
        _node_id("label", "text_b").alias("dst"),
    )
    nodes = mentions.select(_node_id("label", "text").alias("node"))
    cmap = components.canonical_map(edges, nodes)
    parsed = cmap.select(
        F.from_json("node", _NODE_SCHEMA).alias("n"),
        F.from_json("canonical", _NODE_SCHEMA).alias("c"),
    )
    return parsed.select(
        F.col("n.label").alias("label"),
        F.col("n.text").alias("text"),
        F.col("c.text").alias("canonical_text"),
    )


def materialize_triples(mentions: DataFrame, cmap: DataFrame) -> DataFrame:
    """Stage 4: long (subj, pred, obj) rows with provenance + lineage.

    obj is the mention surface (what the reference emits in its wide
    row, entity_processor.py:74-77); canonical_obj adds the linked
    canonical surface. pred uses the stable label slugs."""
    slug_map = F.create_map(
        *[x for kv in config.LABEL_SLUGS.items() for x in (F.lit(kv[0]), F.lit(kv[1]))]
    )
    joined = mentions.join(F.broadcast(cmap), ["label", "text"], "left")
    return joined.select(
        spark_fns.doc_id(F.col("repo"), F.col("path"), F.col("commit")).alias("subj"),
        F.coalesce(slug_map[F.col("label")], F.col("label")).alias("pred"),
        F.col("text").alias("obj"),
        F.coalesce("canonical_text", "text").alias("canonical_obj"),
        F.round("score", 3).alias("score"),
        "repo", "path", "commit", "start_idx", "end_idx",
        "content_sha256",
    )


def detector_variant(
    catalog: dict[str, str] | None,
    threshold: float,
    detector=None,
) -> str:
    """Checkpoint-variant tag for detection-dependent stages. For
    catalogs it hashes the full CONTENTS (labels AND regex bodies) plus
    the applied threshold: an edited pattern must invalidate the
    snapshot, not just a renamed label set. For detectors it uses their
    declared `variant` identity (gliner_detector sets model path +
    resolved labels + its own threshold); a detector WITHOUT a variant
    attribute gets a per-process unique tag — every resume recomputes,
    which wastes work but can never serve another detector's stale
    snapshot (a __qualname__ fallback would collide every closure from
    the same factory). The pipeline threshold is NOT appended for
    custom detectors: they own their thresholding, so stamping an
    unapplied value would corrupt the variant's meaning."""
    if detector is not None:
        declared = getattr(detector, "variant", None)
        if declared is not None:
            return f"detector:{declared}"
        import warnings

        warnings.warn(
            "detector has no `variant` attribute; checkpoint snapshots "
            "will never be reused across runs (set detector.variant to "
            "a string identifying the model/config to enable resume)",
            stacklevel=2,
        )
        return f"detector:unidentified:{id(detector)}"
    import hashlib

    cat = catalog or pat.MEDICAL_PATTERNS
    digest = hashlib.sha256(
        "\x1f".join(f"{k}={cat[k]}" for k in sorted(cat)).encode()
    ).hexdigest()[:16]
    return f"catalog:{digest}@t={threshold}"


def detect_checkpointed(
    ckpt: "CheckpointManager",
    spark: SparkSession,
    sectionized: DataFrame,
    *,
    shards: int = 0,
    variant: str | None = None,
    force: bool = False,
    **detect_kwargs,
) -> DataFrame:
    """get_or_compute the "mentions" stage AND release detect()'s
    internal clustered doc cache once the snapshot is written (or
    reused). This is the one sanctioned way to checkpoint detection:
    the parquet write is the lazy detect() plan's only barrier, and the
    release discipline lives here instead of being re-implemented (or
    forgotten — a forgotten release pins a corpus-sized cache in block
    storage) at every call site.

    shards=K runs detection as K independently-committed sub-jobs
    sharded by pmod(xxhash64(content_sha256), K)
    (checkpoint.get_or_compute_sharded): a killed run resumes at the
    first incomplete shard instead of redoing the whole stage — the
    north rule's stage-PARTITION resume granularity, and the knob that
    matters when one detection pass is hours long at 10^12 files.
    Sharding by content sha keeps dedup-before-detect exact (each
    distinct content lives in exactly one shard), so mentions are
    byte-identical to the unsharded stage for any K. A filter preserves
    the scan's partitioning, so a bucketed input keeps its
    zero-doc-side-shuffle guarantee per shard."""
    captured: list[DataFrame] = []

    def _compute(k: int | None = None) -> DataFrame:
        # the previous shard's snapshot is committed by the time the
        # next compute starts — release its doc cache NOW so at most one
        # shard's clustered subset is pinned at a time
        while captured:
            release_doc_cache(captured.pop())
        subset = sectionized if k is None else sectionized.filter(
            F.pmod(F.xxhash64("content_sha256"), F.lit(shards)) == k
        )
        captured.append(detect(subset, **detect_kwargs))
        return captured[-1]

    try:
        if shards:
            return ckpt.get_or_compute_sharded(
                spark, "mentions", _compute, shards,
                variant=variant, force=force,
            )
        return ckpt.get_or_compute(
            spark, "mentions", _compute, force=force, variant=variant
        )
    finally:
        # normal path: the last snapshot is written (or reused), so the
        # doc cache is dead weight; failure path: frees the one in flight
        while captured:
            release_doc_cache(captured.pop())


def run_pipeline(
    spark: SparkSession,
    documents: DataFrame,
    workdir: str,
    catalog: dict[str, str] | None = None,
    threshold: float = config.DEFAULT_CONFIDENCE_THRESHOLD,
    partitions: int | None = None,
    detector=None,
    force: bool = False,
    bucket_docs: int = 0,
    detect_shards: int = 0,
) -> DataFrame:
    """Full DAG with stage checkpoints; returns the triples DataFrame
    (read back from its parquet snapshot). Detection-dependent stages
    carry a detector variant tag so a resume with a DIFFERENT detector
    (or threshold) recomputes instead of serving a stale snapshot.

    detect_shards=K commits detection as K content-sha shards (see
    detect_checkpointed).

    bucket_docs=N writes the sectionized snapshot bucketed by
    content_sha256 into N buckets (checkpoint.write bucket_by): the
    read-back scan then provides the hash-clustering the detect stage
    needs, so the document side shuffles ZERO times — not for the
    dedup, not for the fan-out join — on the first run AND on every
    resume from the snapshot. Whether detection treats the docs as
    clustered is decided from the SNAPSHOT's recorded layout, not the
    flag, so resuming a non-bucketed workdir with bucket_docs set (or
    vice versa) stays correct."""
    ckpt = CheckpointManager(workdir)
    det_variant = detector_variant(catalog, threshold, detector)

    validated = validate_documents(documents)
    sectionized = ckpt.get_or_compute(
        spark, "sectionized", lambda: sectionize(validated), force=force,
        bucket_by=("content_sha256", bucket_docs) if bucket_docs else None,
    )
    docs_clustered = ckpt.bucket_spec("sectionized") is not None
    mentions = detect_checkpointed(
        ckpt, spark, sectionized, shards=detect_shards,
        variant=det_variant, force=force,
        catalog=catalog, threshold=threshold,
        partitions=None if docs_clustered else partitions,
        detector=detector, docs_clustered=docs_clustered,
    )
    return entities_and_triples(
        ckpt, spark, mentions, variant=det_variant, force=force
    )


def entities_and_triples(
    ckpt: CheckpointManager,
    spark: SparkSession,
    mentions: DataFrame,
    variant: str,
    force: bool = False,
) -> DataFrame:
    """Stages 3-4 over the committed mention table: the `entities`
    snapshot (canonicalize), then the pred-partitioned `triples`
    snapshot with per-pred lineage. Returns the triples read back."""
    cmap = ckpt.get_or_compute(
        spark, "entities", lambda: canonicalize(mentions), force=force,
        variant=variant,
    )
    return ckpt.get_or_compute(
        spark,
        "triples",
        lambda: materialize_triples(mentions, cmap),
        partition_by=("pred",),
        lineage_key="pred",
        force=force,
        variant=variant,
    )
