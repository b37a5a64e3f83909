"""spark-submit entry for the KG-construction job (north_rule launch
path). Also runnable as plain python for the scaling bench.

    spark-submit --py-files gliner_transbronchialbiopsy_spark.zip \
        tools/run_kg_job.py --input <documents parquet dir/file> \
        --workdir /tmp/kgrun --cpus 32 --catalog medical

Prints one JSON line: rows, wall seconds, triples/sec.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="documents parquet path")
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--catalog", choices=("medical", "keyword"), default="medical")
    ap.add_argument(
        "--gliner-model",
        help="run real GLiNER inference from this model path instead of "
        "the pattern catalog (requires the gliner package on workers; "
        "raises a clear error at execution if absent)",
    )
    ap.add_argument("--fresh", action="store_true", help="clear workdir first")
    ap.add_argument(
        "--detect-shards", type=int, default=0, metavar="K",
        help="commit detection as K independent sub-jobs sharded by "
        "content sha (stage-PARTITION resume: a killed run resumes at "
        "the first incomplete shard; mentions byte-identical for any K)",
    )
    ap.add_argument("--skip-sectionize", action="store_true",
                    help="treat content as already-sectionized text")
    ap.add_argument(
        "--bucketed-docs", type=int, default=0, metavar="N",
        help="lay the document text out as an N-bucket table bucketed "
        "by content_sha256 before detection. The scan then provides "
        "the clustering the detect stage needs, so the document table "
        "never shuffles: not for the dedup, not for the fan-out join "
        "(only the mention side moves). With --skip-sectionize this "
        "stages the input through a run-scoped warehouse table "
        "(dropped after the mentions snapshot lands); without it, the "
        "SECTIONIZED STAGE SNAPSHOT ITSELF is written bucketed, so the "
        "first run and every resume inherit the layout for free. This "
        "is the local analogue of an Iceberg "
        "bucket(N, content_sha256) partition transform on the corpus "
        "table — at 100 TB the layout is written once and every "
        "detection run after that is shuffle-free on the doc side.",
    )
    ap.add_argument(
        "--emit-ntriples", metavar="DIR",
        help="additionally serialize the emitted triples as N-Triples "
        "text files under DIR (sources/export.to_ntriples — the RDF "
        "interchange sink; a pure JVM projection over the triples "
        "snapshot, written with the same parallelism as the job)",
    )
    ap.add_argument(
        "--emit-quads", metavar="DIR",
        help="additionally write the emitted triples as NAMED-GRAPH "
        "quads (g, subj, pred, obj) parquet under DIR, partitioned by "
        "g — the graph column is each subject's source/provenance "
        "prefix, so GRAPH queries over the quad snapshot "
        "(operators/composer.py graphs=) partition-prune on ground "
        "graph terms and bind provenance on variable ones",
    )
    ap.add_argument(
        "--materialize-rules", metavar="DIR",
        help="run the built-in enrichment rule set over the emitted "
        "triples (operators/rules.materialize, semi-naive fixed point: "
        "cross-label co-occurrence between the two most frequent "
        "predicates + a recursive symmetry rule) and write the DERIVED "
        "triples to DIR as parquet; the derived count lands in the "
        "JSON line (derived_triples)",
    )
    ap.add_argument(
        "--validate", action="store_true",
        help="run the SHACL-lite ontology audit "
        "(kgvalidate.constraint_violations) over the emitted triples — "
        "functional-cardinality on every predicate of the closed "
        "catalog — and report the violation count in the JSON line "
        "(plus a violations parquet under the workdir)",
    )
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from gliner_transbronchialbiopsy_spark.functions import patterns as pat
    from gliner_transbronchialbiopsy_spark.plans import kg_pipeline
    from gliner_transbronchialbiopsy_spark.session import get_spark

    if not os.path.exists(args.input):
        ap.error(f"--input path does not exist: {args.input}")
    if args.fresh and os.path.exists(args.workdir):
        shutil.rmtree(args.workdir)

    catalog = (
        pat.MEDICAL_PATTERNS if args.catalog == "medical" else pat.KEYWORD_PATTERNS
    )
    detector = None
    if args.gliner_model:
        from gliner_transbronchialbiopsy_spark.operators import ner

        detector = ner.gliner_detector(args.gliner_model)
    spark = get_spark("kg_job", cpus=args.cpus, shuffle_partitions=args.cpus)
    docs = spark.read.parquet(args.input)
    # Fan the input out when the scan can't: a compressed single-file
    # fixture yields too few splits and the first stage is a per-row
    # UDF. Multi-file (sharded) inputs already scan in parallel — then
    # skip the full-content shuffle. On a real cluster the Iceberg file
    # layout gives the scan this parallelism for free.
    if docs.rdd.getNumPartitions() < args.cpus:
        docs = docs.repartition(args.cpus * 2)
    input_cols = set(docs.columns)
    if "repo" in input_cols:
        need = {"repo", "path", "commit", "lang", "content"}
        if not need <= input_cols:
            ap.error(
                f"--input is missing columns {sorted(need - input_cols)}; "
                "expected the corpus shape (repo, path, commit, lang, "
                "content) or the driver documents shape (source, doc_id, "
                "lang, text)"
            )
    elif {"source", "doc_id", "lang", "text"} <= input_cols:
        # driver-table shape adapter
        docs = docs.select(
            F.col("source").alias("repo"),
            F.col("doc_id").cast("string").alias("path"),
            F.lit("HEAD").alias("commit"),
            "lang",
            F.col("text").alias("content"),
        )
    else:
        ap.error(
            f"--input has columns {sorted(input_cols)}; expected either "
            "(repo, path, commit, lang, content) or the driver documents "
            "shape (source, doc_id, lang, text)"
        )

    t0 = time.time()
    if args.skip_sectionize:
        validated = kg_pipeline.validate_documents(docs)
        sectionized = validated.select(
            "repo", "path", "commit", "lang", "content_sha256",
            F.col("content").alias("conclusion"),
        )
        from gliner_transbronchialbiopsy_spark.sources.checkpoint import (
            CheckpointManager,
            write_bucketed,
        )

        ckpt = CheckpointManager(args.workdir)
        from gliner_transbronchialbiopsy_spark import config as _cfg

        variant = kg_pipeline.detector_variant(
            catalog, _cfg.DEFAULT_CONFIDENCE_THRESHOLD, detector
        )

        def _mentions_snapshot_reusable() -> bool:
            if not ckpt.exists("mentions"):
                return False
            m = ckpt.metrics_or_none("mentions") or {}
            return m.get("variant") == variant

        docs_clustered = False
        # the bucketed layout exists only to feed detection — on a
        # resume whose mentions snapshot is already complete, skip the
        # (full-corpus) bucket write instead of paying it per run
        if args.bucketed_docs and not _mentions_snapshot_reusable():
            import hashlib

            # run-scoped table name: a fixed global name would let two
            # concurrent jobs sharing a warehouse overwrite each
            # other's input mid-run (DROP + overwrite under a lazy
            # reader of the same table)
            tbl = (
                "kg_docs_bucketed_"
                + hashlib.sha256(args.workdir.encode()).hexdigest()[:12]
            )
            write_bucketed(
                sectionized, tbl, "content_sha256", args.bucketed_docs,
            )
            sectionized = spark.table(tbl)
            docs_clustered = True

        mentions = kg_pipeline.detect_checkpointed(
            ckpt, spark, sectionized, shards=args.detect_shards,
            variant=variant, catalog=catalog,
            partitions=None if docs_clustered else args.cpus * 2,
            detector=detector, docs_clustered=docs_clustered,
        )
        if docs_clustered:
            # the bucketed layout existed only to feed detection; the
            # mentions snapshot is written, so drop the staging table —
            # otherwise every distinct workdir leaks a full-corpus copy
            # into the shared warehouse
            from gliner_transbronchialbiopsy_spark.sources.checkpoint import (
                drop_bucketed,
            )

            drop_bucketed(spark, tbl)
        triples = kg_pipeline.entities_and_triples(
            ckpt, spark, mentions, variant=variant
        )
    else:
        triples = kg_pipeline.run_pipeline(
            spark, docs, args.workdir, catalog=catalog,
            partitions=args.cpus * 2, detector=detector,
            bucket_docs=args.bucketed_docs,
            detect_shards=args.detect_shards,
        )
    # the snapshot write already counted the rows for _metrics.json —
    # a triples.count() here would re-scan the 7M-row parquet snapshot
    # as pure serial driver time (measured ~5-15s at the 1.12M-doc
    # corpus, charged to every parallelism level equally)
    try:
        from gliner_transbronchialbiopsy_spark.sources.checkpoint import (
            CheckpointManager as _CM,
        )

        n = _CM(args.workdir).metrics("triples")["rows"]
    except (FileNotFoundError, KeyError, ValueError):
        # ValueError covers json.JSONDecodeError: a truncated
        # _metrics.json left by a killed prior run must not crash the
        # job after all compute is done — fall back to counting
        n = triples.count()
    extra = {}
    if args.emit_quads:
        from pyspark.sql import functions as F

        quads = triples.select(
            F.regexp_extract("subj", "^([^/]+)/", 1).alias("g"),
            "subj", "pred", "obj",
        )
        quads.write.mode("overwrite").partitionBy("g").parquet(
            args.emit_quads
        )
        extra["quads_dir"] = args.emit_quads
    if args.emit_ntriples:
        from gliner_transbronchialbiopsy_spark.sources.export import to_ntriples

        to_ntriples(triples).write.mode("overwrite").text(args.emit_ntriples)
        extra["ntriples_dir"] = args.emit_ntriples
    if args.materialize_rules:
        from pyspark.sql import functions as F

        from gliner_transbronchialbiopsy_spark.operators import rules as kgrules

        # entity-level graph: canonical objects, slugged preds
        g = triples.select(
            "subj", "pred", F.col("canonical_obj").alias("obj")
        )
        # anchor the rule set on the two most frequent predicates —
        # catalog-agnostic (medical slugs or keyword labels alike);
        # the collect is bounded by the closed catalog size
        top = [
            r["pred"]
            for r in g.groupBy("pred")
            .count()
            .orderBy(F.desc("count"), F.asc("pred"))
            .limit(2)
            .collect()
        ]
        if len(top) == 2:
            a_l, b_l = top
            rule_set = [
                kgrules.rule(
                    [("?d", a_l, "?x"), ("?d", b_l, "?y")],
                    [("?x", "cooccurs_with", "?y")],
                    name="cross-label-cooccurrence",
                ),
                # recursive: fires on derived facts in round 2
                kgrules.rule(
                    [("?x", "cooccurs_with", "?y")],
                    [("?y", "cooccurs_with", "?x")],
                    name="cooccurrence-symmetry",
                ),
            ]
            derived = (
                kgrules.materialize(g, rule_set)
                .filter(F.col("inferred"))
                .drop("inferred")
            )
            derived.write.mode("overwrite").parquet(args.materialize_rules)
            extra["derived_triples"] = (
                spark.read.parquet(args.materialize_rules).count()
            )
        else:
            extra["derived_triples"] = 0
    if args.validate:
        # object-shape audit against the catalog itself: every emitted
        # obj must still match its own label's pattern (an extractor-
        # regression tripwire — 0 violations in a healthy run)
        from pyspark.sql import functions as F

        from gliner_transbronchialbiopsy_spark.operators import kgvalidate

        from gliner_transbronchialbiopsy_spark import config as _config

        # rule preds must match the EMITTED pred column, which is the
        # label's slug (materialize_triples maps through LABEL_SLUGS);
        # keying rules on raw labels made the inner join match nothing
        # for the medical catalog — a vacuous always-0 audit
        # value_shape: lookaround extraction patterns can't re-match
        # their bare span — those labels audit against the span shape
        rules = spark.createDataFrame(
            [
                (
                    _config.LABEL_SLUGS.get(label, label),
                    False,
                    pat.value_shape(label, rx),
                )
                for label, rx in sorted(catalog.items())
            ],
            "pred string, functional boolean, obj_pattern string",
        )
        viol = kgvalidate.constraint_violations(triples, rules)
        viol_path = os.path.join(args.workdir, "constraint_violations.parquet")
        viol.write.mode("overwrite").parquet(viol_path)
        extra["constraint_violations"] = (
            spark.read.parquet(viol_path)
            .agg(F.coalesce(F.sum("n_bad"), F.lit(0)))
            .collect()[0][0]
        )
    wall = time.time() - t0
    n_docs = docs.count()
    print(
        json.dumps(
            {
                "triples": n,
                "docs": n_docs,
                "wall_sec": round(wall, 2),
                "triples_per_sec": round(n / wall, 1),
                "docs_per_sec": round(n_docs / wall, 1),
                "cpus": args.cpus,
                **extra,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
