"""Round-6 optimization harness (bench.py stays FROZEN — this file is
the extra measurement surface the optimization guide §1 asks for).

Usage:
  python bench_extra.py time q1_pricing_summary,q3_top_orders --reps 3
  python bench_extra.py explain kg_triples --out plans/r06 --suffix before
  python bench_extra.py stages dedup_minhash            # stage breakdown

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS   (default: the host's cores).

Timing methodology mirrors bench.py exactly: same session factory, same
warm-up, noop sink (kg_triples: count, as in bench.py), wall seconds.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from gliner_transbronchialbiopsy_spark.session import (  # noqa: E402
    DEFAULT_CPUS,
    get_spark,
)


def _bench_fn(name):
    import bench

    qs = entrymod.queries()
    return bench.OVERRIDES.get(name, qs[name])


def force(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["time", "explain", "stages"])
    ap.add_argument("names", help="comma list of query names")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--out", default="plans/r06")
    ap.add_argument("--suffix", default="before")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(
        "bench_extra", cpus=DEFAULT_CPUS, shuffle_partitions=DEFAULT_CPUS
    )
    qs = entrymod.queries()
    names = args.names.split(",")

    # warm-up identical to bench.py
    qs["label_stats"](spark, sf_dir).count()

    if args.mode == "time":
        out = {}
        for name in names:
            fn = _bench_fn(name)
            samples = []
            for _ in range(args.reps):
                spark.sparkContext.setJobDescription(f"time:{name}")
                t0 = time.time()
                df = fn(spark, sf_dir)
                if name == "kg_triples":
                    df.count()
                else:
                    force(df)
                samples.append(round(time.time() - t0, 3))
                # kg mention cache makes rep 2+ of kg_* nearly free; a
                # per-rep fresh session is too slow — report all samples
            out[name] = {
                "median": round(statistics.median(samples), 3),
                "min": min(samples),
                "samples": samples,
            }
            print(json.dumps({name: out[name]}), flush=True)
        print(json.dumps({"sf_dir": sf_dir, "results": out}))
    elif args.mode == "explain":
        os.makedirs(args.out, exist_ok=True)
        for name in names:
            fn = _bench_fn(name)
            df = fn(spark, sf_dir)
            p = os.path.join(args.out, f"{name}_{args.suffix}.txt")
            with open(p, "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
            print(f"wrote {p}")
    elif args.mode == "stages":
        for name in names:
            if name == "dedup_minhash":
                _stages_dedup_minhash(spark, sf_dir, args.reps)
            elif name == "kg_triples":
                _stages_kg_triples(spark, sf_dir, args.reps)
            else:
                print(f"no stage breakdown for {name}")


def _timeit(label, thunk, reps):
    samples = []
    for _ in range(reps):
        t0 = time.time()
        thunk()
        samples.append(round(time.time() - t0, 3))
    print(json.dumps({label: samples}), flush=True)


def _stages_dedup_minhash(spark, sf_dir, reps):
    from pyspark.sql import functions as F

    from gliner_transbronchialbiopsy_spark.operators import dedup, linking

    docs = entrymod._read(spark, sf_dir, "documents")
    keyed = docs.select(
        F.col("doc_id").cast("string").alias("_key"),
        F.col("text").alias("text"),
    ).withColumn("_tid", F.sha2("text", 256))
    surfaces = keyed.withColumn("label", F.lit("doc"))

    def sig_only():
        sigs = linking.minhash_signatures(
            surfaces, "text", ("label",), num_hashes=32, shingle_n=5,
        ).select("label", F.sha2("text", 256).alias("text"), "sig",
                 "n_shingles")
        force(sigs)

    _timeit("sig_stage", sig_only, reps)

    sigs = linking.minhash_signatures(
        surfaces, "text", ("label",), num_hashes=32, shingle_n=5,
    ).select(
        "label", F.sha2("text", 256).alias("text"), "sig", "n_shingles"
    ).localCheckpoint()

    def banding():
        force(linking.banded_keys(sigs, "text", ("label",), 8, 64))

    _timeit("banding", banding, reps)

    def pairs_stage():
        force(linking.lsh_candidate_pairs(sigs, "text", ("label",), bands=8))

    _timeit("cand_pairs", pairs_stage, reps)

    pairs = linking.lsh_candidate_pairs(
        sigs, "text", ("label",), bands=8).localCheckpoint()

    def est():
        force(linking.estimated_edges(
            pairs, sigs, "text", ("label",), jaccard_threshold=0.5))

    _timeit("estimate", est, reps)

    def full():
        force(dedup.minhash_near_duplicates(
            docs, "text", "doc_id", jaccard_threshold=0.5,
            portable_hash=False,
        ).select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard")))

    _timeit("full", full, reps)


def _stages_kg_triples(spark, sf_dir, reps):
    from pyspark.sql import functions as F

    from gliner_transbronchialbiopsy_spark.functions import patterns as pat
    from gliner_transbronchialbiopsy_spark.functions import spark_fns
    from gliner_transbronchialbiopsy_spark.operators import ner
    from gliner_transbronchialbiopsy_spark.plans import kg_pipeline

    docs = entrymod._docs_as_corpus(spark, sf_dir).withColumn(
        "content_sha256", spark_fns.content_sha256(F.col("content"))
    )
    sectionized = docs.select(
        "repo", "path", "commit", "content_sha256",
        F.col("content").alias("conclusion"),
    )

    def detect_only():
        hashed = sectionized.filter(
            F.col("conclusion").isNotNull()
            & (F.trim(F.col("conclusion")) != "")
        ).repartition("content_sha256")
        distinct = hashed.select(
            F.col("content_sha256").alias("sha_key"), "conclusion"
        ).dropDuplicates(["sha_key"])
        found = ner.detect_mentions(
            distinct, text_col="conclusion", catalog=pat.KEYWORD_PATTERNS,
            threshold=0.5, id_cols=("sha_key",), partitions=None,
        )
        force(found)

    _timeit("detect_distinct", detect_only, reps)

    def full():
        mentions = kg_pipeline.detect(
            sectionized, catalog=pat.KEYWORD_PATTERNS)
        out = mentions.select(
            "repo", "path", "commit", "label", "text", "score",
            "start_idx", "end_idx",
        )
        out.count()
        kg_pipeline.release_doc_cache(mentions)

    _timeit("full_detect_fanout", full, reps)


if __name__ == "__main__":
    main()
