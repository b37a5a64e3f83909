"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship KG pipeline on sf0.001.
`queries()` exposes one entry per implemented operator family from
SURVEY.md §2 (+ the training-data-pipeline extensions); `oracle_sql()`
gives the DuckDB-equivalent SQL for every SQL-expressible one.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gliner_transbronchialbiopsy_spark.functions import patterns as pat
from gliner_transbronchialbiopsy_spark.functions import spark_fns
from gliner_transbronchialbiopsy_spark.operators import (
    decontam,
    dedup,
    dsir,
    graph,
    mixture,
    packing,
    pii,
    pivot,
    quantiles,
    ranges,
    similarity,
    skew,
    stats,
    termstats,
    textstats,
)

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

# keyword catalog rendered once for both Spark and the SQL oracles
_KW = {label: pat.KEYWORD_PATTERNS[label] for label in sorted(pat.KEYWORD_PATTERNS)}
_KW_VALUES_SQL = ", ".join(f"('{label}', '{rx}')" for label, rx in _KW.items())


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _docs_as_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapt the driver documents table to the input_hint shape."""
    return _read(spark, sf_dir, "documents").select(
        F.col("source").alias("repo"),
        F.col("doc_id").cast("string").alias("path"),
        F.lit("HEAD").alias("commit"),
        "lang",
        F.col("text").alias("content"),
    )


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full 4-stage KG DAG (detect → merge → link → triples)
    over sf0.001 documents with the keyword catalog; returns triple
    counts per predicate."""
    from gliner_transbronchialbiopsy_spark.plans import kg_pipeline

    docs = _docs_as_corpus(spark, "/root/testdata/sf0.001")
    validated = kg_pipeline.validate_documents(docs)
    sectionized = validated.select(
        "repo", "path", "commit", "lang", "content_sha256",
        F.col("content").alias("conclusion"),
    )
    detected = kg_pipeline.detect(sectionized, catalog=pat.KEYWORD_PATTERNS)
    # the one barrier: canonicalize and materialize_triples both read
    # the mentions, so detection runs once, here
    mentions = detected.localCheckpoint()
    kg_pipeline.release_doc_cache(detected)
    cmap = kg_pipeline.canonicalize(mentions)
    triples = kg_pipeline.materialize_triples(mentions, cmap)
    return triples.groupBy("pred").agg(
        F.count("*").alias("n_triples"),
        F.countDistinct("subj").alias("n_subjects"),
        F.countDistinct("obj").alias("n_objects"),
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


# One computation of the mention table per (session, sf_dir): every
# contract query over mentions or triples (kg_triples and the graph
# queries built on it) consumes the same subplan. The cache key is the session object itself — SparkSession hashes by
# identity, and the cache's strong reference keeps it alive, so no other
# session can reuse its key. An evicted entry's checkpoint blocks are
# freed by the ContextCleaner once nothing references the DataFrame.
@functools.lru_cache(maxsize=2)
def _kg_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gliner_transbronchialbiopsy_spark.plans import kg_pipeline

    docs = _docs_as_corpus(spark, sf_dir)
    docs = docs.withColumn("content_sha256", spark_fns.content_sha256(F.col("content")))
    # detect AND overlap-merge at distinct-content granularity, then fan
    # out (kg_pipeline.detect): one less shuffle of the full mention
    # table than merge-after-fanout, identical results (merge is a pure
    # function of the text)
    sectionized = docs.select(
        "repo", "path", "commit", "content_sha256",
        F.col("content").alias("conclusion"),
    )
    mentions = kg_pipeline.detect(sectionized, catalog=pat.KEYWORD_PATTERNS)
    # prune to what the contract queries read before materializing
    # (mention_id's per-row sha256 would otherwise be computed and
    # stored for nothing), then take the one barrier: an EAGER
    # localCheckpoint materializes the pruned table AND truncates the
    # lineage, so every consumption query's plan reads Scan ExistingRDD
    # — no MapInPandas subtree survives downstream (the plan-audit
    # invariant), and detection never re-runs per consumer
    pruned = mentions.select(
        "repo", "path", "commit", "label", "text", "score",
        "start_idx", "end_idx",
    ).localCheckpoint()
    # the eager checkpoint has run: detect()'s internal clustered doc
    # cache (full conclusion text) is dead weight now — release it
    kg_pipeline.release_doc_cache(mentions)
    return pruned


def q_kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _kg_mentions(spark, sf_dir)
    return m.select(
        spark_fns.doc_id(F.col("repo"), F.col("path"), F.col("commit")).alias("subj"),
        F.col("label").alias("pred"),
        F.col("text").alias("obj"),
    )


def q_kg_mentions_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _kg_mentions(spark, sf_dir)
    return m.groupBy(F.col("label").alias("pred")).agg(
        F.count("*").alias("n_mentions"),
        F.countDistinct("path").alias("n_docs"),
        F.countDistinct("text").alias("n_surfaces"),
    )


def q_kg_pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _kg_mentions(spark, sf_dir)
    labels = tuple(sorted(pat.KEYWORD_PATTERNS))
    wide = pivot.pivot_wide(
        m, labels=labels, doc_cols=("repo", "path", "commit"), with_scores=False
    )
    return wide.select(
        F.col("path").cast("long").alias("doc_id"), *labels
    )


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _read(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.col("l_orderkey"))
        .limit(10)
    )


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join (lineitem⋈orders⋈customer⋈supplier⋈
    nation⋈region) with broadcast dims, revenue by nation."""
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    supp = _read(spark, sf_dir, "supplier")
    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(
            F.broadcast(nation),
            (cust.c_nationkey == nation.n_nationkey)
            & (supp.s_nationkey == nation.n_nationkey),
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregate revenue share for one
    part type over a date window (part dim broadcast)."""
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).filter(
        F.col("l_shipdate") >= F.lit("1995-01-01")
    )
    return joined.agg(
        F.round(
            100.0
            * F.sum(F.when(F.col("p_type") == "ECONOMY", rev).otherwise(0.0))
            / F.sum(rev),
            4,
        ).alias("promo_share_pct"),
        F.count("*").alias("n_items"),
    )


def q_filter_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    return (
        ev.filter(
            F.col("value").between(10, 50)
            & F.col("event_type").isin("click", "view", "purchase")
        )
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
    )


def q_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return docs.agg(
        F.countDistinct("text").alias("n_distinct"),
        F.count("*").alias("n_total"),
        F.countDistinct(F.substring("text", 1, 25)).alias("n_distinct_prefix"),
    )


def q_string_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    c = spark_fns.collapse_whitespace(F.col("text"))
    c = spark_fns.normalize_punct_spacing(c)
    c = spark_fns.normalize_dashes(c)
    return docs.select("doc_id", F.trim(c).alias("cleaned"))


def q_grade_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    synthetic = F.concat(
        F.lit("grade a"), (F.col("doc_id") % 5).cast("string"),
        F.lit(" puis A"), (F.col("doc_id") % 4).cast("string"),
        F.lit("B"), (F.col("doc_id") % 3).cast("string"),
    )
    return docs.select(
        "doc_id", spark_fns.format_grades_jvm(synthetic).alias("normalized")
    )


def q_sha256(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", spark_fns.content_sha256(F.col("text")).alias("content_sha256"))


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        textstats.token_count_ws(F.col("text")).alias("n_ws_tokens"),
        textstats.token_count_bpe_ish(F.col("text")).alias("n_pieces"),
    )


def q_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    return stats.label_stats(ev, "event_type", "user_id", "value")


def q_count_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    dim = spark.createDataFrame(
        [(t,) for t in (*EVENT_TYPES, "phantom_type")], "event_type string"
    )
    return stats.count_histogram(ev, "event_type", dim)


def q_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    return stats.coverage(ev, "event_type", "user_id")


def q_global_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    return stats.global_totals(ev, "user_id").select(
        "n_docs", "n_rows", "rows_per_doc"
    )


def q_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    return stats.cooccurrence(ev, "user_id", "event_type")


def q_score_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    return stats.score_distribution(ev, "event_type", "value")


def q_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    return stats.daily_counts(ev, "ts").select(
        F.date_format("day", "yyyy-MM-dd").alias("day"), "n"
    )


def q_threshold_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    thresholds = F.transform(
        F.sequence(F.lit(0), F.lit(20)), lambda i: (i * F.lit(25)).cast("double")
    )
    return (
        ev.select("value", F.explode(thresholds).alias("threshold"))
        .groupBy("threshold")
        .agg(F.sum((F.col("value") >= F.col("threshold")).cast("long")).alias("n_kept"))
    )


def q_last_writer_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    return stats.last_writer_wins(
        ev, ("user_id", "event_type"), "ts", "event_id"
    ).select("user_id", "event_type", "event_id", F.round("value", 2).alias("value"))


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = _read(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy(F.desc("value"), F.col("event_id"))
    return (
        ev.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("event_type", "rank", "event_id", F.round("value", 2).alias("value"))
    )


def q_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    lo = ev.filter(F.col("value") < 20).select("user_id", "event_type")
    hi = ev.filter(F.col("value") > 400).select("user_id", "event_type")
    return (
        lo.union(hi).distinct().groupBy("event_type").agg(F.count("*").alias("n_pairs"))
    )


def q_kfold_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    return (
        stats.kfold_assign(ev, "event_id", k=5, seed=42)
        .groupBy("fold")
        .agg(F.count("*").alias("n"))
    )


def q_broadcast_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


def q_corrections_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/O4 on the events log: base = earliest event per (user, type),
    corrected value = latest event's value; coalesce semantics."""
    ev = _read(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    w_first = W.partitionBy("user_id", "event_type").orderBy(
        F.col("ts"), F.col("event_id")
    )
    base = (
        ev.withColumn("_rn", F.row_number().over(w_first))
        .filter(F.col("_rn") == 1)
        .select("user_id", "event_type", F.col("value").alias("value"),
                F.col("event_id").alias("base_event_id"))
    )
    corrections = ev.select(
        "user_id", "event_type", F.col("value").alias("corrected_value"),
        "ts", F.col("event_id").alias("correction_id"),
    )
    merged = stats.apply_corrections(
        base, corrections, ("user_id", "event_type"), "value",
        ts_col="ts", tiebreak="correction_id",
    )
    return merged.select(
        "user_id", "event_type", "base_event_id", F.round("value", 2).alias("value")
    )


def q_dedup_exact_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 25).alias("text")
    )
    groups = dedup.exact_duplicates(docs, "text", "doc_id")
    return groups.select(
        "content_sha256", "n_dups", F.col("doc_ids").cast("string").alias("doc_ids")
    )


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.12)
    return pairs.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def dedup_minhash_query(
    spark: SparkSession, sf_dir: str, portable_hash: bool
) -> DataFrame:
    """Shared body for the dedup_minhash contract query and bench.py's
    production-path override — ONE definition of the operator call and
    projection so the two cannot drift; only the hash family differs."""
    docs = _read(spark, sf_dir, "documents")
    return dedup.minhash_near_duplicates(
        docs, "text", "doc_id", jaccard_threshold=0.5,
        portable_hash=portable_hash,
    ).select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """portable_hash=True: the sha256-derived shingle-hash family makes
    the WHOLE LSH pipeline (signatures -> banding -> 64-row bucket cap
    -> candidate self-join -> estimated Jaccard) restatable in DuckDB,
    so this query carries a full value oracle instead of a rows-only
    check. The production default is the numpy FNV-1a + splitmix64
    family of linking.minhash_signatures_np (bench.py times it through
    the same dedup_minhash_query body)."""
    return dedup_minhash_query(spark, sf_dir, portable_hash=True)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """portable_hash=True (see q_dedup_minhash): sha-derived 60-bit
    shingle hashes give the simhash table a DuckDB restatement."""
    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return dedup.simhash_buckets(
        docs, "text", "doc_id", portable_hash=True
    ).filter(F.col("hamming") <= 12)


def q_lineage_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule per-partition lineage as a CONTRACT surface: run the
    triples stage through CheckpointManager (partition_by=pred,
    lineage_key=pred) into a fresh workdir, then read back the stage's
    _lineage table and expose (pred, n_rows). The oracle restates the
    per-pred counts directly from the documents table, so the lineage
    rows the checkpoint machinery WROTE are value-checked against an
    independent derivation — the lineage invariant itself has an
    oracle, not just the data it describes. (The companion
    content_fingerprint column is a crc32 fold DuckDB cannot restate;
    it stays pytest-verified in test_pipeline_e2e.)"""
    import tempfile

    from gliner_transbronchialbiopsy_spark.plans import kg_pipeline
    from gliner_transbronchialbiopsy_spark.sources.checkpoint import (
        CheckpointManager,
    )

    docs = _docs_as_corpus(spark, sf_dir)
    validated = kg_pipeline.validate_documents(docs)
    sectionized = validated.select(
        "repo", "path", "commit", "content_sha256",
        F.col("content").alias("conclusion"),
    )
    detected = kg_pipeline.detect(sectionized, catalog=pat.KEYWORD_PATTERNS)
    # the one barrier: canonicalize and materialize_triples both read
    # the mentions, so detection runs once, here
    mentions = detected.localCheckpoint()
    kg_pipeline.release_doc_cache(detected)
    cmap = kg_pipeline.canonicalize(mentions)
    triples = kg_pipeline.materialize_triples(mentions, cmap)
    # fixed per-sf_dir workdir, overwritten each call: a mkdtemp here
    # would leak one full triples snapshot per invocation (the returned
    # DataFrame lazily reads the written parquet, so the dir must
    # outlive the call — bounding it to one live snapshot per sf_dir is
    # the leak-free alternative)
    import hashlib
    import os

    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:12]
    workdir = os.path.join(tempfile.gettempdir(), f"kg_lineage_{tag}")
    ckpt = CheckpointManager(workdir)
    ckpt.write("triples", triples, partition_by=("pred",), lineage_key="pred")
    lineage = ckpt.lineage(spark, "triples")
    return lineage.select("pred", F.col("rows").alias("n_rows"))


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH embedding dedup with a FULL value oracle: the
    portable (sha256-parity) plane signs make the bucketing restatable
    in DuckDB, and every floating-point reduction on both engines is an
    ordered left fold over doubles (Spark F.aggregate / DuckDB
    list_reduce), so plane dots, bucket strings, and in-bucket cosines
    agree bit-for-bit. Twins (scaled copies of the first 25 vectors —
    same direction, same bucket, cosine 1) are planted because random
    synthetic embeddings contain no true near-duplicates; the random
    vectors double as negatives the threshold must reject."""
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    twins = emb.filter(F.col("vec_id") < 25).select(
        (F.col("vec_id") + 100_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.5)).alias("embedding"),
    )
    corpus = emb.union(twins)
    out = dedup.embedding_near_duplicates(
        corpus, threshold=0.95, n_planes=8, max_bucket_size=256,
        portable_hash=True,
    )
    return out.select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


def q_sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).head()["embedding"]
    out = similarity.brute_force_topk(
        emb.filter(F.col("vec_id") != 0), list(qvec), k=10
    )
    return out.select("vec_id", F.round("cosine", 4).alias("cosine"))


def q_sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 3)
    out = similarity.knn_join_topk(corpus, queries, k=3)
    return out.select(
        "query_id", "vec_id", "rank", F.round("cosine", 4).alias("cosine")
    )


def q_sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF machinery at full probe (n_probe = n_buckets): exercises the
    assign/probe/prune plan end-to-end while being provably equal to
    exact top-k, so it gets a DuckDB oracle. Partial-probe recall
    (n_probe=4 -> recall >= 0.5) is pytest-covered where the bucket
    membership can be compared against brute force directly."""
    emb = _read(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).head()["embedding"]
    assigned = similarity.ivf_assign(emb.filter(F.col("vec_id") != 0), n_buckets=8)
    out = similarity.ivf_topk(
        assigned, list(qvec), k=10, n_probe=8, n_buckets=8
    )
    return out.select("vec_id", F.round("cosine", 4).alias("cosine"))


def q_sim_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-centroid IVF (Lloyd's k-means as an iterative DataFrame
    loop) at full probe: provably equal to exact top-k, so it shares
    the exact-cosine oracle. Partial-probe recall with trained
    centroids is pytest-covered (test_ivf_kmeans_recall...), where it
    must match or beat the hash-pseudo-centroid variant."""
    emb = _read(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).head()["embedding"]
    corpus = emb.filter(F.col("vec_id") != 0)
    cents = similarity.ivf_train_kmeans(corpus, n_buckets=8, iterations=3)
    assigned = similarity.ivf_assign_centroids(corpus, cents)
    out = similarity.ivf_topk_kmeans(
        assigned, cents, list(qvec), k=10, n_probe=len(cents)
    )
    return out.select("vec_id", F.round("cosine", 4).alias("cosine"))


def q_sim_pairs_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity JOIN (pair mining, not single-query search): the 20
    most-similar embedding pairs in a bounded audit slice via broadcast
    self-join + TakeOrdered — the exact-verification counterpart of the
    LSH-bucketed embedding_near_duplicates path (whose hyperplane
    bucketing is xxhash64-based and therefore pytest-verified, not
    SQL-verified). The slice bound keeps the exact path O(slice^2); the
    full-corpus path is the bucketed one."""
    emb = _read(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    # precompute each vector's norm ONCE before the join: recomputing
    # l2norm inside the pair expression costs two O(dim) folds per pair
    # (~90k) instead of one per vector (~300)
    normed = emb.select(
        "vec_id", "embedding",
        similarity.l2norm(F.col("embedding")).alias("_norm"),
    )
    a = normed.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("_ea"),
        F.col("_norm").alias("_na"),
    )
    b = normed.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("_eb"),
        F.col("_norm").alias("_nb"),
    )
    pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
    cos = similarity.dot(F.col("_ea"), F.col("_eb")) / (
        F.col("_na") * F.col("_nb")
    )
    return (
        pairs.select("id_a", "id_b", cos.alias("_cos"))
        .orderBy(F.desc("_cos"), "id_a", "id_b")
        .limit(20)
        .select("id_a", "id_b", F.round("_cos", 4).alias("cosine"))
    )


def q_json_extract_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12-style semi-structured scan: typed JSON parse of the props
    column (never eval/regex — the reference's eval() round-trip is the
    bug class we eliminate, charts.py:92)."""
    from pyspark.sql import types as T

    ev = _read(spark, sf_dir, "events")
    parsed = ev.withColumn(
        "props_k",
        F.from_json("props", T.StructType([T.StructField("k", T.LongType())]))["k"],
    )
    return parsed.groupBy("event_type").agg(
        F.sum("props_k").alias("sum_k"),
        F.round(F.avg("props_k"), 4).alias("avg_k"),
        F.count("props_k").alias("n_k"),
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: per-user sessions split on >30min gaps (window
    lag + running sum), then session stats. One shuffle on user_id."""
    from pyspark.sql import Window as W

    ev = _read(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("timestamp_ltz").cast("long")  # ts is NTZ
    gap = epoch - F.lag(epoch).over(w)
    sessioned = ev.withColumn(
        "new_session", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    ).withColumn(
        "session_id", F.sum("new_session").over(
            w.rowsBetween(W.unboundedPreceding, 0)
        )
    )
    return (
        sessioned.groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n_events"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
            F.sum("n_events").alias("n_events"),
        )
    )


def q_asof_prior_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark lacks a native one): for each 'error' event,
    the most recent prior 'view' value of the same user — implemented
    as last(ignorenulls) over an ordered per-user window (the
    union-and-carry-forward formulation; no join at all)."""
    from pyspark.sql import Window as W

    ev = _read(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    carried = ev.withColumn(
        "prior_view_value",
        F.last(
            F.when(F.col("event_type") == "view", F.round("value", 2)),
            ignorenulls=True,
        ).over(w),
    )
    return carried.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "prior_view_value"
    )


def q_cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets coverage dashboard (natural generalization of A5;
    SURVEY.md §2.6 note): cube over (event_type, day)."""
    ev = _read(spark, sf_dir, "events").withColumn(
        "day", F.date_format(F.to_date("ts"), "yyyy-MM-dd")
    )
    return ev.cube("event_type", "day").agg(F.count("*").alias("n"))


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
        .alias("revenue"),
        F.count("*").alias("n"),
    )


def q_fold_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13: per-metric mean/std/min/max across deterministic folds
    (train_cross_validation.py:92-124 semantics on the events table:
    metric = event_type, per-fold value = avg(value))."""
    ev = _read(spark, sf_dir, "events")
    per_fold = (
        stats.kfold_assign(ev, "event_id", k=5, seed=42)
        .groupBy("event_type", "fold")
        .agg(F.avg("value").alias("fold_avg"))
    )
    return stats.fold_metrics(per_fold, "event_type", "fold_avg")


def q_training_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry point 3 (annotation projection) on driver data: the
    pivoted keyword cells act as the wide gold table; spans are
    projected back onto the text (json_convertissor.py:13-36).
    Token-subsequence search is not SQL-expressible -> rows-only."""
    from gliner_transbronchialbiopsy_spark.plans import annotation_projection as ap

    m = _kg_mentions(spark, sf_dir)
    labels = tuple(sorted(pat.KEYWORD_PATTERNS))
    wide = pivot.pivot_wide(
        m, labels=labels, doc_cols=("repo", "path", "commit"), with_scores=False
    )
    docs = _docs_as_corpus(spark, sf_dir).select(
        "path", F.col("content").alias("conclusion_text")
    )
    gold = docs.join(wide.select("path", *labels), "path", "inner")
    records = ap.project_annotations(gold, slug_cols=labels)
    return records.select(
        F.col("path").cast("long").alias("doc_id"),
        F.size("tokenized_text").alias("n_tokens"),
        F.size("ner").alias("n_spans"),
    )


def q_scores_map_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: per-doc mean score folded from the typed scores map
    (replaces the reference's eval()-of-stringified-dict,
    charts.py:92-115). Scores are 3-dp sha256-derived, so the fold sums
    exact integer MILLIS (one long per score) before one final division
    — bit-stable under any addition order, hence DuckDB-oracle-checkable
    (the float-sum formulation could flip the 4th decimal digit
    depending on aggregation order)."""
    m = _kg_mentions(spark, sf_dir)
    wide = pivot.pivot_wide(
        m, labels=tuple(sorted(pat.KEYWORD_PATTERNS)),
        doc_cols=("repo", "path", "commit"), with_scores=True,
    )
    all_scores = F.flatten(F.map_values("scores"))
    millis = F.aggregate(
        all_scores,
        F.lit(0).cast("long"),
        lambda acc, x: acc + F.round(x * 1000).cast("long"),
    )
    # floor-truncate to 4dp instead of round: a mean like 0.742350 is a
    # round-half TIE whose direction differs between Spark (decimal
    # half-up) and DuckDB (binary-double) — floor on the identical IEEE
    # double is direction-free on both engines
    mean_score = F.floor(millis / 1000.0 / F.size(all_scores) * 10000) / 10000.0
    return wide.select(
        F.col("path").cast("long").alias("doc_id"),
        mean_score.alias("mean_score"),
        F.size(all_scores).alias("n_scores"),
    )


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary build (training-tokenizer prep): global top-25
    tokens by frequency with doc frequency. Two-level aggregate —
    explode is followed by a groupBy whose map-side partial combine
    collapses each partition's token counts before the shuffle, so
    shuffle volume is O(vocab x partitions), not O(corpus tokens)."""
    docs = _read(spark, sf_dir, "documents")
    # explicit whitespace class, NOT \s: Java's \s includes vertical tab
    # (\x0B) while DuckDB's RE2 \s does not — the oracle would diverge
    # on pasted-from-PDF text
    toks = docs.select(
        "doc_id",
        F.explode(
            F.split(F.trim(F.lower("text")), "[ \\t\\n\\r\\f]+")
        ).alias("token"),
    ).filter(F.col("token") != "")
    return (
        toks.groupBy("token")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n"), "token")
        .limit(25)
    )


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (training-set downsampling):
    keep ~20% of docs per lang via the same mod-first affine rule as
    kfold_assign — reproducible across cluster sizes AND oracle-
    checkable (hash-based sampleBy is not), overflow-safe at any id."""
    docs = _read(spark, sf_dir, "documents")
    # the sample IS a kfold bucketing: 100 folds, keep folds 0-19 —
    # reuse the one overflow-safe rule instead of re-inlining it
    sampled = stats.kfold_assign(docs, "doc_id", k=100, seed=17).filter(
        F.col("fold") < 20
    ).drop("fold")
    return sampled.groupBy("lang").agg(
        F.count("*").alias("n_sampled"),
        F.round(F.avg(F.length("text")), 4).alias("avg_len"),
    )


def _fan_out(df: DataFrame) -> DataFrame:
    """Rebalance a CPU-dense, embarrassingly-parallel projection whose
    SCAN cannot provide core-count parallelism. The local test tables
    are single-row-group parquet files — Spark can plan byte-range
    splits but a parquet scan cannot split inside a row group, so a
    5.7 MB documents.parquet executes as ONE task and every
    regex-heavy per-doc projection runs serially (measured at sf1.0 /
    local[32]: lang_id 3.0-3.5s serial vs 0.6-1.3s after the fan-out;
    quality_score 2.3s vs 0.9s). The exchange is CONDITIONAL on the
    scan actually being under-parallelized, so on real multi-row-group
    inputs (any production table) this is a no-op — the same
    cores-not-bytes lesson as the minhash signature repartition
    (BENCH/BASELINE.md round 5)."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _fan_out(_read(spark, sf_dir, "documents").select("doc_id", "text"))
    return docs.select("doc_id", textstats.lang_id(F.col("text")).alias("lang_pred"))


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _fan_out(_read(spark, sf_dir, "documents").select("doc_id", "text"))
    return textstats.quality_score(docs, "text").select(
        "doc_id", "n_tokens", "punct_ratio", "stopword_ratio", "quality_score"
    )


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(F.regexp_replace(F.lower("text"), r"\s+", " ")).alias("fingerprint_md5"),
        textstats.fingerprint64(F.col("text")).alias("fingerprint64"),
    ).drop("fingerprint64")


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation keep-list (plans/corpus_curation.curate):
    language filter -> quality filter -> exact-dedup keep-first, scalar
    filters before the one dedup shuffle."""
    from gliner_transbronchialbiopsy_spark.plans import corpus_curation

    docs = _read(spark, sf_dir, "documents")
    return corpus_curation.curate(
        docs, langs=("en",), min_quality=0.45
    ).select("doc_id", "lang_pred", "quality_score")


def q_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage curation rejection audit (corpus_curation.report):
    every dropped doc charged to the first stage that rejected it,
    including the MinHash near-dup cluster losers (portable hash family
    so the whole four-stage chain is DuckDB-restatable)."""
    from gliner_transbronchialbiopsy_spark.plans import corpus_curation

    docs = _read(spark, sf_dir, "documents")
    return corpus_curation.report(
        docs, langs=("en",), min_quality=0.45, portable_hash=True
    )


def q_curation_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship four-stage curation keep list
    (corpus_curation.curate_near_dup): lang -> quality -> exact dedup ->
    MinHash near-dup cluster election (lowest string id per cluster
    survives). portable hash family: signatures, banding, bucket cap,
    candidate join, estimate AND the connected-component election are
    all restated in the DuckDB oracle (recursive min-label CTE)."""
    from gliner_transbronchialbiopsy_spark.plans import corpus_curation

    docs = _read(spark, sf_dir, "documents")
    return corpus_curation.curate_near_dup(
        docs, langs=("en",), min_quality=0.45, portable_hash=True
    ).select("doc_id", "lang_pred", "quality_score")


def q_curation_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation audit with the Gopher-style repetition stage ENABLED
    (corpus_curation.report, near_dup=False): docs over the
    top-bigram / duplicated-2-gram caps are charged to 'repetition'
    after lang+quality and before exact dedup. dup_gram_n=2 and the
    0.08/0.10 caps match the synthetic corpus's short docs (the
    operator defaults to Gopher's 5-grams)."""
    from gliner_transbronchialbiopsy_spark.plans import corpus_curation

    docs = _read(spark, sf_dir, "documents")
    return corpus_curation.report(
        docs,
        langs=("en",),
        min_quality=0.45,
        max_top_bigram_frac=0.08,
        max_dup_ngram_frac=0.10,
        dup_gram_n=2,
        near_dup=False,
    )


def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over the hot event_type keys
    (operators/skew.salted_agg): the wide shuffle spreads each key over
    32 salts, then merges n_keys*32 partial rows. Result is provably
    identical to the plain GROUP BY the oracle runs."""
    ev = _read(spark, sf_dir, "events")
    out = skew.salted_agg(
        ev,
        ["event_type"],
        {
            "n": ("count", "value"),
            "total": ("sum", "value"),
            "vmin": ("min", "value"),
            "vmax": ("max", "value"),
            "vavg": ("avg", "value"),
        },
        salt_on="event_id",
        n_salts=32,
    )
    return out.select(
        "event_type",
        "n",
        F.round("total", 2).alias("total"),
        F.round("vmin", 4).alias("vmin"),
        F.round("vmax", 4).alias("vmax"),
        F.round("vavg", 4).alias("vavg"),
    )


def q_skew_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof countDistinct (operators/skew.salted_distinct_agg):
    the distinct shuffle hashes on the value column too, so a hot key
    spreads; NULL semantics match countDistinct exactly."""
    ev = _read(spark, sf_dir, "events")
    return skew.salted_distinct_agg(
        ev, ["event_type"], "user_id", out="n_users"
    )


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-doc repetition signals
    (textstats.repetition_features): duplicated sentence-segment
    fraction, top word-bigram fraction, duplicated word-2-gram
    fraction — all per-row HOF projections, zero shuffles.
    dup_gram_n=2 because the synthetic docs are too short for 5-gram
    repeats; the operator itself defaults to Gopher's 5."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return textstats.repetition_features(docs, dup_gram_n=2).select(
        "doc_id", "dup_segment_frac", "top_bigram_frac", "dup_ngram_frac"
    )


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub accounting (operators/pii.redact). The synthetic
    corpus carries no PII, so the query PLANTS deterministic markers
    derived from doc_id (same derivation in the oracle) — the point
    under test is the regex catalog + sequential-replace semantics,
    which both engines restate on identical inputs."""
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com now"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" host 10.0.0."),
                    (F.col("doc_id") % 250).cast("string"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" ref 1234567"), F.col("doc_id").cast("string")
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 13 == 0, F.lit(" tel +33 612 345 678")
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return pii.redact(docs, "text").select(
        "doc_id",
        F.col("text").alias("redacted_text"),
        "n_email",
        "n_ip",
        "n_phone",
        "n_idnum",
        "n_pii_total",
    )


def q_decontam_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval n-gram decontamination (operators/decontam): docs
    with doc_id % 10 == 0 play the eval benchmark, the rest the
    training corpus; flag every training doc sharing a word 5-gram
    with the eval side. Eval n-gram set broadcasts; the training side
    is pruned by the join before its only shuffle."""
    docs = _read(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 10 == 0)
    tr = docs.filter(F.col("doc_id") % 10 != 0)
    return decontam.contamination(tr, ev, n=5)


def q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing
    (operators/packing.pack_chunks): global token offsets via the
    distributed two-phase prefix sum (range buckets -> bounded offset
    collect -> per-bucket windows), then each doc's 512-token chunk
    span. The oracle is the single-window cumsum the distributed form
    must equal."""
    docs = _read(spark, sf_dir, "documents")
    return packing.pack_chunks(docs, seq_len=512)


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted domain mixture sampling
    (operators/mixture.mixture_sample, alpha=0.5, target 50%):
    per-source keep rates from one bounded aggregate, keep decision a
    deterministic portable-hash uniform — reproducible on any cluster
    size and restatable in DuckDB bit-for-bit."""
    docs = _read(spark, sf_dir, "documents")
    m = mixture.mixture_sample(docs, alpha=0.5, target_frac=0.5)
    return m.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.first("keep_rate").alias("keep_rate"),
    )


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM perplexity quality scoring
    (operators/termstats.perplexity_score): the corpus-trained unigram
    log-probs are FIXED-POINT longs (floor(ln(c/total) * 1e9)), so each
    doc's negative log-likelihood is an exact integer sum —
    bit-identical at any parallelism and in DuckDB. Two shuffles total
    (vocab build, per-doc re-agg); the LM table broadcasts."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return termstats.perplexity_score(docs).select(
        "doc_id", "n_tokens", "nll_fp", "avg_nll"
    )


def q_weak_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weak-supervision labeling (operators/weaklabel): three
    programmatic label functions over the documents table — keyword
    LFs voting 'tech', a short-doc LF voting 'general' — aggregated by
    weighted majority (lf_kw carries weight 2) with the total-order
    tie-break (weight DESC, label ASC). Summarized per (label,
    confidence band) so the contract row count stays O(bands) while
    the sums hash every per-doc confidence."""
    from gliner_transbronchialbiopsy_spark.operators import weaklabel

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    lfs = {
        "lf_kw": F.when(
            F.col("text").rlike(r"\b(?:spark|query|hash)\b"), F.lit("tech")
        ),
        "lf_noun": F.when(
            F.col("text").rlike(r"\b(?:table|stream)\b"), F.lit("tech")
        ),
        "lf_short": F.when(
            F.size(F.split(F.trim(F.col("text")), r"\s+")) < 30,
            F.lit("general"),
        ),
    }
    votes = weaklabel.apply_label_functions(docs, lfs)
    out = weaklabel.vote(votes, weights={"lf_kw": 2})
    band = F.expr("(confidence_fp * 4) div 1000000001")  # 0..3 quarters
    return (
        out.withColumn("band", band)
        .groupBy("label", "band")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_votes").alias("sum_votes"),
            F.sum("weight").alias("sum_weight"),
            F.sum("confidence_fp").alias("sum_conf_fp"),
        )
    )


def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail perplexity triage
    (operators/termstats.perplexity_buckets): unigram-LM per-token NLL
    as exact longs, corpus tertile cuts via one mergeable percentile
    aggregate (measured bit-identical to DuckDB quantile_cont),
    bucket label as a broadcast projection. Summarized per bucket —
    the exact long sums hash every underlying doc score."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    b = termstats.perplexity_buckets(docs)
    return b.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.sum("m_fp").alias("sum_m_fp"),
        F.min("m_fp").alias("min_m_fp"),
        F.max("m_fp").alias("max_m_fp"),
    )


def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document
    (operators/termstats.tfidf_topk): document frequencies from one
    corpus aggregate, broadcast back onto per-doc term counts; the
    score is an exact long ((c * idf_fp) div n_tok), so the top-k cut
    line has no float comparison and both engines elect the same
    terms."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return termstats.tfidf_topk(docs, k=3)


BM25_QUERY_TERMS = ("customer", "merge", "spark", "window")


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval (operators/termstats.bm25_topk, Robertson
    & Walker SIGIR 1994): top-20 documents for a 4-term query, k1=1.2
    b=0.75. Per-term scores are exact longs (the two floor() grids
    are the only float touch-points, both engines evaluating the same
    mirrored expression — constants derived once in
    termstats.bm25_constants and embedded as repr() in the oracle);
    the per-doc sum is exact long addition, so the top-20 cut
    (score_fp DESC, doc_id) is engine-portable."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return termstats.bm25_topk(docs, list(BM25_QUERY_TERMS), k=20)


def q_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal rank fusion
    (operators/termstats.rrf_fuse — Cormack et al. SIGIR 2009): the
    lexical arm is the bm25_topk top-20 (exact-long score_fp order),
    the dense arm is brute-force cosine top-20 against embedding 0
    (vec_id == doc_id in the fixture), and fusion sums pure-integer
    1e6 DIV (60 + rank) contributions — ranks, not scores, cross the
    boundary, so the incommensurable BM25 and cosine scales compose
    without calibration and the fused top-20 is engine-portable."""
    from pyspark.sql import Window as W

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    lex = termstats.bm25_topk(docs, list(BM25_QUERY_TERMS), k=20)
    w_lex = W.orderBy(F.desc("score_fp"), F.col("doc_id").asc())
    lex_r = lex.select("doc_id", F.row_number().over(w_lex).alias("rank"))

    emb = _read(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).head()["embedding"]
    dense = similarity.brute_force_topk(
        emb.filter(F.col("vec_id") != 0), list(qvec), k=20
    )
    w_dense = W.orderBy(F.desc("cosine"), F.col("vec_id").asc())
    dense_r = dense.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number().over(w_dense).alias("rank"),
    )
    return termstats.rrf_fuse([lex_r, dense_r], id_col="doc_id",
                              k0=60, k=20)


def q_colloc_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigram collocations by PMI
    (operators/termstats.pmi_collocations): unigram + bigram corpus
    aggregates, the vocab broadcast back onto min_count-filtered
    bigrams, fixed-point quantized PMI so the top-k cut is
    engine-portable. min_count=5 keeps the rare-pair PMI variance
    out of the ranking."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return termstats.pmi_collocations(docs, min_count=5, k=20)


def q_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window RAG chunking (operators/packing.chunk_sliding):
    64-token windows at stride 48 (overlap 16), the embedding-index
    layout — every token in >=1 chunk, short tails kept, empty docs
    silent. Summarized per chunk_idx; sum of chunk-text lengths pins
    the sliced content, not just the counts."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    ch = packing.chunk_sliding(docs, chunk_tokens=64, overlap=16)
    return ch.groupBy("chunk_idx").agg(
        F.count("*").alias("n_chunks"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("n_tok").alias("sum_n_tok"),
        F.sum("start_tok").alias("sum_start"),
        F.sum(F.length("chunk_text")).alias("sum_text_len"),
    )


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document line dedup (operators/dedup.line_dedup), the
    RefinedWeb boilerplate pass: any 10-token window occurring more
    than once corpus-wide is dropped from every doc, survivors
    reassembled in original order. The counting shuffle moves sha256
    digests only; the boilerplate set broadcasts into a left_anti
    join. The synthetic docs have no newlines, so the contract query
    synthesizes "lines" as non-overlapping 10-token windows
    (dedup.token_windows) — deterministically restated in the
    oracle."""
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", dedup.token_windows(F.col("text"), 10).alias("lines")
    )
    out = dedup.line_dedup(docs, "lines")
    return out.select(
        "doc_id",
        "n_lines",
        "n_removed",
        F.concat_ws(" ", "lines_kept").alias("text_dedup"),
    )


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-point PageRank (operators/graph.pagerank)
    over the customer-supplier trade graph (lineitem x orders, both
    directions, edge weight = lineitem count): 5 power iterations in
    integer arithmetic — long sums commute exactly, so the emitted
    ranks are bit-identical at any executor count and the DuckDB
    oracle restates the recurrence as 5 chained CTEs. Top 20 nodes by
    rank (ties broken by node id)."""
    li = _read(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = _read(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    rel = li.join(
        orders, li["l_orderkey"] == orders["o_orderkey"]
    ).select(
        F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    edges = graph.pagerank_edges_from(rel, "src", "dst", symmetric=True)
    ranks = graph.pagerank(edges, weight="w", iterations=5)
    return ranks.orderBy(F.desc("rank_fp"), F.col("node").asc()).limit(20)


def q_graph_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (operators/graph.pagerank seeds=...):
    teleport mass concentrated on nation-0 customers, so ranks measure
    relevance to that seed cohort — the KG related-entities primitive.
    Same integer recurrence as graph_pagerank (bit-identical at any
    parallelism), seed membership decided by one pre-loop join; the
    oracle restates the seeded base/init terms in the same 5 chained
    CTEs. Top 20 nodes by rank (ties by node id)."""
    li = _read(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = _read(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    rel = li.join(
        orders, li["l_orderkey"] == orders["o_orderkey"]
    ).select(
        F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    edges = graph.pagerank_edges_from(rel, "src", "dst", symmetric=True)
    seeds = (
        _read(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey") == 0)
        .select(
            F.concat(F.lit("c:"), F.col("c_custkey").cast("string")).alias("node")
        )
    )
    ranks = graph.pagerank(edges, weight="w", iterations=5, seeds=seeds)
    return ranks.orderBy(F.desc("rank_fp"), F.col("node").asc()).limit(20)


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental batch dedup (operators/dedup.incremental_dedup):
    docs with doc_id % 3 == 0 play the already-ingested history, the
    rest the incoming batch. Every new doc is flagged 'exact' (sha
    match against the history), 'near_duplicate' (asymmetric
    MinHash-LSH banding against the history's signatures, portable
    family, est-Jaccard >= 0.5), or NULL (kept). Exact dups never
    shingle; the history side never re-shuffles its text."""
    docs = _read(spark, sf_dir, "documents")
    seen = docs.filter(F.col("doc_id") % 3 == 0).select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    return dedup.incremental_dedup(
        new, seen, jaccard_threshold=0.5, portable_hash=True
    ).select("doc_id", "reject_reason")


def q_kg_constraint_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHACL-lite ontology audit over the emitted triples
    (operators/kgvalidate.constraint_violations): 'engine' is declared
    functional (one distinct engine per document), 'exec_op' objects
    must match a closed sub-catalog, 'data_noun' carries a rule row
    with no constraints (and so never violates). Rules broadcast; the
    only wide shuffle is the (subj, pred) cardinality agg; output is
    violation-sized, not triple-sized."""
    from gliner_transbronchialbiopsy_spark.operators import kgvalidate

    triples = q_kg_triples(spark, sf_dir)
    rules = spark.createDataFrame(
        [
            ("engine", True, None),
            ("exec_op", False, "join|filter|sort"),
            ("data_noun", False, None),
        ],
        "pred string, functional boolean, obj_pattern string",
    )
    return kgvalidate.constraint_violations(triples, rules)


def q_kg_bgp_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL-style basic-graph-pattern match (operators/bgp.bgp_match)
    over the emitted triples: docs that mention the exec_op 'join'
    (ground pattern — a pushed-down pred+obj filter), joined to their
    engine and data_noun bindings on the shared ?doc variable. The
    greedy compiler orders the ground pattern first; every pattern scan
    is deduplicated (SPARQL set semantics), so the binding counts are
    multiplicity-free. Summarized per (eng, noun) pair so the contract
    row count stays catalog-sized at any sf."""
    from gliner_transbronchialbiopsy_spark.operators import bgp

    triples = q_kg_triples(spark, sf_dir)
    bindings = bgp.bgp_match(
        triples,
        [
            ("?doc", "engine", "?eng"),
            ("?doc", "exec_op", "join"),
            ("?doc", "data_noun", "?noun"),
        ],
    )
    return bindings.groupBy("eng", "noun").agg(
        F.count("*").alias("n_bindings"),
        F.countDistinct("doc").alias("n_docs"),
    )


def q_kg_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded property-path / k-hop expansion (operators/graph.reachable):
    multi-source BFS from every nation-0 customer over the symmetric
    customer-supplier trade graph, max 3 hops, exact min hop distance
    per reached node. Frontier-only joins per round (visited nodes
    never rejoin the edge table); results are set-semantic integers,
    bit-identical at any parallelism, restated in DuckDB as a
    recursive CTE with a min(dist) roll-up. Summarized as nodes per
    (dist, side) so the contract row count is O(hops)."""
    li = _read(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = _read(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    rel = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    edges = rel.unionAll(rel.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    sources = (
        _read(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey") == 0)
        .select(F.concat(F.lit("c:"), F.col("c_custkey").cast("string")).alias("node"))
    )
    reached = graph.reachable(edges, sources, max_hops=3)
    return reached.groupBy(
        "dist", F.substring("node", 1, 1).alias("side")
    ).agg(F.count("*").alias("n_nodes"))


def q_graph_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-sampled closeness/harmonic centrality
    (operators/graph.centrality_estimate — Eppstein & Wang 2001):
    BFS from 8 pivots drawn by the portable (sha256(node), node)
    order over the symmetric customer-supplier trade graph, 4 hops;
    every reached node scored from its sample of incoming distances
    in exact fixed-point (harmonic_fp sums 1e9 div d as longs,
    closeness_fp = n_from*1e9 div sum_dist). The k pivot BFS trees
    share each round's single frontier join (frontier keyed on
    (pivot, node)) — never k jobs. Top 30 under the total order
    (harmonic_fp DESC, node); DuckDB restates pivots, the BFS as a
    recursive CTE with min-dist roll-up, and the integer scoring."""
    li = _read(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = _read(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    rel = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    edges = rel.unionAll(
        rel.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    cent = graph.centrality_estimate(edges, n_pivots=8, max_hops=4)
    return cent.orderBy(
        F.desc("harmonic_fp"), F.col("node").asc()
    ).limit(30)


def q_graph_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-set Jaccard similarity
    (operators/graph.jaccard_similarity) over the part-supplier
    graph: top-50 structurally-equivalent pairs by intersection-over-
    union of neighbor sets, intersections enumerated only at centers
    with deg <= 32 (the adamic_adar skew guard — hubs emit no wedges,
    counts are documented lower bounds), degrees exact, jaccard_fp =
    n_common*1e9 div (deg_u+deg_w-n_common) over exact longs. The
    entity-canonicalization companion to adamic_adar: similarity
    keeps ADJACENT pairs too (aliases of one entity are often
    directly linked). Oracle restates wedge counting + the fp math."""
    li = _read(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 3 == 0
    ).select("l_partkey", "l_suppkey")
    rel = li.select(
        F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    return graph.jaccard_similarity(
        rel, max_center_deg=32, min_common=2, k=50
    )


def q_kg_temporal_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Earliest-arrival reachability over a TEMPORAL graph
    (operators/graph.temporal_reachable — Wu et al. VLDB'14): edges
    are same-type-same-hour event successions (u influenced the next
    actor; lead() per (event_type, hour) ordered by (ts, event_id)),
    a walk is valid only when each edge fires no earlier than the
    walk's arrival, and the answer is the MIN arrival per node within
    4 hops starting 2024-01-10 from the user_id<5 seeds — the
    information-flow question static BFS over-approximates. Per-node
    min arrival is a sufficient DP state (arriving earlier never
    removes an outgoing option), so the loop relaxes improved
    frontiers only; timestamps totally ordered -> parallelism-
    invariant. Summarized per arrival hour; DuckDB enumerates
    time-respecting walks in a recursive CTE with a min(arrival)
    roll-up — definitionally the same optimum."""
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy(
        "event_type", F.date_trunc("hour", F.col("ts"))
    ).orderBy("ts", "event_id")
    nx = ev.select(
        F.col("user_id").alias("src"),
        F.lead("user_id").over(w).alias("dst"),
        F.lead("ts").over(w).alias("etime"),
    ).filter(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
    seeds = (
        ev.filter(F.col("user_id") < 5)
        .select(F.col("user_id").alias("node"))
        .distinct()
    )
    best = graph.temporal_reachable(
        nx, seeds, "2024-01-10 00:00:00", max_hops=4
    )
    return best.groupBy(
        F.date_trunc("hour", F.col("arrival")).alias("hr")
    ).agg(
        F.count("*").alias("n_nodes"),
        F.min("node").alias("min_node"),
    )


def q_kg_graph_bgp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 named graphs (composer GRAPH groups, §13.3): the
    quad relation tags every assertion with its source corpus as the
    graph name (g = the subj's source prefix — at production scale the
    graph column IS the provenance partition of the triples snapshot,
    so a ground GRAPH term partition-prunes and a variable one binds
    provenance per solution). The query joins a default-graph pattern
    (docs mentioning exec_op join) with GRAPH ?g { ?d engine ?e } —
    solutions carry WHICH named graph supplied the engine assertion —
    and aggregates per (g, e). Oracle restates the quad scan as a
    source-keyed projection joined on the doc."""
    from gliner_transbronchialbiopsy_spark.operators import composer

    triples = q_kg_triples(spark, sf_dir).distinct()
    quads = triples.withColumn(
        "g", F.regexp_extract("subj", "^([^/]+)/", 1)
    )
    out = composer.compose(
        triples,
        composer.KGQuery(
            where=(("?d", "exec_op", "join"),),
            graphs=(("?g", (("?d", "engine", "?e"),)),),
        ),
        quads=quads,
    )
    return out.groupBy("g", "e").agg(
        F.count("*").alias("n_bindings"),
        F.countDistinct("d").alias("n_docs"),
    )


def q_kg_sparql_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRAPH through the SPARQL TEXT front-end: a two-pattern GRAPH
    group (both patterns must match within the SAME named graph —
    the quad scans share ?g and ?d, so the group joins on both) with
    aggregate modifiers. Parser owns syntax only; the group compiles
    through composer._compile_graph_group's 4-term scans."""
    from gliner_transbronchialbiopsy_spark.operators import sparql as _sparql

    triples = q_kg_triples(spark, sf_dir).distinct()
    quads = triples.withColumn(
        "g", F.regexp_extract("subj", "^([^/]+)/", 1)
    )
    return _sparql.sparql(
        triples,
        """
        SELECT ?g (count(DISTINCT ?d) AS ?n_docs)
               (count(*) AS ?n_bindings) WHERE {
          GRAPH ?g { ?d engine ?e . ?d data_noun ?n }
        }
        GROUP BY ?g
        """,
        quads=quads,
    )


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (operators/ranges.funnel_steps):
    view -> click -> purchase per user, greedy earliest matching
    (exact for the unbounded funnel — the earliest feasible event at
    each step only enlarges the downstream feasible set). One
    filtered min-agg per step, k-1 user-keyed hash joins, no windows.
    Contract row: per-step user counts plus the exact total
    seconds-to-convert over fully-converted users (floor-epoch longs,
    engine-portable). Oracle: chained LEFT JOIN + min() CTEs."""
    ev = _read(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    fn = ranges.funnel_steps(ev, ["view", "click", "purchase"])
    sec = lambda c: F.col(c).cast("timestamp_ltz").cast("long")  # noqa: E731
    return fn.agg(
        F.count("t_1").alias("n_view"),
        F.count("t_2").alias("n_click"),
        F.count("t_3").alias("n_purchase"),
        F.sum(
            F.when(F.col("t_3").isNotNull(), sec("t_3") - sec("t_1"))
        ).cast("long").alias("convert_seconds"),
    )


def q_graph_distance_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood-function / effective-diameter probe
    (operators/graph.pivot_distances): the distance distribution from
    8 portable sha-ordered pivots over the symmetric customer-supplier
    trade graph, 4 hops — the sampled approximation of the
    neighborhood function N(h) that HyperANF estimates with sketches
    (Boldi-Rosa-Vigna 2011); here the pivot sample is exact and
    engine-portable. One aggregate over the shared-frontier BFS
    relation; oracle = the recursive min-dist CTE grouped by dist."""
    li = _read(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = _read(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    rel = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    edges = rel.unionAll(
        rel.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    pivots = nodes.orderBy(
        F.sha2(F.col("node").cast("string"), 256).asc(), F.col("node").asc()
    ).limit(8)
    pd_ = graph.pivot_distances(edges, pivots, max_hops=4)
    return pd_.groupBy("dist").agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("node").alias("n_nodes"),
    )


def q_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 maintenance (operators/ranges.scd2_apply —
    the MERGE-INTO / CDC-upsert analogue): history = events before
    2024-01-02 12:00 collapsed once, batch = everything after,
    applied WITHOUT re-sorting history — untouched keys and closed
    intervals pass through; each affected key's open interval
    re-enters the run collapse as one weighted pseudo-event, so it
    EXTENDS when the first new state matches and closes at the first
    new run otherwise. The oracle is the FULL REBUILD over all
    events, so row-identity is a checked equivalence property, not a
    claim."""
    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    cutoff = "2024-01-02 12:00:00"
    hist = ev.filter(F.col("ts") < F.lit(cutoff).cast("timestamp"))
    batch = ev.filter(F.col("ts") >= F.lit(cutoff).cast("timestamp"))
    iv = ranges.state_intervals(
        hist, "user_id", "event_type", "ts", tie="event_id"
    )
    applied = ranges.scd2_apply(
        iv, batch, "user_id", "event_type", "ts", tie="event_id"
    )
    return applied.select(
        F.col("key").alias("user_id"),
        "state", "valid_from", "valid_to", "n_events",
    )


def q_graph_edge_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-edge triangle support (operators/graph.edge_support — the
    k-truss building block, Cohen 2008): top-30 strongest edges of
    the order-filtered lineitem co-purchase graph by how many
    triangles corroborate them. Same degree-oriented closure as
    triangle_count — each triangle explodes to its three canonical
    edges, counted exactly; support-0 edges ride in via the left
    join. Oracle restates the orientation, the wedge closure, and the
    3-way edge explode."""
    li = _read(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 3 == 0
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
    return graph.edge_support(rel, k=30)


def q_graph_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss of the sparser co-purchase graph (operators/graph.
    ktruss): synchronous support peeling drops every edge in fewer
    than 2 within-subgraph triangles per round until the fixed point;
    top-100 surviving edges by recomputed support. rounds=8 —
    DuckDB-probed convergence is 5/5/4 rounds at sf0.001/0.01/0.1
    (peeling past the fixed point is idempotent), and a pytest asserts
    the margin. Oracle: 8 chained support-filter CTEs over the same
    l_orderkey%6 co-purchase relation."""
    li = _read(spark, sf_dir, "lineitem").filter(
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
    return (
        graph.ktruss(rel, k=4, rounds=8)
        .orderBy(F.desc("support"), F.col("u").asc(), F.col("v").asc())
        .limit(100)
    )


def q_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-criteria skyline (operators/skyline.skyline — Borzsony et
    al. ICDE 2001): parts on the Pareto frontier of (min
    p_retailprice, max p_size, max name length). Two-phase
    distributed shape: Arrow-batched local prune (lexicographic sweep
    + vectorized frontier) then a broadcast dominance anti-join over
    the tiny candidate set. Oracle: NOT EXISTS with the strict
    disjunct — the textbook dominance restatement."""
    from gliner_transbronchialbiopsy_spark.operators import skyline as sky

    p = _read(spark, sf_dir, "part").select(
        "p_partkey",
        "p_size",
        "p_retailprice",
        F.length("p_name").cast("int").alias("name_len"),
    )
    return sky.skyline(
        p, minimize=("p_retailprice",), maximize=("p_size", "name_len")
    )


def q_graph_katz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality (operators/graph.katz_centrality, Katz 1953):
    top-30 users of the event-succession graph by the 4-term damped
    walk-count series with α = 1/100. Walk counts are exact integers
    ((Aᵀ)^r·1 per round), so katz_fp = Σ walks_r·100^(4−r) needs no
    fixed-point grid at all — the purest integer centrality in the
    module — and the oracle is 4 chained matrix-vector CTEs.
    Self-loops dropped (a user following themself is not
    influence)."""
    from pyspark.sql import Window as W

    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = W.partitionBy(
        "event_type", F.date_trunc("hour", F.col("ts"))
    ).orderBy("ts", "event_id")
    nx = ev.select(
        F.col("user_id").alias("src"),
        F.lead("user_id").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
    return graph.katz_centrality(nx, rounds=4, alpha_den=100, k=30)


def q_snm_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood ER blocking (operators/linking.snm_pairs —
    Hernandez & Stolfo 1995): pseudo-title surfaces sort globally by
    (name, doc_id) via the two-phase prefix-bucketed rank (no
    single-task window), every pair within 5 positions becomes a
    candidate through the adjacent-block equi-join, and candidates
    verify with exact Levenshtein <= 10. The sort-adjacency
    complement to the engine's token-blocked (fuzzy_match_blocked)
    and LSH (dedup_minhash) candidate generators."""
    from gliner_transbronchialbiopsy_spark.operators import linking

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    s = docs.select(
        "doc_id",
        F.lower(
            F.regexp_extract("text", r"^(\S+ \S+ \S+)", 1)
        ).alias("name"),
    ).filter(F.col("name") != "")
    p = linking.snm_pairs(s, "name", "doc_id", window=5)
    return p.select(
        "id_a", "id_b", "rank_dist",
        F.levenshtein("key_a", "key_b").alias("lev"),
    ).filter(F.col("lev") <= 10)


def q_graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed structural profile (operators/graph.directed_summary):
    reciprocity (Newman et al. 2002) plus degree extremes of the
    same-type-same-hour event-succession graph (the kg_temporal_reach
    edge stream, flattened) — mutual influence as one exact-count
    row. Oracle: the lead() edge CTE + three aggregates."""
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy(
        "event_type", F.date_trunc("hour", F.col("ts"))
    ).orderBy("ts", "event_id")
    nx = ev.select(
        F.col("user_id").alias("src"),
        F.lead("user_id").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    return graph.directed_summary(nx)


def q_linear_counting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-counting distinct estimation
    (operators/sketches.linear_counting — Whang et al. 1990): distinct
    users per event_type estimated from a 1024-bucket occupancy
    bitmap, beside the exact count for calibration. The sketch state
    (occupied-bucket sets) is exact integers — mergeable by union,
    restatable verbatim in SQL — and only the −m·ln(V) estimate is a
    derived double. The exact-state-estimated-readout pattern HLL
    can't offer an exact oracle for."""
    from gliner_transbronchialbiopsy_spark.operators import sketches

    ev = _read(spark, sf_dir, "events").select("event_type", "user_id")
    est = sketches.linear_counting(
        ev.select("event_type", F.col("user_id").cast("string").alias("u")),
        "u", group="event_type", m=1024,
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("true_distinct")
    )
    return est.join(exact, "event_type").orderBy("event_type")


def q_hll_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct estimation (operators/sketches
    .hll_cardinality — Flajolet et al. 2007): distinct users per
    event_type from a 1024-register (p=10) sketch, beside the exact
    count for calibration. The register state is exact integers
    (bucket = top 10 hash bits, register = MAX of bit-length-derived
    rho — partial aggregation IS the HLL merge), the harmonic sum is
    kept as one exact long s_scaled = Σ 2^(51−M_j), and the estimate
    is a single double division — so even HLL, the canonical
    "approximate" sketch, gets a full value oracle. Expected error
    1.04/√1024 ≈ 3.2%."""
    from gliner_transbronchialbiopsy_spark.operators import sketches

    ev = _read(spark, sf_dir, "events").select("event_type", "user_id")
    est = sketches.hll_cardinality(
        ev.select("event_type", F.col("user_id").cast("string").alias("u")),
        "u", group="event_type", p=10,
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("true_distinct")
    )
    return est.join(exact, "event_type").orderBy("event_type")


def q_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filtered semi-join audit (operators/sketches
    .bloom_semijoin_audit — Bloom 1970): the BUILDING-segment
    customer keys compress to <= 4096 set-bit integers (the exact,
    mergeable, broadcastable filter state), orders pre-filter
    against the broadcast bits BEFORE any shuffle, and the one-row
    audit pins the one-sided guarantee against the exact semi-join:
    n_bloom_pass >= n_true always (no false negatives), n_false_pos
    = the fill-factor cost, fp_rate the derived double. The explicit
    form of the dim-side bloom pushdown a 100 TB fact join lives
    on."""
    from gliner_transbronchialbiopsy_spark.operators import sketches

    cust = (
        _read(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").cast("string").alias("k"))
    )
    orders = _read(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("string").alias("k")
    )
    return sketches.bloom_semijoin_audit(
        cust, orders, "k", "k", m_bits=4096, n_hashes=3
    )


def q_theta_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set intersection (operators/sketches
    .theta_intersection — the DataSketches bottom-k framework over
    Bar-Yossef et al. 2002 KMV states): |urgent-order customers ∩
    high-order customers| estimated from two 128-row hash summaries
    WITHOUT joining the raw key sets, beside the exact intersection.
    θ, the states, and the common-below-θ count are exact longs; the
    estimate is one double division — sketch set algebra with a full
    value oracle."""
    from gliner_transbronchialbiopsy_spark.operators import sketches

    orders = _read(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority"
    )
    a = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").cast("string").alias("k")
    )
    b = orders.filter(F.col("o_orderpriority") == "2-HIGH").select(
        F.col("o_custkey").cast("string").alias("k")
    )
    est = sketches.theta_intersection(a, b, "k", k=128)
    exact = (
        a.distinct()
        .join(b.distinct(), "k")
        .agg(F.count("*").cast("long").alias("true_intersection"))
    )
    return est.crossJoin(exact)


def q_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS tug-of-war F2 sketch (operators/sketches.ams_f2 — Alon,
    Matias & Szegedy 1996): the SELF-JOIN SIZE of events on user_id
    (Σ per-user count² — what a planner wants before committing to
    that shuffle) estimated from 64 exact-long ±1 lane sums in ONE
    scan with zero extra shuffles, beside the exact value. Lanes
    merge by addition (partial aggregation IS the merge); est_f2 is
    the single double division. Expected relative error
    sqrt(2/64) ≈ 18%."""
    from gliner_transbronchialbiopsy_spark.operators import sketches

    ev = _read(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("v")
    )
    est = sketches.ams_f2(ev, "v", lanes=64)
    exact = (
        ev.groupBy("v")
        .agg(F.count("*").alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")).cast("long").alias("true_f2"))
    )
    return est.crossJoin(exact)


def q_hrw_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous-hashing shard routing + elasticity audit
    (operators/skew.hrw_disruption_audit — Thaler & Ravishankar
    1998): event users route to 8 shards by highest-random-weight (a
    pure projection, zero shuffle), and the audit value-checks the
    minimal-disruption theorem against the 7-shard assignment:
    n_move == n_keys on the removed shard and 0 on every survivor —
    the elastic-repartition property hash-mod-n cannot offer (mod-n
    remaps ~7/8 of ALL keys)."""
    from gliner_transbronchialbiopsy_spark.operators import skew

    ev = _read(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("v")
    )
    return skew.hrw_disruption_audit(ev, "v", n_shards=8, removed=7)


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimation
    (operators/sketches.heavy_hitters_check — Cormode-Muthukrishnan
    2005): the exact top-30 tokens vs their estimates from a 4×256
    sketch of exact long cells. Cell sums are order-free (partial
    aggregation IS the sketch merge — the mergeable-summary property
    a 100 TB stream needs), the estimate is min over 4 cells, and
    overcount = est − true is non-negative by the one-sided CMS
    guarantee — the oracle checks it row-for-row. Portable sha256
    row family; production swaps seed-first xxhash64."""
    from gliner_transbronchialbiopsy_spark.operators import sketches

    docs = _read(spark, sf_dir, "documents").select("text")
    return sketches.heavy_hitters_check(docs, k=30, depth=4, width=256)


def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman-Girvan modularity (operators/graph.modularity) of the
    3-round LPA partition over the part-supplier graph: the quality
    function community detectors optimize, scored as the exact long
    q_num = Σ_c [4m·e_c − d_c²] (= 4m²·Q) plus the derived double.
    Closes the community-detection loop: graph_communities ELECTS a
    partition, this EVALUATES it. Oracle: the LPA chained-CTE rounds
    with a modularity roll-up tail."""
    li = _read(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    rel = li.select(
        F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    labels = graph.label_propagation(rel, iterations=3)
    return graph.modularity(rel, labels)


def q_kg_sparql_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded path repetition p{n,m} through the text front-end
    (paths.repeat, the Jena/RDF4J extension form — desugared onto
    seq/opt at the AST, so both path evaluators and _invert handle it
    with zero new cases): every class reachable from each mention
    surface by ``a/subclass_of{1,2}``, i.e. the 1- and 2-step
    entailments but NOT the 3-step root-only chains. Oracle restates
    the repetition as an explicit UNION of the 1-step and 2-step
    joins."""
    from gliner_transbronchialbiopsy_spark.operators import sparql as _sparql

    t = _kg_extended_graph(spark, sf_dir)
    return _sparql.sparql(
        t,
        """
        SELECT ?c (count(DISTINCT ?s) AS ?n_surfaces) WHERE {
          ?s a/subclass_of{1,2} ?c
        }
        GROUP BY ?c
        ORDER BY ?c
        """,
    )


def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (operators/graph.degree_assortativity —
    Newman 2002) of the part-supplier graph: Pearson correlation of
    endpoint degrees over the symmetrized edge list, every moment an
    exact long so the coefficient is the same IEEE double on any
    engine. One row; the sign diagnoses hub-and-spoke vs hub-to-hub
    mixing — the shape signal a KG boilerplate audit reads first."""
    li = _read(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 3 == 0
    ).select("l_partkey", "l_suppkey")
    rel = li.select(
        F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    return graph.degree_assortativity(rel)


def q_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine all-pairs (operators/termstats.
    tfidf_cosine_topk — Bayardo et al. WWW'07): top-40 document pairs
    by cosine over exact long TF-IDF weights, dot products via the
    inverted-index self-join keyed on the token (no vectors
    materialized — the sparse sibling of the dense embedding cosine),
    hot postings capped at df <= 150 (index only; norms stay full).
    cosine derives from exact longs so the double is engine-portable;
    cut = (cosine DESC, id_a, id_b). Oracle restates tf/idf/norms and
    the capped index join."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return termstats.tfidf_cosine_topk(docs, k=40, max_token_df=150)


def q_jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering
    (operators/dedup.prefix_filter_jaccard_pairs — Chaudhuri et al.
    ICDE'06, PPJoin WWW'08): every document pair with set-Jaccard >=
    0.3 over distinct word 3-grams, candidates generated ONLY from
    each set's rarest-first prefix (p = sz − ceil(t·sz) + 1 grams)
    and then verified exactly. The oracle is the NAIVE exact join
    (every shared gram) — equality proves the prefix filter lossless
    on this corpus, which is the algorithm's guarantee: the lossy
    DF-cap of dedup_ngram_jaccard is replaced by an exact
    candidate-pruning rule where hot shingles fall out of prefixes
    by construction."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.prefix_filter_jaccard_pairs(docs, n=3, threshold=0.3)


def q_graph_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-sampled betweenness centrality
    (operators/graph.betweenness_estimate — Brandes 2001 accumulation,
    Brandes-Pich/Geisberger source sampling): σ-carrying BFS from 8
    portable sha-ordered pivots over the symmetric customer-supplier
    trade graph (3 hops), then deepest-first δ accumulation in exact
    long fixed-point — each node's δ computed exactly once at its
    level round, so the integer divisions happen in a fixed order and
    the broker scores are parallelism-invariant. Top 30 under
    (bet_fp DESC, node). Oracle: chained per-level CTEs for both the
    σ forward pass and the δ backward pass."""
    li = _read(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = _read(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    rel = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    edges = rel.unionAll(
        rel.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    bet = graph.betweenness_estimate(edges, n_pivots=8, max_hops=3)
    return bet.orderBy(F.desc("bet_fp"), F.col("node").asc()).limit(30)


def q_lm_stupid_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM scoring with Stupid Backoff
    (operators/termstats.stupid_backoff_score — Brants et al., EMNLP
    2007): S(w|prev) = c(prev w)/c(prev), backoff α·c(w)/N defined in
    fixed-point as lp_uni_fp + floor(ln 0.4 · 1e9). The 25 highest-
    perplexity documents under the exact long per-token mean
    (m_fp DESC, doc_id — a total order). Unigram tables broadcast;
    the sharded bigram-count join is the one shuffle, the Brants
    MapReduce-LM design. Oracle rebuilds the (prev, cur) pair stream
    with list_transform and restates both count tables and the
    three-way CASE."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    sc = termstats.stupid_backoff_score(docs)
    return sc.orderBy(F.desc("m_fp"), F.col("doc_id").asc()).limit(25)


def q_nb_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-bucket multinomial Naive Bayes (operators/nbayes.py),
    the one-counting-pass supervised classifier production curation
    gates on (the fastText-quality-filter shape, no gradient loop):
    train language-ID on the even doc_ids (label = lang), classify
    the odd ones, report the (true lang × predicted) confusion matrix
    with exact long score sums. Model is the dense 5×256 fixed-point
    grid broadcast onto per-doc bucket counts; argmax is a min over
    (−score, label) structs — a total order, so predictions are
    parallelism-invariant. portable sha256 bucket hash gives the SQL
    oracle; production default stays xxhash64."""
    from gliner_transbronchialbiopsy_spark.operators import nbayes

    docs = _read(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    train = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.col("lang").alias("label"), "text"
    )
    test = docs.filter(F.col("doc_id") % 2 == 1)
    pred = nbayes.naive_bayes_classify(
        train, test, n_buckets=256, alpha=1, portable_hash=True
    )
    return (
        pred.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "pred")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("score_fp").alias("sum_score_fp"),
        )
    )


def q_kg_type_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDFS-lite entailment (operators/graph.infer_types): asserted
    instance types are the distinct (surface, label) pairs from the
    emitted triples; the subClassOf ontology (exec_op ⊑ operation ⊑
    kg_term, data_noun ⊑ artifact ⊑ kg_term, engine ⊑ system ⊑
    kg_term) is closed by path-doubling and broadcast onto the
    instance scan — instances shuffle zero times. Output is every
    (inst, cls) membership with an asserted flag; inferred rows are
    the rdfs9 entailments. DuckDB restates the closure as a recursive
    CTE."""
    triples = q_kg_triples(spark, sf_dir)
    instance_types = triples.select(
        F.col("obj").alias("inst"), F.col("pred").alias("cls")
    )
    sc = spark.createDataFrame(
        _SUBCLASS_EDGES, "sub string, sup string"
    )
    return graph.infer_types(instance_types, sc)


def q_kg_ntriples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic N-Triples serialization (sources/export.to_ntriples):
    the RDF interchange sink for the emitted KG — subjects/predicates
    minted under urn:kg:, objects as literals with the full N-Triples
    escape chain (backslash, quote, LF, CR, tab — in that order). Pure
    JVM string projection over the deduplicated triple set; the oracle
    rebuilds the identical lines with DuckDB's replace() chain."""
    from gliner_transbronchialbiopsy_spark.sources import export

    triples = q_kg_triples(spark, sf_dir).distinct()
    return export.to_ntriples(triples)


def _kg_extended_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The emitted KG extended with type links (surface ``a`` label)
    and the demo subclass ontology, materialized ONCE — several path
    atoms plus the node universe all scan it (measured 3x recompute at
    sf0.01 without the checkpoint). This is the view analogue of what
    production gets for free from a pred-partitioned triples SNAPSHOT:
    atoms there are pruned file scans, no recompute. Shared by the
    property-path, seeded-path, and composed contract queries."""
    triples = q_kg_triples(spark, sf_dir)
    types = triples.select(
        F.col("obj").alias("subj"),
        F.lit("a").alias("pred"),
        F.col("pred").alias("obj"),
    ).distinct()
    onto = spark.createDataFrame(
        _SUBCLASS_EDGES, "subj string, obj string"
    ).select("subj", F.lit("subclass_of").alias("pred"), "obj")
    return (
        triples.unionByName(types).unionByName(onto)
        .localCheckpoint(eager=True)
    )


def q_kg_property_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 property path (operators/paths.path_edges) —
    ``(engine|exec_op|data_noun)/a/subclass_of*`` over the emitted KG
    extended with type links (surface a label) and the demo subclass
    ontology: every class each document's mentions entail, including
    the zero-length step (the direct label itself). alt = set union of
    three pred-pruned scans, seq = endpoint equi-joins, the subclass
    closure is path-doubled over the 6-row ontology (the only relation
    ``plus`` is FOR — instance-scale closures raise and route through
    graph.reachable). Summarized as distinct docs per entailed class;
    DuckDB restates the closure as a recursive CTE."""
    from gliner_transbronchialbiopsy_spark.operators import paths

    t = _kg_extended_graph(spark, sf_dir)
    spec = (
        "seq",
        ("alt", ("pred", "engine"), ("pred", "exec_op"), ("pred", "data_noun")),
        ("pred", "a"),
        ("opt", ("plus", ("pred", "subclass_of"))),
    )
    pairs = paths.path_edges(t, spec)
    return pairs.groupBy(F.col("dst").alias("cls")).agg(
        F.count("*").alias("n_docs")
    )


def q_kg_domain_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDFS domain/range entailment saturated through the subclass
    lattice (operators/graph.infer_domain_range -> infer_types, the
    full RDFS-lite materialization): broadcast (pred, kind, cls) rules
    type the subjects (rdfs2) and objects (rdfs3) of the emitted
    triples, then rdfs9 lifts the memberships through subClassOf.
    Instance rows shuffle once (the membership distinct); both
    ontologies stay broadcast. Summarized as members per (cls,
    asserted) — 'asserted' here means derived directly by a
    domain/range rule rather than by subclass lifting."""
    triples = q_kg_triples(spark, sf_dir)
    rules = spark.createDataFrame(
        [
            ("engine", "domain", "document"),
            ("engine", "range", "system"),
            ("exec_op", "domain", "document"),
            ("exec_op", "range", "operation"),
            ("data_noun", "range", "artifact"),
        ],
        "pred string, kind string, cls string",
    )
    memb = graph.infer_domain_range(triples, rules)
    sc = spark.createDataFrame(_SUBCLASS_EDGES, "sub string, sup string")
    full = graph.infer_types(memb, sc)
    return full.groupBy("cls", "asserted").agg(
        F.count("*").alias("n_members")
    )


def q_kg_linkpred_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction ranking metrics (operators/kgeval) under the
    Bordes et al. filtered protocol: every distinct emitted triple is
    a positive, negsample corrupts its object twice (portable hash
    family), and a deterministic hash surrogate scores positive +
    corruptions — rank = 1 + negatives strictly ahead under (score
    DESC, candidate ASC), MRR in exact fixed-point (scale div rank),
    Hits@{1,3,10} as long counts. One window pass, one aggregate; the
    oracle restates the draw, the surrogate score, and the window
    bit-for-bit."""
    from gliner_transbronchialbiopsy_spark.operators import (
        kgeval,
        linking,
        negsample,
    )

    triples = q_kg_triples(spark, sf_dir)
    neg = negsample.negative_samples(triples, k=2, portable_hash=True)
    pos = (
        neg.select("subj", "pred", "obj")
        .distinct()
        .select(
            "subj", "pred", "obj",
            F.col("obj").alias("candidate"),
            F.lit(True).alias("is_pos"),
        )
    )
    negs = neg.select(
        "subj", "pred", "obj",
        F.col("neg_obj").alias("candidate"),
        F.lit(False).alias("is_pos"),
    )
    scored = pos.unionByName(negs).withColumn(
        "score",
        linking.portable_hash60(
            F.concat_ws("\x1f", "subj", "pred", "candidate")
        ) % 1000,
    )
    return kgeval.link_prediction_metrics(scored)


def q_kg_path_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded property-path evaluation (operators/paths.path_reachable)
    — the instance-scale plan for a path with a bound endpoint: seeds
    are the documents whose id ends in '7@HEAD', the path is
    ``(engine|exec_op|data_noun)/a/subclass_of*``, and evaluation is
    image chaining (node-set joins onto pred-pruned scans; the
    subclass star runs as a seeded BFS fixed point) — no closure, no
    (src, dst) relation ever materialized. Returns the entailed class
    set; the oracle restates the image chain with a recursive CTE for
    the star step."""
    from gliner_transbronchialbiopsy_spark.operators import paths

    t = _kg_extended_graph(spark, sf_dir)
    seeds = (
        t.filter(
            (F.col("pred") != "a") & (F.col("pred") != "subclass_of")
            & F.col("subj").endswith("7@HEAD")
        )
        .select(F.col("subj").alias("node"))
        .distinct()
    )
    spec = (
        "seq",
        ("alt", ("pred", "engine"), ("pred", "exec_op"), ("pred", "data_noun")),
        ("pred", "a"),
        ("opt", ("plus", ("pred", "subclass_of"))),
    )
    return paths.path_reachable(t, seeds, spec)


def q_kg_sameas_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """owl:sameAs-style canonical rewrite of the emitted triples — the
    consumption-side form of the pipeline's canonicalization stage
    (components.canonical_map, J5): surfaces equal after
    lowercase+strip-non-alnum normalization get sameAs edges, the REAL
    connected-components operator elects min-id canonicals, and every
    triple's object is rewritten through the map. Because each sameAs
    group is a clique here, the oracle restates the election as a
    per-normal-form min — the component result must coincide exactly,
    which is what makes the CC operator oracle-checkable. Output:
    (pred, obj_canonical, n_triples, n_variants) per canonical object."""
    from gliner_transbronchialbiopsy_spark.operators import components

    # assertion-level (set) semantics, like kg_ntriples
    triples = q_kg_triples(spark, sf_dir).distinct()
    surf = triples.select(F.col("obj").alias("node")).distinct()
    norm = surf.withColumn(
        "_nf", F.regexp_replace(F.lower(F.col("node")), r"[^0-9a-z]+", "")
    )
    # sameAs edges: every surface to its normal-form group's min —
    # star-shaped per group, so CC must elect exactly that min
    hub = norm.groupBy("_nf").agg(F.min("node").alias("_hub"))
    edges = (
        norm.join(hub, "_nf")
        .filter(F.col("node") != F.col("_hub"))
        .select(F.col("node").alias("src"), F.col("_hub").alias("dst"))
    )
    cmap = components.canonical_map(edges, surf, node_col="node")
    rewritten = triples.join(
        cmap.withColumnRenamed("node", "obj"), "obj"
    )
    return rewritten.groupBy(
        "pred", F.col("canonical").alias("obj_canonical")
    ).agg(
        F.count(F.lit(1)).alias("n_triples"),
        F.countDistinct("obj").alias("n_variants"),
    )


def q_kg_weighted_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-bounded weighted shortest paths (operators/graph.
    shortest_paths): the customer-nation -> supplier-nation trade graph
    (edge weight = lineitem count, parallel edges pre-min'd inside the
    operator), Bellman-Ford frontier relaxation from nation 0, max 3
    hops. Integer weight sums are exact, so distances are bit-identical
    at any parallelism; DuckDB restates the bounded relaxation as a
    recursive CTE with a min(dist) roll-up."""
    li = _read(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = _read(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _read(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _read(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .groupBy(
            F.col("c_nationkey").cast("long").alias("src"),
            F.col("s_nationkey").cast("long").alias("dst"),
        )
        .agg(F.count("*").alias("w"))
    )
    sources = (
        _read(spark, sf_dir, "nation")
        .filter(F.col("n_nationkey") == 0)
        .select(F.col("n_nationkey").cast("long").alias("node"))
    )
    return graph.shortest_paths(edges, sources, max_hops=3, weight="w")


#: tiny demo ontology over the keyword-catalog labels, shared by the
#: Spark query and the DuckDB oracle (rendered into SQL VALUES below)
_SUBCLASS_EDGES = [
    ("exec_op", "operation"),
    ("operation", "kg_term"),
    ("data_noun", "artifact"),
    ("artifact", "kg_term"),
    ("engine", "system"),
    ("system", "kg_term"),
]
_SUBCLASS_VALUES_SQL = ", ".join(f"('{a}', '{b}')" for a, b in _SUBCLASS_EDGES)


def q_state_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 temporal state table (operators/ranges.state_intervals):
    the per-user event stream collapsed into event_type validity
    intervals (consecutive same-state rows merge; each interval closed
    by the next one's start, last open). Deterministic (ts, event_id)
    ordering; both window passes share one sort."""
    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    iv = ranges.state_intervals(ev, "user_id", "event_type", "ts", tie="event_id")
    return iv.select(
        F.col("key").alias("user_id"),
        "state",
        "valid_from",
        "valid_to",
        "n_events",
    )


def q_kg_asof_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (AS OF) state query (operators/ranges.asof_state
    over state_intervals): which event_type state each user held at
    the fixed instant 2024-01-15 00:00:00, summarized per state. The
    interval table is the SCD2 output already oracle-checked by
    state_intervals; the AS OF slice is two range predicates (no join,
    no window) — at scale the valid_from bound partition-prunes an
    interval snapshot, the assertion-granular analogue of an Iceberg
    snapshot read. Oracle: the same gaps-and-islands CTE chain with
    the covering-interval predicate."""
    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    iv = ranges.state_intervals(ev, "user_id", "event_type", "ts", tie="event_id")
    snap = ranges.asof_state(iv, "2024-01-15 00:00:00")
    return snap.groupBy("state").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.min("key").alias("min_user"),
        F.sum("n_events").alias("n_events_in_state"),
    )


def q_graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic DeepWalk-style random walks
    (operators/graph.random_walks): 2 walks of length 3 from every
    node of the symmetric part-supplier graph, next step drawn by
    hashing (cur, walk, step) mod outdeg and resolved via equi-joins
    on the indexed adjacency — no RNG, no driver arrays; bit-identical
    at any parallelism. Portable sha256 draw so DuckDB restates each
    step as a chained CTE."""
    li = _read(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    rel = li.select(
        F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    sym = rel.unionAll(
        rel.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return graph.random_walks(
        sym, walk_length=3, walks_per_node=2, portable_hash=True
    )


def q_kg_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic KG negative sampling (operators/negsample): 2
    corrupted objects per distinct triple, drawn by hashing (subj,
    pred, obj, i) mod the predicate's object-pool size and resolved
    via equi-joins on an indexed pool table (never a driver-side
    array). Collisions shift to the next pool slot, so every negative
    is guaranteed != the positive. Portable sha256 family so DuckDB
    restates the draw bit-exactly; production default is seed-first
    xxhash64."""
    from gliner_transbronchialbiopsy_spark.operators import negsample

    triples = q_kg_triples(spark, sf_dir)
    return negsample.negative_samples(triples, k=2, portable_hash=True)


def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE round-0 pair statistics (operators/bpe.pair_counts): the
    adjacent character-pair counts weighted by word frequency — the
    reduction every BPE training round runs, here over the initial
    char segmentation. One text pass builds the (word, cnt) vocab;
    the pair explode is vocab-sized, never corpus-sized. Top 20 by
    (count DESC, pair ASC) — an exact-long total order."""
    from gliner_transbronchialbiopsy_spark.operators import bpe

    docs = _read(spark, sf_dir, "documents").select("text")
    w = bpe.word_counts(docs)
    return (
        bpe.pair_counts(w)
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(20)
    )


def q_kg_bgp_optional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL OPTIONAL over the BGP matcher (operators/bgp.bgp_match
    optional=...): docs whose engine binding is the ground term
    'vector', left-joined to their exec_op bindings — unmatched docs
    keep a NULL op (the OPTIONAL contract). Summarized per op so the
    row count stays catalog-sized."""
    from gliner_transbronchialbiopsy_spark.operators import bgp

    triples = q_kg_triples(spark, sf_dir)
    b = bgp.bgp_match(
        triples,
        [("?doc", "engine", "vector")],
        optional=[("?doc", "exec_op", "?op")],
    )
    return b.groupBy("op").agg(
        F.countDistinct("doc").alias("n_docs"),
        F.count("*").alias("n_bindings"),
    )


def q_kg_bgp_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL UNION + VALUES + FILTER over the BGP matcher
    (operators/bgp.bgp_union): engine bindings UNION exec_op bindings
    (bag union of two set-semantic branches), restricted by an inline
    VALUES table that also tags each term with a family column, then
    FILTER drops the 'join' term — both applied at group scope, after
    the union. Summarized per (family, term); n_bindings counts bag
    multiplicity, so a (doc, term) pair produced by both branches
    counts twice, exactly SPARQL's multiset UNION."""
    from gliner_transbronchialbiopsy_spark.operators import bgp

    triples = q_kg_triples(spark, sf_dir)
    b = bgp.bgp_union(
        triples,
        [
            [("?doc", "engine", "?term")],
            [("?doc", "exec_op", "?term")],
        ],
        values=(
            ["term", "family"],
            [
                ("spark", "eng"),
                ("hash", "eng"),
                ("join", "op"),
                ("scan", "op"),
            ],
        ),
        filters=["term <> 'join'"],
    )
    return b.groupBy("family", "term").agg(
        F.count("*").alias("n_bindings"),
        F.countDistinct("doc").alias("n_docs"),
    )


def q_kg_cluster_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise clustering evaluation of the canonicalization stage
    (operators/kgeval.clustering_metrics): predicted clusters = the
    REAL connected-components canonical map over strict-normal-form
    sameAs cliques (the kg_sameas_rewrite construction); gold = a
    coarser normal form that also strips digits, so surfaces differing
    only in digits merge in gold but not in pred. pred is a refinement
    of gold, so precision is exactly 1.0 and recall measures the
    refinement gap — all pair counts from cluster-size sums (s*(s-1)/2),
    never enumerated, the property that makes the metric runnable on a
    10^9-entity map."""
    from gliner_transbronchialbiopsy_spark.operators import components, kgeval

    triples = q_kg_triples(spark, sf_dir).distinct()
    surf = triples.select(F.col("obj").alias("node")).distinct()
    norm = surf.withColumn(
        "_nf", F.regexp_replace(F.lower(F.col("node")), r"[^0-9a-z]+", "")
    )
    hub = norm.groupBy("_nf").agg(F.min("node").alias("_hub"))
    edges = (
        norm.join(hub, "_nf")
        .filter(F.col("node") != F.col("_hub"))
        .select(F.col("node").alias("src"), F.col("_hub").alias("dst"))
    )
    cmap = components.canonical_map(edges, surf, node_col="node")
    gold = surf.withColumn(
        "cluster", F.regexp_replace(F.lower(F.col("node")), r"[^a-z]+", "")
    )
    return kgeval.clustering_metrics(
        cmap.withColumnRenamed("canonical", "cluster"), gold
    )


def q_kg_bgp_minus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL MINUS (operators/bgp.bgp_match minus=): engine bindings
    with the docs that also mention exec_op 'join' removed — one
    left_anti join on the shared ?doc variable against the
    independently-compiled minus group (the SPARQL negation form that
    a NOT-EXISTS subquery states in SQL). Summarized per engine."""
    from gliner_transbronchialbiopsy_spark.operators import bgp

    triples = q_kg_triples(spark, sf_dir)
    b = bgp.bgp_match(
        triples,
        [("?doc", "engine", "?e")],
        minus=[[("?doc", "exec_op", "join")]],
    )
    return b.groupBy("e").agg(
        F.count("*").alias("n_bindings"),
        F.countDistinct("doc").alias("n_docs"),
    )


def q_kg_direct_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative relational->RDF mapping (operators/rdfmap): R2RML-
    style TableMappings turn the customer and orders tables into one
    graph — IRI templates for subjects, ObjRef templates for the
    foreign-key edges (customer->nation, order->customer), rdf:type
    assertions per row, NULL objects absent per the direct-mapping
    spec. One scan per table, explode fan-out = mapped predicate
    count, zero joins. Summarized per predicate."""
    from gliner_transbronchialbiopsy_spark.operators import rdfmap

    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    g = rdfmap.map_tables(
        [
            (
                cust,
                rdfmap.TableMapping(
                    subject_template="cust/{c_custkey}",
                    predicates={
                        "name": "c_name",
                        "mktsegment": "c_mktsegment",
                        "nation": rdfmap.ObjRef("nation/{c_nationkey}"),
                    },
                    subject_class="Customer",
                ),
            ),
            (
                orders,
                rdfmap.TableMapping(
                    subject_template="order/{o_orderkey}",
                    predicates={
                        "status": "o_orderstatus",
                        "customer": rdfmap.ObjRef("cust/{o_custkey}"),
                    },
                    subject_class="Order",
                ),
            ),
        ]
    )
    return g.groupBy("pred").agg(
        F.count("*").alias("n_triples"),
        F.countDistinct("subj").alias("n_subj"),
        F.countDistinct("obj").alias("n_obj"),
    )


def q_kg_charsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Characteristic sets (operators/kgvalidate.characteristic_sets,
    Neumann-Moerkotte ICDE'11) over the emitted doc KG: subjects
    grouped by their distinct-predicate set — the structural schema
    profile of a schemaless triple table, and the statistic a SPARQL
    optimizer estimates join cardinalities from. Triples deduped first
    so n_triples counts assertions, not mention multiplicity."""
    from gliner_transbronchialbiopsy_spark.operators import kgvalidate

    triples = q_kg_triples(spark, sf_dir).distinct()
    return kgvalidate.characteristic_sets(triples)


def q_kg_construct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL CONSTRUCT (operators/rules.construct): one-shot template
    instantiation — every (doc, engine, data_noun) co-mention builds a
    fresh (engine, processes, noun) triple in the derived graph, set
    semantics, no fixpoint. The single-rule special case of the rule
    engine; output is vocabulary-sized at any SF while the body join
    runs over the corpus-scale KG."""
    from gliner_transbronchialbiopsy_spark.operators import rules

    triples = q_kg_triples(spark, sf_dir)
    return rules.construct(
        triples,
        [("?d", "engine", "?e"), ("?d", "data_noun", "?n")],
        [("?e", "processes", "?n")],
    )


def q_kg_update_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 Update (operators/update.update_apply): DELETE/
    INSERT WHERE as a declarative graph-to-graph transform — for every
    doc that mentions the 'spark' engine, retract its exec_op
    assertions and re-assert them under the spark_op predicate, both
    template sets evaluated against the PRE-update graph (the spec's
    §3.1.3 semantics). The delete is one solution-sized left_anti
    against the store; the insert-dedup anti-join's store side is
    restricted to the constant template predicate (a pushed pred
    filter that partition-prunes a pred-partitioned snapshot). The
    reference's analogue is the corrections editor rewriting rows in
    place (src/streamlit/app/app.py corrections tab). Result
    summarized per predicate; oracle restates (G \\ D) ∪ I with
    EXCEPT/UNION ALL over set-semantic CTEs."""
    from gliner_transbronchialbiopsy_spark.operators import update
    from gliner_transbronchialbiopsy_spark.operators.composer import KGQuery

    triples = q_kg_triples(spark, sf_dir).distinct()
    out = update.update_apply(
        triples,
        where=KGQuery(
            where=(("?d", "engine", "spark"), ("?d", "exec_op", "?o"))
        ),
        delete=[("?d", "exec_op", "?o")],
        insert=[("?d", "spark_op", "?o")],
    )
    return out.groupBy("pred").agg(
        F.count("*").alias("n_triples"),
        F.countDistinct("subj").alias("n_subj"),
        F.countDistinct("obj").alias("n_obj"),
    )


def q_kg_sparql_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL Update through the TEXT front-end
    (operators/sparql.sparql_update): INSERT..WHERE derives
    vocabulary-sized (engine, uses, noun) facts from corpus-scale
    co-mention solutions and adds them to the store — the
    update-shaped sibling of CONSTRUCT (which builds a NEW graph;
    INSERT extends the queried one, deduped against it). Parser owns
    only syntax; semantics are update_apply's. Summarized per
    predicate so the contract row count stays catalog-sized."""
    from gliner_transbronchialbiopsy_spark.operators import sparql as _sparql

    triples = q_kg_triples(spark, sf_dir).distinct()
    out = _sparql.sparql_update(
        triples,
        "INSERT { ?e uses ?n } WHERE { ?d engine ?e . ?d data_noun ?n }",
    )
    return out.groupBy("pred").agg(
        F.count("*").alias("n_triples"),
        F.countDistinct("subj").alias("n_subj"),
        F.countDistinct("obj").alias("n_obj"),
    )


def q_kg_rule_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datalog-lite rule materialization (operators/rules.materialize):
    three user-stated rules run to the semi-naive fixed point over the
    emitted triples — R1 derives (engine runs op) from co-mentions, R2
    derives (op linked op') from ops sharing a doc, R3 closes `linked`
    transitively (a RECURSIVE rule: derived facts re-enter evaluation,
    so the fixpoint needs multiple delta rounds). Returns the inferred
    triples only — vocabulary-sized (ops x ops + engines x ops) at any
    SF, while the body joins run over the full corpus-scale KG. The
    oracle restates R1/R2 as joins and R3 as a recursive CTE."""
    from gliner_transbronchialbiopsy_spark.operators import rules

    triples = q_kg_triples(spark, sf_dir)
    rs = [
        rules.rule(
            [("?d", "engine", "?e"), ("?d", "exec_op", "?op")],
            [("?e", "runs", "?op")],
            name="engine-runs-op",
        ),
        rules.rule(
            [("?d", "exec_op", "?a"), ("?d", "exec_op", "?b")],
            [("?a", "linked", "?b")],
            name="co-mentioned-ops",
        ),
        rules.rule(
            [("?a", "linked", "?b"), ("?b", "linked", "?c")],
            [("?a", "linked", "?c")],
            name="linked-transitive",
        ),
    ]
    out = rules.materialize(triples, rs)
    return out.filter(F.col("inferred")).select("subj", "pred", "obj")


def q_graph_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label propagation
    (operators/graph.label_propagation) over the part-supplier graph:
    3 rounds, election by (neighbor-label count DESC, label ASC) — a
    total order, so communities are bit-identical at any parallelism
    and the oracle restates the rounds as chained CTEs. Top 20
    communities by size."""
    li = _read(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    rel = li.select(
        F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    labels = graph.label_propagation(rel, iterations=3)
    return (
        labels.groupBy("label")
        .agg(F.count("*").alias("n_members"))
        .orderBy(F.desc("n_members"), F.col("label").asc())
        .limit(20)
    )


def q_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities (operators/graph.hits, Kleinberg 1999)
    over the directed part->supplier graph: 3 synchronous iterations
    of the integer L1-normalized recurrence — every intermediate is a
    fixed-point long, so the oracle's chained CTEs (one pair per
    iteration) are bit-identical and the top-25 cut is total-ordered
    (auth desc, hub desc, node). Parts are pure hubs and suppliers
    pure authorities on this bipartite graph, which makes the two
    score columns independently meaningful."""
    li = _read(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    rel = li.select(
        F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    out = graph.hits(rel, iterations=3)
    return out.orderBy(
        F.desc("auth_fp"), F.desc("hub_fp"), F.col("node").asc()
    ).limit(25)


def q_graph_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components (operators/graph.scc — forward
    max-label coloring + backward membership sweep, the distributed
    Orzan/FW-BW family; Tarjan is inherently sequential) over a
    directed trade graph with REAL cycles: customer c -> supplier s
    when the pair trades a lineitem with l_quantity >= 30, and
    s -> c when it trades one with l_quantity <= 10, both sides
    modulo-sliced (custkey % 10 = 0, suppkey % 2 = 0) so the
    MUTUAL-reachability oracle's closure stays bounded at every sf —
    the bounded-audit-slice convention of sim_pairs_topk; the operator
    itself is frontier-only and peels by condensation level, the
    scale path. Summarized as a component-size histogram with the
    deterministic min canonical id per size bucket; scc_id is the max
    node id in each component, so every column is exactly restatable
    in DuckDB as mutual reachability over a recursive closure."""
    li = _read(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    orders = _read(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .filter((F.col("o_custkey") % 10 == 0) & (F.col("l_suppkey") % 2 == 0))
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("c"),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("s"),
            F.col("l_quantity").alias("q"),
        )
    )
    edges = (
        pairs.filter(F.col("q") >= 30)
        .select(F.col("c").alias("src"), F.col("s").alias("dst"))
        .unionAll(
            pairs.filter(F.col("q") <= 10)
            .select(F.col("s").alias("src"), F.col("c").alias("dst"))
        )
        .distinct()
    )
    comp = graph.scc(edges)
    sizes = comp.groupBy("scc_id").agg(F.count(F.lit(1)).alias("scc_size"))
    return sizes.groupBy("scc_size").agg(
        F.count(F.lit(1)).alias("n_sccs"),
        F.min("scc_id").alias("min_scc"),
    )


def q_graph_condensation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Condensation DAG with topological levels
    (operators/graph.condensation_levels): SCCs of the same
    modulo-sliced directed trade graph as graph_scc contracted to
    super-nodes, each assigned its longest-path level (sources at 0)
    — the dependency-strata view a topological analysis runs on once
    cycles are contracted. Summarized per level; the DuckDB oracle
    restates SCCs as mutual reachability and levels as a recursive
    DISTINCT (node, path-length) enumeration with a max() roll-up
    (finite because the condensation is a DAG)."""
    li = _read(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    orders = _read(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .filter((F.col("o_custkey") % 10 == 0) & (F.col("l_suppkey") % 2 == 0))
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("c"),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("s"),
            F.col("l_quantity").alias("q"),
        )
    )
    edges = (
        pairs.filter(F.col("q") >= 30)
        .select(F.col("c").alias("src"), F.col("s").alias("dst"))
        .unionAll(
            pairs.filter(F.col("q") <= 10)
            .select(F.col("s").alias("src"), F.col("c").alias("dst"))
        )
        .distinct()
    )
    lv = graph.condensation_levels(edges)
    return lv.groupBy("level").agg(
        F.count(F.lit(1)).alias("n_sccs"),
        F.sum("n_nodes").alias("n_nodes"),
        F.min("scc_id").alias("min_scc"),
    )


def q_kg_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot KG diff (operators/kgvalidate.triple_diff):
    the 'old' build extracted docs with doc_id % 7 != 0, the 'new'
    build docs with doc_id % 5 != 0 — so the diff carries both added
    and removed assertions. Set semantics on the full (subj, pred,
    obj) key; two left_anti hash joins, diff-sized output."""
    from gliner_transbronchialbiopsy_spark.operators import kgvalidate

    t = q_kg_triples(spark, sf_dir)
    did = F.regexp_extract(F.col("subj"), r"/(\d+)@", 1).cast("long")
    old = t.filter(did % 7 != 0)
    new = t.filter(did % 5 != 0)
    return kgvalidate.triple_diff(old, new)


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR hashed-unigram importance weights (operators/dsir):
    every document scored against the non-English slice as the target
    distribution — Σ_tokens [lp_target(bucket) − lp_raw(bucket)] in
    exact fixed-point over 256 portable hash buckets (α=1 smoothing).
    The bucket model is n_buckets rows and broadcasts; the corpus text
    never shuffles. Production hashing is xxhash64; the contract runs
    the portable sha256 family the oracle restates."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    target = docs.filter(F.col("lang") != "en").select("doc_id", "text")
    return dsir.dsir_weights(
        docs.select("doc_id", "text"),
        target,
        n_buckets=256,
        portable_hash=True,
    )


def q_quantiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group quantiles (operators/quantiles.group_quantiles,
    Spark `percentile` = linear interpolation at rank p*(n-1), the
    same definition as DuckDB quantile_cont). Production path at
    monster-group scale is approx_percentile (exact=False) — the
    oracle pins the exact kernel."""
    li = _read(spark, sf_dir, "lineitem")
    q = quantiles.group_quantiles(
        li,
        ["l_returnflag", "l_linestatus"],
        "l_extendedprice",
        [0.25, 0.5, 0.75, 0.95],
    )
    return q.select(
        "l_returnflag",
        "l_linestatus",
        *[F.round(c, 4).alias(c) for c in ("q_25", "q_50", "q_75", "q_95")],
    )


def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (quantile-clipped) per-group aggregation
    (operators/quantiles.winsorized_stats): the robust mean used in
    corpus quality scoring. One wide shuffle; the per-group quantile
    frame broadcasts back."""
    li = _read(spark, sf_dir, "lineitem")
    return quantiles.winsorized_stats(
        li, ["l_returnflag"], "l_extendedprice", lo=0.05, hi=0.95
    )


def q_fuzzy_match_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-blocked fuzzy surface match
    (operators/linking.fuzzy_match_blocked): candidate pairs share a
    word token (equi-join, block-capped), verified by exact
    Levenshtein <= 4. Surfaces are the first-3-token pseudo-titles of
    the documents table."""
    from gliner_transbronchialbiopsy_spark.operators import linking

    docs = _read(spark, sf_dir, "documents")
    surfaces = docs.select(
        F.regexp_extract("text", r"^(\S+ \S+ \S+)", 1).alias("name")
    )
    return linking.fuzzy_match_blocked(
        surfaces, "name", max_dist=4, block_cap=64
    )


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count via degree orientation
    (operators/graph.triangle_count) over the part co-purchase graph:
    parts appearing in the same order are adjacent. Counts are exact
    longs — parallelism-invariant. The contract query slices to every
    third order (l_orderkey % 3 == 0): the synthetic co-purchase graph
    is uniformly dense (avg degree ~120 at sf0.1 -> ~36M wedges), and
    the slice keeps the audit bounded while exercising the full
    degree-oriented plan; the operator itself takes any edge list."""
    li = (
        _read(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 3 == 0)
        .select("l_orderkey", "l_partkey")
    )
    a = li.alias("a")
    b = li.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
    )
    return graph.triangle_count(edges)


def q_graph_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient
    (operators/graph.clustering_coefficients) over the same sliced
    part co-purchase graph as graph_triangles: exact per-node triangle
    counts from the degree-oriented closure, coefficient as integer
    division of longs (coef_fp = 2*tri*1e9 div deg*(deg-1)) so every
    row is engine-portable. Summarized as a histogram over coefficient
    deciles (plus the exact sums) to keep the contract row count
    O(10) while still hashing every underlying value through the
    aggregates."""
    li = (
        _read(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 3 == 0)
        .select("l_orderkey", "l_partkey")
    )
    a = li.alias("a")
    b = li.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
    )
    cc = graph.clustering_coefficients(edges)
    decile = F.expr("(coef_fp * 10) div 1000000000")
    return (
        cc.withColumn("decile", F.least(decile, F.lit(9).cast("long")))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_nodes"),
            F.sum("n_tri").alias("sum_tri"),
            F.sum("deg").alias("sum_deg"),
            F.sum("coef_fp").alias("sum_coef_fp"),
        )
    )


def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-core of the customer-supplier trade graph
    (operators/graph.kcore): iterative synchronous peeling drops every
    node of degree < 8 each round until the fixed point, leaving the
    densely-trading core -> (node, degree). The contract query runs
    rounds=4 — DuckDB-probed convergence is 2 rounds at every SF, so 4
    is the exact k-core restated by the oracle as 4 chained peel CTEs
    (peeling past the fixed point is idempotent); a pytest asserts the
    margin holds. Same bipartite c:/s: edge relation as
    graph_pagerank."""
    li = _read(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = _read(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    rel = li.join(
        orders, li["l_orderkey"] == orders["o_orderkey"]
    ).select(
        F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    return graph.kcore(rel, k=8, rounds=4)


def q_graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction (operators/graph.adamic_adar) over
    the bipartite customer-supplier trade graph: top-50 non-adjacent
    pairs by summed 1/ln(deg) over common neighbors, fixed-point longs
    so the cut is engine-portable. max_center_deg=32 is the documented
    skew guard (185M uncapped wedges at sf0.1 vs 1.5M capped); scores
    are lower bounds under the cap, restated identically by the
    oracle."""
    li = _read(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = _read(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    rel = li.join(
        orders, li["l_orderkey"] == orders["o_orderkey"]
    ).select(
        F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    return graph.adamic_adar(rel, max_center_deg=32, k=50)


def q_range_window_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized time-range join (operators/ranges.time_window_pairs):
    for every purchase event, count error events within +-10 minutes
    (any user), then histogram purchases by that count. Spark would
    plan the raw inequality join as a BroadcastNestedLoop; the
    3-bucket explode turns it into an equi-join. The DuckDB oracle
    states the same predicate directly (IEJoin-able there)."""
    ev = _read(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    errors = ev.filter(F.col("event_type") == "error")
    pairs = ranges.time_window_pairs(
        purchases,
        errors.withColumnRenamed("event_id", "err_id"),
        "event_id",
        "err_id",
        window_sec=600,
    )
    per_purchase = pairs.groupBy("event_id").agg(
        F.count("*").alias("n_err")
    )
    with_zeros = purchases.select("event_id").join(
        per_purchase, "event_id", "left"
    ).select(F.coalesce("n_err", F.lit(0)).alias("n_nearby_errors"))
    return with_zeros.groupBy("n_nearby_errors").agg(
        F.count("*").alias("n_purchases")
    )


def q_kg_composed_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE declarative KGQuery (operators/composer.compose) planning a
    BGP + property path + MINUS + VALUES + FILTER together — the
    round-4 verdict's top ask, replacing the hand-wired join glue the
    other kg_* queries demonstrate. The query: docs that mention the
    exec_op 'join' (ground pattern), their engine binding, and every
    class that engine surface entails via the ``a/subclass_of*`` path;
    MINUS docs that also mention the data_noun 'table'; VALUES pins
    eng to three engines; FILTER drops the top class. One plan: the
    ground scan seeds the greedy order, the path atom (var-var ->
    paths.path_edges over the shared checkpointed graph) joins on the
    bound ?eng, the MINUS group is one left_anti on ?doc, VALUES
    broadcasts. The DuckDB oracle restates every block — pattern CTEs,
    recursive subclass closure, NOT EXISTS anti-join, inline VALUES —
    as one multi-block SQL statement."""
    from gliner_transbronchialbiopsy_spark.operators import composer

    t = _kg_extended_graph(spark, sf_dir)
    q = composer.KGQuery(
        where=(
            ("?doc", "exec_op", "join"),
            ("?doc", "engine", "?eng"),
            composer.Path(
                "?eng",
                ("seq", ("pred", "a"), ("opt", ("plus", ("pred", "subclass_of")))),
                "?cls",
            ),
        ),
        minus=((("?doc", "data_noun", "table"),),),
        values=(("eng",), (("spark",), ("hash",), ("vector",))),
        filters=("cls <> 'kg_term'",),
        select=("doc", "eng", "cls"),
        distinct=True,
    )
    return composer.compose(t, q)


def q_kg_composed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL aggregate modifiers through the composer (round-4
    verdict #8): GROUP BY + COUNT over a BGP with an OPTIONAL group —
    per-engine binding counts, distinct docs, and how many of those
    bindings carry an optional data_noun (COUNT over a nullable
    OPTIONAL column counts only bound rows, exactly SPARQL's
    aggregate-over-unbound rule and SQL's count(col)). One plan: two
    pred-pruned scans, a left join, one hash aggregate."""
    from gliner_transbronchialbiopsy_spark.operators import composer

    triples = q_kg_triples(spark, sf_dir)
    q = composer.KGQuery(
        where=(("?doc", "engine", "?eng"),),
        optional=((("?doc", "data_noun", "?noun"),),),
        group_by=("eng",),
        aggs=(
            ("count(*)", "n_bindings"),
            ("count(DISTINCT doc)", "n_docs"),
            ("count(noun)", "n_noun_bindings"),
            ("count(DISTINCT noun)", "n_nouns"),
        ),
    )
    return composer.compose(triples, q)


def q_kg_sparql_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SPARQL TEXT front-end (operators/sparql.py) end-to-end: the
    query below is parsed into a composer.KGQuery and planned as one
    DataFrame tree — no hand-wired glue anywhere between text and
    plan. The block combination is one no other contract query
    composes: a UNION chain (engine|exec_op bindings, bag-unioned per
    SPARQL), a property path with a transitive tail (a/subclass_of+),
    a FILTER, GROUP BY aggregates (count(*) counts bag solutions,
    count(DISTINCT doc) collapses them), and ORDER BY + LIMIT over a
    total order (n_docs desc, cls — cls is unique per group, so the
    cut is engine-portable). The DuckDB oracle restates each block:
    UNION ALL of set-semantic branches, recursive closure for the
    path tail, the same aggregate/order/limit tail."""
    from gliner_transbronchialbiopsy_spark.operators import sparql as _sparql

    t = _kg_extended_graph(spark, sf_dir)
    return _sparql.sparql(
        t,
        """
        SELECT ?cls (count(DISTINCT ?doc) AS ?n_docs)
               (count(*) AS ?n_bindings) WHERE {
          { ?doc engine ?s } UNION { ?doc exec_op ?s }
          ?s a/subclass_of+ ?cls .
          FILTER (?cls != "kg_term")
        }
        GROUP BY ?cls
        ORDER BY DESC(?n_docs) ?cls
        LIMIT 10
        """,
    )


def q_kg_sparql_ask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL ASK through the text front-end (operators/sparql.py):
    existence is a PLAN property, not a collect — the parsed body
    compiles with LIMIT 1, so Spark stops the corpus-scale scan at
    the first solution and the single boolean row is an aggregate
    over at most one binding. The body composes a UNION chain with a
    join atom and a FILTER, so the ask path exercises the same
    composer machinery as SELECT. Oracle: the same existence test as
    count(*) > 0 over a LIMIT 1 subquery."""
    from gliner_transbronchialbiopsy_spark.operators import sparql as _sparql

    t = q_kg_triples(spark, sf_dir)
    return _sparql.sparql(
        t,
        """
        ASK {
          { ?d engine "spark" } UNION { ?d engine "hash" }
          ?d exec_op ?op .
          FILTER (?op != "join")
        }
        """,
    )


def q_kg_sparql_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL DESCRIBE through the text front-end
    (composer.compose_describe): the WHERE group binds ?op to every
    exec_op co-mentioned with engine "spark"; the description is the
    subject-oriented concise bounded description — all triples whose
    SUBJECT is a described node — over the extended graph (so each
    op's type link ('join', a, exec_op) is what comes back; doc
    subjects never qualify). One distinct node projection + one
    left_semi join; the oracle restates exactly that."""
    from gliner_transbronchialbiopsy_spark.operators import sparql as _sparql

    t = _kg_extended_graph(spark, sf_dir)
    return _sparql.sparql(
        t,
        """
        DESCRIBE ?op WHERE { ?d engine "spark" . ?d exec_op ?op }
        """,
    )


def q_kg_sparql_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full SELECT solution-modifier tail through the text
    front-end: GROUP BY + HAVING (one constraint restating a declared
    aggregate — alias reuse — and one inline aggregate the parser
    rewrites to a hidden agg column) + ORDER BY over a total order +
    OFFSET/LIMIT slice. The hidden HAVING aggregate (count(DISTINCT
    ?d)) must not appear in the output schema. Oracle: the same
    GROUP BY/HAVING/ORDER/OFFSET tail in DuckDB."""
    from gliner_transbronchialbiopsy_spark.operators import sparql as _sparql

    t = q_kg_triples(spark, sf_dir)
    return _sparql.sparql(
        t,
        """
        SELECT ?op (count(*) AS ?n_mentions) WHERE {
          ?d engine ?e .
          ?d exec_op ?op .
        }
        GROUP BY ?op
        HAVING (count(*) > 10) (count(DISTINCT ?d) > 5)
        ORDER BY DESC(?n_mentions) ?op
        OFFSET 1 LIMIT 5
        """,
    )


def q_kg_sparql_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER EXISTS / NOT EXISTS / BIND through the text front-end:
    correlated existence compiles to semi/anti joins on the shared
    variable (?d), BIND derives a fresh column that a later FILTER
    consumes (the SPARQL assignment-then-constrain idiom), and the
    aggregate tail runs over the filtered solutions. NOT EXISTS here
    is correlated — the documented DIVERGENT disjoint-domain case
    (MINUS removes nothing, NOT EXISTS removes everything) is pytest
    territory (test_minus_vs_not_exists_disjoint_divergence); this
    query keeps the oracle-checked surface on the join-compiled
    path. Oracle: EXISTS/NOT EXISTS subqueries + the same string
    expression inline."""
    from gliner_transbronchialbiopsy_spark.operators import sparql as _sparql

    t = q_kg_triples(spark, sf_dir)
    return _sparql.sparql(
        t,
        """
        SELECT ?e (count(DISTINCT ?d) AS ?n_docs) WHERE {
          ?d engine ?e .
          FILTER EXISTS { ?d exec_op "join" }
          FILTER NOT EXISTS { ?d data_noun "stream" }
          BIND (concat("eng:", ?e) AS ?tag)
          FILTER (strlen(?tag) > 8)
        }
        GROUP BY ?e
        ORDER BY DESC(?n_docs) ?e
        """,
    )


def q_kg_optimized_bgp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based join ordering (operators/kgstats.py) through the
    composer: ``collect_stats`` gathers per-predicate count/NDV
    statistics in ONE rollup aggregation over the extended graph, and
    ``compose(stats=...)`` replaces the syntactic most-constants
    heuristic with greedy minimal-estimated-join-size ordering — the
    System-R-lite discipline a 10^12-triple BGP needs when predicate
    counts are skewed. The pattern list is deliberately adversarial
    (the high-cardinality mention patterns listed FIRST, the pruned
    existence gate last); the optimizer reorders, the RESULTS are
    order-independent, and the oracle restates the query as plain
    order-agnostic SQL joins — proving stats change only the plan.
    The reference has no optimizer (pandas pivots per filter,
    /root/reference/src/streamlit/app/app.py:349-442)."""
    from gliner_transbronchialbiopsy_spark.operators import composer, kgstats

    t = _kg_extended_graph(spark, sf_dir)
    st = kgstats.collect_stats(t)
    q = composer.KGQuery(
        where=(
            ("?doc", "exec_op", "?op"),
            ("?doc", "engine", "?eng"),
            ("?doc", "data_noun", "?noun"),
            ("?eng", "a", "?ecls"),
        ),
        not_exists=((("?doc", "exec_op", "scan"),),),
        filters=("op <> 'join'",),
    )
    sols = composer.compose(t, q, stats=st)
    return sols.groupBy("eng", "noun").agg(
        F.count(F.lit(1)).alias("n_bindings"),
        F.countDistinct("doc").alias("n_docs"),
        F.countDistinct("op").alias("n_ops"),
    )


def q_kg_sparql_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 subquery through the text front-end: the nested
    SELECT aggregates per-engine distinct op counts in isolation
    (bottom-up evaluation), its projected relation natural-joins the
    outer BGP on ?e, and the outer FILTER consumes the subquery's
    aggregate alias — the aggregate-then-join idiom that SPARQL has
    no other way to express (an outer GROUP BY would collapse the
    per-doc bindings the query still needs). Only the subquery's
    PROJECTED variables are in scope outside (inner ?d2 stays hidden,
    pytest-checked). Oracle: the subquery as a grouped CTE joined back
    in."""
    from gliner_transbronchialbiopsy_spark.operators import sparql as _sparql

    t = q_kg_triples(spark, sf_dir)
    return _sparql.sparql(
        t,
        """
        SELECT DISTINCT ?e ?noun ?n_ops WHERE {
          ?d engine ?e .
          ?d data_noun ?noun .
          { SELECT ?e (count(DISTINCT ?op) AS ?n_ops) WHERE {
              ?d2 engine ?e . ?d2 exec_op ?op } GROUP BY ?e }
          FILTER (?n_ops > 5)
        }
        """,
    )


def q_kg_sparql_multiunion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple independent UNION chains in one WHERE group (round-5
    lift of the former one-chain limit): chain 1 restricts docs to the
    join|sort exec_ops, chain 2 binds ?e from EITHER the engine or the
    data_noun label — each chain bag-unions its set-semantic branch
    scans (SPARQL bag semantics: a doc matching both branches
    contributes twice), then joins the accumulated solutions on the
    shared ?d. n_bindings counts the joined BAG (so the oracle must
    restate the bag union exactly: UNION ALL of DISTINCT branch
    scans); n_docs collapses it."""
    from gliner_transbronchialbiopsy_spark.operators import sparql as _sparql

    t = q_kg_triples(spark, sf_dir)
    return _sparql.sparql(
        t,
        """
        SELECT ?e (count(DISTINCT ?d) AS ?n_docs) (count(*) AS ?n_bindings)
        WHERE {
          { ?d exec_op "join" } UNION { ?d exec_op "sort" }
          { ?d engine ?e } UNION { ?d data_noun ?e }
        }
        GROUP BY ?e
        """,
    )


def q_kg_sparql_aggpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL aggregate builtins + negated property set through the
    text front-end: GROUP_CONCAT with an explicit SEPARATOR (this
    engine defines the spec's undefined concatenation order as
    ASCENDING — array_sort before array_join — so the string is
    deterministic at any parallelism and restatable as
    list_sort/array_to_string in the oracle), SAMPLE (defined as min,
    same determinism argument), and ``!(engine|exec_op)`` — the
    negated property set compiling to ONE NOT-IN-filtered scan, never
    a join against the predicate list."""
    from gliner_transbronchialbiopsy_spark.operators import sparql as _sparql

    t = q_kg_triples(spark, sf_dir)
    return _sparql.sparql(
        t,
        """
        SELECT ?e (group_concat(DISTINCT ?op; SEPARATOR = "|") AS ?ops)
               (SAMPLE(?noun) AS ?first_noun) (count(*) AS ?n_bindings)
        WHERE {
          ?d engine ?e .
          ?d exec_op ?op .
          ?d !(engine|exec_op) ?noun .
        }
        GROUP BY ?e
        """,
    )


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (textstats.winnow_fingerprints
    — Schleimer/Wilkerson/Aiken SIGMOD'03, the MOSS algorithm) over
    the documents table, k=8 char-grams, window w=4, portable sha256
    hash family: per-doc fingerprint count, distinct count, and min
    fingerprint. The selection rule (rightmost window minimum,
    restated position-locally as left-run + right-run >= w-1) is
    bit-exact in the DuckDB oracle via 3 lag + 3 lead window columns
    per position — every selected fingerprint value participates in
    the hash check. One flat JVM pass per doc, no gram-array
    intermediate, no Python."""
    from gliner_transbronchialbiopsy_spark.operators import textstats

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    fps = textstats.winnow_fingerprints(
        docs, k=8, w=4, portable_hash=True
    )
    fp_vals = F.transform(F.col("fps"), lambda x: x["fp"])
    return fps.select(
        "doc_id",
        F.size("fps").alias("n_fps"),
        F.size(F.array_distinct(fp_vals)).alias("n_distinct"),
        F.array_min(fp_vals).alias("min_fp"),
    )


def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-robust cross-doc near-dup pairs (textstats.winnow_pairs):
    documents sharing >= 2 winnowing fingerprints, fingerprints shared
    by > 50 docs dropped pre-join (the boilerplate hot-key cap —
    lower-bound semantics like every capped pair miner here).
    Complements passage_dedup's verbatim token windows: a shared
    >= k+w-1-char run collides regardless of surrounding edits.
    Summarized per n_shared bucket (n_pairs + per-column min ids) so
    the contract row count stays bounded at any sf; the oracle
    restates selection (lag/lead runs), census cap, canonical
    self-join, and bucketing."""
    from gliner_transbronchialbiopsy_spark.operators import textstats

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = textstats.winnow_pairs(
        docs, k=8, w=4, min_shared=2, max_fp_docs=50, portable_hash=True
    )
    return pairs.groupBy("n_shared").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min("doc_a").alias("min_doc_a"),
        F.min("doc_b").alias("min_doc_b"),
    )


def q_kg_sparql_undef(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUES with UNDEF (SPARQL partial mappings) through the text
    front-end: three mask groups — fully ground (spark, join),
    engine-only (hash, UNDEF), op-only (UNDEF, sort) — each compiled
    to one broadcast join on its DEFINED columns, bag-unioned
    (bgp._values_with_undef). The multiset subtlety the oracle must
    restate: a (hash, sort) solution is compatible with BOTH partial
    rows and appears twice, so n_solutions counts it twice while
    n_docs collapses — the oracle is a UNION ALL of three per-mask
    joins, not a single IN filter."""
    from gliner_transbronchialbiopsy_spark.operators import sparql as _sparql

    t = q_kg_triples(spark, sf_dir)
    sols = _sparql.sparql(
        t,
        """
        SELECT ?d ?e ?op WHERE {
          ?d engine ?e . ?d exec_op ?op
          VALUES (?e ?op) { (spark join) (hash UNDEF) (UNDEF sort) }
        }
        """,
    )
    return sols.groupBy("e", "op").agg(
        F.countDistinct("d").alias("n_docs"),
        F.count(F.lit(1)).alias("n_solutions"),
    )


def q_kg_owl_entail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OWL-lite property entailment (operators/owl.py): the schema is
    DATA, not code — an ontology triple table (subPropertyOf chain
    runs<=touches<=involves, runs inverseOf run_by, colinked declared
    Symmetric AND Transitive) compiles to rules run to the joint
    semi-naive fixpoint, the OWL 2 RL property rules prp-spo1/inv/
    symp/trp. The base graph is three CONSTRUCT derivations whose
    bodies join the corpus-scale KG but whose extensions are
    vocabulary-sized (engines x ops, nouns x ops, ops x ops), so the
    entailed graph stays schema-bounded at any SF while every rule
    body scales with the corpus. Returns inferred triples only; the
    oracle restates the sub-property/inverse axioms as projections
    and the symmetric-transitive colinked closure as a recursive CTE
    (the base is symmetric by construction, so its transitive closure
    IS the joint fixpoint), then subtracts the base with EXCEPT."""
    from gliner_transbronchialbiopsy_spark.operators import owl, rules

    t = q_kg_triples(spark, sf_dir)
    runs = rules.construct(
        t,
        [("?d", "engine", "?e"), ("?d", "exec_op", "?op")],
        [("?e", "runs", "?op")],
    )
    feeds = rules.construct(
        t,
        [("?d", "data_noun", "?n"), ("?d", "exec_op", "?op")],
        [("?n", "feeds", "?op")],
    )
    colinked = rules.construct(
        t,
        [("?d", "exec_op", "?a"), ("?d", "exec_op", "?b")],
        [("?a", "colinked", "?b")],
    ).filter(F.col("subj") != F.col("obj"))
    base = runs.unionByName(feeds).unionByName(colinked)
    onto = spark.createDataFrame(
        [
            ("runs", "subPropertyOf", "touches"),
            ("feeds", "subPropertyOf", "touches"),
            ("touches", "subPropertyOf", "involves"),
            ("runs", "inverseOf", "run_by"),
            ("colinked", "a", "SymmetricProperty"),
            ("colinked", "a", "TransitiveProperty"),
        ],
        "subj string, pred string, obj string",
    )
    out = owl.owl_lite_entail(base, onto)
    return out.filter(F.col("inferred")).select("subj", "pred", "obj")


def _driver_rotation_order(names: list[str]) -> list[str]:
    """Deterministic driver-set rotation (round-4 VERDICT #2): the
    driver's CORRECTNESS artifact has capped at the FIRST 50 entries
    of this registry every round, so a fixed order left half the
    registry outside the hard driver signal forever. This orders the
    registry least-recently-driver-covered FIRST, derived purely from
    the committed CORRECTNESS_r*.json artifacts. Order (round-5
    VERDICT #1/#4): queries RED in their own most recent artifact row
    lead, whatever round that row is in (a failed driver row must be re-demonstrated green the very next
    round, not after a full rotation), then never-covered queries,
    then oldest-covered; registry order breaks ties via the stable
    sort — so every query lands in a driver artifact within
    ~ceil(registry/50) rounds with no state beyond the artifacts
    themselves. tools/select_driver_set.py prints the computed
    rotation; README documents the scheme. The tri-scale oracle gate
    (tools/check_oracles.py) still runs EVERY query regardless of
    order."""
    import glob
    import json
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    last_seen: dict[str, int] = {}
    last_result: dict[str, tuple[int, bool]] = {}
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue
        for k, row in data.items():
            last_seen[k] = max(rnd, last_seen.get(k, -1))
            green = bool(
                isinstance(row, dict)
                and row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match", True)
                and not row.get("err")
            )
            if k not in last_result or rnd > last_result[k][0]:
                last_result[k] = (rnd, green)
    def _key(n: str):
        _, green = last_result.get(n, (-1, True))
        return (0 if not green else 1, last_seen.get(n, -1))
    return sorted(names, key=_key)


def q_kg_composed_construct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL CONSTRUCT over a composed WHERE
    (operators/composer.compose_construct): the body is a BGP with an
    OPTIONAL group, and two head templates fire per solution —
    (?eng used_with ?noun) and (?eng a engine_surface). Solutions
    whose optional ?noun is unbound instantiate an incomplete first
    template and are skipped for it (the SPARQL incomplete-triple
    rule — exactly SQL's inner-join semantics, which is how the
    oracle restates it), while the ground-typed second template still
    fires for every solution. Output is the derived graph, set
    semantics."""
    from gliner_transbronchialbiopsy_spark.operators import composer

    triples = q_kg_triples(spark, sf_dir)
    q = composer.KGQuery(
        where=(("?doc", "engine", "?eng"),),
        optional=((("?doc", "data_noun", "?noun"),),),
    )
    return composer.compose_construct(
        triples,
        q,
        heads=(
            ("?eng", "used_with", "?noun"),
            ("?eng", "a", "engine_surface"),
        ),
    )


def q_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-passage detection
    (operators/dedup.duplicate_passages, the word-window form of Lee
    et al. 2022 substring dedup): 8-token windows occurring verbatim
    in >= 2 distinct documents, reported per affected doc with the
    merged-interval token coverage (the removal-budget signal). Window
    text never shuffles — census and join key on sha256(window); the
    oracle restates windows, distinct-doc census, and coverage (as a
    distinct-index count — must equal the Spark fold's merged interval
    length) directly on the token arrays."""
    from gliner_transbronchialbiopsy_spark.operators import dedup as _dd

    docs = _read(spark, sf_dir, "documents")
    return _dd.duplicate_passages(docs, "text", "doc_id", n=8, min_docs=2)


def q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inactivity-gap sessionization (operators/ranges.sessionize):
    the standard web-analytics session operator — a new session per
    user whenever the gap to the previous event exceeds 30 min. ONE
    hash exchange on user_id feeds both window expressions (lag gap
    flag + running session counter share partitioning and ordering),
    then the per-session rollup reuses the same partitioning. Gap
    arithmetic on floor-epoch longs, ordering on the full-precision
    timestamp + event_id tie. Contract rows: one per session with
    exact bounds, event count, and duration. Oracle: the identical
    two-window construction in DuckDB."""
    ev = _read(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    s = ranges.sessionize(
        ev, "user_id", "ts", timeout_sec=1800, tie="event_id"
    )
    return s.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        F.min("epoch_sec").alias("sess_start"),
        F.max("epoch_sec").alias("sess_end"),
        (F.max("epoch_sec") - F.min("epoch_sec")).alias("duration_sec"),
    )


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement
    (operators/sampling.weighted_sample — Efraimidis-Spirakis 2006 in
    the float-free integer form): key = max over w replica hashes of
    the portable 60-bit family, equal in distribution to ES's
    u**(1/w); top-500 documents by key, weight = 1 + n_chars % 8.
    The key is a zero-shuffle projection and the top-k is
    TakeOrdered, not a sort exchange. Oracle restates the key
    bit-for-bit via list_max over generate_series."""
    from gliner_transbronchialbiopsy_spark.operators import (
        sampling as _sampling,
    )

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", (F.lit(1) + F.col("n_chars") % 8).alias("weight")
    )
    return _sampling.weighted_sample(docs, "doc_id", "weight", k=500)


def q_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLAP CUBE with grouping ids: revenue/quantity rollups over all
    4 subsets of (l_returnflag, l_linestatus) in ONE pass — Spark
    plans CUBE as Expand (4x row fan-out map-side) into a single
    hash aggregate with partial (map-side) combine, so at 100 TB it
    costs one shuffle of the PARTIAL aggregates (grouping-set keys x
    groups, not rows). grouping_id() disambiguates rolled-up NULL
    cells from data NULLs; bit order verified identical to DuckDB's
    GROUPING(). Sums rounded on the q1 discipline so the double
    accumulation order is oracle-portable."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                2,
            ).alias("sum_disc_price"),
            F.count("*").alias("n_rows"),
            F.grouping_id().alias("gid"),
        )
    )


def q_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity self-join (operators/editsim —
    PassJoin pigeonhole blocking, Li et al. VLDB'11): all pairs
    within levenshtein 1 over a deterministic high-entropy universe —
    12-hex sha prefixes of the first 3000 doc_ids plus planted
    1-edit mutants (substitute an out-of-alphabet char at
    doc_id % 12 for doc_id % 3 == 0; delete that position for
    doc_id % 5 == 0), so ground truth contains substitution,
    deletion, AND mutant-mutant pairs (% 15 docs). Constant per-row
    fan-out (2 index keys, <= 18 probe keys at d=1), one equi-join
    on segment keys, codegen levenshtein verify. Oracle: brute-force
    levenshtein cross join over the same universe (the cap keeps it
    scale-independent)."""
    from gliner_transbronchialbiopsy_spark.operators import (
        editsim as _editsim,
    )

    base = (
        _read(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 3000)
        .select(
            F.col("doc_id").alias("sid"),
            F.substring(
                F.sha2(F.col("doc_id").cast("string"), 256), 1, 12
            ).alias("s"),
        )
    )
    p = F.lit(1) + (F.col("sid") % 12).cast("int")
    sub = base.filter(F.col("sid") % 3 == 0).select(
        (F.col("sid") + F.lit(1000000000)).alias("sid"),
        F.concat(
            F.col("s").substr(F.lit(1), p - 1),
            F.lit("g"),
            F.col("s").substr(p + 1, F.lit(12)),
        ).alias("s"),
    )
    dele = base.filter(F.col("sid") % 5 == 0).select(
        (F.col("sid") + F.lit(2000000000)).alias("sid"),
        F.concat(
            F.col("s").substr(F.lit(1), p - 1),
            F.col("s").substr(p + 1, F.lit(12)),
        ).alias("s"),
    )
    universe = base.unionByName(sub).unionByName(dele)
    return _editsim.edit_distance_pairs(universe, "sid", "s", d=1)


def q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (operators/ranges.interval_overlap_pairs):
    concurrent cross-user state intervals — every user's 'view'
    interval paired with every OTHER user's 'purchase' interval it
    overlaps (half-open [s, e), SCD2 intervals from state_intervals,
    open intervals closed at the global horizon). The inequality
    predicate becomes a day-bucket equi-join with a canonical-bucket
    single-match (no distinct pass, no BroadcastNestedLoopJoin);
    DuckDB oracles the same predicate as a native IEJoin. Contract
    rows: per view-user counts + exact total overlap seconds."""
    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    iv = ranges.state_intervals(
        ev, "user_id", "event_type", "ts", tie="event_id"
    )
    sec = lambda c: F.col(c).cast("timestamp_ltz").cast("long")  # noqa: E731
    horizon = iv.agg(
        (F.max(sec("valid_from")) + F.lit(1)).alias("_h")
    )
    iv2 = iv.crossJoin(F.broadcast(horizon)).select(
        F.col("key").alias("uid"),
        "state",
        sec("valid_from").alias("s"),
        F.coalesce(sec("valid_to"), F.col("_h")).alias("e"),
    )
    left = iv2.filter(F.col("state") == "view").select(
        F.col("uid").alias("u_view"), "s", "e"
    )
    right = iv2.filter(F.col("state") == "purchase").select(
        F.col("uid").alias("u_buy"), "s", "e"
    )
    pairs = ranges.interval_overlap_pairs(
        left, right, "u_view", "u_buy", "s", "e", bucket_width=86400
    ).filter(F.col("u_view") != F.col("u_buy"))
    return pairs.groupBy("u_view").agg(
        F.count("*").alias("n_overlaps"),
        F.sum("overlap_sec").alias("total_overlap_sec"),
    )


def q_session_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-session sequential patterns
    (operators/ranges.session_ngrams): counts of every contiguous
    event-type trigram inside one inactivity-gap session. The n-gram
    window reuses sessionize's single user_id exchange (session
    membership guarded via lead(session_no, 2), NOT a second window
    key) — one shuffle end-to-end before the count agg. Oracle: the
    identical lead construction in DuckDB."""
    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    return ranges.session_ngrams(
        ev,
        "user_id",
        "ts",
        "event_type",
        timeout_sec=1800,
        n=3,
        tie="event_id",
    )


def q_weighted_sample_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified ES sampling
    (operators/sampling.weighted_sample_per_group): top-5 documents
    per source, weight = 1 + n_chars % 8, ranked by the same
    float-free integer ES key as weighted_sample — the per-source
    quota draw a mixture pipeline runs. One hash exchange on source,
    row_number per group. Oracle restates key and rank."""
    from gliner_transbronchialbiopsy_spark.operators import (
        sampling as _sampling,
    )

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        (F.lit(1) + F.col("n_chars") % 8).alias("weight"),
    )
    return _sampling.weighted_sample_per_group(
        docs, "source", "doc_id", "weight", k=5
    )


def q_graph_mst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum spanning forest (operators/graph.boruvka_mst) over the
    customer-supplier trade graph, weights from the portable 60-bit
    hash of the edge key (distinct -> unique MST), capped to the
    1200 lightest edges so the instance is scale-independent.
    Boruvka halves the component count per round (<= log2 V rounds,
    contraction via connected_components on the COMPONENT graph).
    Oracle: the cut property — an edge is in the MST iff its
    endpoints are not connected by strictly lighter edges — as one
    recursive CTE, a construction entirely different from the
    engine's election loop."""
    li = _read(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = _read(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    rel = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias(
                "src"
            ),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias(
                "dst"
            ),
        )
        .distinct()
    )
    wedges = rel.select(
        "src",
        "dst",
        F.conv(
            F.substring(
                F.sha2(F.concat_ws("|", "src", "dst"), 256), 1, 15
            ),
            16,
            10,
        )
        .cast("long")
        .alias("w"),
    )
    edges = wedges.orderBy("w", "src", "dst").limit(1200)
    return graph.boruvka_mst(edges, "src", "dst", "w")


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed AS-OF join (operators/ranges.asof_join): every
    'view' event picks the latest same-user 'purchase' value at or
    before it — the trade-to-quote join Spark lacks as an operator.
    Implementation is the union + last(ignorenulls) running window:
    ONE hash exchange, no join node, full-precision timestamp
    ordering with right-before-left tie rule. The purchase side is
    pre-aggregated per (user, ts) (max value) so coincident quotes
    are deterministic. Oracle: DuckDB's NATIVE ASOF JOIN — the
    engine that owns the operator restates it."""
    ev = _read(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    quotes = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.round(F.max("value"), 6).alias("quote_value"))
    )
    out = ranges.asof_join(
        views, quotes, "user_id", "ts", "ts", ["quote_value"]
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("ts").cast("timestamp_ltz").cast("long").alias("view_ep"),
        "quote_value",
        "asof_ts",
    )


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional inverted-index phrase search (operators/search):
    exact occurrences of the 3-token phrase 'key agg row' via
    posting-list position joins (each join side pre-filtered to one
    term's postings — the search-engine evaluation order, pruned the
    way the triple store prunes predicates). Oracle: the window-lead
    restatement over unnested tokens — different machinery, same
    counts."""
    from gliner_transbronchialbiopsy_spark.operators import (
        search as _search,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    idx = _search.postings(docs)
    return _search.phrase_match(idx, ["key", "agg", "row"])


def q_decayed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential time-decay (frecency) aggregates: per-user decayed
    event mass sum(2^-((T - t)/halflife)) with T = the global max
    event time and a 7-day half-life — the recency-weighted counter
    behind ranking feeds and hot-key detection. Pure map-side
    arithmetic + one partial-combine aggregate (the decay factors
    multiply OUTSIDE the sum only at merge time in streaming forms;
    batch is a single agg). Doubles rounded on the repo's 6-decimal
    oracle discipline."""
    ev = _read(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    ep = F.col("ts").cast("timestamp_ltz").cast("long")
    tmax = ev.agg(F.max(ep).alias("_T"))
    hl = 7 * 86400.0
    return (
        ev.filter(F.col("event_type") == "view")
        .crossJoin(F.broadcast(tmax))
        .groupBy("user_id")
        .agg(
            F.round(
                F.sum(F.pow(F.lit(2.0), -((F.col("_T") - ep) / hl))), 6
            ).alias("decayed_views"),
            F.count("*").alias("n_views"),
        )
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    reg = _registry()
    return {name: reg[name] for name in _driver_rotation_order(list(reg))}


def _registry() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "kg_triples": q_kg_triples,
        "kg_mentions_by_label": q_kg_mentions_by_label,
        "kg_pivot_wide": q_kg_pivot_wide,
        "q1_pricing_summary": q1_pricing_summary,
        "q3_top_orders": q3_top_orders,
        "q5_local_supplier_volume": q5_local_supplier_volume,
        "q14_promo_share": q14_promo_share,
        "filter_range": q_filter_range,
        "dedup_docs_counts": q_dedup_docs,
        "string_chain": q_string_chain,
        "grade_normalize": q_grade_normalize,
        "sha256_lineage": q_sha256,
        "lineage_counts": q_lineage_counts,
        "token_counts": q_token_counts,
        "label_stats": q_label_stats,
        "count_histogram": q_count_histogram,
        "coverage": q_coverage,
        "global_totals": q_global_totals,
        "cooccurrence": q_cooccurrence,
        "score_distribution": q_score_distribution,
        "daily_counts": q_daily_counts,
        "threshold_impact": q_threshold_impact,
        "last_writer_wins": q_last_writer_wins,
        "topk_per_group": q_topk_per_group,
        "union_distinct": q_union_distinct,
        "kfold_split": q_kfold_split,
        "broadcast_lookup": q_broadcast_lookup,
        "corrections_merge": q_corrections_merge,
        "dedup_exact_prefix": q_dedup_exact_prefix,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_minhash": q_dedup_minhash,
        "dedup_simhash": q_dedup_simhash,
        "embedding_near_dup": q_embedding_near_dup,
        "sim_topk_cosine": q_sim_topk_cosine,
        "sim_knn_join": q_sim_knn_join,
        "sim_ivf_topk": q_sim_ivf_topk,
        "sim_ivf_kmeans": q_sim_ivf_kmeans,
        "sim_pairs_topk": q_sim_pairs_topk,
        "fold_metrics": q_fold_metrics,
        "training_records": q_training_records,
        "scores_map_stats": q_scores_map_stats,
        "json_extract_agg": q_json_extract_agg,
        "sessionize": q_sessionize,
        "asof_prior_view": q_asof_prior_view,
        "cube_counts": q_cube_counts,
        "rollup_revenue": q_rollup_revenue,
        "vocab_topk": q_vocab_topk,
        "sample_stratified": q_sample_stratified,
        "corpus_curation": q_corpus_curation,
        "curation_report": q_curation_report,
        "curation_near_dup": q_curation_near_dup,
        "curation_repetition": q_curation_repetition,
        "skew_salted_agg": q_skew_salted_agg,
        "skew_distinct_agg": q_skew_distinct_agg,
        "text_langid": q_text_langid,
        "text_quality": q_text_quality,
        "text_fingerprint": q_text_fingerprint,
        "text_repetition": q_text_repetition,
        "pii_redaction": q_pii_redaction,
        "decontam_overlap": q_decontam_overlap,
        "pack_chunks": q_pack_chunks,
        "chunk_sliding": q_chunk_sliding,
        "mixture_sample": q_mixture_sample,
        "lm_perplexity": q_lm_perplexity,
        "perplexity_buckets": q_perplexity_buckets,
        "weak_labels": q_weak_labels,
        "tfidf_terms": q_tfidf_terms,
        "bm25_topk": q_bm25_topk,
        "rrf_hybrid": q_rrf_hybrid,
        "colloc_pmi": q_colloc_pmi,
        "line_dedup": q_line_dedup,
        "graph_pagerank": q_graph_pagerank,
        "graph_ppr": q_graph_ppr,
        "dedup_incremental": q_dedup_incremental,
        "kg_constraint_violations": q_kg_constraint_violations,
        "kg_bgp_match": q_kg_bgp_match,
        "dsir_weights": q_dsir_weights,
        "kg_bgp_optional": q_kg_bgp_optional,
        "kg_bgp_union": q_kg_bgp_union,
        "kg_bgp_minus": q_kg_bgp_minus,
        "kg_cluster_eval": q_kg_cluster_eval,
        "kg_rule_closure": q_kg_rule_closure,
        "kg_construct": q_kg_construct,
        "kg_update_where": q_kg_update_where,
        "kg_sparql_update": q_kg_sparql_update,
        "kg_direct_map": q_kg_direct_map,
        "kg_charsets": q_kg_charsets,
        "bpe_pair_counts": q_bpe_pair_counts,
        "kg_negative_samples": q_kg_negative_samples,
        "graph_random_walks": q_graph_random_walks,
        "state_intervals": q_state_intervals,
        "event_sessions": q_event_sessions,
        "weighted_sample": q_weighted_sample,
        "cube_revenue": q_cube_revenue,
        "edit_distance_pairs": q_edit_distance_pairs,
        "interval_overlap": q_interval_overlap,
        "session_ngrams": q_session_ngrams,
        "weighted_sample_group": q_weighted_sample_group,
        "graph_mst": q_graph_mst,
        "asof_join_quotes": q_asof_join,
        "phrase_search": q_phrase_search,
        "decayed_counts": q_decayed_counts,
        "graph_communities": q_graph_communities,
        "graph_centrality": q_graph_centrality,
        "graph_jaccard": q_graph_jaccard,
        "kg_temporal_reach": q_kg_temporal_reach,
        "nb_classify": q_nb_classify,
        "kg_graph_bgp": q_kg_graph_bgp,
        "kg_sparql_graph": q_kg_sparql_graph,
        "lm_stupid_backoff": q_lm_stupid_backoff,
        "event_funnel": q_event_funnel,
        "graph_distance_hist": q_graph_distance_hist,
        "graph_betweenness": q_graph_betweenness,
        "jaccard_prefix_join": q_jaccard_prefix_join,
        "tfidf_cosine": q_tfidf_cosine,
        "graph_assortativity": q_graph_assortativity,
        "kg_sparql_repetition": q_kg_sparql_repetition,
        "graph_modularity": q_graph_modularity,
        "cms_heavy_hitters": q_cms_heavy_hitters,
        "linear_counting": q_linear_counting,
        "hll_cardinality": q_hll_cardinality,
        "bloom_semijoin": q_bloom_semijoin,
        "snm_blocking": q_snm_blocking,
        "theta_intersection": q_theta_intersection,
        "ams_f2": q_ams_f2,
        "hrw_routing": q_hrw_routing,
        "graph_edge_support": q_graph_edge_support,
        "graph_ktruss": q_graph_ktruss,
        "skyline_pareto": q_skyline_pareto,
        "scd2_apply": q_scd2_apply,
        "graph_reciprocity": q_graph_reciprocity,
        "graph_katz": q_graph_katz,
        "kg_diff": q_kg_diff,
        "kg_reachability": q_kg_reachability,
        "kg_type_inference": q_kg_type_inference,
        "kg_ntriples": q_kg_ntriples,
        "kg_property_path": q_kg_property_path,
        "kg_domain_range": q_kg_domain_range,
        "kg_linkpred_metrics": q_kg_linkpred_metrics,
        "kg_weighted_paths": q_kg_weighted_paths,
        "kg_path_seeded": q_kg_path_seeded,
        "kg_sameas_rewrite": q_kg_sameas_rewrite,
        "quantiles_exact": q_quantiles_exact,
        "winsorized_stats": q_winsorized_stats,
        "fuzzy_match_blocked": q_fuzzy_match_blocked,
        "graph_triangles": q_graph_triangles,
        "graph_clustering": q_graph_clustering,
        "graph_kcore": q_graph_kcore,
        "graph_adamic_adar": q_graph_adamic_adar,
        "range_window_join": q_range_window_join,
        "kg_composed_query": q_kg_composed_query,
        "kg_composed_agg": q_kg_composed_agg,
        "kg_composed_construct": q_kg_composed_construct,
        "kg_sparql_query": q_kg_sparql_query,
        "passage_dedup": q_passage_dedup,
        "kg_sparql_ask": q_kg_sparql_ask,
        "kg_owl_entail": q_kg_owl_entail,
        "kg_sparql_describe": q_kg_sparql_describe,
        "kg_sparql_having": q_kg_sparql_having,
        "graph_hits": q_graph_hits,
        "kg_sparql_exists": q_kg_sparql_exists,
        "kg_optimized_bgp": q_kg_optimized_bgp,
        "graph_scc": q_graph_scc,
        "kg_sparql_subquery": q_kg_sparql_subquery,
        "kg_sparql_multiunion": q_kg_sparql_multiunion,
        "kg_asof_snapshot": q_kg_asof_snapshot,
        "graph_condensation": q_graph_condensation,
        "kg_sparql_aggpath": q_kg_sparql_aggpath,
        "kg_sparql_undef": q_kg_sparql_undef,
        "winnow_fingerprints": q_winnow_fingerprints,
        "winnow_pairs": q_winnow_pairs,
    }


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------


# shared DuckDB CTE chain restating textstats.lang_id + quality_score
# over the documents table — interpolated into BOTH curation oracles so
# the two restatements of the same operators cannot drift
_CURATION_CTE_SQL = r"""
            WITH RECURSIVE h AS (
              SELECT doc_id, text,
                len(regexp_extract_all(lower(text), '\b(?:der|die|das|und|ist)\b')) AS de,
                len(regexp_extract_all(lower(text), '\b(?:the|and|of|is|with)\b')) AS en,
                len(regexp_extract_all(lower(text), '\b(?:el|los|las|que|es)\b')) AS es,
                len(regexp_extract_all(lower(text), '\b(?:le|la|les|de|et|est)\b')) AS fr
              FROM documents),
            l AS (
              SELECT doc_id, text,
                     CASE WHEN de = 0 AND en = 0 AND es = 0 AND fr = 0 THEN 'und'
                          WHEN de >= en AND de >= es AND de >= fr THEN 'de'
                          WHEN en >= es AND en >= fr THEN 'en'
                          WHEN es >= fr THEN 'es'
                          ELSE 'fr' END AS lang_pred
              FROM h),
            f AS (
              SELECT doc_id, lang_pred, text,
                     length(text) AS n_chars,
                     CASE WHEN trim(text) = '' THEN 0
                          ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
                     len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
                     len(regexp_extract_all(lower(text),
                         '\b(?:the|and|of|is|le|la|de|et|der|und|el|que)\b')) AS n_stop
              FROM l),
            s AS (
              SELECT doc_id, lang_pred, text,
                     round(
                       least(n_tokens / 100.0, 1.0) * 0.4
                       + (1 - least(round(n_punct / CAST(greatest(n_chars, 1) AS DOUBLE), 4) * 5, 1.0)) * 0.3
                       + least(round(n_stop / CAST(greatest(n_tokens, 1) AS DOUBLE), 4) * 4, 1.0) * 0.3,
                     4) AS quality_score
              FROM f)
"""

# the four-stage chain: _CURATION_CTE_SQL's scalar stages + exact-dedup
# survivors (k) + the MinHash near-dup stage restated end-to-end —
# char-5-gram shingles, lane-sliced sha256 signature family (8 digests
# x 4 lanes = 32 slots, mirroring linking.portable_digest/
# portable_lane60), 8 bands x 4 slots, the 64-row hot-bucket cap,
# banded candidate self-join, slot-match Jaccard estimate >= 0.5, then
# connected components as a recursive min-label propagation (labels
# flow along edges while label < destination; the cluster minimum
# reaches every member because it is smaller than every node on the
# path) and cluster losers = nodes whose component min is not
# themselves. Node ids are VARCHAR doc_ids — STRING order, matching
# the Spark LSH stage's string rep ids.
_CURATION_ND_CTE_SQL = _CURATION_CTE_SQL + r"""
            , k AS (
              SELECT doc_id, lang_pred, quality_score, text,
                     row_number() OVER (
                       PARTITION BY text ORDER BY doc_id
                     ) AS rn
              FROM s WHERE lang_pred = 'en' AND quality_score >= 0.45),
            -- MATERIALIZED: the recursive nd_cc below references these;
            -- without the hint DuckDB inlines them and re-evaluates the
            -- whole MinHash chain on every recursion iteration
            -- (measured: 5.9s of a 6.1s query in the REC_CTE node)
            nd_nodes AS MATERIALIZED (
              SELECT CAST(doc_id AS VARCHAR) AS node, text
              FROM k WHERE rn = 1),
            nd_shingles AS (
              SELECT t.node, sh.sh
              FROM nd_nodes t, LATERAL (
                SELECT DISTINCT
                       substr(lower(t.text), CAST(u.i AS INT), 5) AS sh
                FROM unnest(range(1, greatest(len(lower(t.text)) - 4, 1) + 1))
                     u(i)
              ) sh),
            -- hash DISTINCT shingle values once, then join back: the
            -- digest depends only on the shingle string, and shingles
            -- repeat heavily across documents
            nd_shvals AS (SELECT DISTINCT sh FROM nd_shingles),
            nd_shdg AS (
              SELECT v.sh, CAST(b.b AS INT) AS b,
                     sha256(v.sh || chr(31) || CAST(b.b AS VARCHAR)) AS dg
              FROM nd_shvals v, range(0, 8) b(b)),
            nd_shhash AS (
              SELECT d.sh, CAST(d.b * 4 + l.l AS INT) AS slot,
                     CAST('0x' || substr(
                           d.dg, CAST(l.l * 15 + 1 AS INT), 15)
                         AS BIGINT) AS h
              FROM nd_shdg d, range(0, 4) l(l)),
            nd_minh AS (
              SELECT s.node, h.slot, min(h.h) AS h
              FROM nd_shingles s JOIN nd_shhash h USING (sh)
              GROUP BY 1, 2),
            nd_bands AS (
              SELECT node, CAST(slot // 4 AS INT) AS band_id,
                     string_agg(CAST(h AS VARCHAR), ',' ORDER BY slot)
                       AS band_key
              FROM nd_minh GROUP BY node, slot // 4),
            nd_okb AS (
              SELECT band_id, band_key FROM nd_bands
              GROUP BY 1, 2 HAVING count(*) <= 64),
            nd_capped AS (
              SELECT b.* FROM nd_bands b
              JOIN nd_okb USING (band_id, band_key)),
            nd_cand AS (
              SELECT DISTINCT a.node AS na, b.node AS nb
              FROM nd_capped a
              JOIN nd_capped b ON a.band_id = b.band_id
                              AND a.band_key = b.band_key
                              AND a.node < b.node),
            nd_edges AS (
              SELECT c.na, c.nb
              FROM nd_cand c
              JOIN nd_minh ha ON ha.node = c.na
              JOIN nd_minh hb ON hb.node = c.nb AND hb.slot = ha.slot
              GROUP BY 1, 2
              HAVING sum(CASE WHEN ha.h = hb.h THEN 1 ELSE 0 END) / 32.0
                     >= 0.5),
            nd_sym AS MATERIALIZED (
              SELECT na AS src, nb AS dst FROM nd_edges
              UNION ALL
              SELECT nb, na FROM nd_edges),
            nd_cc AS (
              SELECT node, node AS label FROM nd_nodes
              UNION
              SELECT e.dst, c.label
              FROM nd_cc c JOIN nd_sym e ON e.src = c.node
              WHERE c.label < e.dst),
            nd_losers AS (
              SELECT node FROM nd_cc
              GROUP BY node HAVING min(label) <> node)
"""


def _bm25_ctes() -> str:
    """The BM25 WITH-body through `agg` (doc_id, n_terms, score_fp) —
    shared by the bm25_topk oracle and the rrf_hybrid fusion oracle
    so the lexical arm is restated ONCE. Restates
    termstats.bm25_topk expression-for-expression. The c0/c1 double
    constants are embedded via repr() from the SAME bm25_constants()
    call the Spark side uses, so both engines floor identical IEEE
    doubles; num // (den*10) is exact long division of non-negatives
    (truncation == floor)."""
    from gliner_transbronchialbiopsy_spark.operators.termstats import (
        SCALE,
        bm25_constants,
    )

    c0, c1, tf_num = bm25_constants()
    terms = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    return rf"""t AS (
          SELECT doc_id,
            CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                 ELSE string_split_regex(trim(lower(text)), '\s+')
            END AS tk
          FROM documents),
        lens AS (SELECT doc_id, len(tk) AS dl FROM t),
        tot AS (
          SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl
          FROM lens),
        e AS (SELECT doc_id, unnest(tk) AS token FROM t),
        hits AS (
          SELECT doc_id, token, count(*) AS c
          FROM e WHERE token IN ({terms})
          GROUP BY doc_id, token),
        dfreq AS (SELECT token, count(*) AS df_docs FROM hits GROUP BY token),
        idf AS (
          SELECT token,
            CAST(floor(ln((tot.n_docs - df_docs + 0.5)
                          / (df_docs + 0.5) + 1.0) * {SCALE})
                 AS BIGINT) AS idf_fp
          FROM dfreq, tot),
        sc AS (
          SELECT h.doc_id, h.token,
            (idf.idf_fp * h.c * {tf_num}) AS num,
            CAST(floor((CAST(h.c AS DOUBLE) + {c0!r}
                        + {c1!r} * ((CAST(l.dl AS DOUBLE) * tot.n_docs)
                                    / tot.sum_dl)) * 1000.0)
                 AS BIGINT) AS den
          FROM hits h
          JOIN lens l ON l.doc_id = h.doc_id
          JOIN idf ON idf.token = h.token, tot),
        agg AS (
          SELECT doc_id,
                 CAST(count(DISTINCT token) AS BIGINT) AS n_terms,
                 CAST(sum(num // (den * 10)) AS BIGINT) AS score_fp
          FROM sc GROUP BY doc_id)"""


def _bm25_sql(k: int = 20) -> str:
    """BM25 oracle: the shared _bm25_ctes body plus the top-k
    readout (the fixed-point bm25 double derived AFTER the cut)."""
    from gliner_transbronchialbiopsy_spark.operators.termstats import SCALE

    return f"""
        WITH {_bm25_ctes()}
        SELECT doc_id, n_terms, score_fp,
               round(score_fp / {SCALE / 1000.0!r}, 6) AS bm25
        FROM agg
        ORDER BY score_fp DESC, doc_id ASC
        LIMIT {k}
    """


def _rrf_sql(k0: int = 60, k: int = 20, scale: int = 1_000_000) -> str:
    """rrf_hybrid oracle: the shared _bm25_ctes lexical arm ranked by
    (score_fp DESC, doc_id), the sim_topk_cosine dense arm ranked by
    raw cosine, fused by pure-integer reciprocal-rank contributions
    scale // (k0 + rank) — no float enters the fusion at all."""
    return f"""
        WITH {_bm25_ctes()},
        lex AS (
          SELECT doc_id, rank FROM (
            SELECT doc_id, row_number() OVER (
              ORDER BY score_fp DESC, doc_id ASC) AS rank
            FROM agg) WHERE rank <= {k}),
        q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        prod AS (
          SELECT e.vec_id,
                 sum(CAST(z.z[1] AS DOUBLE) * CAST(z.z[2] AS DOUBLE)) AS dot,
                 sum(CAST(z.z[1] AS DOUBLE) * CAST(z.z[1] AS DOUBLE)) AS ne,
                 sum(CAST(z.z[2] AS DOUBLE) * CAST(z.z[2] AS DOUBLE)) AS nq
          FROM embeddings e, q,
               LATERAL unnest(list_zip(e.embedding, q.qv)) z(z)
          WHERE e.vec_id != 0
          GROUP BY e.vec_id),
        dense AS (
          SELECT doc_id, rank FROM (
            SELECT vec_id AS doc_id, row_number() OVER (
              ORDER BY dot / (sqrt(ne) * sqrt(nq)) DESC, vec_id) AS rank
            FROM prod) WHERE rank <= {k}),
        contrib AS (
          SELECT doc_id, {scale} // ({k0} + rank) AS c FROM lex
          UNION ALL
          SELECT doc_id, {scale} // ({k0} + rank) AS c FROM dense)
        SELECT doc_id,
               CAST(count(*) AS INT) AS n_lists,
               CAST(sum(c) AS BIGINT) AS rrf_fp,
               round(CAST(sum(c) AS BIGINT) / {float(scale)!r}, 6) AS rrf
        FROM contrib GROUP BY doc_id
        ORDER BY rrf_fp DESC, doc_id ASC
        LIMIT {k}
    """


def _katz_sql(rounds: int = 4, alpha_den: int = 100, k: int = 30) -> str:
    """Katz oracle: the event-succession edge relation, then `rounds`
    chained matrix-vector CTEs (v_r(i) = Σ_{j→i} v_{r-1}(j), all
    exact BIGINTs), the series rolled up with alpha_den^(R−r)
    weights. Mirrors graph.katz_centrality term for term."""
    ctes = [
        """
        WITH ev AS (
          SELECT user_id, event_type, ts, event_id,
                 date_trunc('hour', ts) AS hr
          FROM events),
        nx AS (
          SELECT user_id AS src,
                 lead(user_id) OVER (
                   PARTITION BY event_type, hr
                   ORDER BY ts, event_id) AS dst
          FROM ev),
        e AS MATERIALIZED (
          SELECT DISTINCT src AS a, dst AS b FROM nx
          WHERE dst IS NOT NULL AND src <> dst),
        nodes AS (SELECT a AS node FROM e UNION SELECT b FROM e),
        v0 AS (SELECT node, CAST(1 AS BIGINT) AS w FROM nodes)"""
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f""",
        v{r} AS MATERIALIZED (
          SELECT e.b AS node, CAST(sum(v{r-1}.w) AS BIGINT) AS w
          FROM e JOIN v{r-1} ON v{r-1}.node = e.a
          GROUP BY e.b)"""
        )
    terms = "\n          UNION ALL ".join(
        f"SELECT node, w * {alpha_den ** (rounds - r)} AS t FROM v{r}"
        for r in range(1, rounds + 1)
    )
    denom = float(alpha_den ** rounds)
    return (
        "".join(ctes)
        + f""",
        terms AS ({terms}),
        agg AS (SELECT node, CAST(sum(t) AS BIGINT) AS katz_fp
                FROM terms GROUP BY node)
        SELECT node, katz_fp,
               round(katz_fp / {denom!r}, 6) AS katz
        FROM agg ORDER BY katz_fp DESC, node ASC LIMIT {k}
    """
    )


def _ams_sql(lanes: int = 64) -> str:
    """AMS F2 oracle: one aggregate row of `lanes` exact ±1 sums over
    the lane-sliced digest family (substr(sha256(v || chr(31) ||
    block), 15*lane+1, 15) — mirrors linking.portable_digest/
    portable_lane60), squared and averaged, beside the exact
    self-join size."""
    zcols = []
    for j in range(lanes):
        b, lane = divmod(j, 4)
        start = 15 * lane + 1
        zcols.append(
            f"CAST(sum(1 - 2 * (CAST(concat('0x', substr(sha256("
            f"v || chr(31) || '{b}'), {start}, 15)) AS BIGINT) % 2)) "
            f"AS BIGINT) AS z{j}"
        )
    zsel = ",\n              ".join(zcols)
    ssq = " + ".join(f"z{j} * z{j}" for j in range(lanes))
    return f"""
        WITH it AS (SELECT CAST(user_id AS VARCHAR) AS v FROM events),
        z AS (SELECT
              {zsel}
              FROM it),
        tx AS (SELECT CAST(sum(c * c) AS BIGINT) AS true_f2 FROM (
                 SELECT count(*) AS c FROM it GROUP BY v))
        SELECT {lanes} AS n_lanes,
               CAST({ssq} AS BIGINT) AS sum_sq,
               round(CAST({ssq} AS BIGINT) / {float(lanes)!r}, 4)
                 AS est_f2,
               tx.true_f2
        FROM z, tx
    """


def _ktruss_sql(rounds: int = 8, k: int = 4) -> str:
    """Unrolled k-truss peel oracle: rounds chained support-filter
    CTEs over the l_orderkey%6 co-purchase relation (support of edge
    (u,v) = common-neighbor count via two adjacency joins), then the
    converged support recomputed on the final edge set. rounds must
    be >= the probed convergence round count at every SF (5/5/4 for
    sf0.001/0.01/0.1) — peeling past the fixed point is idempotent."""
    parts = [
        """
        WITH li AS (
          SELECT l_orderkey, l_partkey FROM lineitem
          WHERE l_orderkey % 6 = 0
        ),
        r0 AS MATERIALIZED (
          SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
                          greatest(a.l_partkey, b.l_partkey) AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey < b.l_partkey
        )"""
    ]
    for r in range(rounds):
        parts.append(
            f""",
        a{r} AS MATERIALIZED (SELECT u AS x, v AS y FROM r{r}
                 UNION ALL SELECT v AS x, u AS y FROM r{r}),
        r{r + 1} AS MATERIALIZED (
          SELECT e.u, e.v
          FROM r{r} e
          JOIN a{r} a1 ON a1.x = e.u
          JOIN a{r} a2 ON a2.x = e.v AND a2.y = a1.y
          GROUP BY e.u, e.v
          HAVING count(*) >= {k - 2}
        )"""
        )
    parts.append(
        f""",
        afin AS MATERIALIZED (SELECT u AS x, v AS y FROM r{rounds}
                 UNION ALL SELECT v AS x, u AS y FROM r{rounds}),
        sup AS (
          SELECT e.u, e.v, count(*) AS support
          FROM r{rounds} e
          JOIN afin a1 ON a1.x = e.u
          JOIN afin a2 ON a2.x = e.v AND a2.y = a1.y
          GROUP BY e.u, e.v
        )
        SELECT e.u, e.v,
               CAST(coalesce(s.support, 0) AS BIGINT) AS support
        FROM r{rounds} e
        LEFT JOIN sup s ON s.u = e.u AND s.v = e.v
        ORDER BY support DESC, e.u ASC, e.v ASC
        LIMIT 100"""
    )
    return "".join(parts)


def _lpa_sql(iterations: int = 3) -> str:
    """DuckDB restatement of graph.label_propagation over the
    part-supplier graph: one chained CTE per synchronous round, the
    same (count DESC, label ASC) total-order election as the Spark
    loop."""
    head = """
        WITH und AS MATERIALIZED (
          SELECT DISTINCT 'p:' || CAST(l_partkey AS VARCHAR) AS u,
                 's:' || CAST(l_suppkey AS VARCHAR) AS v
          FROM lineitem),
        sym AS MATERIALIZED (
          SELECT u, v FROM und UNION ALL SELECT v AS u, u AS v FROM und),
        l0 AS (SELECT DISTINCT u AS node, u AS label FROM sym)"""
    step = """
        l{i} AS (
          SELECT node, label FROM (
            SELECT s.u AS node, l.label,
                   row_number() OVER (
                     PARTITION BY s.u
                     ORDER BY count(*) DESC, l.label ASC) AS rn
            FROM sym s JOIN l{prev} l ON s.v = l.node
            GROUP BY s.u, l.label)
          WHERE rn = 1)"""
    tail = """
        SELECT label, count(*) AS n_members
        FROM l{last} GROUP BY label
        ORDER BY n_members DESC, label ASC LIMIT 20"""
    steps = [step.format(i=i, prev=i - 1) for i in range(1, iterations + 1)]
    return head + "," + ",".join(steps) + tail.format(last=iterations)


_LPA_SQL = _lpa_sql(3)


def _modularity_sql(iterations: int = 3) -> str:
    """LPA chained-CTE rounds + a Newman-Girvan modularity roll-up:
    q_num = sum_c [4m*e_c - d_c^2] over exact longs (= 4m^2 * Q)."""
    base = _lpa_sql(iterations)
    old_tail = """
        SELECT label, count(*) AS n_members
        FROM l{last} GROUP BY label
        ORDER BY n_members DESC, label ASC LIMIT 20""".format(
        last=iterations
    )
    assert old_tail in base
    new_tail = """,
        mm AS (SELECT count(*) AS m FROM und),
        lab AS (SELECT node, label FROM l{last}),
        internal AS (
          SELECT la.label AS c, count(*) AS e_c
          FROM und
          JOIN lab la ON und.u = la.node
          JOIN lab lb ON und.v = lb.node AND la.label = lb.label
          GROUP BY la.label),
        degs AS (
          SELECT n, count(*) AS deg FROM (
            SELECT u AS n FROM und UNION ALL SELECT v AS n FROM und)
          GROUP BY n),
        dsum AS (
          SELECT l.label AS c, CAST(sum(d.deg) AS BIGINT) AS d_c
          FROM lab l JOIN degs d ON l.node = d.n
          GROUP BY l.label),
        per AS (
          SELECT ds.c,
                 CAST(4 * mm.m * coalesce(i.e_c, 0)
                      - ds.d_c * ds.d_c AS BIGINT) AS q_c,
                 mm.m
          FROM dsum ds LEFT JOIN internal i ON ds.c = i.c, mm)
        SELECT m, count(*) AS n_communities,
               CAST(sum(q_c) AS BIGINT) AS q_num,
               round(CAST(sum(q_c) AS DOUBLE)
                     / (4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)), 6)
                 AS modularity
        FROM per GROUP BY m""".format(last=iterations)
    return base.replace(old_tail, new_tail)


_MODULARITY_SQL = _modularity_sql(3)


def _walks_sql(walk_length: int = 3, walks_per_node: int = 2) -> str:
    """DuckDB restatement of graph.random_walks over the symmetric
    part-supplier graph: one chained CTE per step, the same sha256
    draw arithmetic as the Spark loop (the graph is symmetric, so no
    dead-end branch is needed in SQL)."""
    walk_ids = ", ".join(str(i) for i in range(walks_per_node))
    head = f"""
        WITH und AS MATERIALIZED (
          SELECT DISTINCT 'p:' || CAST(l_partkey AS VARCHAR) AS u,
                 's:' || CAST(l_suppkey AS VARCHAR) AS v
          FROM lineitem),
        sym AS MATERIALIZED (
          SELECT u, v FROM und UNION ALL SELECT v AS u, u AS v FROM und),
        adj AS MATERIALIZED (
          SELECT u, v AS nxt,
                 row_number() OVER (PARTITION BY u ORDER BY v) - 1 AS idx
          FROM sym),
        deg AS MATERIALIZED (SELECT u, count(*) AS n_out FROM adj GROUP BY u),
        s0 AS (
          SELECT n.u AS start, w.w AS walk, n.u AS cur, n.u AS path
          FROM (SELECT DISTINCT u FROM sym) n,
          LATERAL unnest([{walk_ids}]) w(w))"""
    step = """
        s{i} AS (
          SELECT s.start, s.walk, a.nxt AS cur,
                 s.path || '>' || a.nxt AS path
          FROM s{prev} s
          JOIN deg d ON d.u = s.cur
          JOIN adj a ON a.u = s.cur AND a.idx =
            CAST(concat('0x', substr(sha256(
              s.cur || chr(31) || CAST(s.walk AS VARCHAR)
              || chr(31) || '{i}'), 1, 15)) AS BIGINT) % d.n_out)"""
    tail = """
        SELECT start, walk, path FROM s{last}"""
    steps = [step.format(i=i, prev=i - 1) for i in range(1, walk_length + 1)]
    return head + "," + ",".join(steps) + tail.format(last=walk_length)


_WALKS_SQL = _walks_sql(3, 2)


def _pagerank_sql(iterations: int = 5) -> str:
    """DuckDB restatement of graph.pagerank over the customer-supplier
    trade graph: the same integer recurrence as the Spark loop, one
    chained CTE per power iteration (fixed-point longs make the two
    engines bit-identical — see operators/graph.py)."""
    head = r"""
        WITH rel AS (
          SELECT 'c:' || CAST(o.o_custkey AS VARCHAR) AS cn,
                 's:' || CAST(l.l_suppkey AS VARCHAR) AS sn
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        ed AS (
          SELECT cn AS src, sn AS dst, count(*) AS w
          FROM rel GROUP BY cn, sn
          UNION ALL
          SELECT sn AS src, cn AS dst, count(*) AS w
          FROM rel GROUP BY sn, cn),
        wt AS (
          SELECT src, CAST(sum(w) AS BIGINT) AS wtot
          FROM ed GROUP BY src),
        ew AS (
          SELECT ed.src, ed.dst, ed.w, wt.wtot
          FROM ed JOIN wt USING (src)),
        nodes AS (SELECT src AS node FROM ed UNION SELECT dst FROM ed),
        nn AS (SELECT count(*) AS n FROM nodes),
        pr0 AS (
          SELECT node, CAST(1000000000 AS BIGINT) // nn.n AS rank_fp
          FROM nodes, nn)"""
    steps = []
    for i in range(1, iterations + 1):
        steps.append(f"""
        pr{i} AS (
          SELECT n.node,
            CAST((15 * CAST(1000000000 AS BIGINT)) // (100 * nn.n)
                 + (85 * coalesce(s.c, 0)) // 100 AS BIGINT) AS rank_fp
          FROM nodes n CROSS JOIN nn
          LEFT JOIN (
            SELECT e.dst AS node,
                   CAST(sum((p.rank_fp * e.w) // e.wtot) AS BIGINT) AS c
            FROM pr{i-1} p JOIN ew e ON e.src = p.node
            GROUP BY e.dst) s ON s.node = n.node)""")
    tail = f"""
        SELECT node, rank_fp FROM pr{iterations}
        ORDER BY rank_fp DESC, node ASC LIMIT 20
    """
    return head + "," + ",".join(steps) + tail


_PAGERANK_SQL = _pagerank_sql(5)


def _hits_sql(iterations: int = 3) -> str:
    """DuckDB restatement of graph.hits over the part->supplier
    graph: the same integer L1-normalized recurrence, one CTE pair
    (authority then hub) per iteration; DuckDB's `//` and Spark's
    `div` agree on the non-negative longs involved."""
    # every CTE that is referenced more than once MUST be AS
    # MATERIALIZED: DuckDB inlines plain CTEs per reference, and each
    # HITS round reads its raw table twice (L1 total + normalize), so
    # un-materialized chains re-evaluate the whole prefix 2x per
    # round — measured exponential at sf0.1 (the recursive-CTE
    # footgun's non-recursive sibling).
    head = r"""
        WITH ed AS MATERIALIZED (
          SELECT DISTINCT 'p:' || CAST(l_partkey AS VARCHAR) AS src,
                 's:' || CAST(l_suppkey AS VARCHAR) AS dst
          FROM lineitem),
        nodes AS MATERIALIZED (
          SELECT src AS node FROM ed UNION SELECT dst FROM ed),
        nn AS (SELECT count(*) AS n FROM nodes),
        h0 AS MATERIALIZED (
          SELECT node, CAST(1000000000 AS BIGINT) // nn.n AS hub
          FROM nodes, nn)"""
    steps = []
    for i in range(1, iterations + 1):
        steps.append(f"""
        a{i}raw AS MATERIALIZED (
          SELECT n.node, CAST(coalesce(s.c, 0) AS BIGINT) AS raw
          FROM nodes n LEFT JOIN (
            SELECT e.dst AS node, sum(h.hub) AS c
            FROM ed e JOIN h{i - 1} h ON h.node = e.src
            GROUP BY e.dst) s ON s.node = n.node),
        a{i}t AS (SELECT sum(raw) AS tot FROM a{i}raw),
        a{i} AS MATERIALIZED (
          SELECT node,
                 CASE WHEN t.tot > 0
                      THEN (raw * CAST(1000000000 AS BIGINT)) // t.tot
                      ELSE 0 END AS auth
          FROM a{i}raw, a{i}t t),
        h{i}raw AS MATERIALIZED (
          SELECT n.node, CAST(coalesce(s.c, 0) AS BIGINT) AS raw
          FROM nodes n LEFT JOIN (
            SELECT e.src AS node, sum(a.auth) AS c
            FROM ed e JOIN a{i} a ON a.node = e.dst
            GROUP BY e.src) s ON s.node = n.node),
        h{i}t AS (SELECT sum(raw) AS tot FROM h{i}raw),
        h{i} AS MATERIALIZED (
          SELECT node,
                 CASE WHEN t.tot > 0
                      THEN (raw * CAST(1000000000 AS BIGINT)) // t.tot
                      ELSE 0 END AS hub
          FROM h{i}raw, h{i}t t)""")
    tail = f"""
        SELECT h.node, h.hub AS hub_fp, a.auth AS auth_fp
        FROM h{iterations} h JOIN a{iterations} a USING (node)
        ORDER BY auth_fp DESC, hub_fp DESC, node ASC LIMIT 25
    """
    return head + "," + ",".join(steps) + tail


_HITS_SQL = _hits_sql(3)


def _ppr_sql(iterations: int = 5) -> str:
    """DuckDB restatement of seeded graph.pagerank: identical chained
    CTEs, but the teleport base and initial mass land only on seed
    nodes present in the graph (nation-0 customers)."""
    head = r"""
        WITH rel AS (
          SELECT 'c:' || CAST(o.o_custkey AS VARCHAR) AS cn,
                 's:' || CAST(l.l_suppkey AS VARCHAR) AS sn
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        ed AS (
          SELECT cn AS src, sn AS dst, count(*) AS w
          FROM rel GROUP BY cn, sn
          UNION ALL
          SELECT sn AS src, cn AS dst, count(*) AS w
          FROM rel GROUP BY sn, cn),
        wt AS (
          SELECT src, CAST(sum(w) AS BIGINT) AS wtot
          FROM ed GROUP BY src),
        ew AS (
          SELECT ed.src, ed.dst, ed.w, wt.wtot
          FROM ed JOIN wt USING (src)),
        nodes AS (SELECT src AS node FROM ed UNION SELECT dst FROM ed),
        seeds AS (
          SELECT DISTINCT 'c:' || CAST(c_custkey AS VARCHAR) AS node
          FROM customer WHERE c_nationkey = 0),
        sn AS (
          SELECT n.node, (s.node IS NOT NULL) AS is_seed
          FROM nodes n LEFT JOIN seeds s ON n.node = s.node),
        ns AS (SELECT count(*) AS n FROM sn WHERE is_seed),
        pr0 AS (
          SELECT node,
                 CASE WHEN is_seed
                      THEN CAST(1000000000 AS BIGINT) // ns.n
                      ELSE CAST(0 AS BIGINT) END AS rank_fp
          FROM sn, ns)"""
    steps = []
    for i in range(1, iterations + 1):
        steps.append(f"""
        pr{i} AS (
          SELECT n.node,
            CAST(CASE WHEN n.is_seed
                      THEN (15 * CAST(1000000000 AS BIGINT)) // (100 * ns.n)
                      ELSE 0 END
                 + (85 * coalesce(s.c, 0)) // 100 AS BIGINT) AS rank_fp
          FROM sn n CROSS JOIN ns
          LEFT JOIN (
            SELECT e.dst AS node,
                   CAST(sum((p.rank_fp * e.w) // e.wtot) AS BIGINT) AS c
            FROM pr{i-1} p JOIN ew e ON e.src = p.node
            GROUP BY e.dst) s ON s.node = n.node)""")
    tail = f"""
        SELECT node, rank_fp FROM pr{iterations}
        ORDER BY rank_fp DESC, node ASC LIMIT 20
    """
    return head + "," + ",".join(steps) + tail


_PPR_SQL = _ppr_sql(5)


def oracle_sql() -> dict[str, str]:
    kw_values = _KW_VALUES_SQL
    return {
        "kg_triples": f"""
            SELECT d.source || '/' || CAST(d.doc_id AS VARCHAR) || '@HEAD' AS subj,
                   l.label AS pred,
                   u.obj AS obj
            FROM documents d
            JOIN (VALUES {kw_values}) l(label, rx) ON TRUE,
            LATERAL unnest(regexp_extract_all(d.text, l.rx)) u(obj)
        """,
        "kg_mentions_by_label": f"""
            WITH m AS (
              SELECT d.doc_id, l.label,
                     regexp_extract_all(d.text, l.rx) AS hits
              FROM documents d
              JOIN (VALUES {kw_values}) l(label, rx) ON TRUE
            ),
            u AS (
              SELECT m.doc_id, m.label, x.obj
              FROM m, LATERAL unnest(m.hits) x(obj)
            )
            SELECT label AS pred,
                   count(*) AS n_mentions,
                   count(DISTINCT doc_id) AS n_docs,
                   count(DISTINCT obj) AS n_surfaces
            FROM u GROUP BY label
        """,
        "kg_pivot_wide": f"""
            WITH m AS (
              SELECT d.doc_id, l.label,
                     nullif(array_to_string(regexp_extract_all(d.text, l.rx), ';'), '') AS cell
              FROM documents d
              JOIN (VALUES {kw_values}) l(label, rx) ON TRUE
            )
            SELECT doc_id,
                   max(CASE WHEN label = 'data_noun' THEN cell END) AS data_noun,
                   max(CASE WHEN label = 'engine' THEN cell END) AS engine,
                   max(CASE WHEN label = 'exec_op' THEN cell END) AS exec_op
            FROM m GROUP BY doc_id
            HAVING data_noun IS NOT NULL OR engine IS NOT NULL OR exec_op IS NOT NULL
        """,
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q3_top_orders": """
            SELECT l.l_orderkey,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE c.c_mktsegment = 'BUILDING'
            GROUP BY l.l_orderkey
            ORDER BY revenue DESC, l.l_orderkey
            LIMIT 10
        """,
        "q5_local_supplier_volume": """
            SELECT n.n_name,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
                     AS revenue,
                   count(*) AS n_items
            FROM lineitem l
            JOIN orders o   ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n   ON c.c_nationkey = n.n_nationkey
                           AND s.s_nationkey = n.n_nationkey
            JOIN region r   ON n.n_regionkey = r.r_regionkey
            GROUP BY n.n_name
        """,
        "q14_promo_share": """
            SELECT round(
                     100.0 * sum(CASE WHEN p.p_type = 'ECONOMY'
                                      THEN l.l_extendedprice * (1 - l.l_discount)
                                      ELSE 0.0 END)
                     / sum(l.l_extendedprice * (1 - l.l_discount)), 4)
                     AS promo_share_pct,
                   count(*) AS n_items
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE l.l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        """,
        "filter_range": """
            SELECT event_type, count(*) AS n, round(sum(value), 2) AS total
            FROM events
            WHERE value BETWEEN 10 AND 50
              AND event_type IN ('click', 'view', 'purchase')
            GROUP BY event_type
        """,
        "dedup_docs_counts": """
            SELECT count(DISTINCT text) AS n_distinct,
                   count(*) AS n_total,
                   count(DISTINCT substring(text, 1, 25)) AS n_distinct_prefix
            FROM documents
        """,
        "string_chain": r"""
            SELECT doc_id,
                   trim(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(text, '\s+', ' ', 'g'),
                         '\s*([.,;:!?])\s*', '\1 ', 'g'),
                       '[-‐‑‒–—―]+', '-', 'g')
                   ) AS cleaned
            FROM documents
        """,
        "grade_normalize": r"""
            SELECT doc_id,
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(
                           'grade a' || CAST(doc_id % 5 AS VARCHAR)
                             || ' puis A' || CAST(doc_id % 4 AS VARCHAR)
                             || 'B' || CAST(doc_id % 3 AS VARCHAR),
                           'A(\d|\+|x|X)B(\d|\+|x|X)', 'A\1 B\2', 'g'),
                         '[Aa](\d|\+|x|X)[Bb](\d|\+|x|X)', 'A\1 B\2', 'g'),
                       'grade\s+([AaBb])(\d|\+|x|X)', 'Grade \1\2', 'g'),
                     '([AaBb])(\d|\+|x|X)\s*-\s*([AaBb])(\d|\+|x|X)', '\1\2 \3\4', 'g'
                   ) AS normalized
            FROM documents
        """,
        "sha256_lineage": """
            SELECT doc_id, sha256(text) AS content_sha256 FROM documents
        """,
        "token_counts": r"""
            SELECT doc_id,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(string_split_regex(trim(text), '\s+')) END AS n_ws_tokens,
                   len(regexp_extract_all(text, '\b\w+\b|[^\w\s]')) AS n_pieces
            FROM documents
        """,
        "label_stats": """
            SELECT event_type,
                   count(*) AS n,
                   count(DISTINCT user_id) AS n_unique,
                   round(avg(value), 4) AS mean_score,
                   round(min(value), 4) AS min_score,
                   round(max(value), 4) AS max_score
            FROM events GROUP BY event_type
        """,
        "count_histogram": """
            SELECT d.event_type, CAST(coalesce(c.n, 0) AS BIGINT) AS n
            FROM (VALUES ('click'), ('error'), ('purchase'), ('signup'),
                         ('view'), ('phantom_type')) d(event_type)
            LEFT JOIN (SELECT event_type, count(*) AS n FROM events
                       GROUP BY event_type) c USING (event_type)
        """,
        "coverage": """
            SELECT event_type,
                   count(DISTINCT user_id) AS n_docs,
                   round(count(DISTINCT user_id)
                         / (SELECT CAST(count(DISTINCT user_id) AS DOUBLE)
                            FROM events), 4) AS doc_share
            FROM events GROUP BY event_type
        """,
        "global_totals": """
            SELECT count(DISTINCT user_id) AS n_docs,
                   count(*) AS n_rows,
                   round(count(*) / CAST(count(DISTINCT user_id) AS DOUBLE), 4)
                     AS rows_per_doc
            FROM events
        """,
        "cooccurrence": """
            WITH p AS (SELECT DISTINCT user_id, event_type FROM events)
            SELECT a.event_type AS label_a, b.event_type AS label_b,
                   count(*) AS n_docs
            FROM p a JOIN p b
              ON a.user_id = b.user_id AND a.event_type < b.event_type
            GROUP BY 1, 2
        """,
        "score_distribution": """
            SELECT event_type,
                   round(CAST(quantile_cont(value, 0.25) AS DOUBLE), 4) AS q1,
                   round(CAST(quantile_cont(value, 0.5) AS DOUBLE), 4) AS median,
                   round(CAST(quantile_cont(value, 0.75) AS DOUBLE), 4) AS q3
            FROM events GROUP BY event_type
        """,
        "daily_counts": """
            SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                   count(*) AS n
            FROM events GROUP BY 1
        """,
        "threshold_impact": """
            SELECT CAST(t.i * 25 AS DOUBLE) AS threshold,
                   CAST(sum(CASE WHEN e.value >= t.i * 25 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_kept
            FROM events e, generate_series(0, 20) t(i)
            GROUP BY 1
        """,
        "last_writer_wins": """
            SELECT user_id, event_type, event_id, round(value, 2) AS value
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY user_id, event_type
                ORDER BY ts DESC, event_id DESC) AS rn
              FROM events) t
            WHERE rn = 1
        """,
        "topk_per_group": """
            SELECT event_type, rank, event_id, round(value, 2) AS value
            FROM (
              SELECT event_type, event_id, value,
                     row_number() OVER (
                       PARTITION BY event_type
                       ORDER BY value DESC, event_id) AS rank
              FROM events) t
            WHERE rank <= 3
        """,
        "union_distinct": """
            SELECT event_type, count(*) AS n_pairs FROM (
              SELECT DISTINCT user_id, event_type FROM (
                SELECT user_id, event_type FROM events WHERE value < 20
                UNION ALL
                SELECT user_id, event_type FROM events WHERE value > 400
              )
            ) GROUP BY event_type
        """,
        "kfold_split": """
            -- mod-first affine map: identical to (id*2654435761+42)%5 for
            -- non-negative ids, overflow-safe on BOTH engines
            SELECT CAST(((event_id % 5) * (2654435761 % 5) + 42) % 5 AS INT)
                     AS fold,
                   count(*) AS n
            FROM events GROUP BY 1
        """,
        "broadcast_lookup": """
            SELECT c.c_mktsegment,
                   count(*) AS n_orders,
                   round(sum(o.o_totalprice), 2) AS total_price
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY 1
        """,
        "corrections_merge": """
            WITH firsts AS (
              SELECT user_id, event_type, value, event_id AS base_event_id,
                     row_number() OVER (PARTITION BY user_id, event_type
                                        ORDER BY ts, event_id) AS rn
              FROM events),
            lasts AS (
              SELECT user_id, event_type, value AS corrected_value,
                     row_number() OVER (PARTITION BY user_id, event_type
                                        ORDER BY ts DESC, event_id DESC) AS rn
              FROM events)
            SELECT f.user_id, f.event_type, f.base_event_id,
                   round(coalesce(l.corrected_value, f.value), 2) AS value
            FROM firsts f
            LEFT JOIN lasts l
              ON f.user_id = l.user_id AND f.event_type = l.event_type
                 AND l.rn = 1
            WHERE f.rn = 1
        """,
        "dedup_exact_prefix": """
            SELECT sha256(text) AS content_sha256,
                   count(*) AS n_dups,
                   CAST(list_sort(list(doc_id)) AS VARCHAR) AS doc_ids
            FROM (SELECT doc_id, substring(text, 1, 25) AS text FROM documents)
            GROUP BY 1 HAVING count(*) > 1
        """,
        "dedup_ngram_jaccard": r"""
            WITH toks AS (
              SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
              FROM documents WHERE doc_id < 150),
            grams AS (
              SELECT DISTINCT doc_id, u.gram
              FROM toks, LATERAL unnest(
                CASE WHEN len(t) >= 3
                     THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                           FOR i IN range(1, len(t) - 1)]
                     ELSE [array_to_string(t, ' ')] END) u(gram)),
            sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY 1),
            shared AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
              FROM grams a JOIN grams b
                ON a.gram = b.gram AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT s.id_a, s.id_b,
                   round(s.c / CAST(sa.sz + sb.sz - s.c AS DOUBLE), 4) AS jaccard
            FROM shared s
            JOIN sizes sa ON sa.doc_id = s.id_a
            JOIN sizes sb ON sb.doc_id = s.id_b
            WHERE s.c / CAST(sa.sz + sb.sz - s.c AS DOUBLE) >= 0.12
        """,
        "sim_topk_cosine": """
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
            prod AS (
              SELECT e.vec_id,
                     sum(CAST(t.z[1] AS DOUBLE) * CAST(t.z[2] AS DOUBLE)) AS dot,
                     sum(CAST(t.z[1] AS DOUBLE) * CAST(t.z[1] AS DOUBLE)) AS ne,
                     sum(CAST(t.z[2] AS DOUBLE) * CAST(t.z[2] AS DOUBLE)) AS nq
              FROM embeddings e, q,
                   LATERAL unnest(list_zip(e.embedding, q.qv)) t(z)
              WHERE e.vec_id != 0
              GROUP BY e.vec_id)
            SELECT vec_id, round(dot / (sqrt(ne) * sqrt(nq)), 4) AS cosine
            FROM prod
            ORDER BY dot / (sqrt(ne) * sqrt(nq)) DESC, vec_id LIMIT 10
        """,
        "sim_knn_join": """
            WITH qs AS (SELECT vec_id AS query_id, embedding AS qv
                        FROM embeddings WHERE vec_id < 3),
            prod AS (
              SELECT qs.query_id, e.vec_id,
                     sum(CAST(t.z[1] AS DOUBLE) * CAST(t.z[2] AS DOUBLE)) AS dot,
                     sum(CAST(t.z[1] AS DOUBLE) * CAST(t.z[1] AS DOUBLE)) AS ne,
                     sum(CAST(t.z[2] AS DOUBLE) * CAST(t.z[2] AS DOUBLE)) AS nq
              FROM embeddings e, qs,
                   LATERAL unnest(list_zip(e.embedding, qs.qv)) t(z)
              WHERE e.vec_id >= 3
              GROUP BY qs.query_id, e.vec_id)
            SELECT query_id, vec_id, rank,
                   round(dot / (sqrt(ne) * sqrt(nq)), 4) AS cosine
            FROM (SELECT *, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY dot / (sqrt(ne) * sqrt(nq)) DESC, vec_id) AS rank
                  FROM prod) t
            WHERE rank <= 3
        """,
        "fold_metrics": """
            WITH per_fold AS (
              SELECT event_type,
                     CAST(((event_id % 5) * (2654435761 % 5) + 42) % 5 AS INT)
                       AS fold,
                     avg(value) AS fold_avg
              FROM events GROUP BY 1, 2)
            SELECT event_type,
                   round(avg(fold_avg), 4) AS mean,
                   round(stddev_samp(fold_avg), 4) AS std,
                   round(min(fold_avg), 4) AS min,
                   round(max(fold_avg), 4) AS max
            FROM per_fold GROUP BY event_type
        """,
        "json_extract_agg": """
            SELECT event_type,
                   CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
                     AS sum_k,
                   round(avg(CAST(json_extract(props, '$.k') AS BIGINT)), 4)
                     AS avg_k,
                   count(json_extract(props, '$.k')) AS n_k
            FROM events GROUP BY event_type
        """,
        "sessionize": """
            WITH g AS (
              SELECT user_id, event_id, ts,
                     CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w > 1800
                            OR lag(ts) OVER w IS NULL
                          THEN 1 ELSE 0 END AS new_session
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            s AS (
              SELECT user_id,
                     sum(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS session_id
              FROM g),
            per AS (
              SELECT user_id, session_id, count(*) AS n_events
              FROM s GROUP BY 1, 2)
            SELECT user_id,
                   count(*) AS n_sessions,
                   max(n_events) AS max_session_events,
                   CAST(sum(n_events) AS BIGINT) AS n_events
            FROM per GROUP BY user_id
        """,
        "asof_prior_view": """
            SELECT event_id, user_id, prior_view_value FROM (
              SELECT event_id, user_id, event_type,
                     last_value(CASE WHEN event_type = 'view'
                                     THEN round(value, 2) END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS prior_view_value
              FROM events) t
            WHERE event_type = 'error'
        """,
        "cube_counts": """
            SELECT event_type,
                   strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                   count(*) AS n
            FROM events
            GROUP BY CUBE(event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d'))
        """,
        "rollup_revenue": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n
            FROM lineitem
            GROUP BY ROLLUP(l_returnflag, l_linestatus)
        """,
        "vocab_topk": r"""
            WITH toks AS (
              SELECT doc_id, t.token
              FROM documents,
                   LATERAL unnest(
                     string_split_regex(trim(lower(text)),
                                        '[ \t\n\r\f]+')) t(token)
              WHERE t.token != '')
            SELECT token, count(*) AS n, count(DISTINCT doc_id) AS n_docs
            FROM toks GROUP BY token
            ORDER BY n DESC, token LIMIT 25
        """,
        "sample_stratified": """
            SELECT lang, count(*) AS n_sampled,
                   round(avg(length(text)), 4) AS avg_len
            FROM documents
            WHERE ((doc_id % 100) * (2654435761 % 100) + 17) % 100 < 20
            GROUP BY lang
        """,
        "corpus_curation": _CURATION_CTE_SQL + """
            , k AS (
              SELECT doc_id, lang_pred, quality_score,
                     row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
              FROM s WHERE lang_pred = 'en' AND quality_score >= 0.45)
            SELECT doc_id, lang_pred, quality_score FROM k WHERE rn = 1
        """,
        # scalar-stage counts from s, dup/near-dup/kept from the
        # survivor-ranked k (byte-identical texts share scalar fate,
        # so rn-over-survivors equals rn-over-all for survivor rows)
        "curation_report": _CURATION_ND_CTE_SQL + """
            SELECT (SELECT count(*) FROM s) AS n_input,
                   (SELECT count(*) FROM s WHERE lang_pred <> 'en')
                     AS n_lang,
                   (SELECT count(*) FROM s
                    WHERE lang_pred = 'en' AND quality_score < 0.45)
                     AS n_quality,
                   -- repetition stage disabled in this query (caps
                   -- unset) -> always-present column counts zero
                   (SELECT count(*) FROM s WHERE FALSE) AS n_repetition,
                   (SELECT count(*) FROM k WHERE rn > 1) AS n_duplicate,
                   (SELECT count(*) FROM k WHERE rn = 1
                    AND CAST(doc_id AS VARCHAR) IN
                        (SELECT node FROM nd_losers)) AS n_near_duplicate,
                   (SELECT count(*) FROM k WHERE rn = 1
                    AND CAST(doc_id AS VARCHAR) NOT IN
                        (SELECT node FROM nd_losers)) AS n_kept
        """,
        "curation_near_dup": _CURATION_ND_CTE_SQL + """
            SELECT k.doc_id, k.lang_pred, k.quality_score
            FROM k WHERE k.rn = 1
              AND CAST(k.doc_id AS VARCHAR) NOT IN
                  (SELECT node FROM nd_losers)
        """,
        # repetition stage enabled (dup_gram_n=2, caps 0.08/0.10 on the
        # 4-decimal-rounded features — same rounding as the operator so
        # the decision boundary is engine-portable); charge order
        # lang -> quality -> repetition -> duplicate, near-dup off
        "curation_repetition": _CURATION_CTE_SQL + r"""
            , rtk AS (
              SELECT doc_id, lang_pred, quality_score, text,
                CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                     ELSE string_split_regex(trim(lower(text)), '\s+')
                END AS tk
              FROM s),
            rbi AS (
              SELECT doc_id, lang_pred, quality_score, text,
                CASE WHEN len(tk) < 2 THEN CAST([] AS VARCHAR[])
                     ELSE list_transform(generate_series(1, len(tk) - 1),
                          i -> tk[i] || ' ' || tk[i + 1])
                END AS bi
              FROM rtk),
            rfe AS (
              SELECT doc_id, lang_pred, quality_score, text,
                round(CASE WHEN len(bi) <= 0 THEN 0.0
                  ELSE list_max(list_transform(bi,
                         b -> len(list_filter(bi, x -> x = b))))
                       / CAST(len(bi) AS DOUBLE) END, 4) AS tbf,
                round(CASE WHEN len(bi) <= 0 THEN 0.0
                  ELSE len(list_filter(bi,
                         gm -> len(list_filter(bi, x -> x = gm)) > 1))
                       / CAST(len(bi) AS DOUBLE) END, 4) AS dnf
              FROM rbi),
            staged AS (
              SELECT doc_id,
                CASE WHEN lang_pred <> 'en' THEN 'lang'
                     WHEN quality_score < 0.45 THEN 'quality'
                     WHEN tbf > 0.08 OR dnf > 0.10 THEN 'repetition'
                     WHEN row_number() OVER (
                            PARTITION BY text ORDER BY doc_id) > 1
                       THEN 'duplicate'
                END AS reject_stage
              FROM rfe)
            SELECT count(*) AS n_input,
                   count(CASE WHEN reject_stage = 'lang' THEN 1 END)
                     AS n_lang,
                   count(CASE WHEN reject_stage = 'quality' THEN 1 END)
                     AS n_quality,
                   count(CASE WHEN reject_stage = 'repetition' THEN 1 END)
                     AS n_repetition,
                   count(CASE WHEN reject_stage = 'duplicate' THEN 1 END)
                     AS n_duplicate,
                   count(CASE WHEN FALSE THEN 1 END) AS n_near_duplicate,
                   count(CASE WHEN reject_stage IS NULL THEN 1 END)
                     AS n_kept
            FROM staged
        """,
        "skew_salted_agg": """
            SELECT event_type,
                   count(*) AS n,
                   round(sum(value), 2) AS total,
                   round(min(value), 4) AS vmin,
                   round(max(value), 4) AS vmax,
                   round(avg(value), 4) AS vavg
            FROM events GROUP BY event_type
        """,
        "skew_distinct_agg": """
            SELECT event_type, count(DISTINCT user_id) AS n_users
            FROM events GROUP BY event_type
        """,
        "text_langid": r"""
            WITH h AS (
              SELECT doc_id,
                len(regexp_extract_all(lower(text), '\b(?:der|die|das|und|ist)\b')) AS de,
                len(regexp_extract_all(lower(text), '\b(?:the|and|of|is|with)\b')) AS en,
                len(regexp_extract_all(lower(text), '\b(?:el|los|las|que|es)\b')) AS es,
                len(regexp_extract_all(lower(text), '\b(?:le|la|les|de|et|est)\b')) AS fr
              FROM documents)
            SELECT doc_id,
                   CASE WHEN de = 0 AND en = 0 AND es = 0 AND fr = 0 THEN 'und'
                        WHEN de >= en AND de >= es AND de >= fr THEN 'de'
                        WHEN en >= es AND en >= fr THEN 'en'
                        WHEN es >= fr THEN 'es'
                        ELSE 'fr' END AS lang_pred
            FROM h
        """,
        "text_quality": r"""
            WITH f AS (
              SELECT doc_id,
                     length(text) AS n_chars,
                     CASE WHEN trim(text) = '' THEN 0
                          ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
                     len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
                     len(regexp_extract_all(lower(text),
                         '\b(?:the|and|of|is|le|la|de|et|der|und|el|que)\b')) AS n_stop
              FROM documents)
            SELECT doc_id, n_tokens,
                   round(n_punct / CAST(greatest(n_chars, 1) AS DOUBLE), 4) AS punct_ratio,
                   round(n_stop / CAST(greatest(n_tokens, 1) AS DOUBLE), 4) AS stopword_ratio,
                   round(
                     least(n_tokens / 100.0, 1.0) * 0.4
                     + (1 - least(round(n_punct / CAST(greatest(n_chars, 1) AS DOUBLE), 4) * 5, 1.0)) * 0.3
                     + least(round(n_stop / CAST(greatest(n_tokens, 1) AS DOUBLE), 4) * 4, 1.0) * 0.3,
                   4) AS quality_score
            FROM f
        """,
        "text_fingerprint": r"""
            SELECT doc_id,
                   md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fingerprint_md5
            FROM documents
        """,
        "text_repetition": r"""
            WITH base AS (
              SELECT doc_id,
                list_filter(list_transform(
                  string_split_regex(lower(text), '\.\s*'), s -> trim(s)),
                  s -> s <> '') AS segs,
                CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                     ELSE string_split_regex(trim(lower(text)), '\s+')
                END AS tk
              FROM documents),
            g AS (
              SELECT doc_id, segs,
                CASE WHEN len(tk) < 2 THEN CAST([] AS VARCHAR[])
                     ELSE list_transform(generate_series(1, len(tk) - 1),
                          i -> tk[i] || ' ' || tk[i + 1])
                END AS bi
              FROM base)
            SELECT doc_id,
              round(CASE WHEN len(segs) <= 0 THEN 0.0
                ELSE (len(segs) - len(list_distinct(segs)))
                     / CAST(len(segs) AS DOUBLE) END, 4) AS dup_segment_frac,
              round(CASE WHEN len(bi) <= 0 THEN 0.0
                ELSE list_max(list_transform(bi,
                       b -> len(list_filter(bi, x -> x = b))))
                     / CAST(len(bi) AS DOUBLE) END, 4) AS top_bigram_frac,
              round(CASE WHEN len(bi) <= 0 THEN 0.0
                ELSE len(list_filter(bi,
                       gm -> len(list_filter(bi, x -> x = gm)) > 1))
                     / CAST(len(bi) AS DOUBLE) END, 4) AS dup_ngram_frac
            FROM g
        """,
        "pii_redaction": r"""
            WITH p AS (
              SELECT doc_id, text
                || CASE WHEN doc_id % 5 = 0 THEN ' contact user'
                     || CAST(doc_id AS VARCHAR) || '@example.com now'
                   ELSE '' END
                || CASE WHEN doc_id % 7 = 0 THEN ' host 10.0.0.'
                     || CAST(doc_id % 250 AS VARCHAR)
                   ELSE '' END
                || CASE WHEN doc_id % 11 = 0 THEN ' ref 1234567'
                     || CAST(doc_id AS VARCHAR)
                   ELSE '' END
                || CASE WHEN doc_id % 13 = 0 THEN ' tel +33 612 345 678'
                   ELSE '' END AS t
              FROM documents)
            SELECT doc_id,
              regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
                '\+?\d[\d ().-]{7,}\d', '<PHONE>', 'g'),
                '\b\d{6,}\b', '<ID>', 'g') AS redacted_text,
              len(regexp_extract_all(t,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
              len(regexp_extract_all(t,
                '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS n_ip,
              len(regexp_extract_all(t, '\+?\d[\d ().-]{7,}\d')) AS n_phone,
              len(regexp_extract_all(t, '\b\d{6,}\b')) AS n_idnum,
              len(regexp_extract_all(t,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
              + len(regexp_extract_all(t, '\b(?:\d{1,3}\.){3}\d{1,3}\b'))
              + len(regexp_extract_all(t, '\+?\d[\d ().-]{7,}\d'))
              + len(regexp_extract_all(t, '\b\d{6,}\b')) AS n_pii_total
            FROM p
        """,
        "decontam_overlap": r"""
            WITH toks AS (
              SELECT doc_id,
                CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                     ELSE string_split_regex(trim(lower(text)), '\s+')
                END AS tk
              FROM documents),
            grams AS (
              SELECT doc_id,
                CASE WHEN len(tk) < 5 THEN CAST([] AS VARCHAR[])
                     ELSE list_distinct(list_transform(
                          generate_series(1, len(tk) - 4),
                          i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                               || ' ' || tk[i+3] || ' ' || tk[i+4]))
                END AS gs
              FROM toks),
            ev AS (
              SELECT DISTINCT unnest(gs) AS gram FROM grams
              WHERE doc_id % 10 = 0),
            tr AS (
              SELECT doc_id, len(gs) AS n_grams, unnest(gs) AS gram
              FROM grams WHERE doc_id % 10 != 0)
            SELECT tr.doc_id, tr.n_grams, count(*) AS n_hit_grams,
                   round(count(*) / CAST(tr.n_grams AS DOUBLE), 4)
                     AS contamination_frac
            FROM tr JOIN ev USING (gram)
            GROUP BY tr.doc_id, tr.n_grams
        """,
        # per-doc window starts via generate_series at the stride,
        # slices 1-indexed inclusive on both engines; chunk_idx =
        # start // stride (starts are exact multiples)
        "chunk_sliding": r"""
            WITH t AS (
              SELECT doc_id,
                CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                     ELSE string_split_regex(trim(lower(text)), '\s+')
                END AS tk
              FROM documents),
            n AS (SELECT doc_id, tk, len(tk) AS nt FROM t WHERE len(tk) > 0),
            ch AS (
              SELECT n.doc_id,
                     gs.s // 48 AS chunk_idx,
                     gs.s AS start_tok,
                     least(64, n.nt - gs.s) AS n_tok,
                     array_to_string(
                       list_slice(n.tk, gs.s + 1,
                                  gs.s + least(64, n.nt - gs.s)),
                       ' ') AS chunk_text
              FROM n, LATERAL unnest(generate_series(0, n.nt - 1, 48)) gs(s))
            SELECT chunk_idx,
                   count(*) AS n_chunks,
                   count(DISTINCT doc_id) AS n_docs,
                   CAST(sum(n_tok) AS BIGINT) AS sum_n_tok,
                   CAST(sum(start_tok) AS BIGINT) AS sum_start,
                   CAST(sum(length(chunk_text)) AS BIGINT) AS sum_text_len
            FROM ch GROUP BY chunk_idx
        """,
        "pack_chunks": r"""
            WITH t AS (
              SELECT doc_id,
                CASE WHEN trim(text) = '' THEN 0
                     ELSE len(string_split_regex(trim(text), '\s+'))
                END AS n_tokens
              FROM documents),
            c AS (
              SELECT doc_id, n_tokens,
                CAST(sum(n_tokens) OVER (ORDER BY doc_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
              FROM t)
            SELECT doc_id, n_tokens,
                   cum - n_tokens AS token_start,
                   (cum - n_tokens) // 512 AS first_chunk,
                   CASE WHEN n_tokens <= 0 THEN (cum - n_tokens) // 512
                        ELSE (cum - 1) // 512 END AS last_chunk,
                   CASE WHEN n_tokens <= 0 THEN 0
                        ELSE (cum - 1) // 512 - (cum - n_tokens) // 512 + 1
                   END AS n_chunks
            FROM c
        """,
        "mixture_sample": """
            WITH c AS (
              SELECT source, count(*) AS n_docs
              FROM documents GROUP BY source),
            t AS (
              SELECT CAST(sum(n_docs) AS DOUBLE) AS n_total,
                     sum(pow(n_docs, 0.5)) AS pow_sum
              FROM c),
            r AS (
              SELECT source,
                     least(1.0, round(0.5 * t.n_total * pow(c.n_docs, 0.5)
                       / (t.pow_sum * c.n_docs), 6)) AS keep_rate
              FROM c, t),
            kept AS (
              SELECT d.source, r.keep_rate
              FROM documents d JOIN r USING (source)
              WHERE CAST(('0x' || substr(sha256(
                      CAST(d.doc_id AS VARCHAR) || ':' || d.source), 1, 15))
                    AS BIGINT) / 1152921504606846976.0 < r.keep_rate)
            SELECT source, count(*) AS n_kept, any_value(keep_rate) AS keep_rate
            FROM kept GROUP BY source
        """,
        # fixed-point unigram LM: lp quantized to a long BEFORE any
        # summation, so the per-doc totals are exact integers in both
        # engines (double sums would be order-dependent)
        "lm_perplexity": r"""
            WITH t AS (
              SELECT doc_id,
                CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                     ELSE string_split_regex(trim(lower(text)), '\s+')
                END AS tk
              FROM documents),
            e AS (SELECT doc_id, unnest(tk) AS token FROM t),
            v AS (SELECT token, count(*) AS c FROM e GROUP BY token),
            tot AS (SELECT CAST(sum(c) AS BIGINT) AS s FROM v),
            lm AS (
              SELECT token,
                CAST(floor(ln(c / CAST(tot.s AS DOUBLE)) * 1000000000)
                     AS BIGINT) AS lp
              FROM v, tot),
            pd AS (
              SELECT e.doc_id, count(*) AS n_tokens,
                     CAST(-sum(lm.lp) AS BIGINT) AS nll_fp
              FROM e JOIN lm USING (token) GROUP BY e.doc_id)
            SELECT t.doc_id,
                   coalesce(pd.n_tokens, 0) AS n_tokens,
                   coalesce(pd.nll_fp, 0) AS nll_fp,
                   CASE WHEN coalesce(pd.n_tokens, 0) = 0 THEN 0.0
                        ELSE round(pd.nll_fp / pd.n_tokens
                                   / 1000000000.0, 4)
                   END AS avg_nll
            FROM t LEFT JOIN pd USING (doc_id)
        """,
        # three LFs as filtered selects UNION ALL'd into long-form
        # votes; the winner election is the same total order
        # (weight DESC, label ASC) via row_number; all integer math
        "weak_labels": r"""
            WITH v AS (
              SELECT doc_id, 'lf_kw' AS lf, 'tech' AS label, 2 AS w
              FROM documents
              WHERE regexp_matches(text, '\b(?:spark|query|hash)\b')
              UNION ALL
              SELECT doc_id, 'lf_noun', 'tech', 1
              FROM documents
              WHERE regexp_matches(text, '\b(?:table|stream)\b')
              UNION ALL
              SELECT doc_id, 'lf_short', 'general', 1
              FROM documents
              WHERE len(string_split_regex(trim(text), '\s+')) < 30
            ),
            pl AS (
              SELECT doc_id, label, count(*) AS n_votes,
                     CAST(sum(w) AS BIGINT) AS weight
              FROM v GROUP BY doc_id, label),
            tot AS (
              SELECT doc_id, CAST(sum(n_votes) AS BIGINT) AS n_lfs,
                     CAST(sum(weight) AS BIGINT) AS wtot
              FROM pl GROUP BY doc_id),
            win AS (
              SELECT pl.*, row_number() OVER (
                PARTITION BY doc_id ORDER BY weight DESC, label ASC) AS rk
              FROM pl),
            lab AS (
              SELECT w.doc_id, w.label, w.n_votes, w.weight, t.n_lfs,
                     (w.weight * 1000000000) // t.wtot AS confidence_fp
              FROM win w JOIN tot t USING (doc_id) WHERE w.rk = 1)
            SELECT label,
                   (confidence_fp * 4) // 1000000001 AS band,
                   count(*) AS n_docs,
                   CAST(sum(n_votes) AS BIGINT) AS sum_votes,
                   CAST(sum(weight) AS BIGINT) AS sum_weight,
                   CAST(sum(confidence_fp) AS BIGINT) AS sum_conf_fp
            FROM lab GROUP BY label, band
        """,
        # same LM CTEs as lm_perplexity; m_fp is integer division of
        # exact longs, the tertile cuts are quantile_cont doubles
        # (measured bit-identical to Spark percentile on this corpus)
        "perplexity_buckets": r"""
            WITH t AS (
              SELECT doc_id,
                CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                     ELSE string_split_regex(trim(lower(text)), '\s+')
                END AS tk
              FROM documents),
            e AS (SELECT doc_id, unnest(tk) AS token FROM t),
            v AS (SELECT token, count(*) AS c FROM e GROUP BY token),
            tot AS (SELECT CAST(sum(c) AS BIGINT) AS s FROM v),
            lm AS (
              SELECT token,
                CAST(floor(ln(c / CAST(tot.s AS DOUBLE)) * 1000000000)
                     AS BIGINT) AS lp
              FROM v, tot),
            pd AS (
              SELECT e.doc_id, count(*) AS n_tokens,
                     CAST(-sum(lm.lp) AS BIGINT) AS nll_fp
              FROM e JOIN lm USING (token) GROUP BY e.doc_id),
            m AS (
              SELECT doc_id, n_tokens, nll_fp // n_tokens AS m_fp
              FROM pd),
            q AS (SELECT quantile_cont(m_fp, [1.0/3, 2.0/3]) AS qs FROM m),
            b AS (
              SELECT m.*, CASE WHEN m.m_fp <= q.qs[1] THEN 'head'
                               WHEN m.m_fp <= q.qs[2] THEN 'middle'
                               ELSE 'tail' END AS bucket
              FROM m, q)
            SELECT bucket,
                   count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
                   CAST(sum(m_fp) AS BIGINT) AS sum_m_fp,
                   min(m_fp) AS min_m_fp,
                   max(m_fp) AS max_m_fp
            FROM b GROUP BY bucket
        """,
        # integer TF-IDF: score = (c * floor(ln(N/df)*1e9)) // n_tok —
        # the top-k cut compares exact longs, so both engines elect
        # identical term sets
        # bigram PMI: the same tokenizer CTE as tfidf_terms, bigrams
        # as adjacent-token joins, the double argument built in the
        # identical association order as the Spark expression
        "colloc_pmi": r"""
            WITH t AS (
              SELECT doc_id,
                CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                     ELSE string_split_regex(trim(lower(text)), '\s+')
                END AS tk
              FROM documents),
            e AS (SELECT unnest(tk) AS token FROM t),
            uni AS (SELECT token, count(*) AS c FROM e GROUP BY token),
            nu AS (SELECT sum(c) AS n FROM uni),
            g AS (
              SELECT unnest(
                CASE WHEN len(tk) < 2 THEN CAST([] AS VARCHAR[])
                     ELSE list_transform(
                       generate_series(1, len(tk) - 1),
                       i -> tk[i] || ' ' || tk[i+1])
                END) AS gram
              FROM t),
            bi AS (SELECT gram, count(*) AS c_xy FROM g GROUP BY gram),
            nb AS (SELECT sum(c_xy) AS n FROM bi),
            cand AS (
              SELECT string_split(gram, ' ')[1] AS w1,
                     string_split(gram, ' ')[2] AS w2, c_xy
              FROM bi WHERE c_xy >= 5),
            sc AS (
              SELECT w1, w2, c_xy,
                CAST(floor(ln(
                  (CAST(c_xy AS DOUBLE) * CAST(nu.n AS DOUBLE)
                     * CAST(nu.n AS DOUBLE))
                  / (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE)
                     * CAST(nb.n AS DOUBLE))
                ) * 1000000000) AS BIGINT) AS pmi_fp
              FROM cand
              JOIN uni u1 ON cand.w1 = u1.token
              JOIN uni u2 ON cand.w2 = u2.token, nu, nb)
            SELECT w1, w2, c_xy, pmi_fp,
                   round(pmi_fp / 1000000000.0, 6) AS pmi
            FROM sc
            ORDER BY pmi_fp DESC, w1 ASC, w2 ASC
            LIMIT 20
        """,
        "tfidf_terms": r"""
            WITH t AS (
              SELECT doc_id,
                CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                     ELSE string_split_regex(trim(lower(text)), '\s+')
                END AS tk
              FROM documents),
            e AS (
              SELECT doc_id, len(tk) AS n_tok, unnest(tk) AS token
              FROM t),
            pd AS (
              SELECT doc_id, token, count(*) AS c, max(n_tok) AS n_tok
              FROM e GROUP BY doc_id, token),
            dfreq AS (SELECT token, count(*) AS dfd FROM pd GROUP BY token),
            nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
            idf AS (
              SELECT token,
                CAST(floor(ln(nd.n / CAST(dfd AS DOUBLE)) * 1000000000)
                     AS BIGINT) AS idf_fp
              FROM dfreq, nd),
            sc AS (
              SELECT pd.doc_id, pd.token AS term,
                     (pd.c * idf.idf_fp) // pd.n_tok AS score_fp
              FROM pd JOIN idf USING (token)),
            rk AS (
              SELECT *, row_number() OVER (
                PARTITION BY doc_id
                ORDER BY score_fp DESC, term ASC) AS rn
              FROM sc)
            SELECT doc_id, term, score_fp,
                   round(score_fp / 1000000000.0, 6) AS tfidf
            FROM rk WHERE rn <= 3
        """,
        # lines = non-overlapping 10-token windows (the deterministic
        # stand-in for newline structure); any line occurring > 1 time
        # corpus-wide is dropped, survivors rejoined in order
        "line_dedup": r"""
            WITH t AS (
              SELECT doc_id,
                CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                     ELSE string_split_regex(trim(lower(text)), '\s+')
                END AS tk
              FROM documents),
            l AS (
              SELECT doc_id,
                CASE WHEN len(tk) <= 0 THEN CAST([] AS VARCHAR[])
                     ELSE list_transform(
                       generate_series(1,
                         CAST(ceil(len(tk) / 10.0) AS BIGINT)),
                       i -> array_to_string(tk[(i-1)*10+1 : i*10], ' '))
                END AS lines
              FROM t),
            e AS (
              SELECT doc_id,
                unnest(list_transform(generate_series(1, len(lines)),
                  i -> struct_pack(pos := i, line := lines[i]))) AS u
              FROM l),
            e2 AS (SELECT doc_id, u.pos AS pos, u.line AS line FROM e),
            dup AS (
              SELECT line FROM e2 GROUP BY line HAVING count(*) > 1),
            kept AS (
              SELECT doc_id, pos, line FROM e2
              WHERE line NOT IN (SELECT line FROM dup))
            SELECT l.doc_id,
                   CAST(len(l.lines) AS BIGINT) AS n_lines,
                   CAST(len(l.lines) - count(k.line) AS BIGINT)
                     AS n_removed,
                   coalesce(string_agg(k.line, ' ' ORDER BY k.pos), '')
                     AS text_dedup
            FROM l LEFT JOIN kept k USING (doc_id)
            GROUP BY l.doc_id, len(l.lines)
        """,
        "graph_pagerank": _PAGERANK_SQL,
        "graph_ppr": _PPR_SQL,
        # incremental dedup: exact = sha membership in the history;
        # near-dup = the SAME portable MinHash chain as dedup_minhash,
        # but banded asymmetrically (new-survivor side x history side,
        # per-side 64-row bucket caps, no tid ordering)
        "dedup_incremental": """
            WITH seen AS (
              SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
            nw AS (
              SELECT doc_id, text FROM documents WHERE doc_id % 3 != 0),
            seen_sha AS (SELECT DISTINCT sha256(text) AS sha FROM seen),
            surv AS (
              SELECT DISTINCT text FROM nw
              WHERE sha256(text) NOT IN (SELECT sha FROM seen_sha)),
            sides AS (
              SELECT text, 'n' AS side FROM surv
              UNION ALL
              SELECT DISTINCT text, 's' AS side FROM seen),
            tid AS (
              SELECT text, side, sha256(text) AS tid FROM sides),
            shingles AS (
              SELECT t.tid, s.sh
              FROM (SELECT DISTINCT text, tid FROM tid) t, LATERAL (
                SELECT DISTINCT substr(lower(t.text), CAST(u.i AS INT), 5) AS sh
                FROM unnest(range(1, greatest(len(lower(t.text)) - 4, 1) + 1)) u(i)
              ) s
            ),
            shvals AS (SELECT DISTINCT sh FROM shingles),
            shdg AS (
              SELECT v.sh, CAST(bl.b AS INT) AS b,
                     sha256(v.sh || chr(31) || CAST(bl.b AS VARCHAR)) AS dg
              FROM shvals v, range(0, 8) bl(b)
            ),
            shh AS (
              SELECT d.sh, CAST(d.b * 4 + ln.l AS INT) AS slot,
                     CAST('0x' || substr(
                           d.dg, CAST(ln.l * 15 + 1 AS INT), 15)
                         AS BIGINT) AS h
              FROM shdg d, range(0, 4) ln(l)
            ),
            minh AS (
              SELECT s.tid, h.slot, min(h.h) AS h
              FROM shingles s JOIN shh h USING (sh)
              GROUP BY 1, 2
            ),
            bandkeys AS (
              SELECT m.tid, t.side, CAST(m.slot // 4 AS INT) AS band_id,
                     string_agg(CAST(m.h AS VARCHAR), ',' ORDER BY m.slot)
                       AS band_key
              FROM minh m JOIN tid t USING (tid)
              GROUP BY m.tid, t.side, m.slot // 4
            ),
            okb AS (
              SELECT side, band_id, band_key FROM bandkeys
              GROUP BY 1, 2, 3 HAVING count(*) <= 64
            ),
            capped AS (
              SELECT b.* FROM bandkeys b
              JOIN okb USING (side, band_id, band_key)
            ),
            cand AS (
              SELECT DISTINCT a.tid AS tid_a, b.tid AS tid_b
              FROM capped a
              JOIN capped b ON a.band_id = b.band_id
                           AND a.band_key = b.band_key
              WHERE a.side = 'n' AND b.side = 's'
            ),
            est AS (
              SELECT c.tid_a, c.tid_b,
                     sum(CASE WHEN ha.h = hb.h THEN 1 ELSE 0 END) / 32.0
                       AS jaccard
              FROM cand c
              JOIN minh ha ON ha.tid = c.tid_a
              JOIN minh hb ON hb.tid = c.tid_b AND hb.slot = ha.slot
              GROUP BY 1, 2
            ),
            near AS (
              SELECT DISTINCT tid_a FROM est WHERE jaccard >= 0.5)
            SELECT n.doc_id,
              CASE WHEN sha256(n.text) IN (SELECT sha FROM seen_sha)
                     THEN 'exact'
                   WHEN sha256(n.text) IN (SELECT tid_a FROM near)
                     THEN 'near_duplicate'
              END AS reject_reason
            FROM nw n
        """,
        # full-probe IVF == exact top-k (every bucket probed), so the
        # brute-force SQL is its oracle; the pruning path itself is
        # pytest-checked (recall >= 0.5 at n_probe=4, == exact at 8/8)
        # trained-centroid IVF at FULL probe == exact top-k (same
        # derivation as sim_ivf_topk; training only changes WHICH
        # buckets exist, not the full-probe result)
        "sim_ivf_kmeans": """
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
            prod AS (
              SELECT e.vec_id,
                     sum(CAST(t.z[1] AS DOUBLE) * CAST(t.z[2] AS DOUBLE)) AS dot,
                     sum(CAST(t.z[1] AS DOUBLE) * CAST(t.z[1] AS DOUBLE)) AS ne,
                     sum(CAST(t.z[2] AS DOUBLE) * CAST(t.z[2] AS DOUBLE)) AS nq
              FROM embeddings e, q,
                   LATERAL unnest(list_zip(e.embedding, q.qv)) t(z)
              WHERE e.vec_id != 0
              GROUP BY e.vec_id)
            SELECT vec_id, round(dot / (sqrt(ne) * sqrt(nq)), 4) AS cosine
            FROM prod
            ORDER BY dot / (sqrt(ne) * sqrt(nq)) DESC, vec_id LIMIT 10
        """,
        "sim_ivf_topk": """
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
            prod AS (
              SELECT e.vec_id,
                     sum(CAST(t.z[1] AS DOUBLE) * CAST(t.z[2] AS DOUBLE)) AS dot,
                     sum(CAST(t.z[1] AS DOUBLE) * CAST(t.z[1] AS DOUBLE)) AS ne,
                     sum(CAST(t.z[2] AS DOUBLE) * CAST(t.z[2] AS DOUBLE)) AS nq
              FROM embeddings e, q,
                   LATERAL unnest(list_zip(e.embedding, q.qv)) t(z)
              WHERE e.vec_id != 0
              GROUP BY e.vec_id)
            SELECT vec_id, round(dot / (sqrt(ne) * sqrt(nq)), 4) AS cosine
            FROM prod
            ORDER BY dot / (sqrt(ne) * sqrt(nq)) DESC, vec_id LIMIT 10
        """,
        "sim_pairs_topk": """
            WITH prod AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     sum(CAST(t.z[1] AS DOUBLE) * CAST(t.z[2] AS DOUBLE)) AS dot,
                     sum(CAST(t.z[1] AS DOUBLE) * CAST(t.z[1] AS DOUBLE)) AS na,
                     sum(CAST(t.z[2] AS DOUBLE) * CAST(t.z[2] AS DOUBLE)) AS nb
              FROM embeddings a
              JOIN embeddings b ON a.vec_id < b.vec_id,
                   LATERAL unnest(list_zip(a.embedding, b.embedding)) t(z)
              WHERE a.vec_id < 300 AND b.vec_id < 300
              GROUP BY 1, 2)
            SELECT id_a, id_b,
                   round(dot / (sqrt(na) * sqrt(nb)), 4) AS cosine
            FROM prod
            ORDER BY dot / (sqrt(na) * sqrt(nb)) DESC, id_a, id_b
            LIMIT 20
        """,
        # score millis = 500 + (first 8 hex digits of sha256(surface
        # \x1f label) as int) % 500 — textlib.stable_score restated in SQL
        "scores_map_stats": f"""
            WITH m AS (
              SELECT d.doc_id, l.label, u.obj
              FROM documents d
              JOIN (VALUES {kw_values}) l(label, rx) ON TRUE,
              LATERAL unnest(regexp_extract_all(d.text, l.rx)) u(obj)
            ),
            s AS (
              SELECT doc_id,
                     500 + (CAST('0x' || substr(
                              sha256(obj || chr(31) || label), 1, 8)
                            AS BIGINT) % 500) AS millis
              FROM m)
            SELECT doc_id,
                   floor(sum(millis) / 1000.0 / count(*) * 10000) / 10000.0
                     AS mean_score,
                   CAST(count(*) AS INT) AS n_scores
            FROM s GROUP BY doc_id
        """,
        # n_spans restates find_token_spans (json_convertissor.py:13-36):
        # each ';'-cell value projects once per case-insensitive token
        # occurrence, so n_spans = sum over hits of that hit's token count
        "training_records": rf"""
            WITH toks AS (
              SELECT doc_id, lower(t.tok) AS tok
              FROM documents,
                   LATERAL unnest(
                     regexp_extract_all(text, '\b\w+\b|[^\w\s]')) t(tok)),
            tokcnt AS (
              SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
            hits AS (
              SELECT d.doc_id, lower(u.obj) AS tok
              FROM documents d
              JOIN (VALUES {kw_values}) l(label, rx) ON TRUE,
              LATERAL unnest(regexp_extract_all(d.text, l.rx)) u(obj)),
            spans AS (
              SELECT h.doc_id, CAST(sum(tc.c) AS INT) AS n_spans
              FROM hits h
              JOIN tokcnt tc ON h.doc_id = tc.doc_id AND h.tok = tc.tok
              GROUP BY 1)
            SELECT s.doc_id,
                   CAST(len(regexp_extract_all(d.text, '\b\w+\b|[^\w\s]'))
                        AS INT) AS n_tokens,
                   s.n_spans
            FROM spans s JOIN documents d ON d.doc_id = s.doc_id
        """,
        # the lineage table's per-pred counts, derived independently
        # from the raw documents (KEYWORD labels are not in LABEL_SLUGS,
        # so pred == label in the triples stage)
        "lineage_counts": f"""
            SELECT l.label AS pred, CAST(count(*) AS BIGINT) AS n_rows
            FROM documents d
            JOIN (VALUES {kw_values}) l(label, rx) ON TRUE,
            LATERAL unnest(regexp_extract_all(d.text, l.rx)) u(obj)
            GROUP BY 1
        """,
        # dedup_minhash / dedup_simhash run with portable_hash=True: the
        # shingle-hash family is derived from sha256 (60 bits = 15 hex
        # digits, inside int64 on both engines), so the ENTIRE LSH
        # pipeline — signatures, banding, bucket caps, candidate join,
        # estimate — is restated below. Production keeps xxhash64.
        "dedup_minhash": """
            WITH texts AS (
              SELECT DISTINCT text FROM documents
            ),
            tid AS (
              SELECT text, sha256(text) AS tid FROM texts
            ),
            -- distinct char-5-grams of lower(text); short texts (<5)
            -- yield the whole string (substr(1,5)), like char_shingles
            shingles AS (
              SELECT t.tid, s.sh
              FROM tid t, LATERAL (
                SELECT DISTINCT substr(lower(t.text), CAST(u.i AS INT), 5) AS sh
                FROM unnest(range(1, greatest(len(lower(t.text)) - 4, 1) + 1)) u(i)
              ) s
            ),
            -- MinHash slot i = min over shingles of lane i%4 of the
            -- sha256 digest of (shingle \\x1f i//4): one digest feeds
            -- four 60-bit lanes (15 hex digits each), so 32 slots cost
            -- 8 sha rounds per shingle, mirroring Spark's
            -- linking.portable_digest/portable_lane60
            -- hash DISTINCT shingle values once, then join back (the
            -- digest depends only on the shingle string)
            shvals AS (SELECT DISTINCT sh FROM shingles),
            shdg AS (
              SELECT v.sh, CAST(bl.b AS INT) AS b,
                     sha256(v.sh || chr(31) || CAST(bl.b AS VARCHAR)) AS dg
              FROM shvals v, range(0, 8) bl(b)
            ),
            shh AS (
              SELECT d.sh, CAST(d.b * 4 + ln.l AS INT) AS slot,
                     CAST('0x' || substr(
                           d.dg, CAST(ln.l * 15 + 1 AS INT), 15)
                         AS BIGINT) AS h
              FROM shdg d, range(0, 4) ln(l)
            ),
            minh AS (
              SELECT s.tid, h.slot, min(h.h) AS h
              FROM shingles s JOIN shh h USING (sh)
              GROUP BY 1, 2
            ),
            -- 8 bands x 4 slots; band key = the slot values themselves
            -- (Spark xxhash64's the same concat — equality semantics
            -- are identical)
            bandkeys AS (
              SELECT tid, CAST(slot // 4 AS INT) AS band_id,
                     string_agg(CAST(h AS VARCHAR), ',' ORDER BY slot)
                       AS band_key
              FROM minh GROUP BY tid, slot // 4
            ),
            -- the 64-row hot-bucket skew cap, applied BEFORE the join
            okb AS (
              SELECT band_id, band_key FROM bandkeys
              GROUP BY 1, 2 HAVING count(*) <= 64
            ),
            capped AS (
              SELECT b.* FROM bandkeys b JOIN okb USING (band_id, band_key)
            ),
            cand AS (
              SELECT DISTINCT a.tid AS tid_a, b.tid AS tid_b
              FROM capped a
              JOIN capped b ON a.band_id = b.band_id
                           AND a.band_key = b.band_key AND a.tid < b.tid
            ),
            -- estimated Jaccard = fraction of equal signature slots
            est AS (
              SELECT c.tid_a, c.tid_b,
                     sum(CASE WHEN ha.h = hb.h THEN 1 ELSE 0 END) / 32.0
                       AS jaccard
              FROM cand c
              JOIN minh ha ON ha.tid = c.tid_a
              JOIN minh hb ON hb.tid = c.tid_b AND hb.slot = ha.slot
              GROUP BY 1, 2
            ),
            reps AS (
              SELECT sha256(text) AS tid, min(CAST(doc_id AS VARCHAR)) AS rep_id
              FROM documents GROUP BY 1
            )
            SELECT ra.rep_id AS id_a, rb.rep_id AS id_b,
                   round(e.jaccard, 4) AS jaccard
            FROM est e
            JOIN reps ra ON ra.tid = e.tid_a
            JOIN reps rb ON rb.tid = e.tid_b
            WHERE e.jaccard >= 0.5
        """,
        # hyperplane-LSH embedding dedup (portable sha256-parity plane
        # signs). Every float reduction is an ordered left fold over
        # doubles on BOTH engines (Spark F.aggregate <-> DuckDB
        # list_reduce), so dots/buckets/cosines agree bit-for-bit.
        "embedding_near_dup": """
            WITH emb AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
              FROM embeddings
            ),
            corpus AS (
              SELECT vec_id, embedding FROM emb
              UNION ALL
              SELECT vec_id + 100000 AS vec_id,
                     list_transform(embedding, x -> x * 1.5) AS embedding
              FROM emb WHERE vec_id < 25
            ),
            -- plane p's component signs: sha256 parity of (i \\x1f p)
            signs AS (
              SELECT CAST(p.p AS INT) AS p,
                     list(CASE WHEN CAST('0x' || substr(sha256(
                             CAST(i.i AS VARCHAR) || chr(31)
                             || CAST(p.p AS VARCHAR)), 1, 15) AS BIGINT)
                               % 2 = 0
                          THEN CAST(1.0 AS DOUBLE)
                          ELSE CAST(-1.0 AS DOUBLE) END
                          ORDER BY i.i) AS sv
              FROM range(0, 64) i(i), range(0, 8) p(p)
              GROUP BY p.p
            ),
            plane_dots AS (
              SELECT c.vec_id, s.p,
                     list_reduce(
                       list_transform(list_zip(c.embedding, s.sv),
                                      z -> CAST(z[1] AS DOUBLE) * z[2]),
                       (a, b) -> a + b) AS dot
              FROM corpus c, signs s
            ),
            bucketed AS (
              SELECT c.vec_id, c.embedding, b.bucket,
                     sqrt(list_reduce(
                       list_transform(c.embedding, x -> x * x),
                       (a, b) -> a + b)) AS nrm
              FROM corpus c
              JOIN (SELECT vec_id,
                           string_agg(CASE WHEN dot > 0 THEN '1'
                                           ELSE '0' END, '' ORDER BY p)
                             AS bucket
                    FROM plane_dots GROUP BY vec_id) b USING (vec_id)
            ),
            okb AS (
              SELECT bucket FROM bucketed
              GROUP BY bucket HAVING count(*) <= 256
            ),
            capped AS (SELECT b.* FROM bucketed b JOIN okb USING (bucket)),
            pairs AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     list_reduce(
                       list_transform(list_zip(a.embedding, b.embedding),
                                      z -> CAST(z[1] AS DOUBLE)
                                           * CAST(z[2] AS DOUBLE)),
                       (x, y) -> x + y) / (a.nrm * b.nrm) AS cosine
              FROM capped a
              JOIN capped b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            )
            SELECT id_a, id_b, round(cosine, 4) AS cosine
            FROM pairs WHERE cosine >= 0.95
        """,
        "dedup_simhash": """
            WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
            sh AS (
              SELECT d.doc_id, s.sh,
                     CAST('0x' || substr(sha256(s.sh), 1, 15) AS BIGINT) AS h
              FROM docs d, LATERAL (
                SELECT DISTINCT substr(lower(d.text), CAST(u.i AS INT), 4) AS sh
                FROM unnest(range(1, greatest(len(lower(d.text)) - 3, 1) + 1)) u(i)
              ) s
            ),
            -- majority vote per bit (bits 60-63 of the 60-bit hash are
            -- constantly 0 -> vote -1 -> simhash bit 0, on both engines)
            votes AS (
              SELECT doc_id, CAST(b.bit AS INT) AS bit,
                     sum(CASE WHEN (h >> CAST(b.bit AS INT)) & 1 = 1
                              THEN 1 ELSE -1 END) AS v
              FROM sh, range(0, 64) b(bit)
              GROUP BY 1, 2
            ),
            simh AS (
              SELECT doc_id,
                     sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit)
                              ELSE CAST(0 AS BIGINT) END) AS simhash
              FROM votes GROUP BY doc_id
            ),
            -- 4 bands of 16 bits + the 256-row hot-bucket cap
            banded AS (
              SELECT doc_id, simhash, CAST(r.i AS INT) AS band_id,
                     (simhash >> CAST(r.i * 16 AS INT)) & 65535 AS band_val
              FROM simh, range(0, 4) r(i)
            ),
            okb AS (
              SELECT band_id, band_val FROM banded
              GROUP BY 1, 2 HAVING count(*) <= 256
            ),
            capped AS (
              SELECT b.* FROM banded b JOIN okb USING (band_id, band_val)
            ),
            pairs AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                     CAST(bit_count(xor(a.simhash, b.simhash)) AS INT)
                       AS hamming
              FROM capped a
              JOIN capped b ON a.band_id = b.band_id
                           AND a.band_val = b.band_val
                           AND a.doc_id < b.doc_id
            )
            SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 12
        """,
        "kg_constraint_violations": f"""
            WITH t AS (
              SELECT d.source || '/' || CAST(d.doc_id AS VARCHAR) || '@HEAD' AS subj,
                     l.label AS pred,
                     u.obj AS obj
              FROM documents d
              JOIN (VALUES {kw_values}) l(label, rx) ON TRUE,
              LATERAL unnest(regexp_extract_all(d.text, l.rx)) u(obj)
            ),
            rules(pred, functional, obj_pattern) AS (VALUES
              ('engine', TRUE, CAST(NULL AS VARCHAR)),
              ('exec_op', FALSE, 'join|filter|sort'),
              ('data_noun', FALSE, CAST(NULL AS VARCHAR))
            ),
            j AS (
              SELECT t.subj, t.pred, t.obj, r.functional, r.obj_pattern
              FROM t JOIN rules r USING (pred)
            ),
            shape AS (
              SELECT subj, pred, 'obj_shape' AS violation,
                     count(*) AS n_bad
              FROM j
              WHERE obj_pattern IS NOT NULL
                AND NOT regexp_full_match(obj, '(?:' || obj_pattern || ')')
              GROUP BY subj, pred
            ),
            card AS (
              SELECT subj, pred, 'functional_cardinality' AS violation,
                     count(DISTINCT obj) AS n_bad
              FROM j WHERE functional
              GROUP BY subj, pred
              HAVING count(DISTINCT obj) > 1
            )
            SELECT * FROM shape UNION ALL SELECT * FROM card
        """,
        "state_intervals": """
            WITH r AS (
              SELECT user_id, event_type, ts, event_id,
                     CASE WHEN lag(event_type) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id)
                          IS DISTINCT FROM event_type
                          THEN 1 ELSE 0 END AS chg
              FROM events
            ),
            r2 AS (
              SELECT user_id, event_type, ts, event_id,
                     sum(chg) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS _run
              FROM r
            ),
            iv AS (
              SELECT user_id, _run, event_type AS state,
                     min(ts) AS valid_from, count(*) AS n_events,
                     min(event_id) AS _tie0
              FROM r2 GROUP BY user_id, _run, event_type
            )
            SELECT user_id, state, valid_from,
                   lead(valid_from) OVER (
                     PARTITION BY user_id
                     ORDER BY valid_from, _tie0) AS valid_to,
                   n_events
            FROM iv
        """,
        # frecency: same decay arithmetic, rounded to 6 decimals
        "decayed_counts": """
            WITH t AS (
              SELECT max(CAST(floor(epoch(ts)) AS BIGINT)) AS T
              FROM events
            )
            SELECT user_id,
                   round(sum(pow(2.0,
                     -(((SELECT T FROM t)
                        - CAST(floor(epoch(ts)) AS BIGINT))
                       / 604800.0))), 6) AS decayed_views,
                   count(*) AS n_views
            FROM events
            WHERE event_type = 'view'
            GROUP BY user_id
        """,
        # phrase search: window-lead restatement over unnested tokens
        "phrase_search": """
            WITH lists AS (
              SELECT doc_id,
                     string_split_regex(trim(text), '\\s+') AS l
              FROM documents
            ),
            toks AS (
              SELECT doc_id,
                     unnest(l) AS term,
                     unnest(generate_series(1, len(l))) - 1 AS pos
              FROM lists
            ),
            g AS (
              SELECT doc_id, term,
                     lead(term, 1) OVER w AS t1,
                     lead(term, 2) OVER w AS t2
              FROM toks
              WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            )
            SELECT doc_id, count(*) AS n_hits
            FROM g
            WHERE term = 'key' AND t1 = 'agg' AND t2 = 'row'
            GROUP BY doc_id
        """,
        # as-of join: DuckDB's native ASOF JOIN restates the operator
        "asof_join_quotes": """
            WITH v AS (
              SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'view'
            ),
            p AS (
              SELECT user_id, ts, round(max(value), 6) AS quote_value
              FROM events WHERE event_type = 'purchase'
              GROUP BY user_id, ts
            )
            SELECT v.event_id, v.user_id,
                   CAST(floor(epoch(v.ts)) AS BIGINT) AS view_ep,
                   p.quote_value,
                   CAST(floor(epoch(p.ts)) AS BIGINT) AS asof_ts
            FROM v ASOF LEFT JOIN p
              ON v.user_id = p.user_id AND v.ts >= p.ts
        """,
        # Boruvka MST: cut-property oracle — an edge is in the unique
        # MST iff its endpoints are NOT connected via strictly
        # lighter edges (distinct weights from the portable hash)
        "graph_mst": """
            WITH RECURSIVE base AS MATERIALIZED (
              SELECT DISTINCT
                     'c:' || CAST(o.o_custkey AS VARCHAR) AS src,
                     's:' || CAST(l.l_suppkey AS VARCHAR) AS dst
              FROM lineitem l
              JOIN orders o ON l.l_orderkey = o.o_orderkey
            ),
            wedges AS (
              SELECT src, dst,
                     CAST('0x' || substr(sha256(src || '|' || dst), 1, 15)
                          AS BIGINT) AS w
              FROM base
            ),
            edges AS MATERIALIZED (
              SELECT src, dst, w,
                     row_number() OVER (ORDER BY w, src, dst) AS eid
              FROM wedges
              ORDER BY w, src, dst
              LIMIT 1200
            ),
            reach AS (
              SELECT eid, w, src AS node FROM edges
              UNION
              SELECT r.eid, r.w,
                     CASE WHEN g.src = r.node THEN g.dst
                          ELSE g.src END AS node
              FROM reach r
              JOIN edges g
                ON (g.src = r.node OR g.dst = r.node) AND g.w < r.w
            )
            SELECT e.src, e.dst, e.w
            FROM edges e
            WHERE NOT EXISTS (
              SELECT 1 FROM reach r
              WHERE r.eid = e.eid AND r.node = e.dst
            )
        """,
        # session trigrams: same session numbering + lead construction
        "session_ngrams": """
            WITH e AS (
              SELECT user_id, event_type, ts, event_id,
                     CAST(floor(epoch(ts)) AS BIGINT) AS ep,
                     lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w AS prev
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            f AS (
              SELECT user_id, event_type, ts, event_id,
                     CASE WHEN prev IS NULL OR ep - prev > 1800
                          THEN 1 ELSE 0 END AS ns
              FROM e
            ),
            s AS (
              SELECT user_id, event_type, ts, event_id,
                     sum(ns) OVER w AS session_no
              FROM f
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            g AS (
              SELECT event_type
                     || ';' || lead(event_type, 1) OVER w
                     || ';' || lead(event_type, 2) OVER w AS gram,
                     CASE WHEN lead(session_no, 2) OVER w = session_no
                          THEN 1 ELSE 0 END AS ok
              FROM s
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            SELECT gram, count(*) AS n_occurrences
            FROM g WHERE ok = 1 AND gram IS NOT NULL
            GROUP BY gram
        """,
        # stratified ES sample: same integer key + rank construction
        "weighted_sample_group": """
            WITH w AS (
              SELECT doc_id, source,
                     CAST(1 + (n_chars % 8) AS BIGINT) AS weight
              FROM documents
            ),
            keyed AS (
              SELECT doc_id, source, weight,
                     list_max(list_transform(
                       generate_series(1, CAST(weight AS INT)),
                       j -> CAST('0x' || substr(sha256(
                              CAST(doc_id AS VARCHAR) || chr(31)
                              || CAST(j AS VARCHAR)), 1, 15) AS BIGINT)
                     )) AS es_key
              FROM w
            ),
            ranked AS (
              SELECT doc_id, source, weight, es_key,
                     CAST(row_number() OVER (
                       PARTITION BY source
                       ORDER BY es_key DESC, doc_id ASC
                     ) AS INT) AS rk
              FROM keyed
            )
            SELECT doc_id, source, weight, es_key, rk
            FROM ranked WHERE rk <= 5
        """,
        # interval overlap: native IEJoin over the same SCD2 intervals
        "interval_overlap": """
            WITH r AS (
              SELECT user_id, event_type, ts, event_id,
                     CASE WHEN lag(event_type) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id)
                          IS DISTINCT FROM event_type
                          THEN 1 ELSE 0 END AS chg
              FROM events
            ),
            r2 AS (
              SELECT user_id, event_type, ts, event_id,
                     sum(chg) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS _run
              FROM r
            ),
            iv AS (
              SELECT user_id, _run, event_type AS state,
                     min(ts) AS valid_from, min(event_id) AS _tie0
              FROM r2 GROUP BY user_id, _run, event_type
            ),
            iv2 AS (
              SELECT user_id, state, valid_from,
                     lead(valid_from) OVER (
                       PARTITION BY user_id
                       ORDER BY valid_from, _tie0) AS valid_to
              FROM iv
            ),
            h AS (
              SELECT max(CAST(floor(epoch(valid_from)) AS BIGINT)) + 1
                       AS hz
              FROM iv2
            ),
            ivs AS (
              SELECT user_id AS uid, state,
                     CAST(floor(epoch(valid_from)) AS BIGINT) AS s,
                     coalesce(CAST(floor(epoch(valid_to)) AS BIGINT),
                              (SELECT hz FROM h)) AS e
              FROM iv2
            ),
            -- s < e: a zero-length [s,s) interval (two sub-second
            -- state flips flooring to the same epoch second) is the
            -- EMPTY set and overlaps nothing; the raw inequality
            -- pair (l.s < rr.e AND rr.s < l.e) would wrongly admit
            -- it, so degenerate intervals are excluded exactly as
            -- the engine's operator does
            l AS (SELECT uid AS u_view, s, e FROM ivs
                  WHERE state = 'view' AND s < e),
            rr AS (SELECT uid AS u_buy, s, e FROM ivs
                   WHERE state = 'purchase' AND s < e)
            SELECT l.u_view,
                   count(*) AS n_overlaps,
                   CAST(sum(least(l.e, rr.e) - greatest(l.s, rr.s))
                        AS BIGINT) AS total_overlap_sec
            FROM l JOIN rr
              ON l.s < rr.e AND rr.s < l.e AND l.u_view <> rr.u_buy
            GROUP BY l.u_view
        """,
        # PassJoin edit-distance pairs: brute-force levenshtein cross
        # join over the same deterministic mutant universe
        "edit_distance_pairs": """
            WITH base AS (
              SELECT doc_id AS sid,
                     substr(sha256(CAST(doc_id AS VARCHAR)), 1, 12) AS s
              FROM documents WHERE doc_id < 3000
            ),
            sub AS (
              SELECT sid + 1000000000 AS sid,
                     substr(s, 1, CAST(sid % 12 AS INT)) || 'g'
                       || substr(s, CAST(sid % 12 AS INT) + 2, 12) AS s
              FROM base WHERE sid % 3 = 0
            ),
            dele AS (
              SELECT sid + 2000000000 AS sid,
                     substr(s, 1, CAST(sid % 12 AS INT))
                       || substr(s, CAST(sid % 12 AS INT) + 2, 12) AS s
              FROM base WHERE sid % 5 = 0
            ),
            u AS (
              SELECT * FROM base
              UNION ALL SELECT * FROM sub
              UNION ALL SELECT * FROM dele
            )
            SELECT a.sid AS id_a, b.sid AS id_b,
                   CAST(levenshtein(a.s, b.s) AS BIGINT) AS ed
            FROM u a JOIN u b
              ON a.sid < b.sid
             AND abs(length(a.s) - length(b.s)) <= 1
            WHERE levenshtein(a.s, b.s) <= 1
        """,
        # OLAP cube: GROUPING() bit order verified identical to
        # Spark's grouping_id()
        "cube_revenue": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                     AS sum_disc_price,
                   count(*) AS n_rows,
                   CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT)
                     AS gid
            FROM lineitem
            GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        # ES weighted sample: the integer key (max of w replica hashes
        # of the portable 60-bit family) restated bit-for-bit; ties
        # broken by doc_id like the engine
        "weighted_sample": """
            WITH w AS (
              SELECT doc_id,
                     CAST(1 + (n_chars % 8) AS BIGINT) AS weight
              FROM documents
            ),
            keyed AS (
              SELECT doc_id, weight,
                     list_max(list_transform(
                       generate_series(1, CAST(weight AS INT)),
                       j -> CAST('0x' || substr(sha256(
                              CAST(doc_id AS VARCHAR) || chr(31)
                              || CAST(j AS VARCHAR)), 1, 15) AS BIGINT)
                     )) AS es_key
              FROM w
            )
            SELECT doc_id, weight, es_key
            FROM keyed
            ORDER BY es_key DESC, doc_id ASC
            LIMIT 500
        """,
        # sessionize: identical two-window construction (lag gap flag,
        # running per-user session counter), gap math on floor-epoch
        # longs, ordering on full-precision ts + event_id
        "event_sessions": """
            WITH e AS (
              SELECT user_id, event_id, ts,
                     CAST(floor(epoch(ts)) AS BIGINT) AS ep,
                     lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                     ) AS prev
              FROM events
            ),
            f AS (
              SELECT user_id, event_id, ts, ep,
                     CASE WHEN prev IS NULL OR ep - prev > 1800
                          THEN 1 ELSE 0 END AS ns
              FROM e
            ),
            s AS (
              SELECT user_id, ep,
                     CAST(sum(ns) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                     ) AS BIGINT) AS session_no
              FROM f
            )
            SELECT user_id, session_no,
                   count(*) AS n_events,
                   min(ep) AS sess_start,
                   max(ep) AS sess_end,
                   max(ep) - min(ep) AS duration_sec
            FROM s GROUP BY user_id, session_no
        """,
        "kg_asof_snapshot": """
            WITH r AS (
              SELECT user_id, event_type, ts, event_id,
                     CASE WHEN lag(event_type) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id)
                          IS DISTINCT FROM event_type
                          THEN 1 ELSE 0 END AS chg
              FROM events
            ),
            r2 AS (
              SELECT user_id, event_type, ts, event_id,
                     sum(chg) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS _run
              FROM r
            ),
            iv AS (
              SELECT user_id, _run, event_type AS state,
                     min(ts) AS valid_from, count(*) AS n_events,
                     min(event_id) AS _tie0
              FROM r2 GROUP BY user_id, _run, event_type
            ),
            closed AS (
              SELECT user_id, state, valid_from, n_events,
                     lead(valid_from) OVER (
                       PARTITION BY user_id
                       ORDER BY valid_from, _tie0) AS valid_to
              FROM iv
            )
            SELECT state, count(*) AS n_users, min(user_id) AS min_user,
                   sum(n_events) AS n_events_in_state
            FROM closed
            WHERE valid_from <= TIMESTAMP '2024-01-15 00:00:00'
              AND (valid_to IS NULL
                   OR valid_to > TIMESTAMP '2024-01-15 00:00:00')
            GROUP BY state
        """,
        "graph_random_walks": _WALKS_SQL,
        "kg_negative_samples": f"""
            WITH t AS MATERIALIZED (
              SELECT DISTINCT
                     d.source || '/' || CAST(d.doc_id AS VARCHAR) || '@HEAD' AS subj,
                     l.label AS pred,
                     u.obj AS obj
              FROM documents d
              JOIN (VALUES {{kw_values}}) l(label, rx) ON TRUE,
              LATERAL unnest(regexp_extract_all(d.text, l.rx)) u(obj)
            ),
            o AS (
              SELECT pred, obj AS pool_obj,
                     row_number() OVER (PARTITION BY pred ORDER BY obj) - 1 AS idx
              FROM (SELECT DISTINCT pred, obj FROM t)
            ),
            n AS (SELECT pred, count(*) AS n_obj FROM o GROUP BY pred),
            b AS (
              SELECT t.subj, t.pred, t.obj, n.n_obj, i.i,
                     CAST(concat('0x', substr(sha256(
                       t.subj || chr(31) || t.pred || chr(31) || t.obj
                       || chr(31) || CAST(i.i AS VARCHAR)), 1, 15))
                       AS BIGINT) % n.n_obj AS idx0
              FROM t JOIN n USING (pred), LATERAL unnest([0, 1]) i(i)
              WHERE n.n_obj > 1
            ),
            c0 AS (
              SELECT b.*, o.pool_obj AS obj0
              FROM b JOIN o ON o.pred = b.pred AND o.idx = b.idx0
            ),
            c1 AS (
              SELECT c0.*, o.pool_obj AS obj1
              FROM c0 JOIN o ON o.pred = c0.pred
                AND o.idx = (c0.idx0 + 1) % c0.n_obj
            )
            SELECT subj, pred, obj, i,
                   CASE WHEN obj0 = obj THEN obj1 ELSE obj0 END AS neg_obj
            FROM c1
        """.format(kw_values=kw_values),
        "kg_sameas_rewrite": f"""
            WITH t AS MATERIALIZED (
              SELECT DISTINCT
                     d.source || '/' || CAST(d.doc_id AS VARCHAR) || '@HEAD' AS subj,
                     l.label AS pred,
                     u.obj AS obj
              FROM documents d
              JOIN (VALUES {{kw_values}}) l(label, rx) ON TRUE,
              LATERAL unnest(regexp_extract_all(d.text, l.rx)) u(obj)
            ),
            surf AS (SELECT DISTINCT obj AS node FROM t),
            norm AS (
              SELECT node,
                     regexp_replace(lower(node), '[^0-9a-z]+', '', 'g') AS nf
              FROM surf
            ),
            hub AS (SELECT nf, min(node) AS canonical FROM norm GROUP BY nf),
            cmap AS (SELECT n.node, h.canonical FROM norm n JOIN hub h USING (nf))
            SELECT t.pred, c.canonical AS obj_canonical,
                   count(*) AS n_triples,
                   count(DISTINCT t.obj) AS n_variants
            FROM t JOIN cmap c ON t.obj = c.node
            GROUP BY 1, 2
        """.format(kw_values=kw_values),
        "kg_path_seeded": f"""
            WITH RECURSIVE t AS MATERIALIZED (
              SELECT DISTINCT
                     d.source || '/' || CAST(d.doc_id AS VARCHAR) || '@HEAD' AS subj,
                     l.label AS pred,
                     u.obj AS obj
              FROM documents d
              JOIN (VALUES {{kw_values}}) l(label, rx) ON TRUE,
              LATERAL unnest(regexp_extract_all(d.text, l.rx)) u(obj)
            ),
            sc(sub, sup) AS (VALUES {{subclass_values}}),
            -- image chain: seed docs -> their surfaces -> their classes
            s1 AS (SELECT DISTINCT obj AS node FROM t
                   WHERE pred IN ('engine', 'exec_op', 'data_noun')
                     AND subj LIKE '%7@HEAD'),
            s2 AS (SELECT DISTINCT t.pred AS node
                   FROM t JOIN s1 ON t.obj = s1.node),
            cl AS (
              SELECT sub, sup FROM sc
              UNION
              SELECT cl.sub, sc.sup FROM cl JOIN sc ON cl.sup = sc.sub
            ),
            -- star: zero-length keeps s2; DISTINCT-over-UNION-ALL per
            -- the WITH RECURSIVE non-dedupe quirk
            img AS (
              SELECT DISTINCT node FROM (
                SELECT node FROM s2
                UNION ALL
                SELECT cl.sup AS node FROM s2 JOIN cl ON cl.sub = s2.node
              )
            )
            SELECT node FROM img
        """.format(kw_values=kw_values, subclass_values=_SUBCLASS_VALUES_SQL),
        "kg_weighted_paths": """
            WITH RECURSIVE e AS MATERIALIZED (
              SELECT CAST(c.c_nationkey AS BIGINT) AS src,
                     CAST(s.s_nationkey AS BIGINT) AS dst,
                     count(*) AS w
              FROM lineitem l
              JOIN orders o ON l.l_orderkey = o.o_orderkey
              JOIN customer c ON o.o_custkey = c.c_custkey
              JOIN supplier s ON l.l_suppkey = s.s_suppkey
              GROUP BY 1, 2
            ),
            r AS (
              SELECT CAST(n_nationkey AS BIGINT) AS node,
                     CAST(0 AS BIGINT) AS dist, 0 AS hops
              FROM nation WHERE n_nationkey = 0
              UNION
              SELECT e.dst AS node, r.dist + e.w AS dist, r.hops + 1 AS hops
              FROM r JOIN e ON e.src = r.node
              WHERE r.hops < 3
            )
            SELECT node, min(dist) AS dist FROM r GROUP BY node
        """,
        "kg_linkpred_metrics": f"""
            WITH t AS MATERIALIZED (
              SELECT DISTINCT
                     d.source || '/' || CAST(d.doc_id AS VARCHAR) || '@HEAD' AS subj,
                     l.label AS pred,
                     u.obj AS obj
              FROM documents d
              JOIN (VALUES {{kw_values}}) l(label, rx) ON TRUE,
              LATERAL unnest(regexp_extract_all(d.text, l.rx)) u(obj)
            ),
            o AS (
              SELECT pred, obj AS pool_obj,
                     row_number() OVER (PARTITION BY pred ORDER BY obj) - 1 AS idx
              FROM (SELECT DISTINCT pred, obj FROM t)
            ),
            n AS (SELECT pred, count(*) AS n_obj FROM o GROUP BY pred),
            b AS (
              SELECT t.subj, t.pred, t.obj, n.n_obj, i.i,
                     CAST(concat('0x', substr(sha256(
                       t.subj || chr(31) || t.pred || chr(31) || t.obj
                       || chr(31) || CAST(i.i AS VARCHAR)), 1, 15))
                       AS BIGINT) % n.n_obj AS idx0
              FROM t JOIN n USING (pred), LATERAL unnest([0, 1]) i(i)
              WHERE n.n_obj > 1
            ),
            c0 AS (
              SELECT b.*, o.pool_obj AS obj0
              FROM b JOIN o ON o.pred = b.pred AND o.idx = b.idx0
            ),
            neg AS (
              SELECT c0.subj, c0.pred, c0.obj,
                     CASE WHEN c0.obj0 = c0.obj THEN o.pool_obj
                          ELSE c0.obj0 END AS neg_obj
              FROM c0 JOIN o ON o.pred = c0.pred
                AND o.idx = (c0.idx0 + 1) % c0.n_obj
            ),
            cand AS (
              SELECT subj, pred, obj, obj AS candidate, TRUE AS is_pos
              FROM (SELECT DISTINCT subj, pred, obj FROM neg)
              UNION ALL
              SELECT subj, pred, obj, neg_obj AS candidate, FALSE AS is_pos
              FROM neg
            ),
            scored AS (
              SELECT *,
                     CAST(concat('0x', substr(sha256(
                       subj || chr(31) || pred || chr(31) || candidate),
                       1, 15)) AS BIGINT) % 1000 AS score
              FROM cand
            ),
            ranked AS (
              SELECT is_pos,
                     1 + coalesce(sum(CASE WHEN NOT is_pos THEN 1 ELSE 0 END)
                       OVER (PARTITION BY subj, pred, obj
                             ORDER BY score DESC, candidate ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS rank
              FROM scored
            )
            SELECT count(*) AS n_pos,
                   CAST(sum(1000000000 // rank) // count(*) AS BIGINT) AS mrr_fp,
                   CAST(sum(CASE WHEN rank <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS hits_1,
                   CAST(sum(CASE WHEN rank <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS hits_3,
                   CAST(sum(CASE WHEN rank <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS hits_10
            FROM ranked WHERE is_pos
        """.format(kw_values=kw_values),
        "bpe_pair_counts": r"""
            WITH w AS (
              SELECT u.word, count(*) AS cnt
              FROM documents d, LATERAL unnest(
                CASE WHEN trim(d.text) = '' THEN CAST([] AS VARCHAR[])
                     ELSE string_split_regex(trim(lower(d.text)), '\s+')
                END) u(word)
              GROUP BY u.word
            ),
            p AS (
              SELECT substr(w.word, i.i, 1) || ' ' || substr(w.word, i.i + 1, 1)
                       AS pair,
                     w.cnt
              FROM w, LATERAL unnest(range(1, length(w.word))) i(i)
              WHERE length(w.word) >= 2
            )
            SELECT pair, CAST(sum(cnt) AS BIGINT) AS n
            FROM p GROUP BY pair
            ORDER BY n DESC, pair ASC LIMIT 20
        """,
        "kg_bgp_optional": f"""
            WITH t AS MATERIALIZED (
              SELECT DISTINCT
                     d.source || '/' || CAST(d.doc_id AS VARCHAR) || '@HEAD' AS subj,
                     l.label AS pred,
                     u.obj AS obj
              FROM documents d
              JOIN (VALUES {{kw_values}}) l(label, rx) ON TRUE,
              LATERAL unnest(regexp_extract_all(d.text, l.rx)) u(obj)
            ),
            req AS (SELECT DISTINCT subj AS doc FROM t
                    WHERE pred = 'engine' AND obj = 'vector'),
            opt AS (SELECT DISTINCT subj AS doc, obj AS op FROM t
                    WHERE pred = 'exec_op')
            SELECT o.op,
                   count(DISTINCT r.doc) AS n_docs,
                   count(*) AS n_bindings
            FROM req r LEFT JOIN opt o USING (doc)
            GROUP BY o.op
        """.format(kw_values=kw_values),
        # UNION of two DISTINCT-projected branches is a bag (UNION
        # ALL), VALUES joins once against the unioned solutions and
        # extends them with `family`, FILTER is a plain WHERE — the
        # same group-scoped order as bgp_union
        "kg_bgp_union": f"""
            WITH t AS MATERIALIZED (
              SELECT DISTINCT
                     d.source || '/' || CAST(d.doc_id AS VARCHAR) || '@HEAD' AS subj,
                     l.label AS pred,
                     u.obj AS obj
              FROM documents d
              JOIN (VALUES {{kw_values}}) l(label, rx) ON TRUE,
              LATERAL unnest(regexp_extract_all(d.text, l.rx)) u(obj)
            ),
            b1 AS (SELECT DISTINCT subj AS doc, obj AS term FROM t
                   WHERE pred = 'engine'),
            b2 AS (SELECT DISTINCT subj AS doc, obj AS term FROM t
                   WHERE pred = 'exec_op'),
            u AS (SELECT doc, term FROM b1
                  UNION ALL SELECT doc, term FROM b2),
            v(term, family) AS (VALUES ('spark', 'eng'), ('hash', 'eng'),
                                       ('join', 'op'), ('scan', 'op')),
            j AS (
              SELECT u.doc, u.term, v.family
              FROM u JOIN v USING (term)
              WHERE u.term <> 'join'
            )
            SELECT family, term,
                   count(*) AS n_bindings,
                   count(DISTINCT doc) AS n_docs
            FROM j GROUP BY family, term
        """.format(kw_values=kw_values),
        # pairwise P/R from cluster-size sums: pred = per-strict-nf
        # min (the clique election CC must match), gold = digit-blind
        # nf; s*(s-1)/2 sums, fixed-point integer division
        "kg_cluster_eval": f"""
            WITH t AS MATERIALIZED (
              SELECT DISTINCT
                     d.source || '/' || CAST(d.doc_id AS VARCHAR) || '@HEAD' AS subj,
                     l.label AS pred,
                     u.obj AS obj
              FROM documents d
              JOIN (VALUES {{kw_values}}) l(label, rx) ON TRUE,
              LATERAL unnest(regexp_extract_all(d.text, l.rx)) u(obj)
            ),
            surf AS (SELECT DISTINCT obj AS node FROM t),
            m AS (
              SELECT node,
                     regexp_replace(lower(node), '[^0-9a-z]+', '', 'g') AS nf,
                     regexp_replace(lower(node), '[^a-z]+', '', 'g') AS nfc
              FROM surf),
            hub AS (SELECT nf, min(node) AS pc FROM m GROUP BY nf),
            b AS (SELECT m.node, h.pc, m.nfc FROM m JOIN hub h USING (nf)),
            ni AS (SELECT count(*) AS n_items FROM b),
            np AS (SELECT CAST(coalesce(sum(s * (s - 1) // 2), 0) AS BIGINT)
                          AS n_pred_pairs
                   FROM (SELECT count(*) AS s FROM b GROUP BY pc)),
            ng AS (SELECT CAST(coalesce(sum(s * (s - 1) // 2), 0) AS BIGINT)
                          AS n_gold_pairs
                   FROM (SELECT count(*) AS s FROM b GROUP BY nfc)),
            nb AS (SELECT CAST(coalesce(sum(s * (s - 1) // 2), 0) AS BIGINT)
                          AS n_both
                   FROM (SELECT count(*) AS s FROM b GROUP BY pc, nfc)),
            r AS (
              SELECT ni.n_items, np.n_pred_pairs, ng.n_gold_pairs, nb.n_both,
                     CASE WHEN np.n_pred_pairs > 0
                          THEN (nb.n_both * 1000000000) // np.n_pred_pairs
                          ELSE 0 END AS precision_fp,
                     CASE WHEN ng.n_gold_pairs > 0
                          THEN (nb.n_both * 1000000000) // ng.n_gold_pairs
                          ELSE 0 END AS recall_fp
              FROM ni, np, ng, nb)
            SELECT *,
                   CASE WHEN precision_fp + recall_fp > 0
                        THEN (2 * precision_fp * recall_fp)
                             // (precision_fp + recall_fp)
                        ELSE 0 END AS f1_fp
            FROM r
        """.format(kw_values=kw_values),
        # MINUS as NOT EXISTS on the shared variable, branch scans
        # DISTINCT like every pattern scan
        "kg_bgp_minus": f"""
            WITH t AS MATERIALIZED (
              SELECT DISTINCT
                     d.source || '/' || CAST(d.doc_id AS VARCHAR) || '@HEAD' AS subj,
                     l.label AS pred,
                     u.obj AS obj
              FROM documents d
              JOIN (VALUES {{kw_values}}) l(label, rx) ON TRUE,
              LATERAL unnest(regexp_extract_all(d.text, l.rx)) u(obj)
            ),
            b AS (SELECT DISTINCT subj AS doc, obj AS e FROM t
                  WHERE pred = 'engine'),
            m AS (SELECT DISTINCT subj AS doc FROM t
                  WHERE pred = 'exec_op' AND obj = 'join')
            SELECT b.e, count(*) AS n_bindings,
                   count(DISTINCT b.doc) AS n_docs
            FROM b
            WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.doc = b.doc)
            GROUP BY b.e
        """.format(kw_values=kw_values),
        # direct mapping restated per predicate: each mapped column is
        # one per-row select (NULL objects filtered), FK edges render
        # the same IRI templates
        "kg_direct_map": """
            WITH g AS (
              SELECT 'cust/' || CAST(c_custkey AS VARCHAR) AS subj,
                     'rdf:type' AS pred, 'Customer' AS obj FROM customer
              UNION ALL
              SELECT 'cust/' || CAST(c_custkey AS VARCHAR), 'name', c_name
              FROM customer WHERE c_name IS NOT NULL
              UNION ALL
              SELECT 'cust/' || CAST(c_custkey AS VARCHAR), 'mktsegment',
                     c_mktsegment
              FROM customer WHERE c_mktsegment IS NOT NULL
              UNION ALL
              SELECT 'cust/' || CAST(c_custkey AS VARCHAR), 'nation',
                     'nation/' || CAST(c_nationkey AS VARCHAR)
              FROM customer WHERE c_nationkey IS NOT NULL
              UNION ALL
              SELECT 'order/' || CAST(o_orderkey AS VARCHAR), 'rdf:type',
                     'Order' FROM orders
              UNION ALL
              SELECT 'order/' || CAST(o_orderkey AS VARCHAR), 'status',
                     o_orderstatus
              FROM orders WHERE o_orderstatus IS NOT NULL
              UNION ALL
              SELECT 'order/' || CAST(o_orderkey AS VARCHAR), 'customer',
                     'cust/' || CAST(o_custkey AS VARCHAR)
              FROM orders WHERE o_custkey IS NOT NULL
            )
            SELECT pred, count(*) AS n_triples,
                   count(DISTINCT subj) AS n_subj,
                   count(DISTINCT obj) AS n_obj
            FROM g GROUP BY pred
        """,
        # per-subject sorted distinct-pred list as the group key,
        # n_triples over the deduped assertion set
        "kg_charsets": f"""
            WITH t AS MATERIALIZED (
              SELECT DISTINCT
                     d.source || '/' || CAST(d.doc_id AS VARCHAR) || '@HEAD' AS subj,
                     l.label AS pred,
                     u.obj AS obj
              FROM documents d
              JOIN (VALUES {{kw_values}}) l(label, rx) ON TRUE,
              LATERAL unnest(regexp_extract_all(d.text, l.rx)) u(obj)
            ),
            per_subj AS (
              SELECT subj,
                     array_to_string(list_sort(list(DISTINCT pred)), ',') AS cs,
                     CAST(count(DISTINCT pred) AS BIGINT) AS n_preds,
                     count(*) AS n_triples
              FROM t GROUP BY subj)
            SELECT cs, n_preds,
                   count(*) AS n_subjects,
                   CAST(sum(n_triples) AS BIGINT) AS n_triples
            FROM per_subj GROUP BY cs, n_preds
        """.format(kw_values=kw_values),
        # CONSTRUCT = one distinct join + template projection
        # SPARQL Update: (G \ D) ∪ I, both template sets bound from
        # the PRE-update graph — EXCEPT/UNION ALL over set CTEs
        "kg_update_where": f"""
            WITH t AS MATERIALIZED (
              SELECT DISTINCT
                     d.source || '/' || CAST(d.doc_id AS VARCHAR) || '@HEAD' AS subj,
                     l.label AS pred,
                     u.obj AS obj
              FROM documents d
              JOIN (VALUES {{kw_values}}) l(label, rx) ON TRUE,
              LATERAL unnest(regexp_extract_all(d.text, l.rx)) u(obj)
            ),
            sols AS (
              SELECT DISTINCT e.subj AS d, o.obj AS o
              FROM t e JOIN t o ON e.subj = o.subj
              WHERE e.pred = 'engine' AND e.obj = 'spark'
                AND o.pred = 'exec_op'),
            del AS (SELECT DISTINCT d AS subj, 'exec_op' AS pred, o AS obj
                    FROM sols),
            ins AS (SELECT DISTINCT d AS subj, 'spark_op' AS pred, o AS obj
                    FROM sols),
            surv AS (SELECT subj, pred, obj FROM t
                     EXCEPT SELECT subj, pred, obj FROM del),
            adds AS (SELECT subj, pred, obj FROM ins
                     EXCEPT SELECT subj, pred, obj FROM surv),
            g AS (SELECT * FROM surv UNION ALL SELECT * FROM adds)
            SELECT pred, count(*) AS n_triples,
                   count(DISTINCT subj) AS n_subj,
                   count(DISTINCT obj) AS n_obj
            FROM g GROUP BY pred
        """.format(kw_values=kw_values),
        # INSERT..WHERE: store extended by deduped template fires
        "kg_sparql_update": f"""
            WITH t AS MATERIALIZED (
              SELECT DISTINCT
                     d.source || '/' || CAST(d.doc_id AS VARCHAR) || '@HEAD' AS subj,
                     l.label AS pred,
                     u.obj AS obj
              FROM documents d
              JOIN (VALUES {{kw_values}}) l(label, rx) ON TRUE,
              LATERAL unnest(regexp_extract_all(d.text, l.rx)) u(obj)
            ),
            sols AS (
              SELECT DISTINCT e.obj AS e, n.obj AS n
              FROM t e JOIN t n ON e.subj = n.subj
              WHERE e.pred = 'engine' AND n.pred = 'data_noun'),
            ins AS (SELECT DISTINCT e AS subj, 'uses' AS pred, n AS obj
                    FROM sols),
            adds AS (SELECT subj, pred, obj FROM ins
                     EXCEPT SELECT subj, pred, obj FROM t),
            g AS (SELECT subj, pred, obj FROM t
                  UNION ALL SELECT * FROM adds)
            SELECT pred, count(*) AS n_triples,
                   count(DISTINCT subj) AS n_subj,
                   count(DISTINCT obj) AS n_obj
            FROM g GROUP BY pred
        """.format(kw_values=kw_values),
        "kg_construct": f"""
            WITH t AS MATERIALIZED (
              SELECT DISTINCT
                     d.source || '/' || CAST(d.doc_id AS VARCHAR) || '@HEAD' AS subj,
                     l.label AS pred,
                     u.obj AS obj
              FROM documents d
              JOIN (VALUES {{kw_values}}) l(label, rx) ON TRUE,
              LATERAL unnest(regexp_extract_all(d.text, l.rx)) u(obj)
            ),
            e AS (SELECT DISTINCT subj AS d, obj AS e FROM t
                  WHERE pred = 'engine'),
            n AS (SELECT DISTINCT subj AS d, obj AS n FROM t
                  WHERE pred = 'data_noun')
            SELECT DISTINCT e.e AS subj, 'processes' AS pred, n.n AS obj
            FROM e JOIN n ON e.d = n.d
        """.format(kw_values=kw_values),
        # R1/R2 as joins, R3 (transitive `linked`) as a left-linear
        # recursive CTE — same fixpoint as the engine's naive closure
        # rule; derived preds are disjoint from asserted ones, so the
        # inferred set is exactly runs + closed linked
        "kg_rule_closure": f"""
            WITH RECURSIVE t AS MATERIALIZED (
              SELECT DISTINCT
                     d.source || '/' || CAST(d.doc_id AS VARCHAR) || '@HEAD' AS subj,
                     l.label AS pred,
                     u.obj AS obj
              FROM documents d
              JOIN (VALUES {{kw_values}}) l(label, rx) ON TRUE,
              LATERAL unnest(regexp_extract_all(d.text, l.rx)) u(obj)
            ),
            eng AS MATERIALIZED (
              SELECT DISTINCT subj AS d, obj AS e FROM t
              WHERE pred = 'engine'),
            op AS MATERIALIZED (
              SELECT DISTINCT subj AS d, obj AS o FROM t
              WHERE pred = 'exec_op'),
            runs AS MATERIALIZED (
              SELECT DISTINCT eng.e AS s, op.o AS ob
              FROM eng JOIN op ON eng.d = op.d),
            l0 AS MATERIALIZED (
              SELECT DISTINCT o1.o AS a, o2.o AS b
              FROM op o1 JOIN op o2 ON o1.d = o2.d),
            lr AS (
              SELECT a, b FROM l0
              UNION
              SELECT lr.a, l0.b FROM lr JOIN l0 ON lr.b = l0.a
            )
            SELECT s AS subj, 'runs' AS pred, ob AS obj FROM runs
            UNION ALL
            SELECT a AS subj, 'linked' AS pred, b AS obj FROM lr
        """.format(kw_values=kw_values),
        "graph_communities": _LPA_SQL,
        "graph_modularity": _MODULARITY_SQL,
        "kg_diff": f"""
            WITH t AS MATERIALIZED (
              SELECT DISTINCT d.doc_id,
                     d.source || '/' || CAST(d.doc_id AS VARCHAR) || '@HEAD' AS subj,
                     l.label AS pred,
                     u.obj AS obj
              FROM documents d
              JOIN (VALUES {{kw_values}}) l(label, rx) ON TRUE,
              LATERAL unnest(regexp_extract_all(d.text, l.rx)) u(obj)
            ),
            o AS (SELECT DISTINCT subj, pred, obj FROM t WHERE doc_id % 7 <> 0),
            n AS (SELECT DISTINCT subj, pred, obj FROM t WHERE doc_id % 5 <> 0)
            SELECT n.subj, n.pred, n.obj, 'added' AS change
            FROM n WHERE NOT EXISTS (
              SELECT 1 FROM o WHERE o.subj = n.subj AND o.pred = n.pred
                AND o.obj = n.obj)
            UNION ALL
            SELECT o.subj, o.pred, o.obj, 'removed' AS change
            FROM o WHERE NOT EXISTS (
              SELECT 1 FROM n WHERE n.subj = o.subj AND n.pred = o.pred
                AND n.obj = o.obj)
        """.format(kw_values=kw_values),
        "dsir_weights": r"""
            WITH toks AS MATERIALIZED (
              SELECT d.doc_id, d.lang,
                     CAST(concat('0x', substr(sha256(u.token), 1, 15))
                          AS BIGINT) % 256 AS bucket
              FROM documents d, LATERAL unnest(
                CASE WHEN trim(d.text) = '' THEN CAST([] AS VARCHAR[])
                     ELSE string_split_regex(trim(lower(d.text)), '\s+')
                END) u(token)
            ),
            rc AS (SELECT bucket, count(*) AS c_raw FROM toks GROUP BY bucket),
            tc AS (SELECT bucket, count(*) AS c_tgt FROM toks
                   WHERE lang <> 'en' GROUP BY bucket),
            rt AS (SELECT sum(c_raw) AS t_raw FROM rc),
            tt AS (SELECT coalesce(sum(c_tgt), 0) AS t_tgt FROM tc),
            model AS (
              SELECT rc.bucket,
                     CAST(floor(ln((coalesce(tc.c_tgt, 0) + 1)
                          / CAST(tt.t_tgt + 256 AS DOUBLE)) * 1000000000)
                          AS BIGINT)
                   - CAST(floor(ln((rc.c_raw + 1)
                          / CAST(rt.t_raw + 256 AS DOUBLE)) * 1000000000)
                          AS BIGINT) AS lr_fp
              FROM rc LEFT JOIN tc USING (bucket), rt, tt
            ),
            pd AS (
              SELECT toks.doc_id, count(*) AS n_tokens,
                     CAST(sum(model.lr_fp) AS BIGINT) AS w_fp
              FROM toks JOIN model USING (bucket)
              GROUP BY toks.doc_id
            )
            SELECT d.doc_id,
                   coalesce(pd.n_tokens, 0) AS n_tokens,
                   coalesce(pd.w_fp, 0) AS w_fp,
                   CASE WHEN coalesce(pd.n_tokens, 0) = 0 THEN 0.0
                        ELSE round(pd.w_fp / pd.n_tokens / 1000000000.0, 4)
                   END AS avg_w
            FROM documents d LEFT JOIN pd USING (doc_id)
        """,
        "kg_bgp_match": f"""
            WITH t AS MATERIALIZED (
              SELECT DISTINCT
                     d.source || '/' || CAST(d.doc_id AS VARCHAR) || '@HEAD' AS subj,
                     l.label AS pred,
                     u.obj AS obj
              FROM documents d
              JOIN (VALUES {{kw_values}}) l(label, rx) ON TRUE,
              LATERAL unnest(regexp_extract_all(d.text, l.rx)) u(obj)
            ),
            p1 AS (SELECT DISTINCT subj AS doc, obj AS eng FROM t WHERE pred = 'engine'),
            p2 AS (SELECT DISTINCT subj AS doc FROM t
                   WHERE pred = 'exec_op' AND obj = 'join'),
            p3 AS (SELECT DISTINCT subj AS doc, obj AS noun FROM t WHERE pred = 'data_noun')
            SELECT eng, noun,
                   count(*) AS n_bindings,
                   count(DISTINCT doc) AS n_docs
            FROM p1 JOIN p2 USING (doc) JOIN p3 USING (doc)
            GROUP BY eng, noun
        """.format(kw_values=kw_values),
        "kg_reachability": """
            WITH RECURSIVE base AS MATERIALIZED (
              SELECT DISTINCT 'c:' || CAST(o.o_custkey AS VARCHAR) AS src,
                     's:' || CAST(l.l_suppkey AS VARCHAR) AS dst
              FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            ),
            e AS MATERIALIZED (
              SELECT src, dst FROM base
              UNION ALL
              SELECT dst AS src, src AS dst FROM base
            ),
            r AS (
              SELECT 'c:' || CAST(c_custkey AS VARCHAR) AS node, 0 AS dist
              FROM customer WHERE c_nationkey = 0
              UNION
              SELECT e.dst AS node, r.dist + 1 AS dist
              FROM r JOIN e ON r.node = e.src
              WHERE r.dist < 3
            ),
            m AS (SELECT node, min(dist) AS dist FROM r GROUP BY node)
            SELECT dist, substring(node, 1, 1) AS side, count(*) AS n_nodes
            FROM m GROUP BY dist, side
        """,
        "kg_type_inference": f"""
            WITH RECURSIVE it AS MATERIALIZED (
              SELECT DISTINCT u.obj AS inst, l.label AS cls
              FROM documents d
              JOIN (VALUES {{kw_values}}) l(label, rx) ON TRUE,
              LATERAL unnest(regexp_extract_all(d.text, l.rx)) u(obj)
            ),
            sc(sub, sup) AS (VALUES {{subclass_values}}),
            cl AS (
              SELECT sub, sup FROM sc
              UNION
              SELECT cl.sub, sc.sup FROM cl JOIN sc ON cl.sup = sc.sub
            )
            SELECT inst, cls, TRUE AS asserted FROM it
            UNION ALL
            SELECT DISTINCT it.inst, cl.sup AS cls, FALSE AS asserted
            FROM it JOIN cl ON it.cls = cl.sub
            WHERE NOT EXISTS (
              SELECT 1 FROM it it2
              WHERE it2.inst = it.inst AND it2.cls = cl.sup
            )
        """.format(kw_values=kw_values, subclass_values=_SUBCLASS_VALUES_SQL),
        "kg_ntriples": f"""
            WITH t AS (
              SELECT DISTINCT
                     d.source || '/' || CAST(d.doc_id AS VARCHAR) || '@HEAD' AS subj,
                     l.label AS pred,
                     u.obj AS obj
              FROM documents d
              JOIN (VALUES {{kw_values}}) l(label, rx) ON TRUE,
              LATERAL unnest(regexp_extract_all(d.text, l.rx)) u(obj)
            )
            SELECT '<urn:kg:' || subj || '> <urn:kg:' || pred || '> "' ||
                   replace(replace(replace(replace(replace(obj,
                     '\\', '\\\\'), '"', '\\"'),
                     chr(10), '\\n'), chr(13), '\\r'), chr(9), '\\t')
                   || '" .' AS ntriple
            FROM t
        """.format(kw_values=kw_values),
        "kg_property_path": f"""
            WITH RECURSIVE t AS MATERIALIZED (
              SELECT DISTINCT
                     d.source || '/' || CAST(d.doc_id AS VARCHAR) || '@HEAD' AS subj,
                     l.label AS pred,
                     u.obj AS obj
              FROM documents d
              JOIN (VALUES {{kw_values}}) l(label, rx) ON TRUE,
              LATERAL unnest(regexp_extract_all(d.text, l.rx)) u(obj)
            ),
            -- alt of the three label atoms, then seq with the 'a' type
            -- link (surface -> its label-as-class)
            s1 AS (SELECT DISTINCT subj AS src, obj AS dst FROM t
                   WHERE pred IN ('engine', 'exec_op', 'data_noun')),
            ty AS (SELECT DISTINCT obj AS src, pred AS dst FROM t),
            s2 AS (SELECT DISTINCT s1.src, ty.dst
                   FROM s1 JOIN ty ON ty.src = s1.dst),
            sc(sub, sup) AS (VALUES {{subclass_values}}),
            cl AS (
              SELECT sub, sup FROM sc
              UNION
              SELECT cl.sub, sc.sup FROM cl JOIN sc ON cl.sup = sc.sub
            ),
            -- subclass_of* : zero-length step keeps the direct class,
            -- the closure adds every ancestor. Explicit DISTINCT: in a
            -- WITH RECURSIVE block DuckDB 1.0 does NOT dedupe a
            -- top-level UNION inside a non-self-referencing CTE
            paths AS (
              SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM s2
                UNION ALL
                SELECT s2.src, cl.sup AS dst FROM s2 JOIN cl ON cl.sub = s2.dst
              )
            )
            SELECT dst AS cls, count(*) AS n_docs FROM paths GROUP BY dst
        """.format(kw_values=kw_values, subclass_values=_SUBCLASS_VALUES_SQL),
        "kg_composed_query": f"""
            WITH RECURSIVE t AS MATERIALIZED (
              SELECT DISTINCT
                     d.source || '/' || CAST(d.doc_id AS VARCHAR) || '@HEAD' AS subj,
                     l.label AS pred,
                     u.obj AS obj
              FROM documents d
              JOIN (VALUES {{kw_values}}) l(label, rx) ON TRUE,
              LATERAL unnest(regexp_extract_all(d.text, l.rx)) u(obj)
            ),
            -- BGP block: ground exec_op pattern + engine binding
            p1 AS (SELECT DISTINCT subj AS doc FROM t
                   WHERE pred = 'exec_op' AND obj = 'join'),
            p2 AS (SELECT DISTINCT subj AS doc, obj AS eng FROM t
                   WHERE pred = 'engine'),
            -- path block: a / subclass_of*  (type link then closure,
            -- zero-length step keeps the direct class)
            ty AS (SELECT DISTINCT obj AS src, pred AS dst FROM t),
            sc(sub, sup) AS (VALUES {{subclass_values}}),
            cl AS (
              SELECT sub, sup FROM sc
              UNION
              SELECT cl.sub, sc.sup FROM cl JOIN sc ON cl.sup = sc.sub
            ),
            pe AS (
              SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM ty
                UNION ALL
                SELECT ty.src, cl.sup AS dst FROM ty JOIN cl ON cl.sub = ty.dst
              )
            ),
            -- MINUS group: docs also mentioning the data_noun 'table'
            m AS (SELECT DISTINCT subj AS doc FROM t
                  WHERE pred = 'data_noun' AND obj = 'table'),
            v(eng) AS (VALUES ('spark'), ('hash'), ('vector'))
            SELECT DISTINCT p1.doc, p2.eng, pe.dst AS cls
            FROM p1
            JOIN p2 USING (doc)
            JOIN pe ON pe.src = p2.eng
            JOIN v USING (eng)
            WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.doc = p1.doc)
              AND pe.dst <> 'kg_term'
        """.format(kw_values=kw_values, subclass_values=_SUBCLASS_VALUES_SQL),
        "kg_sparql_query": f"""
            WITH RECURSIVE t AS MATERIALIZED (
              SELECT DISTINCT
                     d.source || '/' || CAST(d.doc_id AS VARCHAR) || '@HEAD' AS subj,
                     l.label AS pred,
                     u.obj AS obj
              FROM documents d
              JOIN (VALUES {{kw_values}}) l(label, rx) ON TRUE,
              LATERAL unnest(regexp_extract_all(d.text, l.rx)) u(obj)
            ),
            -- UNION chain: bag union of two set-semantic branches
            b AS (
              SELECT * FROM (SELECT DISTINCT subj AS doc, obj AS s
                             FROM t WHERE pred = 'engine')
              UNION ALL
              SELECT * FROM (SELECT DISTINCT subj AS doc, obj AS s
                             FROM t WHERE pred = 'exec_op')
            ),
            -- path block: a / subclass_of+  (type link, then 1+ hops)
            ty AS (SELECT DISTINCT obj AS src, pred AS dst FROM t),
            sc(sub, sup) AS (VALUES {{subclass_values}}),
            cl AS (
              SELECT sub, sup FROM sc
              UNION
              SELECT cl.sub, sc.sup FROM cl JOIN sc ON cl.sup = sc.sub
            ),
            pe AS (
              SELECT DISTINCT ty.src, cl.sup AS dst
              FROM ty JOIN cl ON cl.sub = ty.dst
            ),
            sol AS (
              SELECT b.doc, b.s, pe.dst AS cls
              FROM b JOIN pe ON pe.src = b.s
              WHERE pe.dst <> 'kg_term'
            )
            SELECT cls,
                   count(DISTINCT doc) AS n_docs,
                   count(*) AS n_bindings
            FROM sol
            GROUP BY cls
            ORDER BY n_docs DESC, cls
            LIMIT 10
        """.format(kw_values=kw_values, subclass_values=_SUBCLASS_VALUES_SQL),
        "kg_composed_construct": f"""
            WITH t AS MATERIALIZED (
              SELECT DISTINCT
                     d.source || '/' || CAST(d.doc_id AS VARCHAR) || '@HEAD' AS subj,
                     l.label AS pred,
                     u.obj AS obj
              FROM documents d
              JOIN (VALUES {{kw_values}}) l(label, rx) ON TRUE,
              LATERAL unnest(regexp_extract_all(d.text, l.rx)) u(obj)
            ),
            e AS (SELECT DISTINCT subj AS doc, obj AS eng FROM t
                  WHERE pred = 'engine'),
            n AS (SELECT DISTINCT subj AS doc, obj AS noun FROM t
                  WHERE pred = 'data_noun')
            -- head 1 skips unbound-?noun solutions (incomplete-triple
            -- rule == inner join); head 2 fires for every solution
            SELECT DISTINCT eng AS subj, 'used_with' AS pred, noun AS obj
            FROM e JOIN n USING (doc)
            UNION
            SELECT DISTINCT eng AS subj, 'a' AS pred,
                   'engine_surface' AS obj
            FROM e
        """.format(kw_values=kw_values),
        "passage_dedup": r"""
            WITH toks AS (
              SELECT doc_id,
                     string_split_regex(trim(lower(text)), '\s+') AS t
              FROM documents WHERE trim(text) <> ''),
            occ AS (
              SELECT doc_id, CAST(u.i AS INT) AS pos,
                     array_to_string(
                       list_slice(t, CAST(u.i AS INT), CAST(u.i AS INT) + 7),
                       ' ') AS win
              FROM toks, LATERAL unnest(
                range(1, greatest(len(t) - 7, 0) + 1)) u(i)),
            dup AS (
              SELECT win FROM occ
              GROUP BY win HAVING count(DISTINCT doc_id) >= 2),
            hits AS (
              SELECT o.doc_id, o.pos FROM occ o JOIN dup USING (win)),
            cnts AS (
              SELECT doc_id, count(*) AS n_dup_windows
              FROM hits GROUP BY doc_id),
            cov AS (
              SELECT h.doc_id, count(DISTINCT v.idx) AS covered
              FROM hits h, LATERAL unnest(range(h.pos, h.pos + 8)) v(idx)
              GROUP BY h.doc_id),
            tot AS (
              SELECT doc_id, len(t) AS n_tokens,
                     greatest(len(t) - 7, 0) AS n_windows
              FROM toks)
            SELECT t.doc_id, t.n_tokens, t.n_windows,
                   c.n_dup_windows, v.covered AS dup_covered_tokens
            FROM tot t
            JOIN cnts c USING (doc_id)
            JOIN cov v USING (doc_id)
        """,
        "kg_composed_agg": f"""
            WITH t AS MATERIALIZED (
              SELECT DISTINCT
                     d.source || '/' || CAST(d.doc_id AS VARCHAR) || '@HEAD' AS subj,
                     l.label AS pred,
                     u.obj AS obj
              FROM documents d
              JOIN (VALUES {{kw_values}}) l(label, rx) ON TRUE,
              LATERAL unnest(regexp_extract_all(d.text, l.rx)) u(obj)
            ),
            e AS (SELECT DISTINCT subj AS doc, obj AS eng FROM t
                  WHERE pred = 'engine'),
            n AS (SELECT DISTINCT subj AS doc, obj AS noun FROM t
                  WHERE pred = 'data_noun')
            SELECT eng,
                   count(*) AS n_bindings,
                   count(DISTINCT doc) AS n_docs,
                   count(noun) AS n_noun_bindings,
                   count(DISTINCT noun) AS n_nouns
            FROM e LEFT JOIN n USING (doc)
            GROUP BY eng
        """.format(kw_values=kw_values),
        "kg_domain_range": f"""
            WITH RECURSIVE t AS MATERIALIZED (
              SELECT DISTINCT
                     d.source || '/' || CAST(d.doc_id AS VARCHAR) || '@HEAD' AS subj,
                     l.label AS pred,
                     u.obj AS obj
              FROM documents d
              JOIN (VALUES {{kw_values}}) l(label, rx) ON TRUE,
              LATERAL unnest(regexp_extract_all(d.text, l.rx)) u(obj)
            ),
            rules(pred, kind, cls) AS (VALUES
              ('engine', 'domain', 'document'),
              ('engine', 'range', 'system'),
              ('exec_op', 'domain', 'document'),
              ('exec_op', 'range', 'operation'),
              ('data_noun', 'range', 'artifact')
            ),
            memb AS (
              SELECT DISTINCT
                     CASE WHEN r.kind = 'domain' THEN t.subj ELSE t.obj END AS inst,
                     r.cls AS cls
              FROM t JOIN rules r ON r.pred = t.pred
            ),
            sc(sub, sup) AS (VALUES {{subclass_values}}),
            cl AS (
              SELECT sub, sup FROM sc
              UNION
              SELECT cl.sub, sc.sup FROM cl JOIN sc ON cl.sup = sc.sub
            ),
            full_memb AS (
              SELECT inst, cls, TRUE AS asserted FROM memb
              UNION ALL
              SELECT DISTINCT m.inst, cl.sup AS cls, FALSE AS asserted
              FROM memb m JOIN cl ON m.cls = cl.sub
              WHERE NOT EXISTS (
                SELECT 1 FROM memb m2
                WHERE m2.inst = m.inst AND m2.cls = cl.sup
              )
            )
            SELECT cls, asserted, count(*) AS n_members
            FROM full_memb GROUP BY cls, asserted
        """.format(kw_values=kw_values, subclass_values=_SUBCLASS_VALUES_SQL),
        "quantiles_exact": """
            SELECT l_returnflag, l_linestatus,
                   round(quantile_cont(l_extendedprice, 0.25), 4) AS q_25,
                   round(quantile_cont(l_extendedprice, 0.50), 4) AS q_50,
                   round(quantile_cont(l_extendedprice, 0.75), 4) AS q_75,
                   round(quantile_cont(l_extendedprice, 0.95), 4) AS q_95
            FROM lineitem
            GROUP BY l_returnflag, l_linestatus
        """,
        "winsorized_stats": """
            WITH q AS (
              SELECT l_returnflag,
                     quantile_cont(l_extendedprice, 0.05) AS lo,
                     quantile_cont(l_extendedprice, 0.95) AS hi
              FROM lineitem GROUP BY l_returnflag
            )
            SELECT l.l_returnflag,
                   count(*) AS n,
                   round(avg(least(greatest(l.l_extendedprice, q.lo), q.hi)), 4)
                     AS winsor_mean,
                   round(sum(least(greatest(l.l_extendedprice, q.lo), q.hi)), 2)
                     AS winsor_sum,
                   round(min(q.lo), 4) AS q_lo,
                   round(min(q.hi), 4) AS q_hi
            FROM lineitem l JOIN q USING (l_returnflag)
            GROUP BY l.l_returnflag
        """,
        "fuzzy_match_blocked": r"""
            WITH names AS (
              SELECT DISTINCT
                     lower(regexp_extract(text, '^(\S+ \S+ \S+)', 1)) AS nm
              FROM documents
              WHERE regexp_extract(text, '^(\S+ \S+ \S+)', 1) <> ''
            ),
            toks AS (
              SELECT DISTINCT nm, tok
              FROM names, unnest(string_split_regex(nm, '\s+')) AS t(tok)
              WHERE len(tok) > 0
            ),
            ranked AS (
              SELECT nm, tok,
                     row_number() OVER (PARTITION BY tok ORDER BY nm) AS rk
              FROM toks
            ),
            kept AS (SELECT * FROM ranked WHERE rk <= 64),
            cand AS (
              SELECT DISTINCT a.nm AS name_a, b.nm AS name_b
              FROM kept a JOIN kept b USING (tok)
              WHERE a.nm < b.nm
            ),
            verified AS (
              SELECT name_a, name_b,
                     levenshtein(name_a, name_b) AS dist
              FROM cand
            )
            SELECT name_a, name_b, dist FROM verified WHERE dist <= 4
        """,
        # SNM: global rank by (name, doc_id), pairs within window=5
        # positions, Levenshtein verification — the two-phase rank is
        # provably equal to one global row_number, which IS the oracle
        "snm_blocking": r"""
            WITH s AS (
              SELECT doc_id,
                     lower(regexp_extract(text, '^(\S+ \S+ \S+)', 1))
                       AS name
              FROM documents
              WHERE regexp_extract(text, '^(\S+ \S+ \S+)', 1) <> ''),
            r AS (
              SELECT doc_id, name,
                     row_number() OVER (ORDER BY name, doc_id) AS rn
              FROM s),
            p AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     CAST(b.rn - a.rn AS BIGINT) AS rank_dist,
                     levenshtein(a.name, b.name) AS lev
              FROM r a JOIN r b
                ON b.rn > a.rn AND b.rn <= a.rn + 4)
            SELECT id_a, id_b, rank_dist, lev FROM p WHERE lev <= 10
        """,
        "graph_triangles": """
            WITH und AS (
              SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
              FROM lineitem a
              JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                             AND a.l_partkey < b.l_partkey
              WHERE a.l_orderkey % 3 = 0
            ),
            deg AS (
              SELECT node, count(*) AS deg FROM (
                SELECT u AS node FROM und
                UNION ALL SELECT v AS node FROM und
              ) GROUP BY node
            ),
            oriented AS (
              SELECT CASE WHEN (d1.deg < d2.deg)
                            OR (d1.deg = d2.deg AND und.u < und.v)
                          THEN und.u ELSE und.v END AS tail,
                     CASE WHEN (d1.deg < d2.deg)
                            OR (d1.deg = d2.deg AND und.u < und.v)
                          THEN und.v ELSE und.u END AS head,
                     CASE WHEN (d1.deg < d2.deg)
                            OR (d1.deg = d2.deg AND und.u < und.v)
                          THEN d2.deg ELSE d1.deg END AS head_deg
              FROM und
              JOIN deg d1 ON d1.node = und.u
              JOIN deg d2 ON d2.node = und.v
            ),
            wedges AS (
              SELECT e1.head AS b, e2.head AS c
              FROM oriented e1 JOIN oriented e2 ON e1.tail = e2.tail
              WHERE (e1.head_deg < e2.head_deg)
                 OR (e1.head_deg = e2.head_deg AND e1.head < e2.head)
            ),
            closed AS (
              SELECT * FROM wedges w
              WHERE EXISTS (SELECT 1 FROM oriented o
                            WHERE o.tail = w.b AND o.head = w.c)
            )
            SELECT (SELECT count(*) FROM deg) AS n_nodes,
                   (SELECT count(*) FROM und) AS n_edges,
                   (SELECT count(*) FROM wedges) AS n_wedges,
                   (SELECT count(*) FROM closed) AS n_triangles
        """,
        # same oriented closure as graph_triangles, then each closed
        # wedge (tail,b,c) explodes to its three member nodes; coef_fp
        # and the decile cut are integer division of exact longs
        # the equivalence oracle: incremental apply must equal the
        # FULL rebuild over all events (same CTE as state_intervals)
        "scd2_apply": """
            WITH r AS (
              SELECT user_id, event_type, ts, event_id,
                     CASE WHEN lag(event_type) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id)
                          IS DISTINCT FROM event_type
                          THEN 1 ELSE 0 END AS chg
              FROM events
            ),
            r2 AS (
              SELECT user_id, event_type, ts, event_id,
                     sum(chg) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS _run
              FROM r
            ),
            iv AS (
              SELECT user_id, _run, event_type AS state,
                     min(ts) AS valid_from, count(*) AS n_events,
                     min(event_id) AS _tie0
              FROM r2 GROUP BY user_id, _run, event_type
            )
            SELECT user_id, state, valid_from,
                   lead(valid_from) OVER (
                     PARTITION BY user_id
                     ORDER BY valid_from, _tie0) AS valid_to,
                   n_events
            FROM iv
        """,
        # edge support: oriented closure -> 3-way edge explode -> count
        "graph_ktruss": _ktruss_sql(rounds=8, k=4),
        # Katz: 4 chained exact matrix-vector CTEs, alpha_den^(R-r)
        # series weights — pure integer, no fixed-point grid
        "graph_katz": _katz_sql(rounds=4, alpha_den=100, k=30),
        # AMS F2: 64 exact +/-1 lane sums, squared and averaged
        "ams_f2": _ams_sql(lanes=64),
        # HRW routing: argmax of 8 seeded hashes (0-based via
        # list_position - 1), re-argmax over the 7 survivors,
        # per-key grouping then per-shard stay/move rollup
        "hrw_routing": """
            WITH k AS (SELECT CAST(user_id AS VARCHAR) AS v
                       FROM events),
            h AS (SELECT v,
                    [CAST(concat('0x', substr(sha256(
                       v || chr(31) || '0'), 1, 15)) AS BIGINT),
                     CAST(concat('0x', substr(sha256(
                       v || chr(31) || '1'), 1, 15)) AS BIGINT),
                     CAST(concat('0x', substr(sha256(
                       v || chr(31) || '2'), 1, 15)) AS BIGINT),
                     CAST(concat('0x', substr(sha256(
                       v || chr(31) || '3'), 1, 15)) AS BIGINT),
                     CAST(concat('0x', substr(sha256(
                       v || chr(31) || '4'), 1, 15)) AS BIGINT),
                     CAST(concat('0x', substr(sha256(
                       v || chr(31) || '5'), 1, 15)) AS BIGINT),
                     CAST(concat('0x', substr(sha256(
                       v || chr(31) || '6'), 1, 15)) AS BIGINT),
                     CAST(concat('0x', substr(sha256(
                       v || chr(31) || '7'), 1, 15)) AS BIGINT)] AS l
                  FROM k),
            a AS (SELECT v,
                    list_position(l, list_aggregate(l, 'max')) - 1
                      AS shard,
                    list_position(l[1:7],
                                  list_aggregate(l[1:7], 'max')) - 1
                      AS shard_after
                  FROM h),
            g AS (SELECT v, shard, shard_after, count(*) AS n
                  FROM a GROUP BY 1, 2, 3)
            SELECT shard,
                   CAST(sum(n) AS BIGINT) AS n_rows,
                   CAST(count(*) AS BIGINT) AS n_keys,
                   CAST(sum(CASE WHEN shard_after = shard
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_stay,
                   CAST(sum(CASE WHEN shard_after <> shard
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_move
            FROM g GROUP BY shard ORDER BY shard
        """,
        "bm25_topk": _bm25_sql(k=20),
        "rrf_hybrid": _rrf_sql(k0=60, k=20),
        # skyline: textbook NOT EXISTS dominance (strict disjunct =
        # equal criteria vectors never dominate each other)
        "skyline_pareto": """
            WITH p AS (
              SELECT p_partkey, p_size, p_retailprice,
                     CAST(length(p_name) AS INTEGER) AS name_len
              FROM part
            )
            SELECT p_partkey, p_size, p_retailprice, name_len
            FROM p a
            WHERE NOT EXISTS (
              SELECT 1 FROM p b
              WHERE b.p_retailprice <= a.p_retailprice
                AND b.p_size >= a.p_size
                AND b.name_len >= a.name_len
                AND (b.p_retailprice < a.p_retailprice
                     OR b.p_size > a.p_size
                     OR b.name_len > a.name_len)
            )
        """,
        "graph_edge_support": """
            WITH und AS (
              SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
              FROM lineitem a
              JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                             AND a.l_partkey < b.l_partkey
              WHERE a.l_orderkey % 3 = 0
            ),
            deg AS (
              SELECT node, count(*) AS deg FROM (
                SELECT u AS node FROM und
                UNION ALL SELECT v AS node FROM und
              ) GROUP BY node
            ),
            oriented AS (
              SELECT CASE WHEN (d1.deg < d2.deg)
                            OR (d1.deg = d2.deg AND und.u < und.v)
                          THEN und.u ELSE und.v END AS tail,
                     CASE WHEN (d1.deg < d2.deg)
                            OR (d1.deg = d2.deg AND und.u < und.v)
                          THEN und.v ELSE und.u END AS head,
                     CASE WHEN (d1.deg < d2.deg)
                            OR (d1.deg = d2.deg AND und.u < und.v)
                          THEN d2.deg ELSE d1.deg END AS head_deg
              FROM und
              JOIN deg d1 ON d1.node = und.u
              JOIN deg d2 ON d2.node = und.v
            ),
            closed AS (
              SELECT e1.tail, e1.head AS b, e2.head AS c
              FROM oriented e1 JOIN oriented e2 ON e1.tail = e2.tail
              WHERE ((e1.head_deg < e2.head_deg)
                 OR (e1.head_deg = e2.head_deg AND e1.head < e2.head))
                AND EXISTS (SELECT 1 FROM oriented o
                            WHERE o.tail = e1.head AND o.head = e2.head)
            ),
            tri_edges AS (
              SELECT least(tail, b) AS u, greatest(tail, b) AS v FROM closed
              UNION ALL
              SELECT least(tail, c) AS u, greatest(tail, c) AS v FROM closed
              UNION ALL
              SELECT least(b, c) AS u, greatest(b, c) AS v FROM closed
            ),
            sup AS (SELECT u, v, count(*) AS support
                    FROM tri_edges GROUP BY u, v)
            SELECT und.u, und.v,
                   CAST(coalesce(sup.support, 0) AS BIGINT) AS support
            FROM und LEFT JOIN sup ON und.u = sup.u AND und.v = sup.v
            ORDER BY support DESC, und.u ASC, und.v ASC LIMIT 30
        """,
        # directed profile: lead() succession edges + three aggregates
        "graph_reciprocity": """
            WITH ev AS (
              SELECT user_id, event_type, ts, event_id,
                     date_trunc('hour', ts) AS hr
              FROM events
            ),
            nx AS (
              SELECT user_id AS src,
                     lead(user_id) OVER (
                       PARTITION BY event_type, hr
                       ORDER BY ts, event_id) AS dst
              FROM ev
            ),
            raw AS (SELECT src AS a, dst AS b FROM nx
                    WHERE dst IS NOT NULL),
            loops AS (SELECT DISTINCT a, b FROM raw WHERE a = b),
            e AS (SELECT DISTINCT a, b FROM raw WHERE a <> b),
            recip AS (
              SELECT e.a, e.b FROM e
              WHERE EXISTS (SELECT 1 FROM e r
                            WHERE r.a = e.b AND r.b = e.a)),
            outd AS (SELECT a, count(*) AS d FROM e GROUP BY a),
            ind AS (SELECT b, count(*) AS d FROM e GROUP BY b),
            nodes AS (
              SELECT a AS n FROM e UNION SELECT b AS n FROM e
              UNION SELECT a AS n FROM loops)
            SELECT (SELECT count(*) FROM nodes) AS n_nodes,
                   (SELECT count(*) FROM e) AS n_edges,
                   (SELECT count(*) FROM recip) AS n_reciprocal,
                   CASE WHEN (SELECT count(*) FROM e) > 0
                        THEN round((SELECT count(*) FROM recip)
                             / CAST((SELECT count(*) FROM e) AS DOUBLE), 6)
                        ELSE 0.0 END AS reciprocity,
                   (SELECT coalesce(max(d), 0) FROM outd) AS max_out_deg,
                   (SELECT coalesce(max(d), 0) FROM ind) AS max_in_deg,
                   (SELECT count(*) FROM loops) AS n_self_loops
        """,
        # linear counting: exact occupancy integers, derived -m ln(V)
        "linear_counting": """
            WITH occ AS (
              SELECT event_type,
                     count(DISTINCT
                       CAST(concat('0x', substr(sha256(
                         CAST(user_id AS VARCHAR)), 1, 15))
                         AS BIGINT) % 1024) AS n_occupied
              FROM events GROUP BY event_type),
            ex AS (SELECT event_type,
                          count(DISTINCT user_id) AS true_distinct
                   FROM events GROUP BY event_type)
            SELECT occ.event_type, occ.n_occupied,
                   CASE WHEN occ.n_occupied < 1024 THEN
                     round(-1024.0 * ln((1024.0 - occ.n_occupied)
                           / 1024.0), 4)
                   END AS est_distinct,
                   ex.true_distinct
            FROM occ JOIN ex USING (event_type)
            ORDER BY occ.event_type
        """,
        # HLL p=10: exact integer registers (bucket = top 10 hash
        # bits, register = max bit-length rho), exact long harmonic
        # sum s_scaled, one double division for the estimate
        "hll_cardinality": """
            WITH h AS (
              SELECT event_type,
                     CAST(concat('0x', substr(sha256(
                       CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)
                       AS hv
              FROM events),
            regs AS (
              SELECT event_type, hv >> 50 AS bucket,
                     max(CASE WHEN hv % 1125899906842624 = 0 THEN 51
                              ELSE 51 - length(bin(
                                hv % 1125899906842624)) END)
                       AS register
              FROM h GROUP BY event_type, hv >> 50),
            agg AS (
              SELECT event_type,
                     CAST(1024 - count(*) AS BIGINT) AS n_zero,
                     CAST(sum(CAST(power(2, 51 - register) AS BIGINT))
                          + (1024 - count(*)) * 2251799813685248
                       AS BIGINT) AS s_scaled
              FROM regs GROUP BY event_type),
            ex AS (SELECT event_type,
                          count(DISTINCT user_id) AS true_distinct
                   FROM events GROUP BY event_type)
            SELECT agg.event_type, agg.n_zero, agg.s_scaled,
                   round(CASE WHEN 1.7013287633207432e+21
                                   / CAST(s_scaled AS DOUBLE) <= 2560.0
                                  AND n_zero > 0
                              THEN 1024.0 * ln(1024.0 / n_zero)
                              ELSE 1.7013287633207432e+21
                                   / CAST(s_scaled AS DOUBLE) END, 4)
                     AS est_distinct,
                   ex.true_distinct
            FROM agg JOIN ex USING (event_type)
            ORDER BY agg.event_type
        """,
        # Bloom semi-join: set-bit rows = distinct seeded buckets,
        # pass = all 3 probe bits present, audited vs the exact join
        "bloom_semijoin": """
            WITH seeds AS (SELECT unnest([0, 1, 2]) AS s),
            bk AS (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS k
                   FROM customer WHERE c_mktsegment = 'BUILDING'),
            bits AS (
              SELECT DISTINCT
                CAST(concat('0x', substr(sha256(
                  k || chr(31) || CAST(s AS VARCHAR)), 1, 15))
                  AS BIGINT) % 4096 AS bit
              FROM bk, seeds),
            pk AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS k
                   FROM orders),
            probes AS (
              SELECT k,
                CAST(concat('0x', substr(sha256(
                  k || chr(31) || CAST(s AS VARCHAR)), 1, 15))
                  AS BIGINT) % 4096 AS bit
              FROM pk, seeds),
            passkeys AS (
              SELECT k FROM probes
              WHERE bit IN (SELECT bit FROM bits)
              GROUP BY k HAVING count(*) = 3),
            po AS (SELECT CAST(o_custkey AS VARCHAR) AS k FROM orders)
            SELECT
              (SELECT count(*) FROM bits) AS n_bits_set,
              (SELECT count(*) FROM po) AS n_probe_rows,
              (SELECT count(*) FROM po
               WHERE k IN (SELECT k FROM passkeys)) AS n_bloom_pass,
              (SELECT count(*) FROM po
               WHERE k IN (SELECT k FROM bk)) AS n_true,
              (SELECT count(*) FROM po
               WHERE k IN (SELECT k FROM passkeys)
                 AND k NOT IN (SELECT k FROM bk)) AS n_false_pos,
              CASE WHEN (SELECT count(*) FROM po) > 0
                   THEN round((SELECT count(*) FROM po
                               WHERE k IN (SELECT k FROM passkeys)
                                 AND k NOT IN (SELECT k FROM bk))
                        / CAST((SELECT count(*) FROM po) AS DOUBLE), 6)
                   ELSE 0.0 END AS fp_rate
        """,
        # theta intersection: two bottom-128 hash states, theta = min
        # saturated kth hash (else R = 2^60), exact common count,
        # one double division — vs the exact value intersection
        "theta_intersection": """
            WITH a AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS k
                       FROM orders WHERE o_orderpriority = '1-URGENT'),
            b AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS k
                  FROM orders WHERE o_orderpriority = '2-HIGH'),
            ha AS (SELECT DISTINCT CAST(concat('0x',
                     substr(sha256(k), 1, 15)) AS BIGINT) AS h FROM a),
            hb AS (SELECT DISTINCT CAST(concat('0x',
                     substr(sha256(k), 1, 15)) AS BIGINT) AS h FROM b),
            sa AS (SELECT h FROM (
                     SELECT h, row_number() OVER (ORDER BY h) AS r
                     FROM ha) WHERE r <= 128),
            sb AS (SELECT h FROM (
                     SELECT h, row_number() OVER (ORDER BY h) AS r
                     FROM hb) WHERE r <= 128),
            agg AS (
              SELECT CAST((SELECT count(*) FROM sa) AS BIGINT)
                       AS n_a_state,
                     CAST((SELECT count(*) FROM sb) AS BIGINT)
                       AS n_b_state,
                     least(
                       CASE WHEN (SELECT count(*) FROM sa) >= 128
                            THEN (SELECT max(h) FROM sa)
                            ELSE 1152921504606846976 END,
                       CASE WHEN (SELECT count(*) FROM sb) >= 128
                            THEN (SELECT max(h) FROM sb)
                            ELSE 1152921504606846976 END) AS theta),
            nc AS (SELECT CAST(count(*) AS BIGINT) AS n_common_below
                   FROM sa JOIN sb USING (h), agg
                   WHERE sa.h < agg.theta),
            tx AS (SELECT CAST(count(*) AS BIGINT) AS true_intersection
                   FROM a JOIN b USING (k))
            SELECT agg.n_a_state, agg.n_b_state, agg.theta,
                   nc.n_common_below,
                   round(CAST(nc.n_common_below AS DOUBLE)
                         * 1152921504606846976.0
                         / CAST(agg.theta AS DOUBLE), 4)
                     AS est_intersection,
                   tx.true_intersection
            FROM agg, nc, tx
        """,
        # CMS: 4 seeded sha rows of exact long cells, min-estimate
        "cms_heavy_hitters": r"""
            WITH toks AS MATERIALIZED (
              SELECT u.token
              FROM documents d, LATERAL unnest(
                CASE WHEN trim(d.text) = '' THEN CAST([] AS VARCHAR[])
                     ELSE string_split_regex(trim(lower(d.text)), '\s+')
                END) u(token)),
            true_counts AS (
              SELECT token, count(*) AS true_c
              FROM toks GROUP BY token),
            top AS MATERIALIZED (
              SELECT token, true_c FROM true_counts
              ORDER BY true_c DESC, token ASC LIMIT 30),
            cells AS MATERIALIZED (
              SELECT r.i AS row,
                     CAST(concat('0x', substr(sha256(
                       token || chr(31) || CAST(r.i AS VARCHAR)), 1, 15))
                       AS BIGINT) % 256 AS bucket,
                     count(*) AS c
              FROM toks, LATERAL unnest([0, 1, 2, 3]) r(i)
              GROUP BY row, bucket),
            probes AS (
              SELECT t.token, t.true_c, r.i AS row,
                     CAST(concat('0x', substr(sha256(
                       t.token || chr(31) || CAST(r.i AS VARCHAR)), 1, 15))
                       AS BIGINT) % 256 AS bucket
              FROM top t, LATERAL unnest([0, 1, 2, 3]) r(i)),
            est AS (
              SELECT token, true_c,
                     CAST(min(coalesce(cells.c, 0)) AS BIGINT) AS est_c
              FROM probes
              LEFT JOIN cells ON probes.row = cells.row
                             AND probes.bucket = cells.bucket
              GROUP BY token, true_c)
            SELECT token, true_c, est_c,
                   CAST(est_c - true_c AS BIGINT) AS overcount
            FROM est ORDER BY true_c DESC, token ASC
        """,
        # p{1,2} = explicit UNION of the 1-step and 2-step joins
        "kg_sparql_repetition": f"""
            WITH it AS MATERIALIZED (
              SELECT DISTINCT u.obj AS s, l.label AS cls
              FROM documents d
              JOIN (VALUES {{kw_values}}) l(label, rx) ON TRUE,
              LATERAL unnest(regexp_extract_all(d.text, l.rx)) u(obj)
            ),
            sc(a, b) AS (VALUES {{sc_values}}),
            one AS (SELECT it.s, sc.b AS c FROM it
                    JOIN sc ON it.cls = sc.a),
            two AS (SELECT it.s, s2.b AS c FROM it
                    JOIN sc s1 ON it.cls = s1.a
                    JOIN sc s2 ON s1.b = s2.a),
            un AS (SELECT s, c FROM one UNION SELECT s, c FROM two)
            SELECT c, count(DISTINCT s) AS n_surfaces
            FROM un GROUP BY c ORDER BY c
        """.format(kw_values=kw_values, sc_values=_SUBCLASS_VALUES_SQL),
        # assortativity: exact long moments, derived double Pearson
        "graph_assortativity": """
            WITH und AS (
              SELECT DISTINCT
                     least('p:' || CAST(l_partkey AS VARCHAR),
                           's:' || CAST(l_suppkey AS VARCHAR)) AS u,
                     greatest('p:' || CAST(l_partkey AS VARCHAR),
                              's:' || CAST(l_suppkey AS VARCHAR)) AS v
              FROM lineitem WHERE l_orderkey % 3 = 0
            ),
            adj AS (
              SELECT u AS a, v AS b FROM und
              UNION ALL
              SELECT v AS a, u AS b FROM und
            ),
            deg AS (SELECT a, count(*) AS deg FROM adj GROUP BY a),
            pairs AS (
              SELECT da.deg AS dx, db.deg AS dy
              FROM adj
              JOIN deg da ON adj.a = da.a
              JOIN deg db ON adj.b = db.a),
            m AS (
              SELECT count(*) AS n_edges,
                     CAST(sum(dx) AS BIGINT) AS sum_x,
                     CAST(sum(dy) AS BIGINT) AS sum_y,
                     CAST(sum(dx * dy) AS BIGINT) AS sum_xy,
                     CAST(sum(dx * dx) AS BIGINT) AS sum_x2,
                     CAST(sum(dy * dy) AS BIGINT) AS sum_y2
              FROM pairs)
            SELECT n_edges, sum_x, sum_y, sum_xy, sum_x2, sum_y2,
                   CASE WHEN (CAST(n_edges AS DOUBLE) * CAST(sum_x2 AS DOUBLE)
                              - CAST(sum_x AS DOUBLE) * CAST(sum_x AS DOUBLE)) > 0
                         AND (CAST(n_edges AS DOUBLE) * CAST(sum_y2 AS DOUBLE)
                              - CAST(sum_y AS DOUBLE) * CAST(sum_y AS DOUBLE)) > 0
                        THEN round(
                          (CAST(n_edges AS DOUBLE) * CAST(sum_xy AS DOUBLE)
                           - CAST(sum_x AS DOUBLE) * CAST(sum_y AS DOUBLE))
                          / sqrt((CAST(n_edges AS DOUBLE) * CAST(sum_x2 AS DOUBLE)
                                  - CAST(sum_x AS DOUBLE) * CAST(sum_x AS DOUBLE))
                               * (CAST(n_edges AS DOUBLE) * CAST(sum_y2 AS DOUBLE)
                                  - CAST(sum_y AS DOUBLE) * CAST(sum_y AS DOUBLE))), 6)
                        ELSE 0.0 END AS assortativity
            FROM m
        """,
        # sparse TF-IDF cosine: exact long weights/norms, capped
        # inverted-index join, portable double cosine from exact longs
        "tfidf_cosine": r"""
            WITH toks AS (
              SELECT d.doc_id, u.token
              FROM documents d, LATERAL unnest(
                CASE WHEN trim(d.text) = '' THEN CAST([] AS VARCHAR[])
                     ELSE string_split_regex(trim(lower(d.text)), '\s+')
                END) u(token)),
            tf AS (SELECT doc_id, token, count(*) AS tf
                   FROM toks GROUP BY doc_id, token),
            dfreq AS (SELECT token, count(*) AS dfc
                      FROM tf GROUP BY token),
            nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
            w AS (
              SELECT tf.doc_id, tf.token, dfreq.dfc,
                     CAST(tf.tf * CAST(floor(ln(nd.n / CAST(dfreq.dfc AS DOUBLE))
                          * 100) AS BIGINT) AS BIGINT) AS w
              FROM tf JOIN dfreq USING (token), nd),
            norms AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS norm2
                      FROM w GROUP BY doc_id),
            idx AS (SELECT doc_id, token, w FROM w
                    WHERE w > 0 AND dfc <= 150),
            pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     CAST(sum(a.w * b.w) AS BIGINT) AS dot_fp
              FROM idx a JOIN idx b
                ON a.token = b.token AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
              HAVING sum(a.w * b.w) > 0)
            SELECT p.id_a, p.id_b, p.dot_fp,
                   na.norm2 AS norm2_a, nb.norm2 AS norm2_b,
                   p.dot_fp / (sqrt(na.norm2) * sqrt(nb.norm2)) AS cosine
            FROM pairs p
            JOIN norms na ON na.doc_id = p.id_a
            JOIN norms nb ON nb.doc_id = p.id_b
            ORDER BY cosine DESC, p.id_a ASC, p.id_b ASC LIMIT 40
        """,
        # prefix-filter join oracle = the NAIVE exact join: equality
        # proves the prefix candidate pruning lossless on this corpus
        "jaccard_prefix_join": r"""
            WITH toks AS (
              SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
              FROM documents),
            grams AS (
              SELECT DISTINCT doc_id, u.gram
              FROM toks, LATERAL unnest(
                CASE WHEN len(t) >= 3
                     THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                           FOR i IN range(1, len(t) - 1)]
                     ELSE [array_to_string(t, ' ')] END) u(gram)),
            sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY 1),
            shared AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
              FROM grams a JOIN grams b
                ON a.gram = b.gram AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT s.id_a, s.id_b, s.c AS shared,
                   sa.sz AS sz_a, sb.sz AS sz_b,
                   s.c / CAST(sa.sz + sb.sz - s.c AS DOUBLE) AS jaccard
            FROM shared s
            JOIN sizes sa ON sa.doc_id = s.id_a
            JOIN sizes sb ON sb.doc_id = s.id_b
            WHERE s.c / CAST(sa.sz + sb.sz - s.c AS DOUBLE) >= 0.3
        """,
        # Brandes sampled betweenness: chained per-level CTEs for the
        # sigma forward pass and the fixed-point delta backward pass
        "graph_betweenness": """
            WITH base AS MATERIALIZED (
              SELECT DISTINCT 'c:' || CAST(o.o_custkey AS VARCHAR) AS src,
                     's:' || CAST(l.l_suppkey AS VARCHAR) AS dst
              FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            ),
            e AS MATERIALIZED (
              SELECT src, dst FROM base
              UNION
              SELECT dst AS src, src AS dst FROM base
            ),
            nodes AS (SELECT DISTINCT src AS node FROM e),
            piv AS MATERIALIZED (
              SELECT node FROM nodes
              ORDER BY sha256(node), node LIMIT 8
            ),
            l0 AS MATERIALIZED (
              SELECT node AS pv, node, CAST(1 AS BIGINT) AS sigma
              FROM piv),
            l1 AS MATERIALIZED (
              SELECT u.pv, e.dst AS node,
                     CAST(sum(u.sigma) AS BIGINT) AS sigma
              FROM l0 u JOIN e ON u.node = e.src
              WHERE NOT EXISTS (SELECT 1 FROM l0 x
                                WHERE x.pv = u.pv AND x.node = e.dst)
              GROUP BY u.pv, e.dst),
            l2 AS MATERIALIZED (
              SELECT u.pv, e.dst AS node,
                     CAST(sum(u.sigma) AS BIGINT) AS sigma
              FROM l1 u JOIN e ON u.node = e.src
              WHERE NOT EXISTS (SELECT 1 FROM l0 x
                                WHERE x.pv = u.pv AND x.node = e.dst)
                AND NOT EXISTS (SELECT 1 FROM l1 x
                                WHERE x.pv = u.pv AND x.node = e.dst)
              GROUP BY u.pv, e.dst),
            l3 AS MATERIALIZED (
              SELECT u.pv, e.dst AS node,
                     CAST(sum(u.sigma) AS BIGINT) AS sigma
              FROM l2 u JOIN e ON u.node = e.src
              WHERE NOT EXISTS (SELECT 1 FROM l0 x
                                WHERE x.pv = u.pv AND x.node = e.dst)
                AND NOT EXISTS (SELECT 1 FROM l1 x
                                WHERE x.pv = u.pv AND x.node = e.dst)
                AND NOT EXISTS (SELECT 1 FROM l2 x
                                WHERE x.pv = u.pv AND x.node = e.dst)
              GROUP BY u.pv, e.dst),
            d3 AS (SELECT pv, node, CAST(0 AS BIGINT) AS delta FROM l3),
            d2 AS MATERIALIZED (
              SELECT u.pv, u.node,
                     COALESCE(CAST(sum((u.sigma * (1000000000 + d3.delta))
                                       // w.sigma) AS BIGINT), 0) AS delta
              FROM l2 u
              LEFT JOIN e ON u.node = e.src
              LEFT JOIN l3 w ON w.pv = u.pv AND w.node = e.dst
              LEFT JOIN d3 ON d3.pv = w.pv AND d3.node = w.node
              GROUP BY u.pv, u.node),
            d1 AS MATERIALIZED (
              SELECT u.pv, u.node,
                     COALESCE(CAST(sum((u.sigma * (1000000000 + d2.delta))
                                       // w.sigma) AS BIGINT), 0) AS delta
              FROM l1 u
              LEFT JOIN e ON u.node = e.src
              LEFT JOIN l2 w ON w.pv = u.pv AND w.node = e.dst
              LEFT JOIN d2 ON d2.pv = w.pv AND d2.node = w.node
              GROUP BY u.pv, u.node),
            alln AS (
              SELECT pv, node, delta FROM d1
              UNION ALL SELECT pv, node, delta FROM d2
              UNION ALL SELECT pv, node, delta FROM d3)
            SELECT node, CAST(sum(delta) AS BIGINT) AS bet_fp
            FROM alln WHERE node <> pv
            GROUP BY node HAVING sum(delta) > 0
            ORDER BY bet_fp DESC, node ASC LIMIT 30
        """,
        # greedy-earliest funnel: chained LEFT JOIN + min() per step
        "event_funnel": """
            WITH s1 AS (
              SELECT user_id, min(ts) AS t1 FROM events
              WHERE event_type = 'view' GROUP BY user_id),
            s2 AS (
              SELECT s1.user_id, s1.t1, min(e.ts) AS t2
              FROM s1 LEFT JOIN events e
                ON e.user_id = s1.user_id AND e.event_type = 'click'
               AND e.ts > s1.t1
              GROUP BY s1.user_id, s1.t1),
            s3 AS (
              SELECT s2.user_id, s2.t1, s2.t2, min(e.ts) AS t3
              FROM s2 LEFT JOIN events e
                ON e.user_id = s2.user_id AND e.event_type = 'purchase'
               AND e.ts > s2.t2
              GROUP BY s2.user_id, s2.t1, s2.t2)
            SELECT count(t1) AS n_view, count(t2) AS n_click,
                   count(t3) AS n_purchase,
                   CAST(sum(CASE WHEN t3 IS NOT NULL THEN
                        CAST(floor(epoch(t3)) AS BIGINT)
                      - CAST(floor(epoch(t1)) AS BIGINT) END) AS BIGINT)
                     AS convert_seconds
            FROM s3
        """,
        # pivot-BFS distance distribution: recursive CTE + min rollup
        "graph_distance_hist": """
            WITH RECURSIVE base AS MATERIALIZED (
              SELECT DISTINCT 'c:' || CAST(o.o_custkey AS VARCHAR) AS src,
                     's:' || CAST(l.l_suppkey AS VARCHAR) AS dst
              FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            ),
            e AS MATERIALIZED (
              SELECT src, dst FROM base
              UNION
              SELECT dst AS src, src AS dst FROM base
            ),
            nodes AS (SELECT DISTINCT src AS node FROM e),
            piv AS MATERIALIZED (
              SELECT node FROM nodes
              ORDER BY sha256(node), node LIMIT 8
            ),
            r AS (
              SELECT node AS pv, node, 0 AS dist FROM piv
              UNION
              SELECT r.pv, e.dst AS node, r.dist + 1 AS dist
              FROM r JOIN e ON r.node = e.src
              WHERE r.dist < 4
            ),
            m AS (SELECT pv, node, min(dist) AS dist
                  FROM r GROUP BY pv, node)
            SELECT dist, count(*) AS n_pairs,
                   count(DISTINCT node) AS n_nodes
            FROM m GROUP BY dist
        """,
        # Stupid Backoff: pair stream via list_transform, two count
        # tables, three-way CASE; backoff = lp_uni + floor(ln .4 * 1e9)
        "lm_stupid_backoff": r"""
            WITH pairs AS MATERIALIZED (
              SELECT d.doc_id, u.pair.prev AS prev, u.pair.cur AS cur
              FROM documents d, LATERAL unnest(
                CASE WHEN trim(d.text) = ''
                     THEN CAST([] AS STRUCT(prev VARCHAR, cur VARCHAR)[])
                ELSE list_transform(
                  range(len(string_split_regex(trim(lower(d.text)), '\s+'))),
                  i -> {'prev': CASE WHEN i = 0 THEN NULL
                          ELSE string_split_regex(trim(lower(d.text)), '\s+')[i] END,
                        'cur': string_split_regex(trim(lower(d.text)), '\s+')[i+1]})
                END) u(pair)
            ),
            uni AS (SELECT cur AS tok, count(*) AS c_uni
                    FROM pairs GROUP BY cur),
            tot AS (SELECT sum(c_uni) AS n FROM uni),
            unil AS (SELECT tok, c_uni,
                            CAST(floor(ln(c_uni / CAST(n AS DOUBLE))
                                 * 1000000000) AS BIGINT) AS lp_uni
                     FROM uni, tot),
            bi AS (SELECT prev, cur, count(*) AS c_bi FROM pairs
                   WHERE prev IS NOT NULL GROUP BY prev, cur),
            lp AS (
              SELECT p.doc_id,
                     CASE WHEN p.prev IS NULL THEN ul.lp_uni
                          WHEN b.c_bi IS NOT NULL THEN
                            CAST(floor(ln(b.c_bi / CAST(up.c_uni AS DOUBLE))
                                 * 1000000000) AS BIGINT)
                          ELSE __ALPHA__ + ul.lp_uni END AS lp
              FROM pairs p
              JOIN unil ul ON p.cur = ul.tok
              LEFT JOIN unil up ON p.prev = up.tok
              LEFT JOIN bi b ON p.prev = b.prev AND p.cur = b.cur
            ),
            pd AS (SELECT doc_id, count(*) AS n_tokens,
                          CAST(-sum(lp) AS BIGINT) AS nll_fp
                   FROM lp GROUP BY doc_id)
            SELECT d.doc_id,
                   coalesce(pd.n_tokens, 0) AS n_tokens,
                   coalesce(pd.nll_fp, 0) AS nll_fp,
                   CASE WHEN pd.n_tokens IS NULL THEN 0
                        ELSE CAST(pd.nll_fp // pd.n_tokens AS BIGINT)
                   END AS m_fp,
                   CASE WHEN pd.n_tokens IS NULL THEN 0.0
                        ELSE round(pd.nll_fp / pd.n_tokens / 1000000000.0, 4)
                   END AS avg_nll
            FROM documents d LEFT JOIN pd USING (doc_id)
            ORDER BY m_fp DESC, d.doc_id ASC LIMIT 25
        """.replace("__ALPHA__", str(termstats.STUPID_BACKOFF_ALPHA_LN_FP)),
        # named graphs: the quad scan is a (g, subj, obj) projection
        # keyed on source; default-graph pattern joined on the doc
        "kg_graph_bgp": f"""
            WITH t AS MATERIALIZED (
              SELECT DISTINCT d.source AS g,
                     d.source || '/' || CAST(d.doc_id AS VARCHAR) || '@HEAD' AS subj,
                     l.label AS pred,
                     u.obj AS obj
              FROM documents d
              JOIN (VALUES {{kw_values}}) l(label, rx) ON TRUE,
              LATERAL unnest(regexp_extract_all(d.text, l.rx)) u(obj)
            ),
            p1 AS (SELECT DISTINCT subj AS d FROM t
                   WHERE pred = 'exec_op' AND obj = 'join'),
            p2 AS (SELECT DISTINCT g, subj AS d, obj AS e FROM t
                   WHERE pred = 'engine')
            SELECT p2.g, p2.e,
                   count(*) AS n_bindings,
                   count(DISTINCT p2.d) AS n_docs
            FROM p1 JOIN p2 USING (d)
            GROUP BY p2.g, p2.e
        """.format(kw_values=kw_values),
        # two quad patterns sharing ?g and ?d: join on both columns
        "kg_sparql_graph": f"""
            WITH t AS MATERIALIZED (
              SELECT DISTINCT d.source AS g,
                     d.source || '/' || CAST(d.doc_id AS VARCHAR) || '@HEAD' AS subj,
                     l.label AS pred,
                     u.obj AS obj
              FROM documents d
              JOIN (VALUES {{kw_values}}) l(label, rx) ON TRUE,
              LATERAL unnest(regexp_extract_all(d.text, l.rx)) u(obj)
            ),
            p1 AS (SELECT DISTINCT g, subj AS d, obj AS e FROM t
                   WHERE pred = 'engine'),
            p2 AS (SELECT DISTINCT g, subj AS d, obj AS n FROM t
                   WHERE pred = 'data_noun')
            SELECT p1.g,
                   count(DISTINCT p1.d) AS n_docs,
                   count(*) AS n_bindings
            FROM p1 JOIN p2 ON p1.g = p2.g AND p1.d = p2.d
            GROUP BY p1.g
        """.format(kw_values=kw_values),
        # NB: priors + dense smoothed log-likelihood grid, long
        # dot-product scores, argmax via ROW_NUMBER (score DESC, label)
        "nb_classify": r"""
            WITH tr AS MATERIALIZED (
              SELECT doc_id, lang, text FROM documents WHERE doc_id % 2 = 0
            ),
            te AS MATERIALIZED (
              SELECT doc_id, lang, text FROM documents WHERE doc_id % 2 = 1
            ),
            cls AS (SELECT lang AS label, count(*) AS n_docs
                    FROM tr GROUP BY lang),
            nt AS (SELECT sum(n_docs) AS n_total FROM cls),
            priors AS (
              SELECT label,
                     CAST(floor(ln(n_docs / CAST(n_total AS DOUBLE))
                          * 1000000000) AS BIGINT) AS prior_fp
              FROM cls, nt),
            trt AS (
              SELECT t.lang AS label,
                     CAST(concat('0x', substr(sha256(u.token), 1, 15))
                          AS BIGINT) % 256 AS bucket
              FROM tr t, LATERAL unnest(
                CASE WHEN trim(t.text) = '' THEN CAST([] AS VARCHAR[])
                     ELSE string_split_regex(trim(lower(t.text)), '\s+')
                END) u(token)),
            cb AS (SELECT label, bucket, count(*) AS c
                   FROM trt GROUP BY label, bucket),
            tot AS (SELECT label, sum(c) AS tot FROM cb GROUP BY label),
            grid AS (SELECT cls.label, r.range AS bucket
                     FROM cls, range(256) r),
            model AS (
              SELECT g.label, g.bucket,
                     CAST(floor(ln((coalesce(cb.c, 0) + 1)
                          / CAST(coalesce(tot.tot, 0) + 256 AS DOUBLE))
                          * 1000000000) AS BIGINT) AS llh_fp
              FROM grid g
              LEFT JOIN cb ON g.label = cb.label AND g.bucket = cb.bucket
              LEFT JOIN tot ON g.label = tot.label),
            tb AS (
              SELECT t.doc_id,
                     CAST(concat('0x', substr(sha256(u.token), 1, 15))
                          AS BIGINT) % 256 AS bucket,
                     count(*) AS n
              FROM te t, LATERAL unnest(
                CASE WHEN trim(t.text) = '' THEN CAST([] AS VARCHAR[])
                     ELSE string_split_regex(trim(lower(t.text)), '\s+')
                END) u(token)
              GROUP BY t.doc_id, bucket),
            ts AS (SELECT tb.doc_id, m.label,
                          sum(tb.n * m.llh_fp) AS tok_fp
                   FROM tb JOIN model m USING (bucket)
                   GROUP BY tb.doc_id, m.label),
            sc AS (
              SELECT te.doc_id, p.label,
                     CAST(p.prior_fp + coalesce(ts.tok_fp, 0) AS BIGINT)
                       AS score_fp
              FROM te CROSS JOIN priors p
              LEFT JOIN ts ON te.doc_id = ts.doc_id AND p.label = ts.label),
            best AS (
              SELECT doc_id, label AS pred, score_fp,
                     row_number() OVER (
                       PARTITION BY doc_id
                       ORDER BY score_fp DESC, label ASC) AS rn
              FROM sc)
            SELECT te.lang, b.pred, count(*) AS n_docs,
                   CAST(sum(b.score_fp) AS BIGINT) AS sum_score_fp
            FROM best b JOIN te ON b.doc_id = te.doc_id
            WHERE b.rn = 1
            GROUP BY te.lang, b.pred
        """,
        # time-respecting walks enumerated recursively, min(arrival)
        # roll-up = the earliest-arrival optimum the DP loop computes
        "kg_temporal_reach": """
            WITH RECURSIVE ev AS (
              SELECT user_id, event_type, ts, event_id,
                     date_trunc('hour', ts) AS hr
              FROM events
            ),
            nx AS (
              SELECT user_id AS src,
                     lead(user_id) OVER (
                       PARTITION BY event_type, hr
                       ORDER BY ts, event_id) AS dst,
                     lead(ts) OVER (
                       PARTITION BY event_type, hr
                       ORDER BY ts, event_id) AS etime
              FROM ev
            ),
            e AS MATERIALIZED (
              SELECT src, dst, etime FROM nx
              WHERE dst IS NOT NULL AND src <> dst
            ),
            seeds AS (
              SELECT DISTINCT user_id AS node FROM events
              WHERE user_id < 5
            ),
            r AS (
              SELECT node,
                     TIMESTAMP '2024-01-10 00:00:00' AS arrival,
                     0 AS hops
              FROM seeds
              UNION
              SELECT e.dst AS node, e.etime AS arrival,
                     r.hops + 1 AS hops
              FROM r JOIN e ON r.node = e.src AND e.etime >= r.arrival
              WHERE r.hops < 4
            ),
            best AS (SELECT node, min(arrival) AS arrival
                     FROM r GROUP BY node)
            SELECT date_trunc('hour', arrival) AS hr,
                   count(*) AS n_nodes, min(node) AS min_node
            FROM best GROUP BY hr
        """,
        # pivot BFS as a recursive CTE with min-dist roll-up; pivots
        # by the portable (sha256(node), node) order; integer scoring
        "graph_centrality": """
            WITH RECURSIVE base AS MATERIALIZED (
              SELECT DISTINCT 'c:' || CAST(o.o_custkey AS VARCHAR) AS src,
                     's:' || CAST(l.l_suppkey AS VARCHAR) AS dst
              FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            ),
            e AS MATERIALIZED (
              SELECT src, dst FROM base
              UNION
              SELECT dst AS src, src AS dst FROM base
            ),
            nodes AS (SELECT DISTINCT src AS node FROM e),
            piv AS MATERIALIZED (
              SELECT node FROM nodes
              ORDER BY sha256(node), node LIMIT 8
            ),
            r AS (
              SELECT node AS pv, node, 0 AS dist FROM piv
              UNION
              SELECT r.pv, e.dst AS node, r.dist + 1 AS dist
              FROM r JOIN e ON r.node = e.src
              WHERE r.dist < 4
            ),
            m AS (SELECT pv, node, min(dist) AS dist
                  FROM r GROUP BY pv, node),
            sc AS (
              SELECT node,
                     count(*) AS n_from,
                     CAST(sum(dist) AS BIGINT) AS sum_dist,
                     CAST(sum(1000000000 // dist) AS BIGINT) AS harmonic_fp
              FROM m WHERE dist >= 1 GROUP BY node)
            SELECT node, n_from, sum_dist, harmonic_fp,
                   CAST((n_from * 1000000000) // sum_dist AS BIGINT)
                     AS closeness_fp
            FROM sc
            ORDER BY harmonic_fp DESC, node ASC LIMIT 30
        """,
        # capped-center wedge counting + exact-degree fp Jaccard
        "graph_jaccard": """
            WITH und AS (
              SELECT DISTINCT
                     least('p:' || CAST(l_partkey AS VARCHAR),
                           's:' || CAST(l_suppkey AS VARCHAR)) AS u,
                     greatest('p:' || CAST(l_partkey AS VARCHAR),
                              's:' || CAST(l_suppkey AS VARCHAR)) AS v
              FROM lineitem WHERE l_orderkey % 3 = 0
            ),
            adj AS (
              SELECT u AS ctr, v AS nbr FROM und
              UNION ALL
              SELECT v AS ctr, u AS nbr FROM und
            ),
            deg AS (SELECT ctr, count(*) AS deg FROM adj GROUP BY ctr),
            ctrs AS (SELECT ctr FROM deg WHERE deg BETWEEN 2 AND 32),
            pairs AS (
              SELECT a1.nbr AS u, a2.nbr AS w, count(*) AS n_common
              FROM adj a1
              JOIN ctrs c ON a1.ctr = c.ctr
              JOIN adj a2 ON a1.ctr = a2.ctr
              WHERE a1.nbr < a2.nbr
              GROUP BY a1.nbr, a2.nbr
              HAVING count(*) >= 2)
            SELECT p.u, p.w, p.n_common,
                   du.deg AS deg_u, dw.deg AS deg_w,
                   CAST((p.n_common * 1000000000)
                        // (du.deg + dw.deg - p.n_common) AS BIGINT)
                     AS jaccard_fp
            FROM pairs p
            JOIN deg du ON p.u = du.ctr
            JOIN deg dw ON p.w = dw.ctr
            ORDER BY jaccard_fp DESC, p.u ASC, p.w ASC LIMIT 50
        """,
        "graph_clustering": """
            WITH und AS (
              SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
              FROM lineitem a
              JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                             AND a.l_partkey < b.l_partkey
              WHERE a.l_orderkey % 3 = 0
            ),
            deg AS (
              SELECT node, count(*) AS deg FROM (
                SELECT u AS node FROM und
                UNION ALL SELECT v AS node FROM und
              ) GROUP BY node
            ),
            oriented AS (
              SELECT CASE WHEN (d1.deg < d2.deg)
                            OR (d1.deg = d2.deg AND und.u < und.v)
                          THEN und.u ELSE und.v END AS tail,
                     CASE WHEN (d1.deg < d2.deg)
                            OR (d1.deg = d2.deg AND und.u < und.v)
                          THEN und.v ELSE und.u END AS head,
                     CASE WHEN (d1.deg < d2.deg)
                            OR (d1.deg = d2.deg AND und.u < und.v)
                          THEN d2.deg ELSE d1.deg END AS head_deg
              FROM und
              JOIN deg d1 ON d1.node = und.u
              JOIN deg d2 ON d2.node = und.v
            ),
            closed AS (
              SELECT e1.tail, e1.head AS b, e2.head AS c
              FROM oriented e1 JOIN oriented e2 ON e1.tail = e2.tail
              WHERE ((e1.head_deg < e2.head_deg)
                 OR (e1.head_deg = e2.head_deg AND e1.head < e2.head))
                AND EXISTS (SELECT 1 FROM oriented o
                            WHERE o.tail = e1.head AND o.head = e2.head)
            ),
            tri AS (
              SELECT node, count(*) AS n_tri FROM (
                SELECT tail AS node FROM closed
                UNION ALL SELECT b AS node FROM closed
                UNION ALL SELECT c AS node FROM closed
              ) GROUP BY node
            ),
            cc AS (
              SELECT d.node, d.deg, coalesce(t.n_tri, 0) AS n_tri,
                     CASE WHEN d.deg < 2 THEN 0
                          ELSE (2 * coalesce(t.n_tri, 0) * 1000000000)
                               // (d.deg * (d.deg - 1))
                     END AS coef_fp
              FROM deg d LEFT JOIN tri t USING (node)
            )
            SELECT least((coef_fp * 10) // 1000000000, 9) AS decile,
                   count(*) AS n_nodes,
                   sum(n_tri) AS sum_tri,
                   sum(deg) AS sum_deg,
                   sum(coef_fp) AS sum_coef_fp
            FROM cc GROUP BY decile
        """,
        # k-core by synchronous peeling: 4 chained rounds, each one
        # degree-filter + two-sided semi-restrict — identical to the
        # rounds=4 Spark loop (fixed point reached by round 2 at all
        # SFs; extra rounds are no-ops)
        "graph_kcore": """
            WITH rel AS (
              SELECT DISTINCT 'c:' || o.o_custkey AS a,
                              's:' || l.l_suppkey AS b
              FROM lineitem l
              JOIN orders o ON l.l_orderkey = o.o_orderkey
            ),
            r0 AS (SELECT a, b FROM rel UNION SELECT b, a FROM rel),
            k1 AS (SELECT a FROM r0 GROUP BY a HAVING count(*) >= 8),
            r1 AS (SELECT c.a, c.b FROM r0 c
                   JOIN k1 x ON c.a = x.a JOIN k1 y ON c.b = y.a),
            k2 AS (SELECT a FROM r1 GROUP BY a HAVING count(*) >= 8),
            r2 AS (SELECT c.a, c.b FROM r1 c
                   JOIN k2 x ON c.a = x.a JOIN k2 y ON c.b = y.a),
            k3 AS (SELECT a FROM r2 GROUP BY a HAVING count(*) >= 8),
            r3 AS (SELECT c.a, c.b FROM r2 c
                   JOIN k3 x ON c.a = x.a JOIN k3 y ON c.b = y.a),
            k4 AS (SELECT a FROM r3 GROUP BY a HAVING count(*) >= 8),
            r4 AS (SELECT c.a, c.b FROM r3 c
                   JOIN k4 x ON c.a = x.a JOIN k4 y ON c.b = y.a)
            SELECT a AS node, count(*) AS degree
            FROM r4 GROUP BY a
        """,
        # Adamic-Adar: centers capped at deg<=32 (skew guard, lower
        # bound — mirrored exactly), weight_fp = floor(1e9/ln(deg)) is
        # one IEEE double op both engines, pair sums exact longs
        "graph_adamic_adar": """
            WITH rel AS (
              SELECT DISTINCT 'c:' || CAST(o.o_custkey AS VARCHAR) AS a,
                              's:' || CAST(l.l_suppkey AS VARCHAR) AS b
              FROM lineitem l
              JOIN orders o ON l.l_orderkey = o.o_orderkey
            ),
            und AS (SELECT least(a, b) AS u, greatest(a, b) AS v FROM rel),
            adj AS (
              SELECT u AS ctr, v AS nbr FROM und
              UNION ALL SELECT v AS ctr, u AS nbr FROM und
            ),
            ctr AS (
              SELECT ctr,
                     CAST(floor(1000000000 /
                          ln(CAST(count(*) AS DOUBLE))) AS BIGINT)
                       AS weight_fp
              FROM adj GROUP BY ctr
              HAVING count(*) >= 2 AND count(*) <= 32
            ),
            pairs AS (
              SELECT a1.nbr AS u, a2.nbr AS w,
                     count(*) AS n_common,
                     CAST(sum(c.weight_fp) AS BIGINT) AS score_fp
              FROM adj a1
              JOIN ctr c ON a1.ctr = c.ctr
              JOIN adj a2 ON a1.ctr = a2.ctr
              WHERE a1.nbr < a2.nbr
              GROUP BY a1.nbr, a2.nbr
            )
            SELECT p.u, p.w, p.n_common, p.score_fp
            FROM pairs p
            WHERE NOT EXISTS (SELECT 1 FROM und e
                              WHERE e.u = p.u AND e.v = p.w)
            ORDER BY p.score_fp DESC, p.u ASC, p.w ASC
            LIMIT 50
        """,
        "range_window_join": """
            WITH p AS (
              SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS t
              FROM events WHERE event_type = 'purchase'
            ),
            e AS (
              SELECT CAST(floor(epoch(ts)) AS BIGINT) AS t
              FROM events WHERE event_type = 'error'
            ),
            cnt AS (
              SELECT p.event_id, count(e.t) AS n
              FROM p LEFT JOIN e ON abs(e.t - p.t) <= 600
              GROUP BY p.event_id
            )
            SELECT n AS n_nearby_errors, count(*) AS n_purchases
            FROM cnt GROUP BY n
        """,
        "kg_sparql_ask": f"""
            WITH t AS MATERIALIZED (
              SELECT DISTINCT
                     d.source || '/' || CAST(d.doc_id AS VARCHAR) || '@HEAD' AS subj,
                     l.label AS pred,
                     u.obj AS obj
              FROM documents d
              JOIN (VALUES {{kw_values}}) l(label, rx) ON TRUE,
              LATERAL unnest(regexp_extract_all(d.text, l.rx)) u(obj)
            ),
            sol AS (
              SELECT 1 FROM t e JOIN t o ON e.subj = o.subj
              WHERE e.pred = 'engine' AND e.obj IN ('spark', 'hash')
                AND o.pred = 'exec_op' AND o.obj <> 'join'
              LIMIT 1
            )
            SELECT count(*) > 0 AS ask FROM sol
        """.format(kw_values=kw_values),
        "kg_owl_entail": f"""
            WITH RECURSIVE t AS MATERIALIZED (
              SELECT DISTINCT
                     d.source || '/' || CAST(d.doc_id AS VARCHAR) || '@HEAD' AS subj,
                     l.label AS pred,
                     u.obj AS obj
              FROM documents d
              JOIN (VALUES {{kw_values}}) l(label, rx) ON TRUE,
              LATERAL unnest(regexp_extract_all(d.text, l.rx)) u(obj)
            ),
            eng AS MATERIALIZED (
              SELECT DISTINCT subj AS d, obj AS e FROM t
              WHERE pred = 'engine'),
            op AS MATERIALIZED (
              SELECT DISTINCT subj AS d, obj AS o FROM t
              WHERE pred = 'exec_op'),
            noun AS MATERIALIZED (
              SELECT DISTINCT subj AS d, obj AS n FROM t
              WHERE pred = 'data_noun'),
            runs AS MATERIALIZED (
              SELECT DISTINCT eng.e AS s, op.o AS ob
              FROM eng JOIN op ON eng.d = op.d),
            feeds AS MATERIALIZED (
              SELECT DISTINCT noun.n AS s, op.o AS ob
              FROM noun JOIN op ON noun.d = op.d),
            col0 AS MATERIALIZED (
              SELECT DISTINCT o1.o AS a, o2.o AS b
              FROM op o1 JOIN op o2 ON o1.d = o2.d
              WHERE o1.o <> o2.o),
            -- col0 is symmetric by construction, so its plain
            -- transitive closure equals the joint symmetric+transitive
            -- fixpoint (incl. self-pairs via 2-cycles)
            colc AS (
              SELECT a, b FROM col0
              UNION
              SELECT colc.a, col0.b FROM colc JOIN col0 ON colc.b = col0.a
            ),
            touches AS (
              SELECT s, ob FROM runs UNION SELECT s, ob FROM feeds),
            base AS (
              SELECT s AS subj, 'runs' AS pred, ob AS obj FROM runs
              UNION ALL
              SELECT s, 'feeds', ob FROM feeds
              UNION ALL
              SELECT a, 'colinked', b FROM col0
            ),
            closure AS (
              SELECT s AS subj, 'touches' AS pred, ob AS obj FROM touches
              UNION
              SELECT s, 'involves', ob FROM touches
              UNION
              SELECT ob, 'run_by', s FROM runs
              UNION
              SELECT a, 'colinked', b FROM colc
            )
            SELECT subj, pred, obj FROM closure
            EXCEPT
            SELECT subj, pred, obj FROM base
        """.format(kw_values=kw_values),
        "kg_sparql_describe": f"""
            WITH t AS MATERIALIZED (
              SELECT DISTINCT
                     d.source || '/' || CAST(d.doc_id AS VARCHAR) || '@HEAD' AS subj,
                     l.label AS pred,
                     u.obj AS obj
              FROM documents d
              JOIN (VALUES {{kw_values}}) l(label, rx) ON TRUE,
              LATERAL unnest(regexp_extract_all(d.text, l.rx)) u(obj)
            ),
            -- the extended graph: triples + type links + the demo
            -- subclass ontology (same view the Spark side queries)
            ext AS (
              SELECT subj, pred, obj FROM t
              UNION
              SELECT DISTINCT obj AS subj, 'a' AS pred, pred AS obj FROM t
              UNION
              SELECT sub AS subj, 'subclass_of' AS pred, sup AS obj
              FROM (VALUES {{subclass_values}}) sc(sub, sup)
            ),
            nodes AS (
              SELECT DISTINCT o.obj AS node
              FROM t e JOIN t o ON e.subj = o.subj
              WHERE e.pred = 'engine' AND e.obj = 'spark'
                AND o.pred = 'exec_op'
            )
            SELECT DISTINCT ext.subj, ext.pred, ext.obj
            FROM ext JOIN nodes ON ext.subj = nodes.node
        """.format(
            kw_values=kw_values, subclass_values=_SUBCLASS_VALUES_SQL
        ),
        "kg_sparql_having": f"""
            WITH t AS MATERIALIZED (
              SELECT DISTINCT
                     d.source || '/' || CAST(d.doc_id AS VARCHAR) || '@HEAD' AS subj,
                     l.label AS pred,
                     u.obj AS obj
              FROM documents d
              JOIN (VALUES {{kw_values}}) l(label, rx) ON TRUE,
              LATERAL unnest(regexp_extract_all(d.text, l.rx)) u(obj)
            ),
            e AS (SELECT DISTINCT subj AS d, obj AS eng FROM t
                  WHERE pred = 'engine'),
            o AS (SELECT DISTINCT subj AS d, obj AS op FROM t
                  WHERE pred = 'exec_op')
            SELECT op, count(*) AS n_mentions
            FROM e JOIN o USING (d)
            GROUP BY op
            HAVING count(*) > 10 AND count(DISTINCT d) > 5
            ORDER BY n_mentions DESC, op
            OFFSET 1 LIMIT 5
        """.format(kw_values=kw_values),
        "kg_optimized_bgp": f"""
            WITH t AS MATERIALIZED (
              SELECT DISTINCT
                     d.source || '/' || CAST(d.doc_id AS VARCHAR) || '@HEAD' AS subj,
                     l.label AS pred,
                     u.obj AS obj
              FROM documents d
              JOIN (VALUES {{kw_values}}) l(label, rx) ON TRUE,
              LATERAL unnest(regexp_extract_all(d.text, l.rx)) u(obj)
            ),
            -- the extended graph's 'a' relation: every (mention obj,
            -- label) pair, exactly __spark_entry__._kg_extended_graph
            p1 AS (SELECT DISTINCT subj AS doc, obj AS op FROM t
                   WHERE pred = 'exec_op'),
            p2 AS (SELECT DISTINCT subj AS doc, obj AS eng FROM t
                   WHERE pred = 'engine'),
            p3 AS (SELECT DISTINCT subj AS doc, obj AS noun FROM t
                   WHERE pred = 'data_noun'),
            ty AS (SELECT DISTINCT obj AS eng, pred AS ecls FROM t),
            sc AS (SELECT DISTINCT subj AS doc FROM t
                   WHERE pred = 'exec_op' AND obj = 'scan'),
            sol AS (
              SELECT p1.doc, p1.op, p2.eng, p3.noun, ty.ecls
              FROM p1
              JOIN p2 USING (doc)
              JOIN p3 USING (doc)
              JOIN ty USING (eng)
              WHERE p1.op <> 'join'
                AND NOT EXISTS (SELECT 1 FROM sc WHERE sc.doc = p1.doc)
            )
            SELECT eng, noun,
                   count(*) AS n_bindings,
                   count(DISTINCT doc) AS n_docs,
                   count(DISTINCT op) AS n_ops
            FROM sol GROUP BY eng, noun
        """.format(kw_values=kw_values),
        "kg_sparql_multiunion": f"""
            WITH t AS MATERIALIZED (
              SELECT DISTINCT
                     d.source || '/' || CAST(d.doc_id AS VARCHAR) || '@HEAD' AS subj,
                     l.label AS pred,
                     u.obj AS obj
              FROM documents d
              JOIN (VALUES {{kw_values}}) l(label, rx) ON TRUE,
              LATERAL unnest(regexp_extract_all(d.text, l.rx)) u(obj)
            ),
            -- chain 1: bag union of two set-semantic ground scans
            c1 AS (
              SELECT d FROM (SELECT DISTINCT subj AS d FROM t
                             WHERE pred = 'exec_op' AND obj = 'join')
              UNION ALL
              SELECT d FROM (SELECT DISTINCT subj AS d FROM t
                             WHERE pred = 'exec_op' AND obj = 'sort')
            ),
            -- chain 2: bag union binding ?e from either label
            c2 AS (
              SELECT d, e FROM (SELECT DISTINCT subj AS d, obj AS e
                                FROM t WHERE pred = 'engine')
              UNION ALL
              SELECT d, e FROM (SELECT DISTINCT subj AS d, obj AS e
                                FROM t WHERE pred = 'data_noun')
            )
            SELECT e, count(DISTINCT c1.d) AS n_docs,
                   count(*) AS n_bindings
            FROM c1 JOIN c2 USING (d)
            GROUP BY e
        """.format(kw_values=kw_values),
        "winnow_fingerprints": """
            WITH g AS (
              SELECT d.doc_id, t.i,
                     CAST('0x' || substr(sha256(substr(d.text,
                       CAST(t.i AS INT) + 1, 8)), 1, 15) AS BIGINT) AS h
              FROM documents d,
              LATERAL unnest(range(greatest(len(d.text) - 7, 0))) AS t(i)
            ),
            r AS (
              SELECT doc_id, i, h,
                     count(*) OVER (PARTITION BY doc_id) AS n,
                     lag(h, 1) OVER w AS l1, lag(h, 2) OVER w AS l2,
                     lag(h, 3) OVER w AS l3,
                     lead(h, 1) OVER w AS r1, lead(h, 2) OVER w AS r2,
                     lead(h, 3) OVER w AS r3
              FROM g
              WINDOW w AS (PARTITION BY doc_id ORDER BY i)
            ),
            runs AS (
              SELECT doc_id, i, h, n,
                CASE WHEN l1 IS NOT NULL AND l1 >= h THEN
                  1 + CASE WHEN l2 IS NOT NULL AND l2 >= h THEN
                    1 + CASE WHEN l3 IS NOT NULL AND l3 >= h
                        THEN 1 ELSE 0 END ELSE 0 END ELSE 0 END AS lrun,
                CASE WHEN r1 IS NOT NULL AND r1 > h THEN
                  1 + CASE WHEN r2 IS NOT NULL AND r2 > h THEN
                    1 + CASE WHEN r3 IS NOT NULL AND r3 > h
                        THEN 1 ELSE 0 END ELSE 0 END ELSE 0 END AS rrun
              FROM r
            ),
            sel AS (
              SELECT doc_id, i, h FROM runs
              WHERE lrun + rrun >= 3
                 OR (lrun = i AND rrun = n - 1 - i)
            ),
            agg AS (
              SELECT doc_id, count(*) AS n_fps,
                     count(DISTINCT h) AS n_distinct, min(h) AS min_fp
              FROM sel GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(agg.n_fps, 0) AS INT) AS n_fps,
                   CAST(coalesce(agg.n_distinct, 0) AS INT) AS n_distinct,
                   agg.min_fp
            FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
        """,
        "winnow_pairs": """
            WITH g AS (
              SELECT d.doc_id, t.i,
                     CAST('0x' || substr(sha256(substr(d.text,
                       CAST(t.i AS INT) + 1, 8)), 1, 15) AS BIGINT) AS h
              FROM documents d,
              LATERAL unnest(range(greatest(len(d.text) - 7, 0))) AS t(i)
            ),
            r AS (
              SELECT doc_id, i, h,
                     count(*) OVER (PARTITION BY doc_id) AS n,
                     lag(h, 1) OVER w AS l1, lag(h, 2) OVER w AS l2,
                     lag(h, 3) OVER w AS l3,
                     lead(h, 1) OVER w AS r1, lead(h, 2) OVER w AS r2,
                     lead(h, 3) OVER w AS r3
              FROM g
              WINDOW w AS (PARTITION BY doc_id ORDER BY i)
            ),
            runs AS (
              SELECT doc_id, i, h, n,
                CASE WHEN l1 IS NOT NULL AND l1 >= h THEN
                  1 + CASE WHEN l2 IS NOT NULL AND l2 >= h THEN
                    1 + CASE WHEN l3 IS NOT NULL AND l3 >= h
                        THEN 1 ELSE 0 END ELSE 0 END ELSE 0 END AS lrun,
                CASE WHEN r1 IS NOT NULL AND r1 > h THEN
                  1 + CASE WHEN r2 IS NOT NULL AND r2 > h THEN
                    1 + CASE WHEN r3 IS NOT NULL AND r3 > h
                        THEN 1 ELSE 0 END ELSE 0 END ELSE 0 END AS rrun
              FROM r
            ),
            ex AS (
              SELECT DISTINCT doc_id, h AS fp FROM runs
              WHERE lrun + rrun >= 3
                 OR (lrun = i AND rrun = n - 1 - i)
            ),
            keep AS (
              SELECT fp FROM ex GROUP BY fp
              HAVING count(*) BETWEEN 2 AND 50
            ),
            kx AS (SELECT ex.doc_id, ex.fp FROM ex JOIN keep USING (fp)),
            pairs AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     count(*) AS n_shared
              FROM kx a JOIN kx b
                ON a.fp = b.fp AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
              HAVING count(*) >= 2
            )
            SELECT n_shared, count(*) AS n_pairs,
                   min(doc_a) AS min_doc_a, min(doc_b) AS min_doc_b
            FROM pairs GROUP BY n_shared
        """,
        "kg_sparql_undef": f"""
            WITH t AS MATERIALIZED (
              SELECT DISTINCT
                     d.source || '/' || CAST(d.doc_id AS VARCHAR) || '@HEAD' AS subj,
                     l.label AS pred,
                     u.obj AS obj
              FROM documents d
              JOIN (VALUES {{kw_values}}) l(label, rx) ON TRUE,
              LATERAL unnest(regexp_extract_all(d.text, l.rx)) u(obj)
            ),
            e AS (SELECT DISTINCT subj AS d, obj AS e FROM t
                  WHERE pred = 'engine'),
            op AS (SELECT DISTINCT subj AS d, obj AS op FROM t
                   WHERE pred = 'exec_op'),
            sol AS (SELECT e.d, e.e, op.op FROM e JOIN op USING (d)),
            -- one branch per defined-column mask group (UNION ALL:
            -- a solution compatible with two partial rows counts twice)
            v AS (
              SELECT * FROM sol WHERE e = 'spark' AND op = 'join'
              UNION ALL
              SELECT * FROM sol WHERE e = 'hash'
              UNION ALL
              SELECT * FROM sol WHERE op = 'sort'
            )
            SELECT e, op, count(DISTINCT d) AS n_docs,
                   count(*) AS n_solutions
            FROM v GROUP BY e, op
        """.format(kw_values=kw_values),
        "kg_sparql_aggpath": f"""
            WITH t AS MATERIALIZED (
              SELECT DISTINCT
                     d.source || '/' || CAST(d.doc_id AS VARCHAR) || '@HEAD' AS subj,
                     l.label AS pred,
                     u.obj AS obj
              FROM documents d
              JOIN (VALUES {{kw_values}}) l(label, rx) ON TRUE,
              LATERAL unnest(regexp_extract_all(d.text, l.rx)) u(obj)
            ),
            e AS (SELECT DISTINCT subj AS d, obj AS e FROM t
                  WHERE pred = 'engine'),
            op AS (SELECT DISTINCT subj AS d, obj AS op FROM t
                   WHERE pred = 'exec_op'),
            -- negated property set !(engine|exec_op): NOT IN scan
            nn AS (SELECT DISTINCT subj AS d, obj AS noun FROM t
                   WHERE pred NOT IN ('engine', 'exec_op')),
            sol AS (
              SELECT e.e, op.op, nn.noun
              FROM e JOIN op USING (d) JOIN nn USING (d)
            )
            SELECT e,
                   array_to_string(list_sort(list(DISTINCT op)), '|') AS ops,
                   min(noun) AS first_noun,
                   count(*) AS n_bindings
            FROM sol GROUP BY e
        """.format(kw_values=kw_values),
        "kg_sparql_subquery": f"""
            WITH t AS MATERIALIZED (
              SELECT DISTINCT
                     d.source || '/' || CAST(d.doc_id AS VARCHAR) || '@HEAD' AS subj,
                     l.label AS pred,
                     u.obj AS obj
              FROM documents d
              JOIN (VALUES {{kw_values}}) l(label, rx) ON TRUE,
              LATERAL unnest(regexp_extract_all(d.text, l.rx)) u(obj)
            ),
            e AS (SELECT DISTINCT subj AS d, obj AS e FROM t
                  WHERE pred = 'engine'),
            nn AS (SELECT DISTINCT subj AS d, obj AS noun FROM t
                   WHERE pred = 'data_noun'),
            op AS (SELECT DISTINCT subj AS d, obj AS op FROM t
                   WHERE pred = 'exec_op'),
            -- the subquery: per-engine distinct op count, bottom-up
            sq AS (
              SELECT e.e, count(DISTINCT op.op) AS n_ops
              FROM e JOIN op ON op.d = e.d GROUP BY e.e
            )
            SELECT DISTINCT e.e, nn.noun, sq.n_ops
            FROM e
            JOIN nn USING (d)
            JOIN sq ON sq.e = e.e
            WHERE sq.n_ops > 5
        """.format(kw_values=kw_values),
        "graph_scc": """
            WITH RECURSIVE pairs AS MATERIALIZED (
              SELECT DISTINCT
                     'c:' || CAST(o.o_custkey AS VARCHAR) AS c,
                     's:' || CAST(l.l_suppkey AS VARCHAR) AS s,
                     l.l_quantity AS q
              FROM lineitem l
              JOIN orders o ON l.l_orderkey = o.o_orderkey
              WHERE o.o_custkey % 10 = 0 AND l.l_suppkey % 2 = 0
            ),
            e AS MATERIALIZED (
              SELECT c AS src, s AS dst FROM pairs WHERE q >= 30
              UNION
              SELECT s AS src, c AS dst FROM pairs WHERE q <= 10
            ),
            n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
            r AS (
              SELECT src, dst FROM e
              UNION
              SELECT r.src, e.dst FROM r JOIN e ON e.src = r.dst
            ),
            rm AS MATERIALIZED (SELECT src, dst FROM r),
            -- mutual reachability: v ->* w AND w ->* v
            mut AS (
              SELECT a.src AS v, a.dst AS w
              FROM rm a JOIN rm b ON b.src = a.dst AND b.dst = a.src
            ),
            scc AS (
              SELECT n.node,
                     greatest(n.node, coalesce(max(m.w), n.node)) AS scc_id
              FROM n LEFT JOIN mut m ON m.v = n.node
              GROUP BY n.node
            ),
            sizes AS (
              SELECT scc_id, count(*) AS scc_size FROM scc GROUP BY scc_id
            )
            SELECT scc_size, count(*) AS n_sccs, min(scc_id) AS min_scc
            FROM sizes GROUP BY scc_size
        """,
        "graph_condensation": """
            WITH RECURSIVE pairs AS MATERIALIZED (
              SELECT DISTINCT
                     'c:' || CAST(o.o_custkey AS VARCHAR) AS c,
                     's:' || CAST(l.l_suppkey AS VARCHAR) AS s,
                     l.l_quantity AS q
              FROM lineitem l
              JOIN orders o ON l.l_orderkey = o.o_orderkey
              WHERE o.o_custkey % 10 = 0 AND l.l_suppkey % 2 = 0
            ),
            e AS MATERIALIZED (
              SELECT c AS src, s AS dst FROM pairs WHERE q >= 30
              UNION
              SELECT s AS src, c AS dst FROM pairs WHERE q <= 10
            ),
            n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
            r AS (
              SELECT src, dst FROM e
              UNION
              SELECT r.src, e.dst FROM r JOIN e ON e.src = r.dst
            ),
            rm AS MATERIALIZED (SELECT src, dst FROM r),
            mut AS (
              SELECT a.src AS v, a.dst AS w
              FROM rm a JOIN rm b ON b.src = a.dst AND b.dst = a.src
            ),
            scc AS MATERIALIZED (
              SELECT n.node,
                     greatest(n.node, coalesce(max(m.w), n.node)) AS scc_id
              FROM n LEFT JOIN mut m ON m.v = n.node
              GROUP BY n.node
            ),
            se AS MATERIALIZED (
              SELECT DISTINCT s1.scc_id AS sfrom, s2.scc_id AS sto
              FROM e
              JOIN scc s1 ON s1.node = e.src
              JOIN scc s2 ON s2.node = e.dst
              WHERE s1.scc_id <> s2.scc_id
            ),
            -- longest path ending at each super-node: enumerate
            -- DISTINCT (node, length) pairs (finite on a DAG), max()
            p AS (
              SELECT scc_id AS sn, 0 AS l FROM (SELECT DISTINCT scc_id
                                                FROM scc)
              UNION
              SELECT se.sto, p.l + 1 FROM p JOIN se ON se.sfrom = p.sn
            ),
            lvl AS (SELECT sn, max(l) AS level FROM p GROUP BY sn),
            sizes AS (
              SELECT scc_id, count(*) AS n_nodes FROM scc GROUP BY scc_id
            )
            SELECT lvl.level, count(*) AS n_sccs,
                   sum(sizes.n_nodes) AS n_nodes,
                   min(sizes.scc_id) AS min_scc
            FROM sizes JOIN lvl ON lvl.sn = sizes.scc_id
            GROUP BY lvl.level
        """,
        "graph_hits": _HITS_SQL,
        "kg_sparql_exists": f"""
            WITH t AS MATERIALIZED (
              SELECT DISTINCT
                     d.source || '/' || CAST(d.doc_id AS VARCHAR) || '@HEAD' AS subj,
                     l.label AS pred,
                     u.obj AS obj
              FROM documents d
              JOIN (VALUES {{kw_values}}) l(label, rx) ON TRUE,
              LATERAL unnest(regexp_extract_all(d.text, l.rx)) u(obj)
            ),
            e AS (SELECT DISTINCT subj AS d, obj AS e FROM t
                  WHERE pred = 'engine'),
            j AS (SELECT DISTINCT subj AS d FROM t
                  WHERE pred = 'exec_op' AND obj = 'join'),
            s AS (SELECT DISTINCT subj AS d FROM t
                  WHERE pred = 'data_noun' AND obj = 'stream')
            SELECT e.e, count(DISTINCT e.d) AS n_docs
            FROM e JOIN j USING (d)
            WHERE NOT EXISTS (SELECT 1 FROM s WHERE s.d = e.d)
              AND length('eng:' || e.e) > 8
            GROUP BY e.e
            ORDER BY n_docs DESC, e.e
        """.format(kw_values=kw_values),
    }
