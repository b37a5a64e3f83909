"""Deduplication suite for large-scale training-data pipelines.

Generalizes the reference's two dedup behaviors — skip-already-seen
files (app.py:345) and the prediction cache keyed by content
(model_handler.py:111-121) — into the standard corpus-dedup toolbox:

- exact_duplicates:      sha-hash groupBy (one shuffle)
- ngram_jaccard_pairs:   exact n-gram Jaccard via explode + equi-join
                         on shared shingles (no cartesian product)
- minhash_near_duplicates: MinHash+LSH banded blocking (reuses the
                         linking stage machinery) + jaccard verify
- simhash_buckets:       64-bit SimHash with Hamming-adjacent banding
- embedding_near_duplicates: cosine over an embedding column via a
                         normalized-vector bucket join

All joins are equi-joins on derived keys; the only quadratic work is
within a candidate bucket (bounded by banding), which is the standard
scale pattern for 100 TB corpora.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import linking


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Groups of byte-identical texts: (content_sha256, n_dups, doc_ids).
    The M3 cache replacement — run BEFORE any expensive per-doc stage."""
    return (
        df.select(id_col, F.sha2(F.col(text_col), 256).alias("content_sha256"))
        .groupBy("content_sha256")
        .agg(
            F.count("*").alias("n_dups"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
        )
        .filter(F.col("n_dups") > 1)
    )


def word_ngrams(col, n: int = 3):
    """Distinct word n-grams (lowercased) as an array column, JVM-side."""
    toks = F.split(F.lower(col), r"\s+")
    cnt = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(cnt - n, F.lit(0)))
    return F.array_distinct(
        F.when(
            cnt >= n,
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))),
        ).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard for every pair sharing >=1 shingle.

    Plan shape: explode shingles -> self-equi-join on shingle ->
    count shared per pair -> join sizes -> J = c / (|A|+|B|-c).
    Never a cartesian join; the shuffle key is the shingle.

    Hot-shingle guard: a shingle present in f documents contributes
    f*(f-1)/2 join rows, so one boilerplate trigram reintroduces the
    quadratic blowup the LSH path caps (linking.lsh_candidate_pairs).
    `max_shingle_df` drops shingles whose document frequency exceeds the
    cap BEFORE the self-join (same skew pattern as the 64-row band-bucket
    cap). Trade-off: shared counts exclude capped shingles while set
    sizes stay full, so the reported Jaccard is a LOWER BOUND — hot
    shingles carry almost no similarity signal, which is exactly why
    stop-shingle dropping is the standard corpus-dedup practice. Default
    None computes exact Jaccard (small corpora / oracle parity); at
    100 TB always set a cap (e.g. 256)."""
    shingled = df.select(
        F.col(id_col), word_ngrams(F.col(text_col), n).alias("grams")
    )
    sizes = shingled.select(id_col, F.size("grams").alias("sz"))
    exploded = shingled.select(id_col, F.explode("grams").alias("gram"))
    if max_shingle_df is not None:
        rare = (
            exploded.groupBy("gram")
            .count()
            .filter(F.col("count") <= max_shingle_df)
            .drop("count")
        )
        exploded = exploded.join(rare, "gram", "left_semi")
    pairs = (
        exploded.alias("a")
        .join(
            exploded.alias("b"),
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count("*").alias("shared"))
    )
    out = (
        pairs.join(sizes.withColumnRenamed(id_col, "id_a"), "id_a")
        .withColumnRenamed("sz", "sz_a")
        .join(sizes.withColumnRenamed(id_col, "id_b"), "id_b")
        .withColumnRenamed("sz", "sz_b")
        .withColumn(
            "jaccard",
            F.col("shared") / (F.col("sz_a") + F.col("sz_b") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
    jaccard_threshold: float = 0.6,
    exact_verify: bool = False,
    portable_hash: bool = False,
) -> DataFrame:
    """MinHash+LSH near-dup pairs over char shingles. Returns
    (id_a, id_b, jaccard).

    portable_hash=True derives the shingle-hash family from sha256
    (linking.portable_hash60), making the full pipeline — signatures,
    banding, bucket cap, estimate — restatable in DuckDB SQL for
    oracle verification. The production default is
    linking.minhash_signatures_np: a numpy FNV-1a shingle fold with
    splitmix64 lanes (no sha round per shingle).

    Default verification is the MinHash ESTIMATE (equal-slot fraction,
    std err ~1/sqrt(num_hashes)) — no per-pair array work, which is
    what survives 100 TB. exact_verify=True recomputes true shingle
    Jaccard per candidate (use for short texts / final audits).

    Scale shape: after the signature stage the document TEXT never
    travels again — banding, the candidate self-join, and the estimate
    joins all run on a 64-byte sha256 text id. Candidate pair rows
    otherwise carry TWO full documents each through two joins, which
    dominates shuffle volume on long-document corpora. Only the
    exact_verify path joins real text back (it must re-shingle), and
    only for the surviving candidates."""
    keyed = df.select(
        F.col(id_col).cast("string").alias("_key"),
        F.col(text_col).alias("text"),
    ).withColumn("_tid", F.sha2("text", 256))
    surfaces = keyed.withColumn("label", F.lit("doc"))
    if portable_hash:
        sigs = linking.minhash_signatures(
            surfaces, "text", ("label",), num_hashes=num_hashes,
            shingle_n=shingle_n, portable_hash=True,
        )
    else:
        # production path: the vectorized numpy signature kernel —
        # same operator contract, ~3x the signature-stage throughput
        # (see minhash_signatures_np docstring for the measurements)
        sigs = linking.minhash_signatures_np(
            surfaces, "text", ("label",), num_hashes=num_hashes,
            shingle_n=shingle_n,
        )
    # swap the text identity for its sha before anything shuffles again.
    # ONLY the signature table is materialized: it is referenced five
    # times downstream (bucket census, both candidate-join sides, both
    # estimate-join sides), so an uncut lineage recomputes the shingle
    # explode + 32-agg shuffle five times. The candidate-pair and edge
    # subtrees are each consumed once — checkpointing them paid nothing
    # (measured interleaved at sf0.1: sigs-only 12.3/7.9s vs
    # all-three-checkpoints 46.3/10.5s cold/warm, identical 6,861 rows;
    # see BENCH/BASELINE.md)
    sigs = sigs.select(
        "label", F.sha2("text", 256).alias("text"), "sig", "n_shingles"
    ).localCheckpoint()
    pairs = linking.lsh_candidate_pairs(sigs, "text", ("label",), bands=bands)
    if exact_verify:
        texts = keyed.select("_tid", "text").dropDuplicates(["_tid"])
        with_text = (
            pairs.withColumnRenamed("text_a", "_tid_a")
            .withColumnRenamed("text_b", "_tid_b")
            .join(
                texts.select(
                    F.col("_tid").alias("_tid_a"), F.col("text").alias("text_a")
                ),
                "_tid_a",
            )
            .join(
                texts.select(
                    F.col("_tid").alias("_tid_b"), F.col("text").alias("text_b")
                ),
                "_tid_b",
            )
        )
        # the text ids travelled with the pair rows — select them back
        # instead of re-hashing two full documents per surviving pair
        edges = linking.verified_edges(
            with_text, ("label",), shingle_n=shingle_n,
            jaccard_threshold=jaccard_threshold,
        ).select(
            "label",
            F.col("_tid_a").alias("text_a"),
            F.col("_tid_b").alias("text_b"),
            "jaccard",
        )
    else:
        edges = linking.estimated_edges(
            pairs, sigs, "text", ("label",),
            jaccard_threshold=jaccard_threshold,
        )
    # map text ids back to document ids (duplicate texts -> their
    # representative id; exact dups were collapsed by dropDuplicates in
    # the signature stage — run exact_duplicates() for the full groups)
    ids = keyed.groupBy("_tid").agg(F.min("_key").alias("rep_id"))
    return (
        edges.join(
            ids.select(F.col("_tid").alias("text_a"), F.col("rep_id").alias("id_a")),
            "text_a",
        )
        .join(
            ids.select(F.col("_tid").alias("text_b"), F.col("rep_id").alias("id_b")),
            "text_b",
        )
        .select("id_a", "id_b", "jaccard")
    )


def simhash_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 4,
    portable_hash: bool = False,
) -> DataFrame:
    """(id, simhash) — 64-bit SimHash: majority vote per bit over the
    xxhash64 of each char shingle, computed as a PURE PROJECTION: the
    per-shingle hashes live in an array column and each bit's majority
    is `2 * size(filter(hashes, bit set)) > n` — zero shuffles (the
    rounds-1-3 shape exploded shingles into a 64-sum groupBy; the
    higher-order-function form deletes that exchange, same argument as
    linking.minhash_signatures). One output row per input row: ids are
    expected unique per row (the old groupBy silently merged duplicate
    ids' shingle votes — an accident, not a contract).

    portable_hash=True uses the sha256-derived 60-bit family
    (linking.portable_hash60) so DuckDB can restate the table; bits
    60-63 are then constantly 0 (votes all -1), which both engines
    agree on — 60 effective simhash bits instead of 64."""
    def _hash_fn(x):
        return (
            linking.portable_hash60(x)
            if portable_hash
            else F.xxhash64(x)
        )

    def _bit_fn(b: int):
        # factory, not a two-param lambda: F.filter would treat a
        # second parameter as the element index
        return lambda x: F.shiftright(x, b).bitwiseAND(F.lit(1)) == 1

    with_h = df.select(F.col(id_col), F.col(text_col)).withColumn(
        "_ha",
        F.transform(
            linking.char_shingles(F.col(text_col), shingle_n), _hash_fn
        ),
    )
    n = F.size("_ha")
    sim = F.lit(0).cast("long")
    for b in range(64):
        ones = F.size(F.filter(F.col("_ha"), _bit_fn(b)))
        # majority: ones - (n - ones) > 0  <=>  2*ones > n (ties -> 0,
        # matching the old sum-of-votes > 0 rule exactly)
        sim = sim.bitwiseOR(
            F.when(
                ones * 2 > n, F.shiftleft(F.lit(1).cast("long"), b)
            ).otherwise(F.lit(0).cast("long"))
        )
    return with_h.select(F.col(id_col), sim.alias("simhash"))


def simhash_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 4,
    band_bits: int = 16,
    portable_hash: bool = False,
) -> DataFrame:
    """SimHash near-dup candidates: docs sharing any 16-bit band of
    their 64-bit simhash (standard Hamming-LSH blocking).
    Returns (id_a, id_b, hamming)."""
    hashed = simhash_table(
        df, text_col, id_col, shingle_n, portable_hash=portable_hash
    )
    n_bands = 64 // band_bits
    bands_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_id"),
                F.shiftright("simhash", i * band_bits)
                .bitwiseAND(F.lit((1 << band_bits) - 1))
                .alias("band_val"),
            )
            for i in range(n_bands)
        ]
    )
    banded = hashed.select(
        id_col, "simhash", F.explode(bands_arr).alias("band")
    ).select(id_col, "simhash", "band.band_id", "band.band_val")
    # hot-bucket cap: same skew guard as linking.lsh_candidate_pairs —
    # a band bucket of b rows costs b^2/2 pairs
    ok = (
        banded.groupBy("band_id", "band_val")
        .count()
        .filter(F.col("count") <= 256)
        .drop("count")
    )
    banded = banded.join(ok, ["band_id", "band_val"], "left_semi")
    a, b = banded.alias("a"), banded.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming.alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def embedding_planes_for(n_rows: int, max_bucket_size: int) -> int:
    """Autoscale the hyperplane count so the EXPECTED bucket size stays
    a small fraction of the cap: 2^p buckets should hold ~cap/4 rows
    each on average, i.e. p = ceil(log2(n / (cap/4))). Clamped to
    [4, 24] (16 buckets minimum so tiny corpora still split; 16M
    buckets maximum — beyond that the bucket key itself dominates)."""
    import math

    target = max(max_bucket_size // 4, 1)
    raw = math.ceil(math.log2(max(n_rows, 2) / target + 1))
    return max(4, min(24, raw))


def embedding_near_duplicates(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int | None = None,
    max_bucket_size: int = 256,
    portable_hash: bool = False,
    n_rows: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dups via random-hyperplane LSH bucketing
    (deterministic planes from xxhash64 of (dim, plane)) + exact cosine
    verify inside buckets. Returns (id_a, id_b, cosine).

    portable_hash=True derives each plane's component signs from sha256
    parity (linking.portable_hash60) instead of xxhash64, so the whole
    operator — plane signs, ordered-fold plane dots, bucket strings,
    bucket cap, in-bucket cosine — is restatable in DuckDB (list_reduce
    reproduces Spark's F.aggregate left fold bit-exactly on doubles).
    xxhash64 stays the production default.

    Scale guards (north_rule skew discipline, same pattern as the
    MinHash band cap and the SimHash 256-row cap):
    - buckets larger than max_bucket_size are dropped BEFORE the
      self-join (left-semi against the bucket census) — a degenerate
      corpus where every embedding collapses into one bucket costs one
      aggregate, never b^2/2 pairs;
    - n_planes=None autoscales the bucket count to the corpus size
      (embedding_planes_for). The size comes from `n_rows` when given —
      at 100 TB that number lives in table/snapshot metadata (Iceberg
      snapshot summary, CheckpointManager _metrics.json rows), so pass
      it and no sizing scan runs; only without it does a count() pass
      over the input pay for the autoscale. An explicit n_planes skips
      sizing entirely.
    - per-vector norms are computed ONCE before the join (one O(dim)
      fold per vector, not two per candidate pair)."""
    if n_planes is None:
        n_planes = embedding_planes_for(
            df.count() if n_rows is None else n_rows, max_bucket_size
        )
    dim = F.size(vec_col)
    # deterministic pseudo-random plane component for (i, p):
    # sign of xxhash64(i, p) (or sha256 parity in portable mode)
    def _sign(i, p):
        h = (
            linking.portable_hash60(i.cast("string"), seed=p)
            if portable_hash
            else F.xxhash64(i, F.lit(p))
        )
        return F.when(h % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0))

    def plane_bit(p):
        prods = F.zip_with(
            F.col(vec_col),
            F.sequence(F.lit(0), dim - 1),
            lambda v, i: v * _sign(i, p),
        )
        return (
            F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x) > 0
        ).cast("int")

    sig = F.concat_ws("", *[plane_bit(p).cast("string") for p in range(n_planes)])
    norm = F.sqrt(
        F.aggregate(
            F.col(vec_col), F.lit(0.0), lambda acc, x: acc + x.cast("double") * x
        )
    )
    # materialization barrier: the signature+norm projection is
    # referenced three times below (bucket census + both self-join
    # sides) — without a cut each reference recomputes n_planes x dim
    # sign hashes and the norm fold per vector (the same
    # census+two-sides shape link_surfaces cuts after its signatures)
    bucketed = df.select(
        F.col(id_col), F.col(vec_col), sig.alias("bucket"), norm.alias("_norm")
    ).localCheckpoint()
    ok = (
        bucketed.groupBy("bucket")
        .count()
        .filter(F.col("count") <= max_bucket_size)
        .drop("count")
    )
    bucketed = bucketed.join(ok, "bucket", "left_semi")
    a, b = bucketed.alias("a"), bucketed.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"),
                   lambda x, y: x.cast("double") * y),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    cosine = dot / (F.col("a._norm") * F.col("b._norm"))
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            cosine.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def line_dedup(
    df: DataFrame,
    lines_col: str = "lines",
    id_col: str = "doc_id",
    max_occurrences: int = 1,
    broadcast_dups: bool = True,
) -> DataFrame:
    """Cross-document line deduplication (the RefinedWeb/Gopher
    boilerplate pass: drop every line whose exact content appears more
    than max_occurrences times ACROSS the corpus — nav bars, cookie
    banners, license headers — keeping each doc's surviving lines in
    original order).

    Input is a pre-split array column (callers choose the unit:
    newline split for real text, sentence segments, or fixed token
    windows); output is (id, n_lines, n_removed, lines_kept).

    Scale shape — the text bytes shuffle exactly once:
      1. posexplode, project ONLY sha2(line) -> groupBy(sha) count.
         The counting shuffle moves 32-byte digests, never line bytes.
      2. over-represented shas (count > max_occurrences) are the
         boilerplate set — tiny relative to the corpus, broadcast into
         a left_anti join against the exploded lines (no shuffle on
         the data side). broadcast_dups=False falls back to a shuffle
         join for corpora where boilerplate itself is huge.
      3. survivors groupBy(id) -> sort by position -> reassembled
         array. This re-agg is the one shuffle that carries text.
    """
    lines = F.col(lines_col)
    exploded = df.select(
        F.col(id_col),
        F.posexplode(lines).alias("_pos", "_line"),
    ).withColumn("_lsha", F.sha2(F.col("_line"), 256))
    dup = (
        exploded.groupBy("_lsha")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > max_occurrences)
        .select("_lsha")
    )
    if broadcast_dups:
        dup = F.broadcast(dup)
    kept = exploded.join(dup, "_lsha", "left_anti")
    reassembled = kept.groupBy(id_col).agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("_pos", "_line"))
            ),
            lambda s: s["_line"],
        ).alias("_kept")
    )
    return (
        df.select(id_col, F.size(lines).alias("n_lines"))
        .join(reassembled, id_col, "left")
        .select(
            id_col,
            "n_lines",
            F.coalesce(
                F.col("_kept"), F.array().cast("array<string>")
            ).alias("lines_kept"),
        )
        .withColumn(
            "n_removed", F.col("n_lines") - F.size("lines_kept")
        )
        .select(id_col, "n_lines", "n_removed", "lines_kept")
    )


def token_windows(col, n: int = 10):
    """Non-overlapping n-token windows of lower(col) as an array column
    — the deterministic "line" synthesizer for corpora without line
    structure (each window is a reassemblable unit, unlike overlapping
    shingles). Guarded sequence: Spark's sequence(1, 0) would count
    DOWN, so empty token arrays short-circuit to an empty window
    array."""
    toks = F.split(F.trim(F.lower(col)), r"\s+")
    toks = F.when(F.trim(col) == "", F.array().cast("array<string>")).otherwise(toks)
    n_tok = F.size(toks)
    n_win = F.ceil(n_tok / F.lit(float(n))).cast("int")
    return F.when(n_tok <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), n_win),
            lambda i: F.concat_ws(
                " ", F.slice(toks, (i - 1) * n + 1, n)
            ),
        )
    )


def incremental_dedup(
    new_df: DataFrame,
    seen_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    near_dup: bool = True,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
    jaccard_threshold: float = 0.6,
    portable_hash: bool = False,
) -> DataFrame:
    """Incremental batch dedup: flag every NEW doc that duplicates the
    already-ingested corpus — the production crawl pattern (dedup
    today's batch against the historical index, never re-shuffle the
    history). Returns new_df's columns + reject_reason in
    {'exact', 'near_duplicate', NULL(kept)}; charge order exact first.

    Scale shape:
      - exact: sha256 anti/semi joins on 32-byte digests — the seen
        side is a digest column, so at 100 TB the "index" is the sha
        snapshot the checkpoint store already maintains, not the
        corpus.
      - near-dup: MinHash signatures are computed ONLY for new docs
        that survive the exact stage (exact dups never shingle), then
        banded ASYMMETRICALLY against the seen side's signatures
        (linking.lsh_candidate_pairs_between) — in production the seen
        signatures come from the stored signature table, appended
        batch-by-batch, so each batch pays O(batch) signature work
        against an equi-join with the index, never O(history).

    Within-batch duplicates are NOT flagged here (two identical new
    docs both compare against the history only) — run
    exact_duplicates / minhash_near_duplicates for intra-batch dedup.
    portable_hash=True makes the whole decision DuckDB-restatable
    (contract query dedup_incremental)."""
    new_h = new_df.withColumn("_sha", F.sha2(F.col(text_col), 256))
    seen_sha = (
        seen_df.select(F.sha2(F.col(text_col), 256).alias("_sha"))
        .distinct()
    )
    exact_hit = seen_sha.withColumn("_exact", F.lit(True))
    out = new_h.join(exact_hit, "_sha", "left")
    if near_dup:
        survivors = new_h.join(seen_sha, "_sha", "left_anti")
        # ONE signature computation over the side-tagged union (the
        # sides are disjoint by construction — survivors exclude every
        # seen sha), ONE checkpoint; both banding sides and the
        # estimate join-back read the cut (a per-side computation
        # measured 2x the signature cost for identical output)
        surfaces = survivors.select(
            F.lit("n").alias("side"), F.col(text_col).alias("text")
        ).unionByName(
            seen_df.select(
                F.lit("s").alias("side"), F.col(text_col).alias("text")
            )
        )
        sigs = linking.minhash_signatures(
            surfaces, "text", ("side",), num_hashes=num_hashes,
            shingle_n=shingle_n, portable_hash=portable_hash,
        ).select(
            "side", F.sha2("text", 256).alias("text"), "sig"
        ).localCheckpoint()
        cand = linking.lsh_candidate_pairs_between(
            sigs.filter(F.col("side") == "n").drop("side"),
            sigs.filter(F.col("side") == "s").drop("side"),
            "text", (), bands=bands,
        )
        est = linking.estimated_edges(
            cand, sigs.drop("side"), "text", (),
            jaccard_threshold=jaccard_threshold,
        )
        near_tids = (
            est.select(F.col("text_a").alias("_sha"))
            .distinct()
            .withColumn("_near", F.lit(True))
        )
        out = out.join(near_tids, "_sha", "left")
    else:
        out = out.withColumn("_near", F.lit(None).cast("boolean"))
    reason = (
        F.when(F.col("_exact"), F.lit("exact"))
        .when(F.col("_near"), F.lit("near_duplicate"))
    )
    return out.select(*new_df.columns, reason.alias("reject_reason"))


def duplicate_passages(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicated-PASSAGE detection (the word-window
    form of Lee et al. 2022's substring dedup, "Deduplicating Training
    Data Makes Language Models Better"): a length-``n`` word window is
    a duplicated passage when its exact token sequence occurs in at
    least ``min_docs`` DISTINCT documents. Returns one row per
    document that carries at least one duplicated window:

        (doc_id, n_tokens, n_windows, n_dup_windows,
         dup_covered_tokens)

    where dup_covered_tokens is the size of the UNION of the
    duplicated windows' token spans — the merged-interval sweep runs
    as a single F.aggregate fold over the sorted window starts (array
    referenced once; the textstats._run_stats Catalyst-inlining
    lesson), so a doc tiled by overlapping duplicate windows counts
    each token once. ``dup_covered_tokens / n_tokens`` is the standard
    removal-budget signal; line_dedup is the line-granular sibling.

    Distributed shape at 100 TB: window TEXT never shuffles — the
    occurrence relation carries (doc_id, pos, sha256(window)) and both
    wide operations key on the 64-byte hash: one groupBy for the
    distinct-doc census, one join of occurrences against the
    duplicated-hash set (boilerplate-sized in practice — AQE
    broadcasts it when it fits, the line_dedup argument). The per-doc
    totals come straight off the doc scan; only hash-matched
    occurrences reach the final per-doc aggregation."""
    from .textstats import ngrams_of, word_tokens

    if n < 1:
        raise ValueError("n must be >= 1")
    if min_docs < 2:
        raise ValueError("min_docs must be >= 2")
    base = df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text")
    ).withColumn("_toks", word_tokens(F.col("_text")))
    totals = base.select(
        "doc_id",
        F.size("_toks").alias("n_tokens"),
        F.greatest(F.size("_toks") - (n - 1), F.lit(0)).alias("n_windows"),
    )
    occ = base.select(
        "doc_id",
        F.posexplode(ngrams_of(F.col("_toks"), n)).alias("_p0", "_win"),
    ).select(
        "doc_id",
        (F.col("_p0") + 1).alias("pos"),  # 1-based window start
        F.sha2("_win", 256).alias("_wh"),
    )
    dup = (
        occ.groupBy("_wh")
        .agg(F.countDistinct("doc_id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_wh")
    )
    hits = occ.join(dup, "_wh", "left_semi")

    def _coverage(sorted_pos):
        init = F.struct(
            F.lit(0).alias("covered"), F.lit(0).alias("last_end")
        )

        def step(acc, p):
            start = F.greatest(p, acc["last_end"] + 1)
            end = p + F.lit(n - 1)
            add = F.greatest(end - start + 1, F.lit(0))
            return F.struct(
                (acc["covered"] + add).alias("covered"),
                F.greatest(acc["last_end"], end).alias("last_end"),
            )

        return F.aggregate(sorted_pos, init, step, lambda a: a["covered"])

    per_doc = hits.groupBy("doc_id").agg(
        F.count("*").alias("n_dup_windows"),
        F.sort_array(F.collect_list("pos")).alias("_starts"),
    )
    per_doc = per_doc.select(
        "doc_id",
        "n_dup_windows",
        _coverage(F.col("_starts")).alias("_cov_raw"),
    )
    return (
        per_doc.join(totals, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            "n_windows",
            "n_dup_windows",
            # a trailing window can only cover up to n_tokens
            F.least(F.col("_cov_raw"), F.col("n_tokens")).alias(
                "dup_covered_tokens"
            ),
        )
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT set-Jaccard similarity join via prefix filtering
    (Chaudhuri-Ganti-Kaushik ICDE'06; Xiao-Wang-Lin-Yu WWW'08
    "PPJoin") -> (id_a, id_b, shared, sz_a, sz_b, jaccard) for every
    pair with J >= threshold over DISTINCT word-n-gram sets.

    The other exact path here (:func:`ngram_jaccard_pairs`) joins on
    EVERY shared shingle and needs a document-frequency cap on hot
    shingles — which makes its scores lower bounds under the cap.
    Prefix filtering is the LOSSLESS alternative: order each set by
    ascending global document frequency (rarest first, gram asc
    tie-break — one canonical total order), keep only the first
    p = |x| − ceil(t·|x|) + 1 grams as the PREFIX, and join on prefix
    grams only. Two sets with J >= t MUST share a prefix gram (if
    they miss each other's prefixes, the overlap is bounded below
    t·|union|), so the candidate set is a superset of the answer and
    the verification step computes exact Jaccard — no cap semantics.
    Hot shingles sit at the END of the frequency order and almost
    never enter a prefix: the skew guard falls out of the algorithm
    instead of a lossy cap.

    Plan shape: one distinct-gram explode, one DF count agg, a
    per-document row_number window (keyed on the doc id) for the
    prefix cut, the prefix self-equi-join keyed on the gram, then
    candidate verification as two joins against the full gram sets
    (candidate-sized fan-out) and one count agg. All shuffle keys are
    grams or doc ids; no Python, no cartesian."""
    from pyspark.sql import Window as _W

    if not 0 < threshold <= 1:
        raise ValueError("threshold must be in (0, 1]")
    tokens = (
        df.select(
            F.col(id_col), F.explode(word_ngrams(F.col(text_col), n)).alias("gram")
        )
        .distinct()
    )
    sizes = tokens.groupBy(id_col).agg(F.count("*").alias("sz"))
    dfreq = tokens.groupBy("gram").agg(F.count("*").alias("_df"))
    ranked = (
        tokens.join(dfreq, "gram")
        .join(sizes, id_col)
        .withColumn(
            "_rn",
            F.row_number().over(
                _W.partitionBy(id_col).orderBy(
                    F.col("_df").asc(), F.col("gram").asc()
                )
            ),
        )
    )
    prefix = ranked.filter(
        F.col("_rn")
        <= F.col("sz") - F.ceil(F.lit(float(threshold)) * F.col("sz")) + 1
    ).select(id_col, "gram")
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    ta = tokens.select(F.col(id_col).alias("id_a"), "gram")
    tb = tokens.select(F.col(id_col).alias("id_b"), "gram")
    inter = (
        cand.join(ta, "id_a")
        .join(tb, ["id_b", "gram"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared"))
    )
    return (
        inter.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b")),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.col("shared") / (F.col("sz_a") + F.col("sz_b") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "shared", "sz_a", "sz_b", "jaccard")
    )
