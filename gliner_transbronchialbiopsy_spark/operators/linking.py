"""Stage 2 — entity linking via MinHash-LSH blocking (J4).

The reference links implicitly by exact string collection per label
(entity_processor.py:68-71). At 10^12 rows exact grouping misses
near-identical surface variants, so we generalize: block candidate
pairs with banded MinHash over char-3-gram shingles (an equi-join on
(label, band_id, band_hash) — a plain shuffle-hash join Catalyst can
pick), then verify candidates with exact Jaccard computed from the
shingle sets. All pair generation is join-shaped; no cartesian product
ever materializes.

Skew notes: duplicate/boilerplate surfaces collapse to one row by
dropDuplicates before signatures (the M3 discipline), and residual hot
bands are handled by AQE skew-join (session default) — banding itself
already splits one hot surface across `bands` different join keys.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — resolves pandas_udf type hints
                     # (future-annotations stringifies them; pandas_udf
                     # looks the names up in module globals)
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def char_shingles(col, n: int = 3):
    """Distinct char n-grams of lower(col) as an array column (JVM-side:
    sequence + transform + substring — no Python)."""
    lowered = F.lower(col)
    length = F.length(lowered)
    idx = F.sequence(F.lit(1), F.greatest(length - (n - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: lowered.substr(i, F.lit(n)))
    )


def portable_hash60(col, seed: int | None = None):
    """60-bit hash derived from sha256 — reproducible on ANY engine with
    a sha256 builtin (DuckDB: CAST('0x'||substr(sha256(s),1,15) AS
    BIGINT)), unlike xxhash64 whose exact 64-bit values only Spark
    emits. 15 hex digits = 60 bits keeps the value safely inside int64
    on both engines (16 digits can exceed signed-long range). The seed
    is appended behind a \\x1f separator so seeded families stay
    independent. Used by the portable_hash=True modes of the SimHash /
    embedding operators (one hash per call site) so their outputs gain
    SQL oracles; xxhash64 remains the production default (single JVM
    intrinsic vs a full sha256 round per shingle). The many-seed MinHash
    path uses the cheaper lane-sliced family below instead."""
    s = col if seed is None else F.concat_ws("\x1f", col, F.lit(str(seed)))
    return F.conv(F.substring(F.sha2(s, 256), 1, 15), 16, 10).cast("long")


PORTABLE_LANES_PER_DIGEST = 4


def portable_digest(col, block: int):
    """sha256 hex digest of (col \\x1f block) — one digest feeds
    PORTABLE_LANES_PER_DIGEST independent 60-bit lanes via
    portable_lane60, so a num_hashes-wide MinHash family costs
    ceil(num_hashes/4) sha rounds per shingle instead of num_hashes
    (4x less CPU on the oracle path; DuckDB restates it identically:
    sha256(s || chr(31) || block))."""
    return F.sha2(F.concat_ws("\x1f", col, F.lit(str(block))), 256)


def portable_lane60(digest_col, lane: int):
    """Lane `lane` (0..3) of a portable_digest: hex chars
    [15*lane+1 .. 15*lane+15] as a 60-bit bigint — the same
    inside-int64 guarantee as portable_hash60, reproducible in DuckDB
    as CAST('0x' || substr(digest, 15*lane+1, 15) AS BIGINT). The four
    lanes of one sha256 digest are disjoint bit ranges, so they are
    independent hash values for MinHash purposes (standard
    slice-one-long-hash construction)."""
    return F.conv(
        F.substring(digest_col, 15 * lane + 1, 15), 16, 10
    ).cast("long")


def minhash_signatures(
    surfaces: DataFrame,
    text_col: str = "text",
    key_cols: tuple[str, ...] = ("label",),
    num_hashes: int = 16,
    shingle_n: int = 3,
    portable_hash: bool = False,
) -> DataFrame:
    """One row per distinct (key_cols, text) with `sig: array<bigint>`.

    MinHash h_i(S) = min over shingles s of hash_i(s), computed as a
    PURE PROJECTION: `array_min(transform(shingles, s -> hash_i(s)))`
    per row. The only shuffle in this operator is the distinct-surface
    dedup — there is no shingle explode, no num_hashes-way aggregation
    exchange, and no join-back. (Rounds 1-3 exploded shingles and took
    num_hashes mins in a groupBy over a compact sha group id; the
    higher-order-function form deletes that ~n_docs x n_shingles-row
    exchange outright — at 100 TB the explode shuffle was the
    operator's dominant cost, and per-row projections scale linearly
    with executors with zero coordination.)

    portable_hash=True swaps the shingle hash family for the
    lane-sliced sha256 family (portable_digest/portable_lane60: one
    digest per block of 4 seeds) so the whole signature — and
    everything downstream of it: banding, candidate pairs, estimated
    Jaccard — is restatable in ANSI SQL for oracle verification. The
    per-block digest arrays are materialized as columns so each sha
    round runs once, not once per lane."""
    base = surfaces.select(*key_cols, text_col).dropDuplicates(
        [*key_cols, text_col]
    )
    # CPU-dense stage needs CORE-count partitioning, not byte-count:
    # the projection below runs ~(num_hashes + shingle-build) hash/
    # substring evaluations per character, so its cost tracks rows x
    # text length, while AQE's coalescePartitions targets shuffle
    # BYTES and happily merges the (tiny-by-bytes) post-dedup exchange
    # to ONE partition — measured at sf0.1/local[32]: the whole
    # signature stage ran serially, 6.2s vs 1.4s. The explicit
    # repartition keys on the text so the layout is deterministic and
    # skew-free; it re-exchanges only the already-deduped surface
    # table (the same rows the dedup exchange just wrote).
    par = surfaces.sparkSession.sparkContext.defaultParallelism
    base = base.repartition(par, F.col(text_col))
    with_sh = base.withColumn(
        "_sh", char_shingles(F.col(text_col), shingle_n)
    )
    # factory closures, NOT two-parameter lambdas with defaults:
    # F.transform treats a second lambda parameter as the ELEMENT INDEX
    # column, which would silently shadow a captured `i=i` default
    def _digest_fn(d: int):
        return lambda x: portable_digest(x, d)

    def _lane_fn(lane: int):
        return lambda dg: portable_lane60(dg, lane)

    def _xx_fn(i: int):
        # seed FIRST: Spark folds multi-arg xxhash64 left-to-right
        # (each arg hashed with the previous result as seed), so
        # xxhash64(x, lit(i)) is one weak trailing-long fold over a
        # shared base hash — measured on the documents corpus it left
        # the num_hashes slots correlated (est-Jaccard upper tail:
        # 153/170 LSH pairs above the 0.5 threshold were false
        # positives, mean est-exact +0.25). xxhash64(lit(i), x) runs
        # the full string-hash loop under a per-seed initial state:
        # same cost, measured 0 false positives / +0.006 bias.
        return lambda x: F.xxhash64(F.lit(i), x)

    if portable_hash:
        lanes = PORTABLE_LANES_PER_DIGEST
        n_digests = (num_hashes + lanes - 1) // lanes
        for d in range(n_digests):
            with_sh = with_sh.withColumn(
                f"_dg{d}", F.transform(F.col("_sh"), _digest_fn(d))
            )

        def _h(i):
            return F.array_min(
                F.transform(F.col(f"_dg{i // lanes}"), _lane_fn(i % lanes))
            )
    else:
        def _h(i):
            return F.array_min(F.transform(F.col("_sh"), _xx_fn(i)))
    return with_sh.select(
        *key_cols,
        text_col,
        F.array(*[_h(i) for i in range(num_hashes)]).alias("sig"),
        F.size("_sh").alias("n_shingles"),
    )


_SM_A = 0xBF58476D1CE4E5B9
_SM_B = 0x94D049BB133111EB
_FNV_PRIME = 0x100000001B3
_FNV_BASIS = 0xCBF29CE484222325


def _splitmix64_seeds(num_hashes: int):
    """num_hashes distinct 64-bit lane seeds from the splitmix64
    sequence (Steele et al., 'Fast splittable pseudorandom number
    generators', OOPSLA 2014) — the standard way to derive independent
    mix streams from consecutive integers."""
    import numpy as np

    seeds = []
    golden = 0x9E3779B97F4A7C15
    for i in range(num_hashes):
        z = (i + 1) * golden % (1 << 64)
        z ^= z >> 30
        z = z * _SM_A % (1 << 64)
        z ^= z >> 27
        z = z * _SM_B % (1 << 64)
        z ^= z >> 31
        seeds.append(z)
    return np.array(seeds, dtype=np.uint64)


def minhash_signatures_np(
    surfaces: DataFrame,
    text_col: str = "text",
    key_cols: tuple[str, ...] = ("label",),
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Vectorized (numpy mapInPandas) production-family variant of
    minhash_signatures: same contract — one row per distinct
    (key_cols, text) with sig: array<bigint> and n_shingles — but the
    whole shingle-build + num_hashes-lane min runs as a handful of
    numpy array ops per Arrow batch instead of a per-position JVM
    substring loop + num_hashes string-hash passes.

    Why (measured at sf1.0, local[32], noop sink): the JVM signature
    projection costs ~2.8s over the 0.4s dedup+repartition base —
    ~1.7s of it the char_shingles substring loop (UTF8String.substr
    per position) and ~1.2s the 32 per-shingle string hashes. The
    numpy kernel replaces both with one rolling FNV-1a fold over the
    batch's concatenated codepoint buffer plus 32 splitmix64 mixes +
    segment-min (np.minimum.reduceat) — optimization-guide §4.2:
    hand whole batches to vectorized native code.

    Family definition (production only — the portable sha256 family
    for SQL oracles lives in minhash_signatures): shingle hash =
    FNV-1a fold over the shingle's Unicode codepoints (uint64
    wraparound); lane i value = splitmix64(shingle_hash + seed_i);
    slot i = min over shingles in UNSIGNED order, emitted as the
    int64 bit pattern. Any per-lane avalanche permutation of a
    shingle-set fingerprint is a valid MinHash family; lane quality is
    pinned by the est-vs-exact pytest gates (test_scale_paths).

    n_shingles counts DISTINCT shingle hashes (== distinct shingles
    modulo 2^-64 collisions; exact_verify callers that need exact set
    sizes use the JVM variant).

    Texts shorter than shingle_n (incl. empty) contribute ONE shingle
    — the whole string — mirroring char_shingles' substr(1, n)
    fallback."""
    import numpy as np

    base = surfaces.select(*key_cols, text_col).dropDuplicates(
        [*key_cols, text_col]
    )
    # CORE-count partitioning for the CPU-dense stage, exactly as in
    # minhash_signatures (AQE's byte-targeted coalescing would merge
    # the tiny post-dedup exchange to one task and serialize this)
    par = surfaces.sparkSession.sparkContext.defaultParallelism
    base = base.repartition(par, F.col(text_col))

    in_schema = base.schema
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in in_schema]
        + ["sig array<bigint>", "n_shingles int"]
    )
    seeds = _splitmix64_seeds(num_hashes)
    n = shingle_n

    def _ragged(starts, counts):
        # concatenated [s, s+1, .., s+c-1] ranges, fully vectorized
        ends = counts.cumsum()
        total = int(ends[-1]) if len(ends) else 0
        base_rep = np.repeat(starts, counts)
        local = np.arange(total, dtype=np.int64) - np.repeat(
            ends - counts, counts
        )
        return base_rep + local

    def _mix(z):
        z = z.copy()
        z ^= z >> np.uint64(30)
        z *= np.uint64(_SM_A)
        z ^= z >> np.uint64(27)
        z *= np.uint64(_SM_B)
        z ^= z >> np.uint64(31)
        return z

    def run(batches):
        prime = np.uint64(_FNV_PRIME)
        for pdf in batches:
            texts = pdf[text_col].tolist()
            encs = [(t or "").lower().encode("utf-32-le") for t in texts]
            lens = np.fromiter(
                (len(e) >> 2 for e in encs), dtype=np.int64, count=len(encs)
            )
            if len(encs) == 0:
                yield pdf.assign(sig=[], n_shingles=[])
                continue
            buf = np.frombuffer(b"".join(encs), dtype=np.uint32).astype(
                np.uint64
            )
            offs = np.zeros(len(encs) + 1, dtype=np.int64)
            np.cumsum(lens, out=offs[1:])
            long_mask = lens >= n
            wcounts = np.where(long_mask, lens - (n - 1), 1)
            seg_ends = wcounts.cumsum()
            seg_starts = seg_ends - wcounts
            wg = np.empty(int(seg_ends[-1]), dtype=np.uint64)
            # rolling FNV-1a over the concatenated buffer; windows that
            # straddle document boundaries are computed but never
            # selected below
            if len(buf) >= n:
                m = len(buf) - (n - 1)
                gh = np.full(m, np.uint64(_FNV_BASIS))
                for k in range(n):
                    gh ^= buf[k : k + m]
                    gh *= prime
                cnts = (lens - (n - 1))[long_mask]
                pos = _ragged(seg_starts[long_mask], cnts)
                src = _ragged(offs[:-1][long_mask], cnts)
                wg[pos] = gh[src]
            # short texts (< n chars, incl. empty): one whole-string
            # shingle each — rare; plain python fold
            for d in np.nonzero(~long_mask)[0]:
                h = _FNV_BASIS
                for c in buf[offs[d] : offs[d + 1]]:
                    h = ((h ^ int(c)) * _FNV_PRIME) % (1 << 64)
                wg[seg_starts[d]] = h
            # per-lane minima over each document's window segment
            sig_mat = np.empty((len(seeds), len(lens)), dtype=np.uint64)
            for i, s in enumerate(seeds):
                sig_mat[i] = np.minimum.reduceat(_mix(wg + s), seg_starts)
            sig_mat = sig_mat.astype(np.int64)
            # distinct windows per segment (sorted-runs count)
            seg_of = np.repeat(
                np.arange(len(lens), dtype=np.int64), wcounts
            )
            order = np.lexsort((wg, seg_of))
            sw, so = wg[order], seg_of[order]
            new = np.ones(len(wg), dtype=np.int64)
            if len(wg) > 1:
                new[1:] = (
                    (sw[1:] != sw[:-1]) | (so[1:] != so[:-1])
                ).astype(np.int64)
            n_distinct = np.add.reduceat(new, seg_starts)
            out = pdf.copy()
            out["sig"] = [sig_mat[:, j].tolist() for j in range(len(lens))]
            out["n_shingles"] = n_distinct.astype("int32")
            yield out

    return base.mapInPandas(run, schema=out_schema)


def banded_keys(
    signatures: DataFrame,
    text_col: str = "text",
    key_cols: tuple[str, ...] = ("label",),
    bands: int = 4,
    max_bucket_size: int | None = 64,
) -> DataFrame:
    """Split each signature into `bands` slices -> one row per
    (key_cols, text, band_id, band_hash), with over-full buckets
    dropped (the hot-band skew guard — see lsh_candidate_pairs)."""
    sig_len = F.size("sig")
    rows_per_band = (sig_len / bands).cast("int")
    size_col = (
        ["n_shingles"] if "n_shingles" in signatures.columns else []
    )
    # band_hash = xxhash64 fold over the band's slot LONGS (each step
    # hashes the running state with the next slot). The previous form
    # cast every slot to a string and concat_ws'd before one hash —
    # measured ~2x the banding stage cost for identical grouping
    # semantics (both are collision-free injections of the slot tuple
    # in practice; the SQL oracles group by the slot-value tuple
    # itself, so only the equality classes matter, and those are
    # unchanged)
    banded = signatures.select(
        *key_cols,
        F.col(text_col),
        *size_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band_id"),
                    F.aggregate(
                        F.slice("sig", b * rows_per_band + 1, rows_per_band),
                        F.lit(42).cast("long"),
                        lambda acc, x: F.xxhash64(acc, x),
                    ).alias("band_hash"),
                ),
            )
        ).alias("band"),
    ).select(*key_cols, text_col, *size_col, "band.band_id", "band.band_hash")

    if max_bucket_size is not None:
        bucket_cols = [*key_cols, "band_id", "band_hash"]
        ok = (
            banded.groupBy(*bucket_cols)
            .count()
            .filter(F.col("count") <= max_bucket_size)
            .drop("count")
        )
        banded = banded.join(ok, bucket_cols, "left_semi")
    return banded


def lsh_candidate_pairs(
    signatures: DataFrame,
    text_col: str = "text",
    key_cols: tuple[str, ...] = ("label",),
    bands: int = 4,
    max_bucket_size: int | None = 64,
) -> DataFrame:
    """Banded LSH: split each signature into `bands` slices, equi-join on
    (key_cols, band_id, band_hash). Returns distinct candidate pairs
    (key_cols, text_a, text_b) with text_a < text_b.

    max_bucket_size is the hot-band skew guard (north_rule): a band
    bucket holding b rows yields b^2/2 candidate pairs, so one
    boilerplate-dominated bucket can dwarf the whole join. Buckets
    larger than the cap are dropped BEFORE the self-join (rows keep
    their other, more selective bands — graceful recall degradation on
    pathological near-uniform corpora, bounded work always)."""
    size_col = (
        ["n_shingles"] if "n_shingles" in signatures.columns else []
    )
    banded = banded_keys(
        signatures, text_col, key_cols, bands, max_bucket_size
    )

    left = banded
    right = banded.select(
        *[F.col(c).alias(f"_r_{c}") for c in (*key_cols, text_col, *size_col)],
        F.col("band_id").alias("_r_band_id"),
        F.col("band_hash").alias("_r_band_hash"),
    )
    cond = (
        (F.col("band_id") == F.col("_r_band_id"))
        & (F.col("band_hash") == F.col("_r_band_hash"))
        & (F.col(text_col) < F.col(f"_r_{text_col}"))
    )
    for c in key_cols:
        cond = cond & (F.col(c) == F.col(f"_r_{c}"))
    size_out = (
        [F.col("n_shingles").alias("sz_a"), F.col("_r_n_shingles").alias("sz_b")]
        if size_col
        else []
    )
    return (
        left.join(right, cond, "inner")
        .select(
            *key_cols,
            F.col(text_col).alias("text_a"),
            F.col(f"_r_{text_col}").alias("text_b"),
            *size_out,
        )
        .dropDuplicates([*key_cols, "text_a", "text_b"])
    )


def lsh_candidate_pairs_between(
    left_sigs: DataFrame,
    right_sigs: DataFrame,
    text_col: str = "text",
    key_cols: tuple[str, ...] = ("label",),
    bands: int = 4,
    max_bucket_size: int | None = 64,
) -> DataFrame:
    """Asymmetric banded LSH: candidates between TWO signature tables
    (e.g. a new crawl batch vs the stored historical signature index —
    the incremental-dedup shape). Returns distinct (key_cols, text_a,
    text_b) with text_a from left and text_b from right; no ordering
    constraint between the sides.

    The bucket cap applies to each side independently (a bucket with L
    left x R right rows yields L*R pairs, so either side alone can
    blow it up); both sides must come from the SAME signature family
    and band count or the equi-join is meaningless."""
    left_b = banded_keys(
        left_sigs, text_col, key_cols, bands, max_bucket_size
    ).select(*key_cols, F.col(text_col).alias("text_a"),
             "band_id", "band_hash")
    right_b = banded_keys(
        right_sigs, text_col, key_cols, bands, max_bucket_size
    ).select(
        *[F.col(c).alias(f"_r_{c}") for c in key_cols],
        F.col(text_col).alias("text_b"),
        F.col("band_id").alias("_r_band_id"),
        F.col("band_hash").alias("_r_band_hash"),
    )
    cond = (F.col("band_id") == F.col("_r_band_id")) & (
        F.col("band_hash") == F.col("_r_band_hash")
    )
    for c in key_cols:
        cond = cond & (F.col(c) == F.col(f"_r_{c}"))
    return (
        left_b.join(right_b, cond, "inner")
        .select(*key_cols, "text_a", "text_b")
        .dropDuplicates([*key_cols, "text_a", "text_b"])
    )


def verified_edges(
    pairs: DataFrame,
    key_cols: tuple[str, ...] = ("label",),
    shingle_n: int = 3,
    jaccard_threshold: float = 0.7,
) -> DataFrame:
    """Exact char-n-gram Jaccard on candidate pairs (JVM array ops),
    keeping pairs >= threshold as similarity edges.

    When the pair rows carry (sz_a, sz_b) shingle counts from the
    signature stage, the union is derived (|A|+|B|-|A∩B|) instead of
    materializing array_union — halves the per-pair array work."""
    a = char_shingles(F.col("text_a"), shingle_n)
    b = char_shingles(F.col("text_b"), shingle_n)
    inter = F.size(F.array_intersect(a, b))
    if "sz_a" in pairs.columns:
        union = F.col("sz_a") + F.col("sz_b") - inter
    else:
        union = F.size(F.array_union(a, b))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        pairs.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .drop("sz_a", "sz_b")
    )


def estimated_edges(
    pairs: DataFrame,
    signatures: DataFrame,
    text_col: str = "text",
    key_cols: tuple[str, ...] = ("label",),
    jaccard_threshold: float = 0.7,
) -> DataFrame:
    """MinHash-estimated Jaccard: fraction of equal signature slots
    (E[match] = J, std err ~ 1/sqrt(num_hashes)). No per-pair array
    construction — two joins against the (small, distinct-surface)
    signature table + a zip_with over num_hashes longs. This is the
    scale path for near-dup detection on long documents; exact
    verification (verified_edges) remains for short surfaces."""
    sig_map = signatures.select(*key_cols, text_col, "sig")
    a = sig_map.withColumnRenamed(text_col, "text_a").withColumnRenamed(
        "sig", "sig_a"
    )
    b = sig_map.withColumnRenamed(text_col, "text_b").withColumnRenamed(
        "sig", "sig_b"
    )
    joined = (
        pairs.select(*key_cols, "text_a", "text_b")
        .join(a, [*key_cols, "text_a"])
        .join(b, [*key_cols, "text_b"])
    )
    matches = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, m: acc + m,
    )
    jac = matches / F.size("sig_a")
    return (
        joined.select(*key_cols, "text_a", "text_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= jaccard_threshold)
    )


def hash_embedder(dim: int = 64):
    """Deterministic stand-in for a sentence-transformer bi-encoder
    (none is installed in this environment): char-3-gram bag hashed
    into a dim-dimensional float vector, L2-normalized. Similar
    surfaces share n-grams, so cosine behaves like a (crude) semantic
    encoder — the REAL contract is the signature: a pandas_udf
    string -> array<float> that a model-backed encoder drops into
    unchanged (batched Arrow transfer, one model per worker, same shape
    as ner.gliner_detector's pluggable pattern)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<float>")
    def embed(texts: pd.Series) -> pd.Series:
        import hashlib

        import numpy as np

        out = []
        for t in texts:
            v = np.zeros(dim, dtype=np.float64)
            s = (t or "").lower()
            grams = {s[i : i + 3] for i in range(max(len(s) - 2, 1))}
            for g in grams:
                h = int.from_bytes(
                    hashlib.sha256(g.encode()).digest()[:8], "big"
                )
                v[h % dim] += 1.0 if (h >> 8) % 2 == 0 else -1.0
            n = float(np.linalg.norm(v))
            out.append((v / n if n > 0 else v).astype(np.float32))
        return pd.Series(out)

    return embed


def biencoder_scored_edges(
    pairs: DataFrame,
    key_cols: tuple[str, ...] = ("label",),
    embed_udf=None,
    cosine_threshold: float = 0.8,
) -> DataFrame:
    """Stage-2 verification via bi-encoder cosine (north star: 'blocked
    candidate generation (MinHash-LSH) plus bi-encoder cosine scoring
    in vectorized UDFs'): an alternative to the exact-Jaccard /
    MinHash-estimate verifiers for surface variants that share MEANING
    but few shingles (abbreviations, reorderings).

    Plan shape (M3 discipline end-to-end): each DISTINCT surface is
    embedded ONCE (union of both pair sides -> distinct -> one
    vectorized pandas-UDF pass), then the pair table joins the (small)
    embedding table twice and the cosine is a JVM-side zip_with fold —
    the encoder never runs per pair, and never twice for a surface that
    appears in many pairs. embed_udf defaults to hash_embedder() (the
    deterministic stand-in; pass a model-backed pandas_udf in
    production)."""
    embed_udf = embed_udf if embed_udf is not None else hash_embedder()
    surfaces = (
        pairs.select(F.col("text_a").alias("text"))
        .unionByName(pairs.select(F.col("text_b").alias("text")))
        .distinct()
        .withColumn("_emb", embed_udf(F.col("text")))
    )
    a = surfaces.select(
        F.col("text").alias("text_a"), F.col("_emb").alias("_emb_a")
    )
    b = surfaces.select(
        F.col("text").alias("text_b"), F.col("_emb").alias("_emb_b")
    )
    dot = F.aggregate(
        F.zip_with("_emb_a", "_emb_b", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        pairs.join(a, "text_a")
        .join(b, "text_b")
        .withColumn("cosine", dot)  # embeddings are L2-normalized
        .filter(F.col("cosine") >= cosine_threshold)
        .select(*key_cols, "text_a", "text_b", "cosine")
    )


def link_surfaces(
    mentions: DataFrame,
    text_col: str = "text",
    key_cols: tuple[str, ...] = ("label",),
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.7,
    max_bucket_size: int | None = 64,
) -> DataFrame:
    """End-to-end blocking+verification: mentions -> similarity edges
    (key_cols, text_a, text_b, jaccard).

    One barrier: the signature table is materialized because the
    candidate join reads it three times (bucket census + both join
    sides), and without the cut each read re-runs the distinct-surface
    shuffle and the num_hashes-lane signature projection. The candidate
    pairs and the edges stay lazy: each caller reads them once."""
    sigs = minhash_signatures(
        mentions, text_col, key_cols, num_hashes=num_hashes, shingle_n=shingle_n
    ).localCheckpoint()
    pairs = lsh_candidate_pairs(
        sigs, text_col, key_cols, bands=bands, max_bucket_size=max_bucket_size
    )
    return verified_edges(
        pairs, key_cols, shingle_n=shingle_n, jaccard_threshold=jaccard_threshold
    )


def fuzzy_match_blocked(
    surfaces: DataFrame,
    name_col: str = "name",
    max_dist: int = 4,
    block_cap: int = 64,
) -> DataFrame:
    """Token-blocked fuzzy self-match: candidate surface pairs sharing
    at least one word token, verified by exact Levenshtein distance
    <= max_dist. The edit-distance analogue of verified_edges — same
    block -> verify shape, a different verifier (the reference's exact
    string grouping, entity_processor.py:68-71, catches only dist==0;
    this generalizes to typo-class variants GLiNER emits for the same
    entity).

    Candidate generation is an equi-join on the token (never a
    cartesian): explode distinct lowered surfaces into word tokens,
    self-join per token, keep each pair once (name_a < name_b), verify
    with F.levenshtein (JVM codegen, matched exactly by DuckDB's
    levenshtein). Stop-token blowup is bounded by block_cap: within a
    token block rows are ranked by surface order and pairs are only
    enumerated among the first block_cap rows — the same documented
    lower-bound-under-cap semantics as ngram_jaccard_pairs, restated
    identically in the oracle (deterministic: rank ties impossible on
    distinct surfaces). A token shared by half the corpus (the hot-key
    case) therefore contributes O(block_cap^2) candidates, not O(n^2).

    Returns one row per verified pair: (name_a, name_b, dist).
    """
    names = (
        surfaces.select(F.lower(F.col(name_col)).alias("nm"))
        .filter(F.col("nm").isNotNull() & (F.length("nm") > 0))
        .distinct()
    )
    toks = names.select(
        "nm", F.explode(F.split("nm", r"\s+")).alias("tok")
    ).filter(F.length("tok") > 0).distinct()
    from pyspark.sql import Window as W

    ranked = toks.withColumn(
        "rk", F.row_number().over(W.partitionBy("tok").orderBy("nm"))
    ).filter(F.col("rk") <= block_cap)
    a = ranked.select(F.col("tok"), F.col("nm").alias("name_a"))
    b = ranked.select(F.col("tok"), F.col("nm").alias("name_b"))
    cand = (
        a.join(b, "tok")
        .filter(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b")
        .distinct()
    )
    return cand.select(
        "name_a",
        "name_b",
        F.levenshtein("name_a", "name_b").alias("dist"),
    ).filter(F.col("dist") <= max_dist)


def snm_pairs(
    df: DataFrame,
    key_col: str,
    id_col: str,
    window: int = 5,
    prefix_len: int = 1,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez & Stolfo, SIGMOD 1995)
    -> candidate pairs (id_a, key_a, id_b, key_b, rank_dist): rows
    sort globally by (key, id) and every pair within `window`
    positions becomes a candidate — the classic ER blocking method
    complementary to the LSH family (LSH catches token/shingle
    overlap; SNM catches typo-adjacent keys that sort together even
    when no token matches exactly).

    Scale shape — the global ordinal is the textbook single-task trap
    (a Window over empty partitionBy), so this uses the two-phase
    rank of operators/packing.py adapted to STRING keys: buckets are
    key PREFIXES (contiguous under the sort order by construction —
    every key with prefix p sorts before every key with prefix q > p),
    per-bucket counts (bounded by the prefix space, never by rows)
    cumulate on the driver in prefix order and broadcast back, and
    the rank is a per-bucket row_number plus the bucket offset. Pair
    generation is an EQUI-join: with d = window−1 and block
    g = (rn−1) div d, any in-window pair sits in the same or adjacent
    blocks, so the left side fans out to (g, g+1) and joins on the
    block id — never a theta-join over ranks. Raise prefix_len for
    skewed key heads (bucket fan-out alphabet^len)."""
    if window < 2:
        raise ValueError("window must be >= 2")
    if prefix_len < 1:
        raise ValueError("prefix_len must be >= 1")
    from pyspark.sql import Window as W

    d = window - 1
    # NULL keys are EXCLUDED from pairing, explicitly: a NULL key has
    # no position in the sort order a neighborhood is defined over
    # (and previously vanished silently anyway — the NULL prefix
    # bucket never equi-joined the broadcast offsets). The filter
    # makes the contract visible instead of incidental.
    base = df.select(
        F.col(key_col).alias("_k"), F.col(id_col).alias("_i")
    ).filter(F.col("_k").isNotNull())
    bucketed = base.withColumn(
        "_b", F.substring(F.col("_k"), 1, prefix_len)
    )
    # phase 1: bounded per-prefix counts -> driver cumsum in prefix
    # (= sort) order -> broadcast offsets
    counts = sorted(
        (
            (r["_b"], r["c"])
            for r in bucketed.groupBy("_b")
            .agg(F.count("*").alias("c"))
            .collect()
        ),
        key=lambda t: (t[0] is None, t[0]),
    )
    offsets, acc = [], 0
    for b, c in counts:
        offsets.append((b, acc))
        acc += int(c)
    if not offsets:
        return base.select(
            F.col("_i").alias("id_a"),
            F.col("_k").alias("key_a"),
            F.col("_i").alias("id_b"),
            F.col("_k").alias("key_b"),
            F.lit(0).cast("long").alias("rank_dist"),
        ).limit(0)
    off_df = F.broadcast(
        bucketed.sparkSession.createDataFrame(
            offsets, f"_b {bucketed.schema['_b'].dataType.simpleString()},"
            " _offset long"
        )
    )
    # phase 2: per-bucket row_number + offset = global rank
    w = W.partitionBy("_b").orderBy(F.col("_k").asc(), F.col("_i").asc())
    ranked = bucketed.join(off_df, "_b").select(
        "_k", "_i",
        (F.row_number().over(w) + F.col("_offset")).alias("_rn"),
    )
    a = ranked.select(
        F.col("_i").alias("id_a"), F.col("_k").alias("key_a"),
        F.col("_rn").alias("_ra"),
    )
    b = ranked.select(
        F.col("_i").alias("id_b"), F.col("_k").alias("key_b"),
        F.col("_rn").alias("_rb"),
    )
    lhs = a.select(
        "*", F.floor((F.col("_ra") - 1) / F.lit(d)).alias("_g")
    ).unionAll(
        a.select(
            "*",
            (F.floor((F.col("_ra") - 1) / F.lit(d)) + 1).alias("_g"),
        )
    )
    rhs = b.select(
        "*", F.floor((F.col("_rb") - 1) / F.lit(d)).alias("_g")
    )
    return (
        lhs.join(rhs, "_g")
        .filter(
            (F.col("_rb") > F.col("_ra"))
            & (F.col("_rb") - F.col("_ra") <= d)
        )
        .select(
            "id_a", "key_a", "id_b", "key_b",
            (F.col("_rb") - F.col("_ra")).cast("long").alias("rank_dist"),
        )
    )
