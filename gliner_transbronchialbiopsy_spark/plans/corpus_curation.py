"""Corpus curation: the canonical training-data cleaning pass, composed
from the engine's text-analysis and dedup operators into ONE declarative
plan (language filter -> quality filter -> optional Gopher-style
repetition caps -> exact-dedup keep-first -> MinHash near-dup cluster
election, with an optional PII scrub on the kept rows).

This is the pipeline a 100 TB pretraining corpus actually runs before
anything model-shaped touches it (C4/Gopher-style). Plan shape:

- language ID + quality features are pure column expressions
  (operators/textstats.py) — a single whole-stage-codegen projection
  over the scan, no Python, no shuffle;
- the exact dedup is a window over sha2(text) keyed partitions (keep
  the lowest id per identical text). Filters run BEFORE the shuffle,
  so rejected rows never move;
- the fuzzy stage runs LAST, over exact-dedup survivors only:
  MinHash+LSH candidate pairs (operators/dedup.py) -> connected
  components (operators/components.py) -> keep the lowest id per
  near-dup cluster. Order matters for accounting: the LSH stage
  collapses byte-identical texts before signatures, so byte-copies
  would surface as ISOLATED nodes (not cluster members) if fuzzy ran
  first — exact-first charges them to 'duplicate' where they belong;
- rejection accounting is per-stage and sequential (a doc is charged
  to the FIRST stage that rejects it); the scalar stages come from one
  aggregate over the flagged projection, the near-dup stage from the
  cluster-election loser set.

Reference analogue: the upload-validation + skip-seen-file checks
(src/streamlit/app/utils/file_handler.py:45-90, app.py:342-346)
generalized to corpus scale; the filters themselves are the standard
public curation heuristics, not reference parity items.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..operators import components, dedup, pii, textstats

#: rejection stages in charge order (first failing stage wins)
STAGES = ("lang", "quality", "repetition", "duplicate", "near_duplicate")

#: repetition-feature columns added by textstats.repetition_features
_REP_COLS = ("dup_segment_frac", "top_bigram_frac", "dup_ngram_frac")


def _repetition_ok(
    max_dup_segment_frac: Optional[float],
    max_top_bigram_frac: Optional[float],
    max_dup_ngram_frac: Optional[float],
) -> Optional[Column]:
    """AND of the enabled repetition-rule predicates (Gopher table A1
    shape: a doc passes when every enabled signal is at or under its
    cap), or None when the stage is disabled (all caps None). The
    comparison runs on the 4-decimal-rounded features so the decision
    boundary is engine-portable (same rationale as mixture keep
    rates)."""
    caps = [
        (c, m)
        for c, m in zip(
            _REP_COLS,
            (max_dup_segment_frac, max_top_bigram_frac, max_dup_ngram_frac),
        )
        if m is not None
    ]
    if not caps:
        return None
    ok = F.lit(True)
    for col, cap in caps:
        ok = ok & (F.col(col) <= F.lit(cap))
    return ok


def flag(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    langs: Sequence[str] = ("en",),
    min_quality: float = 0.45,
    max_dup_segment_frac: Optional[float] = None,
    max_top_bigram_frac: Optional[float] = None,
    max_dup_ngram_frac: Optional[float] = None,
    dup_gram_n: int = 5,
) -> DataFrame:
    """Annotate every doc with lang_pred, quality_score and its fate:
    reject_stage in {'lang','quality','repetition','duplicate'} or
    NULL for kept.

    The repetition stage (Gopher-style within-doc repetition caps,
    textstats.repetition_features) is off by default — pass any of the
    max_* caps to enable it; like lang/quality it is a pure per-row
    projection, so enabling it adds zero shuffles.

    Duplicate election is deterministic: within byte-identical texts
    the lowest id survives (the reference's skip-already-seen rule,
    app.py:345, made order-independent). This audit variant ranks every
    row, so its window shuffles the full corpus; the production keep
    path (curate) filters first and shuffles only survivors."""
    scored = textstats.quality_score(df, text_col)
    scored = scored.withColumn(
        "lang_pred", textstats.lang_id(F.col(text_col))
    )
    rep_ok = _repetition_ok(
        max_dup_segment_frac, max_top_bigram_frac, max_dup_ngram_frac
    )
    if rep_ok is not None:
        scored = textstats.repetition_features(scored, text_col, dup_gram_n)
    lang_ok = F.col("lang_pred").isin(*langs)
    quality_ok = F.col("quality_score") >= F.lit(min_quality)
    # byte-identical texts share lang_pred, quality_score, and the
    # repetition features (all pure functions of text_col), so every
    # row of a text partition has the same scalar fate — rank>1 can
    # only ever charge a row whose partition-mates are survivors too,
    # and plain id order suffices
    rank = F.row_number().over(
        W.partitionBy(F.sha2(F.col(text_col), 256)).orderBy(F.col(id_col).asc())
    )
    fate = F.when(~lang_ok, F.lit("lang")).when(
        ~quality_ok, F.lit("quality")
    )
    if rep_ok is not None:
        fate = fate.when(~rep_ok, F.lit("repetition"))
    return scored.withColumn(
        "reject_stage", fate.when(rank > 1, F.lit("duplicate"))
    )


def curate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    langs: Sequence[str] = ("en",),
    min_quality: float = 0.45,
    max_dup_segment_frac: Optional[float] = None,
    max_top_bigram_frac: Optional[float] = None,
    max_dup_ngram_frac: Optional[float] = None,
    dup_gram_n: int = 5,
    scrub_pii: bool = False,
) -> DataFrame:
    """The kept corpus: original columns + (lang_pred, quality_score)
    retained for downstream sampling.

    Same fate per row as flag(), but the scalar filters (lang, quality,
    and — when any max_* cap is set — the repetition rules) run BEFORE
    the dedup window, so only survivors enter the one shuffle — at
    100 TB the rejected fraction (often >50%) never moves.

    scrub_pii=True replaces text_col with its PII-redacted form
    (operators/pii.PATTERNS) on the kept rows — a pure projection on
    the output, free at any scale. Redaction runs AFTER dedup on
    purpose: dedup keys on the original bytes, so two docs differing
    only in the redacted identifier stay distinct (they are different
    documents; the near-dup stage is where they collapse)."""
    scored = textstats.quality_score(df, text_col).withColumn(
        "lang_pred", textstats.lang_id(F.col(text_col))
    )
    keep = F.col("lang_pred").isin(*langs) & (
        F.col("quality_score") >= F.lit(min_quality)
    )
    rep_ok = _repetition_ok(
        max_dup_segment_frac, max_top_bigram_frac, max_dup_ngram_frac
    )
    rep_drop = []
    if rep_ok is not None:
        scored = textstats.repetition_features(scored, text_col, dup_gram_n)
        keep = keep & rep_ok
        rep_drop = list(_REP_COLS)
    survivors = scored.filter(keep)
    rank = F.row_number().over(
        W.partitionBy(F.sha2(F.col(text_col), 256)).orderBy(F.col(id_col).asc())
    )
    out = (
        survivors.withColumn("_rank", rank)
        .filter(F.col("_rank") == 1)
        .drop(
            "_rank", "n_chars_calc", "n_tokens", "punct_ratio",
            "stopword_ratio", "upper_ratio", *rep_drop,
        )
    )
    if scrub_pii:
        out = out.withColumn(text_col, pii.redacted(F.col(text_col)))
    return out


def near_dup_losers(
    survivors: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
    jaccard_threshold: float = 0.5,
    portable_hash: bool = False,
) -> DataFrame:
    """Ids (as strings) of near-duplicate cluster LOSERS among exact-dedup
    survivors: MinHash+LSH pairs (dedup.minhash_near_duplicates) ->
    connected components over the pair graph (components.canonical_map)
    -> within each cluster the minimum id (STRING order, matching the
    LSH stage's string rep ids) survives; every other member is a loser.

    Scale shape: inherits the LSH stage's guarantees (banded equi-join
    on sha gids, 64-row hot-bucket cap, text never travels after the
    signature stage); the component stage is one bounded read of the
    pairs into a driver union-find, or the star-contraction iteration
    above 1M edges.
    portable_hash=True makes the whole chain DuckDB-restatable for the
    curation contract oracles (recursive min-label CTE on the SQL side).
    """
    pairs = dedup.minhash_near_duplicates(
        survivors, text_col, id_col, num_hashes=num_hashes, bands=bands,
        shingle_n=shingle_n, jaccard_threshold=jaccard_threshold,
        portable_hash=portable_hash,
    )
    # the (tiny) edge set stays lazy: the component stage reads it once
    # (one bounded collect for the driver union-find)
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    nodes = survivors.select(F.col(id_col).cast("string").alias("node"))
    cmap = components.canonical_map(edges, nodes)
    return cmap.filter(F.col("node") != F.col("canonical")).select(
        F.col("node").alias("_nd_id")
    )


def curate_near_dup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    langs: Sequence[str] = ("en",),
    min_quality: float = 0.45,
    max_dup_segment_frac: Optional[float] = None,
    max_top_bigram_frac: Optional[float] = None,
    max_dup_ngram_frac: Optional[float] = None,
    dup_gram_n: int = 5,
    scrub_pii: bool = False,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
    jaccard_threshold: float = 0.5,
    portable_hash: bool = False,
) -> DataFrame:
    """The full five-stage keep list: curate() (lang -> quality ->
    optional repetition caps -> exact dedup) then near-dup cluster
    election — the engine's LSH dedup machinery composed into the
    flagship curation pass. The anti-join removes cluster losers;
    column shape matches curate(). scrub_pii redacts AFTER the LSH
    stage so signatures key on the original bytes (same rationale as
    curate's dedup-before-redaction ordering)."""
    base = curate(
        df, text_col, id_col, langs, min_quality,
        max_dup_segment_frac=max_dup_segment_frac,
        max_top_bigram_frac=max_top_bigram_frac,
        max_dup_ngram_frac=max_dup_ngram_frac,
        dup_gram_n=dup_gram_n,
    )
    losers = near_dup_losers(
        base, text_col, id_col, num_hashes=num_hashes, bands=bands,
        shingle_n=shingle_n, jaccard_threshold=jaccard_threshold,
        portable_hash=portable_hash,
    )
    out = base.join(
        losers,
        base[id_col].cast("string") == losers["_nd_id"],
        "left_anti",
    )
    if scrub_pii:
        out = out.withColumn(text_col, pii.redacted(F.col(text_col)))
    return out


def report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    langs: Sequence[str] = ("en",),
    min_quality: float = 0.45,
    max_dup_segment_frac: Optional[float] = None,
    max_top_bigram_frac: Optional[float] = None,
    max_dup_ngram_frac: Optional[float] = None,
    dup_gram_n: int = 5,
    near_dup: bool = True,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
    jaccard_threshold: float = 0.5,
    portable_hash: bool = False,
) -> DataFrame:
    """One-row audit: input size, rejects per stage, kept count. The
    no-silent-caps rule as a first-class output — at 100 TB 'we kept
    61%' must come with WHERE the other 39% went.

    near_dup=True (default) runs the fuzzy stage over the scalar+exact
    survivors and charges its cluster losers to 'near_duplicate'; the
    scalar stages still come from one pass over the flagged projection.
    The LSH knobs mirror curate_near_dup exactly — pass the SAME values
    to both so the audit's n_kept equals the keep list's count.
    near_dup=False reports the scalar stages only (n_near_duplicate
    = 0) for corpora where the LSH pass is run separately. The
    repetition stage is off unless a max_* cap is set (n_repetition =
    0 when off; the column is always present — STAGES is the schema)."""
    flagged = flag(
        df, text_col, id_col, langs, min_quality,
        max_dup_segment_frac=max_dup_segment_frac,
        max_top_bigram_frac=max_top_bigram_frac,
        max_dup_ngram_frac=max_dup_ngram_frac,
        dup_gram_n=dup_gram_n,
    )
    if near_dup:
        kept = flagged.filter(F.col("reject_stage").isNull())
        losers = near_dup_losers(
            kept, text_col, id_col, num_hashes=num_hashes, bands=bands,
            shingle_n=shingle_n,
            jaccard_threshold=jaccard_threshold, portable_hash=portable_hash,
        ).withColumn("_nd", F.lit(True))
        flagged = flagged.join(
            losers,
            flagged[id_col].cast("string") == losers["_nd_id"],
            "left",
        ).withColumn(
            "reject_stage",
            F.coalesce(
                "reject_stage", F.when(F.col("_nd"), F.lit("near_duplicate"))
            ),
        )
    return flagged.agg(
        F.count(F.lit(1)).alias("n_input"),
        *[
            F.count(F.when(F.col("reject_stage") == s, 1)).alias(f"n_{s}")
            for s in STAGES
        ],
        F.count(F.when(F.col("reject_stage").isNull(), 1)).alias("n_kept"),
    )
