"""Output checks: result fingerprints, DuckDB oracles, KG precision and
recall, and triples lineage."""

from __future__ import annotations

from pathlib import Path

import pandas as pd
import pyarrow.parquet as pq


def fingerprint_exprs(df):
    """(rows, fp) aggregate columns for `DataFrame.observe`: fp is an
    order-insensitive sum of per-row xxhash64 over every column, with
    floating values rounded to 6 decimals so a changed summation order
    between passes does not change it."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    def norm(field):
        c = F.col(f"`{field.name}`")
        if isinstance(field.dataType, (T.DoubleType, T.FloatType)):
            return F.round(c, 6)
        return c

    h = F.xxhash64(*[norm(f) for f in df.schema.fields])
    return (
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(h.cast("decimal(20,0)")), F.lit(0)).cast("string").alias("fp"),
    )


def duckdb_views(sf_dir: str):
    """An in-memory DuckDB with one view per parquet table of sf_dir."""
    import duckdb

    con = duckdb.connect()
    for path in sorted(Path(sf_dir).glob("*.parquet")):
        con.execute(f"CREATE VIEW {path.stem} AS SELECT * FROM '{path}'")
    return con


def oracle_mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the Spark result equals the oracle's, compared the way
    tools/check_oracles.py compares them; else what differs."""
    from tools.check_oracles import bits_equal, normalize

    g, w = normalize(got), normalize(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} vs {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} vs {len(w)}"
    bad = int((~bits_equal(g, w)).sum())
    return f"{bad} rows differ" if bad else None


def precision_recall(triples: pd.DataFrame, gold: pd.DataFrame) -> tuple[float, float]:
    """Triple precision and recall against the corpus gold, on (path,
    pred, lower(obj)) as tests/test_pipeline_e2e.py scores them."""
    from gliner_transbronchialbiopsy_spark import config
    from gliner_transbronchialbiopsy_spark.sources import corpus

    got = set(zip(triples["path"], triples["pred"].astype(str),
                  triples["obj"].str.lower()))
    g = corpus.gold_triples(gold)
    want = set(zip(g["path"], g["label"].map(config.LABEL_SLUGS),
                   g["value"].str.lower()))
    tp = len(got & want)
    return tp / max(len(got), 1), tp / max(len(want), 1)


def read_triples(workdir: Path) -> pd.DataFrame:
    return pq.read_table(workdir / "triples" / "data",
                         columns=["path", "pred", "obj"]).to_pandas()


def lineage(workdir: Path) -> dict[str, tuple[int, int]]:
    """pred -> (rows, content fingerprint) from the triples stage."""
    t = pq.read_table(workdir / "triples" / "_lineage").to_pandas()
    return {r.pred: (int(r.rows), int(r.content_fingerprint))
            for r in t.itertuples()}
