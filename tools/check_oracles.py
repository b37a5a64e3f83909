"""Local mirror of the driver's correctness gate: run every queries()
entry and its oracle_sql() on the same sf dir, compare row count,
column names, and order-insensitive values. Usage:

    python tools/check_oracles.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, ".")

import __spark_entry__ as entrymod  # noqa: E402
from gliner_transbronchialbiopsy_spark.session import (  # noqa: E402
    DEFAULT_CPUS,
    get_spark,
)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if df[c].dtype.kind in "fiu":
            df[c] = df[c].astype("float64").round(6)
        elif str(df[c].dtype).startswith(("datetime", "date")):
            df[c] = df[c].astype(str)
        else:
            try:
                df[c] = pd.to_numeric(df[c]).astype("float64").round(6)
            except (ValueError, TypeError):
                df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def bits_equal(g: pd.DataFrame, w: pd.DataFrame) -> pd.Series:
    """Row mask of bit-pattern equality (driver-strength comparison).

    pandas `==`/`equals` use IEEE float equality, under which
    -0.0 == +0.0 — exactly the divergence the round-5 driver gate
    red-flagged on dsir_weights while this mirror green-lit it. Compare
    float64 columns by their raw int64 bit patterns instead (after the
    6-dp quantization in normalize(), which is sign-preserving:
    round(-1e-10, 6) is -0.0). Non-float columns compare by value;
    NaNs (none of the oracles emit them) would compare by bit pattern
    and thus match iff identical payloads."""
    import numpy as np

    mask = pd.Series(True, index=g.index)
    for c in g.columns:
        if g[c].dtype.kind == "f" and w[c].dtype.kind == "f":
            gb = g[c].to_numpy(dtype="float64").view("int64")
            wb = w[c].to_numpy(dtype="float64").view("int64")
            mask &= pd.Series(gb == wb, index=g.index)
        else:
            mask &= (g[c] == w[c]) | (g[c].isna() & w[c].isna())
    return mask


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # cores from SPARK_GRAFT_CPUS, else the host's (DEFAULT_CPUS); 16 shuffle
    # partitions whatever the core count, so every query is partitioned
    # as before
    spark = get_spark(
        "oracle_check", cpus=DEFAULT_CPUS, shuffle_partitions=16
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures, passed, rows_only = [], [], []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL  {name}: spark error {str(e)[:300]}")
            continue
        if name not in oracles:
            rows_only.append((name, len(got)))
            print(f"rows  {name}: {len(got)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            want = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"FAIL  {name}: duckdb error {str(e)[:300]}")
            continue
        g, w = normalize(got), normalize(want)
        if list(g.columns) != list(w.columns):
            failures.append((name, f"cols {list(g.columns)} vs {list(w.columns)}"))
            print(f"FAIL  {name}: column mismatch {list(g.columns)} vs {list(w.columns)}")
            continue
        if len(g) != len(w):
            failures.append((name, f"rows {len(g)} vs {len(w)}"))
            print(f"FAIL  {name}: row count {len(g)} vs {len(w)}")
            continue
        eq_mask = bits_equal(g, w)
        if not bool(eq_mask.all()):
            diff_mask = ~eq_mask
            failures.append((name, f"value mismatch on {int(diff_mask.sum())} rows"))
            print(f"FAIL  {name}: value mismatch on {int(diff_mask.sum())}/{len(g)} rows")
            ex = diff_mask[diff_mask].index[:3]
            for i in ex:
                print("   spark:", g.loc[i].to_dict())
                print("   duck :", w.loc[i].to_dict())
            continue
        passed.append(name)
        print(f"OK    {name}: {len(g)} rows ({time.time()-t0:.1f}s)")

    print(f"\n{len(passed)} ok, {len(rows_only)} rows-only, {len(failures)} failed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
