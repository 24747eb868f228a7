"""Local mimic of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01; compare row
count, column names, and order-insensitive canonicalized values."""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

# the checkout this script lives in, not whichever one is on sys.path
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from gips_spark import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if np.issubdtype(df[c].dtype, np.floating) or np.issubdtype(
            df[c].dtype, np.integer
        ):
            df[c] = df[c].astype(np.float64).round(9)
        else:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def main():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    spark = get_spark("check-entry", master="local[8]", shuffle_partitions=8)

    only = set(sys.argv[1:])
    if not only:
        e = entrymod.entry(spark)
        ecnt = e.count()
        print(f"entry: rows={ecnt} schema={e.schema.simpleString()}", flush=True)
        assert ecnt >= 0

    qs = entrymod.queries()
    if only:
        qs = {k: v for k, v in qs.items() if k in only}
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        try:
            got = fn(spark, SF_DIR).toPandas()
        except Exception as ex:
            failures.append((name, f"SPARK ERROR: {ex}"))
            print(f"{name}: SPARK ERROR {str(ex)[:300]}", flush=True)
            continue
        if name not in oracles:
            print(f"{name}: rows-only rows={len(got)}", flush=True)
            continue
        try:
            want = con.execute(oracles[name]).df()
        except Exception as ex:
            failures.append((name, f"DUCKDB ERROR: {ex}"))
            print(f"{name}: DUCKDB ERROR {str(ex)[:300]}", flush=True)
            continue
        # dtype-KIND gate first: the round-9 float canonicalization
        # below would mask int-vs-float / numeric-vs-string artifacts
        # the driver's strict hash catches (r2 lesson: HUGEINT leak)
        import datetime as _dt

        def _kind(df, c):
            k = df[c].dtype.kind
            if k == "O":
                nn = df[c].dropna()
                if len(nn) and isinstance(
                    nn.iloc[0], (_dt.date, _dt.datetime)
                ):
                    return "M"  # Spark dates land as object(datetime.date)
            return k

        kinds_g = {c: _kind(got, c) for c in sorted(got.columns)}
        kinds_w = {c: _kind(want, c) for c in sorted(want.columns)}
        num = {"i": "n", "u": "n", "f": "n"}
        if set(kinds_g) == set(kinds_w):
            mism = {
                c: (kinds_g[c], kinds_w[c])
                for c in kinds_g
                if num.get(kinds_g[c], kinds_g[c]) != num.get(kinds_w[c], kinds_w[c])
                or (kinds_g[c] in "iu") != (kinds_w[c] in "iu")
            }
            if mism:
                failures.append((name, f"dtype kinds {mism}"))
                print(f"{name}: DTYPE MISMATCH {mism}", flush=True)
                continue
        g, w = canon(got), canon(want)
        if list(g.columns) != list(w.columns):
            failures.append((name, f"cols {list(g.columns)} vs {list(w.columns)}"))
            print(f"{name}: COLUMN MISMATCH {list(g.columns)} vs {list(w.columns)}", flush=True)
            continue
        if len(g) != len(w):
            failures.append((name, f"rows {len(g)} vs {len(w)}"))
            print(f"{name}: ROWCOUNT MISMATCH {len(g)} vs {len(w)}", flush=True)
            continue
        if not g.equals(w):
            neq = (g != w) & ~(g.isna() & w.isna())
            bad = neq.any(axis=1)
            failures.append((name, f"{int(bad.sum())} differing rows"))
            print(f"{name}: VALUE MISMATCH {int(bad.sum())}/{len(g)} rows", flush=True)
            print(g[bad].head(3), flush=True)
            print(w[bad].head(3), flush=True)
            continue
        print(f"{name}: OK rows={len(g)}", flush=True)

    print("\nFAILURES:" if failures else "\nALL OK", flush=True)
    for n, r in failures:
        print(f"  {n}: {r}", flush=True)
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
