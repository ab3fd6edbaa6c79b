"""Local replica of the driver's correctness gate: run each queries() entry
on Spark and its oracle_sql() on DuckDB over the same parquet dir, compare
row count + sorted-column value multiset.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def value_hash(df: pd.DataFrame) -> str:
    df = canon(df)
    h = hashlib.sha256()
    for c in df.columns:
        col = df[c]
        if col.dtype.kind == "f":
            col = col.round(9)
        h.update(col.astype(str).str.cat(sep="\x1f").encode())
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from gis_scripts_spark.session import get_spark

    spark = get_spark("oracle-check", cores=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = e.queries()
    oracles = e.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL  {name}: spark error: {ex}")
            failures += 1
            continue
        if name not in oracles:
            print(f"OK?   {name}: rows-only check, {len(sdf)} rows")
            continue
        odf = con.execute(oracles[name]).df()
        ok_rows = len(sdf) == len(odf)
        ok_cols = sorted(sdf.columns) == sorted(odf.columns)
        ok_hash = ok_rows and ok_cols and value_hash(sdf) == value_hash(odf)
        status = "PASS" if (ok_rows and ok_cols and ok_hash) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(f"{status}  {name}: rows {len(sdf)}/{len(odf)} cols_match={ok_cols} hash_match={ok_hash}")
        if status == "FAIL" and ok_cols and ok_rows:
            a, b = canon(sdf), canon(odf)
            neq = (a.astype(str) != b.astype(str)).any(axis=1)
            print("  first diffs (spark vs oracle):")
            print(pd.concat([a[neq].head(3), b[neq].head(3)], keys=["spark", "oracle"]))
    print("failures:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
