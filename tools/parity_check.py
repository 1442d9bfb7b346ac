"""Local mini-driver: run every __spark_entry__ query against its DuckDB
oracle and report row-count / schema / value mismatches.

Usage: python tools/parity_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from couch_to_postgres_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
        elif df[c].dtype == object:
            pass
        df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), ignore_index=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark(cpus="8", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_df = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            print(f"SKIP  {name}: no oracle ({len(spark_df)} rows, "
                  f"{time.time()-t0:.1f}s)")
            continue
        try:
            duck_df = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {e}")
            continue
        a, b = canon(spark_df), canon(duck_df)
        if list(a.columns) != list(b.columns):
            failures.append(name)
            print(f"FAIL  {name}: columns {list(a.columns)} vs {list(b.columns)}")
        elif len(a) != len(b):
            failures.append(name)
            print(f"FAIL  {name}: rows {len(a)} vs {len(b)}")
        elif not a.equals(b):
            failures.append(name)
            neq = (a != b).any(axis=1)
            print(f"FAIL  {name}: value mismatch on {neq.sum()} rows; first:")
            print("  spark:", a[neq].head(3).to_dict("records"))
            print("  duck :", b[neq].head(3).to_dict("records"))
        else:
            print(f"OK    {name} ({len(a)} rows, {time.time()-t0:.1f}s)")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
