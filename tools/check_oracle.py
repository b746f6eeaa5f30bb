"""Local emulation of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB at the given sf dir, compare row count,
column set, and order-insensitive values."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

import __spark_entry__ as entrymod
from ukeeper_readability_spark.jobs.extract_job import get_spark

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
        elif str(df[c].dtype) == "bool":
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main(sf_dir: str, only: set | None = None):
    spark = get_spark(master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(sdf)} rows")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error {str(e)[:300]}")
            failures += 1
            continue
        a, b = normalize(sdf), normalize(odf)
        if len(a) != len(b):
            print(f"FAIL {name}: rows {len(a)} vs {len(b)}")
            failures += 1
            continue
        if list(a.columns) != list(b.columns):
            print(f"FAIL {name}: cols {list(a.columns)} vs {list(b.columns)}")
            failures += 1
            continue
        if not a.equals(b):
            neq = (a != b) & ~(a.isna() & b.isna())
            bad_cols = [c for c in a.columns if neq[c].any()]
            print(f"FAIL {name}: value mismatch in {bad_cols}")
            for c in bad_cols[:3]:
                idx = neq[c].idxmax()
                print(f"    {c}[{idx}] spark={a[c][idx]!r:.200} oracle={b[c][idx]!r:.200}")
            failures += 1
            continue
        print(f"OK   {name}: {len(a)} rows")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    # usage: check_oracle.py [sf_dir] [query1,query2,...]
    main(
        sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01",
        set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None,
    )
