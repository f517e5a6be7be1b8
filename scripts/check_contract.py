"""Local mirror of the driver's correctness gate: run every
``__spark_entry__.queries()`` entry and its ``oracle_sql()`` DuckDB
twin at a given sf dir, compare row count + sorted values.

Usage: python scripts/check_contract.py [sf_dir] [name ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].astype(float).round(6)
        elif str(df[c].dtype) in ("int32", "int64", "Int32", "Int64"):
            df[c] = df[c].astype("int64")
        elif str(df[c].dtype) == "bool":
            df[c] = df[c].astype(bool)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def main() -> int:
    import __spark_entry__ as e
    from dedup_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("check-contract")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = e.queries(), e.oracle_sql()
    failed = []
    n_run = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        n_run += 1
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {ex}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only, {len(sdf)} rows")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: oracle error: {ex}")
            failed.append(name)
            continue
        if len(sdf) != len(odf):
            print(f"FAIL {name}: rows spark={len(sdf)} oracle={len(odf)}")
            failed.append(name)
            continue
        s, o = normalize(sdf), normalize(odf)
        if list(s.columns) != list(o.columns):
            print(f"FAIL {name}: columns spark={list(s.columns)} oracle={list(o.columns)}")
            failed.append(name)
            continue
        if not s.equals(o):
            neq = (s != o).any(axis=0) if s.shape == o.shape else None
            print(f"FAIL {name}: values differ (cols: {list(s.columns[neq]) if neq is not None else '?'})")
            diff = (s != o).any(axis=1)
            print(pd.concat([s[diff].head(3), o[diff].head(3)], keys=["spark", "oracle"]))
            failed.append(name)
            continue
        print(f"ok   {name}: {len(sdf)} rows match")
    print(f"\n{n_run - len(failed)}/{n_run} ok")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
