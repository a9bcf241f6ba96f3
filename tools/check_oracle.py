#!/usr/bin/env python
"""Local stand-in for the driver's correctness gate: run every
__spark_entry__ query AND its DuckDB oracle at sf0.01, compare row
count, column names, and sorted values. A query with no oracle fails.
Usage:

    python tools/check_oracle.py [query ...]   # default: all
"""

from __future__ import annotations

import math
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Python workers must import easyner_spark too (pandas-UDF closures):
# set before the session starts so the workers inherit it
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

import duckdb
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def values_equal(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return fa == fb
    return a == b


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    import __spark_entry__ as entry

    from easyner_spark.session import get_spark

    # no console progress bar: its `[Stage n:>` lines overwrite the verdicts
    spark = get_spark("oracle-check", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entry.queries()
    oracles = entry.oracle_sql()
    names = sys.argv[1:] or list(queries)
    failures = []
    for name in names:
        if name not in oracles:
            failures.append(name)
            print(f"FAIL {name}: no oracle")
            continue
        try:
            sdf = queries[name](spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error {e}")
            continue
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error {str(e)[:300]}")
            continue
        if sorted(sdf.columns) != sorted(ddf.columns):
            failures.append(name)
            print(f"FAIL {name}: columns spark={sorted(sdf.columns)} duck={sorted(ddf.columns)}")
            continue
        if len(sdf) != len(ddf):
            failures.append(name)
            print(f"FAIL {name}: rows spark={len(sdf)} duck={len(ddf)}")
            continue
        a, b = canon(sdf), canon(ddf)
        mism = 0
        for c in a.columns:
            for x, y in zip(a[c].values, b[c].values):
                if not values_equal(x, y):
                    mism += 1
                    if mism <= 3:
                        print(f"  {name}.{c}: spark={x!r} duck={y!r}")
        if mism:
            failures.append(name)
            print(f"FAIL {name}: {mism} value mismatches ({len(sdf)} rows)")
        else:
            print(f"OK   {name}: {len(sdf)} rows match")
    spark.stop()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("all green")


if __name__ == "__main__":
    main()
