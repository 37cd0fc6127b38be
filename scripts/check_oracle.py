"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark at sf0.01 and its ``oracle_sql()``
through DuckDB on the same parquet, comparing row count, sorted column
names, and an order-insensitive value multiset (stringified, floats
rounded) — stricter than any reasonable hash, so passing here implies
passing the driver.

Usage: python scripts/check_oracle.py [sf_dir] [query_name ...]
       python scripts/check_oracle.py [sf_dir] --off-window

``--off-window`` runs only the queries OUTSIDE the driver's 50-entry
correctness snapshot (operators.DRIVER_WINDOW) — the automated gate for
the operators the external per-round check never sees.  The verify skill
runs this; run it manually before committing operator changes.
"""

from __future__ import annotations

import os
import sys
import time

# gate this checkout's __spark_entry__, wherever it lives
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> tuple:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if s.dtype.kind == "f":
            df[c] = s.round(6).map(lambda x: f"{x:.6f}" if pd.notna(x) else "NULL")
        else:
            df[c] = s.map(lambda x: "NULL" if x is None or (isinstance(x, float) and pd.isna(x)) else str(x))
    rows = sorted(map(tuple, df.itertuples(index=False, name=None)))
    return rows


def main():
    args = sys.argv[1:]
    off_window = "--off-window" in args
    args = [a for a in args if a != "--off-window"]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    skip: set = set()
    if off_window:
        from ocr_spark.operators import DRIVER_WINDOW

        skip = set(DRIVER_WINDOW)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    n_pass = n_fail = n_rowsonly = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name in skip:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS {name}: {len(got)} rows, cols={sorted(got.columns)} "
                  f"({time.time() - t0:.1f}s)")
            n_rowsonly += 1
            continue
        try:
            want = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        problems = []
        if len(got) != len(want):
            problems.append(f"rowcount spark={len(got)} duckdb={len(want)}")
        if sorted(got.columns) != sorted(want.columns):
            problems.append(f"cols spark={sorted(got.columns)} duckdb={sorted(want.columns)}")
        if not problems:
            g, w = canon(got), canon(want)
            if g != w:
                diff = [(a, b) for a, b in zip(g, w) if a != b][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(got)} rows ({time.time() - t0:.1f}s)")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
