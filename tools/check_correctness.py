"""Local correctness harness mimicking the driver's DuckDB oracle gate,
but STRICTER: instead of an order-insensitive value hash it sorts both
results by every column and compares cell-by-cell with exact equality
(floats bitwise, timestamps exact). If this passes, any weaker hash
comparison passes too.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb
import pandas as pd

from graphsense_blocksci_spark.queries import ORACLE_SQL, QUERIES
from graphsense_blocksci_spark.session import get_spark
from graphsense_blocksci_spark.sources.tables import TESTDATA_TABLES


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda x: None if x is None or x is pd.NA else x)
    return df.sort_values(by=list(df.columns), na_position="first").reset_index(
        drop=True
    )


def _cell_eq(a, b) -> bool:
    if a is None and b is None:
        return True
    if pd.isna(a) and pd.isna(b):
        return True
    if pd.isna(a) or pd.isna(b):
        return False
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    return a == b


def compare(name: str, spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_df) != len(oracle_df):
        problems.append(f"rowcount spark={len(spark_df)} oracle={len(oracle_df)}")
    sc, oc = sorted(spark_df.columns), sorted(oracle_df.columns)
    if sc != oc:
        problems.append(f"columns spark={sc} oracle={oc}")
    if problems:
        return problems
    a, b = _canon(spark_df), _canon(oracle_df)
    for c in a.columns:
        av, bv = a[c].tolist(), b[c].tolist()
        bad = [
            (i, x, y) for i, (x, y) in enumerate(zip(av, bv)) if not _cell_eq(x, y)
        ]
        if bad:
            i, x, y = bad[0]
            problems.append(
                f"col {c}: {len(bad)} mismatches, first at row {i}: "
                f"spark={x!r} oracle={y!r}"
            )
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    spark = get_spark(shuffle_partitions=16)
    failures = 0
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            failures += 1
            continue
        if name not in ORACLE_SQL:
            print(f"ok   {name}: rows-only ({len(got)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            want = con.execute(ORACLE_SQL[name]).fetchdf()
        except Exception as ex:
            print(f"FAIL {name}: oracle error: {ex}")
            failures += 1
            continue
        problems = compare(name, got, want)
        if problems:
            failures += 1
            print(f"FAIL {name} ({len(got)} rows):")
            for p in problems:
                print(f"     {p}")
        else:
            print(f"ok   {name}: {len(got)} rows match ({time.time()-t0:.1f}s)")
    spark.stop()
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
