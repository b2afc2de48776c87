"""Audit DuckDB oracle output types against Spark result schemas.

The driver's correctness gate hashes values; DuckDB silently widens
aggregate results (SUM(BIGINT) -> HUGEINT, list_sum -> HUGEINT/INT128,
integer division -> ...), which value-compares equal but hash-mismatches.
This tool DESCRIBEs every ORACLE_SQL (no execution) and diffs each
column's DuckDB type against the Spark schema of the matching query, so
any widening is caught mechanically before the driver runs.

Usage: python tools/oracle_types.py [sf_dir] [query ...]
Exit 0 = all oracles type-aligned.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb

from graphsense_blocksci_spark.queries import ORACLE_SQL, QUERIES
from graphsense_blocksci_spark.session import get_spark
from graphsense_blocksci_spark.sources.tables import TESTDATA_TABLES

# Spark simpleString -> acceptable DuckDB column_type values. Timestamps
# compare as values after the driver's normalization, so NTZ/TZ both map
# to TIMESTAMP; everything integral must match width exactly because the
# value hash is representation-sensitive.
SPARK_TO_DUCK = {
    "tinyint": {"TINYINT"},
    "smallint": {"SMALLINT"},
    "int": {"INTEGER"},
    "bigint": {"BIGINT"},
    "float": {"FLOAT"},
    "double": {"DOUBLE"},
    "string": {"VARCHAR"},
    "boolean": {"BOOLEAN"},
    "date": {"DATE"},
    "timestamp": {"TIMESTAMP", "TIMESTAMP WITH TIME ZONE"},
    "timestamp_ntz": {"TIMESTAMP"},
    "binary": {"BLOB"},
}


def duck_ok(spark_type: str, duck_type: str) -> bool:
    st, dt = spark_type.lower(), duck_type.upper()
    if st.startswith("decimal"):
        return dt.startswith("DECIMAL")
    if st.startswith("array<"):
        inner = st[6:-1]
        if not dt.endswith("[]"):
            return False
        return duck_ok(inner, dt[:-2])
    if st.startswith("struct<") or st.startswith("map<"):
        # Nested comparisons are handled by the cell-exact checker; only
        # scream if DuckDB produced a scalar where Spark has a struct.
        return dt.startswith("STRUCT") or dt.startswith("MAP")
    allowed = SPARK_TO_DUCK.get(st)
    return allowed is not None and dt in allowed


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    spark = get_spark(shuffle_partitions=4)
    bad = 0
    for name, sql in ORACLE_SQL.items():
        if only and name not in only:
            continue
        try:
            duck_cols = con.execute(f"DESCRIBE {sql}").fetchall()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: oracle DESCRIBE error: {exc}")
            bad += 1
            continue
        try:
            schema = QUERIES[name](spark, sf_dir).schema
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark plan error: {exc}")
            bad += 1
            continue
        spark_types = {f.name: f.dataType.simpleString() for f in schema.fields}
        duck_types = {row[0]: row[1] for row in duck_cols}
        if sorted(spark_types) != sorted(duck_types):
            print(
                f"FAIL {name}: columns spark={sorted(spark_types)} "
                f"oracle={sorted(duck_types)}"
            )
            bad += 1
            continue
        mismatches = [
            f"{c}: spark={spark_types[c]} duck={duck_types[c]}"
            for c in spark_types
            if not duck_ok(spark_types[c], duck_types[c])
        ]
        if mismatches:
            print(f"FAIL {name}: " + "; ".join(mismatches))
            bad += 1
        else:
            print(f"ok   {name}")
    spark.stop()
    print(f"TYPE-MISMATCHED ORACLES: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
