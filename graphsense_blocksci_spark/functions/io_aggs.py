"""Aggregates over nested input/output arrays.

The reference consumes these as BlockSci C++ attributes
(`tx.input_value`, `len(tx.inputs)` — reference:
blocksci_export.py:342-345,360-361). Here they are array expressions that
stay JVM-side inside whole-stage codegen — no explode, no shuffle, no UDF.
Each is one SQL expression (`functions/sqltext.py`); the `*_sql` forms
let a plan put several of them into one `selectExpr`.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from graphsense_blocksci_spark.functions.sqltext import ident


def io_total_value_sql(io_col: str) -> str:
    return (
        f"aggregate(coalesce({ident(io_col)}, array()), CAST(0 AS BIGINT),"
        " (acc, x) -> acc + x.value)"
    )


def io_count_sql(io_col: str) -> str:
    return f"CAST(coalesce(size({ident(io_col)}), 0) AS INT)"


def io_total_value(io_col: str) -> Column:
    """Sum of `.value` over a `list<struct>` I/O column (SURVEY §2.B2).

    Empty or NULL arrays (coinbase inputs) total 0.
    """
    return F.expr(io_total_value_sql(io_col))

