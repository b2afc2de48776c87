"""Stateful streaming OHLC/VWAP bars: the streaming face of the
q276 batch bar build.

Each (epoch-day, symbol) bar is one streaming aggregate in Spark's
state store, folding every micro-batch with the mergeable bar
reduce: open/close are ``min``/``max`` over
``struct(ts_micros, event_id, cents)`` — arg-min/arg-max over the
unique (ts_micros, event_id) event key, ORDER-INDEPENDENT, so late or
reordered batches cannot change the converged bar — high/low are
max/min, and volume / price*volume are sums. In update mode each
batch emits the bars it touched as cumulative rows tagged with
``n_seen`` (the bar's running event count, strictly growing); the
freshest row per key (max_by on n_seen) IS the exact batch-twin bar,
which is what makes the cell-exact oracle against q276's SQL
possible.

Scale shape: state is one fixed-width row per (day, symbol) — bounded
by the bar grid, not the event stream; the per-batch shuffle is the
groupBy on the bar key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ohlc_stream(
    events: DataFrame,
    day_col: str = "day",
    symbol_col: str = "symbol",
) -> DataFrame:
    """Fold a (day, symbol, ts_micros, event_id, cents, vol) stream
    into cumulative per-bar rows ``(day, symbol, n_seen, open_c,
    high_c, low_c, close_c, vol, pv)``, a streaming aggregate to drain
    in update mode (see module docstring)."""
    keyed = events.select(
        F.col(day_col).cast("long").alias("day"),
        F.col(symbol_col).alias("symbol"),
        F.col("ts_micros").cast("long").alias("ts_micros"),
        F.col("event_id").cast("long").alias("event_id"),
        F.col("cents").cast("long").alias("cents"),
        F.col("vol").cast("long").alias("vol"),
    )
    event = F.struct("ts_micros", "event_id", "cents")
    return (
        keyed.groupBy("day", "symbol")
        .agg(
            F.count(F.lit(1)).alias("n_seen"),
            F.min(event).alias("first"),
            F.max("cents").alias("high_c"),
            F.min("cents").alias("low_c"),
            F.max(event).alias("last"),
            F.sum("vol").alias("vol"),
            F.sum(F.col("cents") * F.col("vol")).alias("pv"),
        )
        .select(
            "day",
            "symbol",
            "n_seen",
            F.col("first.cents").alias("open_c"),
            "high_c",
            "low_c",
            F.col("last.cents").alias("close_c"),
            "vol",
            "pv",
        )
    )
