"""Incremental ingest layer — the reference's production daemon semantics.

The reference daemon loop (docker/ingest.sh:2-8) runs
`blocksci_export.py --continue --previous-day` forever:

- `--continue`  — resume from the sink's high-water mark
  (blocksci_export.py:489-505): start_index = most_recent + 1, empty
  sink means start from 0.
- `--previous-day` — never ingest blocks timestamped today
  (blocksci_export.py:540-553): vectorized cutoff at local midnight.
  We fix the cutoff to UTC midnight and document the divergence
  (SURVEY §7 risk list — reference uses `time.mktime` local time).
- reorg safety lag — the parser config stops 6 blocks short of the tip
  (`maxBlockNum: -6`, conf/btc.cfg:20); applied here as an explicit
  filter instead of a parser knob.

Composition order matches the reference: reorg lag bounds the parsed
tip, previous-day cuts the tail, high-water mark drops what the sink
already has. `delta_predicate` is the one definition of all three. It
resolves them driver-side before the delta is read: the HWM is one
scalar over the sink (`high_water_mark`), the cutoff is a literal UTC
midnight, and one aggregate over the rows above the HWM returns the tip
and the lowest block before the cutoff. The delta is then the source
under a predicate of literals, so the HWM bound reaches the parquet
scan's `PushedFilters` and no join is planned. Whether the scan skips
old files or row groups depends on how the source is laid out: a
directory of per-day files written in block order skips by footer
min/max; one file holding the whole history is read whole.

Idempotence (the reference gets it from Cassandra primary-key upsert,
blocksci_export.py:132-142): running the delta twice appends nothing
new, because the second run's high-water mark already covers it —
property-tested as run-twice == run-once.
"""

from __future__ import annotations

import datetime as dt
import time

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graphsense_blocksci_spark.operators.progress import _scalars
from graphsense_blocksci_spark.operators.windows import high_water_mark
from graphsense_blocksci_spark.schemas import REORG_SAFETY_LAG

_DAY_S = 86_400


def _day_cutoff(as_of_epoch: int | None) -> int:
    """The `--previous-day` cutoff: UTC midnight at or before
    `as_of_epoch` (now when None), in epoch seconds. Resolved on the
    driver, so every filter built from it holds a literal."""
    now = int(time.time()) if as_of_epoch is None else int(as_of_epoch)
    return now // _DAY_S * _DAY_S


def _before_cutoff(df: DataFrame, ts_col: str, cutoff: int) -> Column:
    # Native timestamp columns compare against a timestamp literal;
    # casting them through long would truncate sub-second precision.
    # Anything else is epoch seconds (the reference's layout), compared
    # as an int — for an int column the optimizer unwraps the cast, so
    # the bound stays pushable.
    if dict(df.dtypes).get(ts_col) in ("timestamp", "timestamp_ntz"):
        return F.col(ts_col) < F.lit(
            dt.datetime.fromtimestamp(cutoff, dt.timezone.utc)
        )
    return F.col(ts_col).cast("long") < F.lit(cutoff)


def previous_day_cutoff(
    df: DataFrame, ts_col: str, as_of_epoch: int | None = None
) -> DataFrame:
    """Drop rows timestamped on or after the current UTC day
    (reference: blocksci_export.py:540-553, `--previous-day`).

    `as_of_epoch` pins "now" for tests; production passes None. Either
    way the cutoff is a literal in the plan (`_day_cutoff`), so the
    filter pushes down to the parquet scan.
    """
    return df.filter(_before_cutoff(df, ts_col, _day_cutoff(as_of_epoch)))


def reorg_safety_filter(
    df: DataFrame, block_col: str = "block_id", lag: int = REORG_SAFETY_LAG
) -> DataFrame:
    """Never ingest the newest `lag` blocks (reference: conf/btc.cfg:20
    `maxBlockNum: -6`) — a reorg near the tip would otherwise require
    retractions. The tip is resolved when this is called (`_scalars`,
    one job) and the filter holds `tip - lag` as a literal; a frame
    with no tip (empty or all-NULL) keeps nothing."""
    (tip,) = _scalars(df.select(block_col), F.max(block_col))
    keep = F.lit(False) if tip is None else F.col(block_col) <= F.lit(tip - lag)
    return df.filter(keep)


def delta_predicate(
    source: DataFrame,
    hwm,
    block_col: str = "block_id",
    ts_col: str = "timestamp",
    as_of_epoch: int | None = None,
    lag: int = REORG_SAFETY_LAG,
) -> Column | None:
    """The `--continue --previous-day` bounds as one predicate of
    literals over `source`: `hwm < block <= tip - lag AND ts < cutoff`
    (no lower bound when `hwm` is None).

    Runs one job: a single pass over the rows above `hwm` returns the
    tip and the lowest block before the cutoff. Returns None when that
    predicate selects nothing — no new block, or every new block before
    the cutoff is within `lag` of the tip — so a caller can skip the
    delta entirely."""
    before = _before_cutoff(source, ts_col, _day_cutoff(as_of_epoch))
    above = F.lit(True) if hwm is None else F.col(block_col) > F.lit(hwm)
    tip, lowest = _scalars(
        source.filter(above).select(block_col, ts_col),
        F.max(block_col),
        F.min(F.when(before, F.col(block_col))),
    )
    if tip is None or lowest is None or lowest > tip - lag:
        return None
    return above & (F.col(block_col) <= F.lit(tip - lag)) & before


def incremental_delta(
    source: DataFrame,
    sink: DataFrame,
    block_col: str = "block_id",
    ts_col: str = "timestamp",
    as_of_epoch: int | None = None,
    lag: int = REORG_SAFETY_LAG,
) -> DataFrame:
    """The `--continue --previous-day` daemon step (docker/ingest.sh:2-8):
    rows of `source` that are (a) at least `lag` blocks behind the tip,
    (b) timestamped before today UTC, and (c) above the sink's high-water
    mark. Empty sink ⇒ full (safe) history, matching the reference's
    cold start.

    The bounds are resolved eagerly (`high_water_mark`, then
    `delta_predicate`: one job each); the returned frame is the source
    under literal filters."""
    hwm = high_water_mark(sink, block_col)
    pred = delta_predicate(source, hwm, block_col, ts_col, as_of_epoch, lag)
    return source.filter(F.lit(False) if pred is None else pred)
