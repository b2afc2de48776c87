"""Stateful streaming top-N + OTHERS rollup — the streaming face of
the q201 dashboard staple (per group: top-N items by a running value
keep their identity, everything else folds into one OTHERS row).

Each GROUP is one state key holding its item→(running value, running
row count) map; every micro-batch folds the batch's per-item partial
sums in with plain addition (order-insensitive, so retried/replayed
partials land identically) and emits the group's refreshed rollup
snapshot: N identity rows + one OTHERS row, tagged with a per-group
``seq`` so consumers keep the latest snapshot per group.

Two capacity regimes, exactly like `heavy_hitters_stream`:

- ``capacity=None`` (exact): state is the full item map — bounded by
  the DIMENSION's size per group (suppliers, shards, services — the
  things dashboards group by), not by the stream. This is the
  configuration the driver's SQL oracle verifies (qd40): a single
  availableNow batch's snapshot IS the batch q201 answer.
- ``capacity=k`` (bounded): when a group's map exceeds k entries the
  Misra-Gries / SpaceSaving-style decrement fires — subtract the
  (k+1)-th largest running value from every entry and drop the
  non-positive ones, fold the evicted mass into a persistent
  ``others_floor`` (value, count) pair so the OTHERS row never loses
  what eviction removed. Top-N identities then carry the standard MG
  guarantee (any item with true value share > 1/k survives; kept
  values undercount by at most the evicted floor) and state is O(k)
  per group FOREVER. pytest gates this regime against the exact
  batch rollup's top-N membership on adversarial streams.

Scale shape: the per-batch shuffle is groupBy(group); each Arrow
batch collapses to per-item partials inside the state function
(pandas groupby — a chained streaming groupBy would be a second
stateful operator), state size is min(dimension, capacity) per
group, and emission is (N+1) rows per group per batch — bounded,
not stream-sized.

Why Python state: the capacity eviction into ``others_floor`` is a
state machine that no declared streaming aggregate expresses.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

TOPN_OUTPUT = T.StructType(
    [
        T.StructField("group", T.StringType()),
        T.StructField("who", T.StringType()),
        T.StructField("n_members", T.LongType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("sum_value", T.LongType()),
        T.StructField("seq", T.LongType()),
    ]
)

# state: parallel arrays (item map) + evicted-mass floor + snapshot seq
TOPN_STATE = T.StructType(
    [
        T.StructField("items", T.ArrayType(T.StringType())),
        T.StructField("values", T.ArrayType(T.LongType())),
        T.StructField("counts", T.ArrayType(T.LongType())),
        T.StructField("others_value", T.LongType()),
        T.StructField("others_count", T.LongType()),
        T.StructField("seq", T.LongType()),
    ]
)


def _topn_group(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    n: int,
    capacity: int | None,
) -> Iterator[pd.DataFrame]:
    if state.exists:
        items, vals, cnts, o_val, o_cnt, seq = state.get
        values = pd.Series(list(vals), index=list(items), dtype="int64")
        counts = pd.Series(list(cnts), index=list(items), dtype="int64")
    else:
        values = pd.Series(dtype="int64")
        counts = pd.Series(dtype="int64")
        o_val, o_cnt, seq = 0, 0, 0
    for pdf in pdfs:
        if not len(pdf):
            continue
        bv = pdf.groupby("item")["value"].sum()
        bc = pdf.groupby("item")["rows"].sum()
        values = values.add(bv, fill_value=0).astype("int64")
        counts = counts.add(bc, fill_value=0).astype("int64")
    if capacity is not None and len(values) > capacity:
        top = values.nlargest(capacity + 1)
        floor = int(top.iloc[-1])
        keep = (top - floor).iloc[:-1]
        keep = keep[keep > 0]
        dropped = values.index.difference(keep.index)
        # evicted mass folds into the persistent OTHERS floor so the
        # rollup's totals never lose what eviction removed
        o_val += int(values[dropped].sum()) + floor * len(keep)
        o_cnt += int(counts[dropped].sum())
        values = keep.astype("int64")
        counts = counts[keep.index]
    seq += 1
    state.update(
        (
            [str(i) for i in values.index],
            [int(v) for v in values],
            [int(c) for c in counts],
            int(o_val),
            int(o_cnt),
            int(seq),
        )
    )
    if not len(values) and o_cnt == 0:
        return

    # stable total order: value desc, then item asc — NUMERIC asc for
    # all-digit item ids ((len, str) sorts digit strings numerically),
    # matching the batch rollup's long-typed tie-break; ties cannot flap
    def _item_key(s: str) -> tuple:
        return (0, len(s), s) if s.isdigit() else (1, 0, s)

    order = sorted(values.index, key=lambda i: (-values[i], _item_key(str(i))))
    top_items = order[:n]
    rest = order[n:]
    rows = {
        "group": [],
        "who": [],
        "n_members": [],
        "n_rows": [],
        "sum_value": [],
        "seq": [],
    }
    for item in top_items:
        rows["group"].append(str(key[0]))
        rows["who"].append(str(item))
        rows["n_members"].append(1)
        rows["n_rows"].append(int(counts[item]))
        rows["sum_value"].append(int(values[item]))
        rows["seq"].append(seq)
    if rest or o_cnt:
        rows["group"].append(str(key[0]))
        rows["who"].append("OTHERS")
        # capacity mode: evicted identities are gone from state, so
        # OTHERS membership counts only the currently-folded items (a
        # documented lower bound); exact mode has no evictions
        rows["n_members"].append(len(rest))
        rows["n_rows"].append(int(counts[rest].sum()) + int(o_cnt))
        rows["sum_value"].append(int(values[rest].sum()) + int(o_val))
        rows["seq"].append(seq)
    yield pd.DataFrame(rows)


def topn_others_stream(
    rows: DataFrame,
    group_col: str,
    item_col: str,
    value_col: str,
    n: int = 3,
    capacity: int | None = None,
) -> DataFrame:
    """Apply the stateful top-N + OTHERS rollup to a STREAMING frame.

    ``value_col`` must be integral (cents discipline — running sums
    stay exact and order-free). Returns the snapshot stream
    ``(group, who, n_members, n_rows, sum_value, seq)``; consumers
    keep the max ``seq`` per group. ``n_members`` counts the DISTINCT
    identities folded into the row (1 for identity rows, the member
    count for OTHERS — the batch q201's n_suppliers), ``n_rows`` the
    input rows. Tie-break on equal running value is item ASC, numeric
    for all-digit ids — the batch rollup's long-typed total order.
    """

    def fn(key, pdfs, state):
        return _topn_group(key, pdfs, state, n, capacity)

    # NOTE: no streaming groupBy before the state op — that would be a
    # second stateful operator (watermark-bound, append-blocked). The
    # batch's per-item partial sum happens INSIDE the Arrow batch
    # (_topn_group's pandas groupby), which is the same map-side
    # collapse one Arrow batch at a time.
    partial = rows.select(
        F.col(group_col).cast("string").alias("group"),
        F.col(item_col).cast("string").alias("item"),
        F.col(value_col).cast("long").alias("value"),
        F.lit(1).cast("long").alias("rows"),
    )
    return partial.groupBy("group").applyInPandasWithState(
        fn,
        outputStructType=TOPN_OUTPUT,
        stateStructType=TOPN_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
