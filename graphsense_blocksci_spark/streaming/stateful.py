"""Custom stateful streaming operator: gap-based sessionization via
`applyInPandasWithState`.

Spark has no built-in per-key session operator with arbitrary state
(session_window covers windows, not custom state machines), so this is
the canonical shape for "operator Spark lacks → applyInPandasWithState"
(SURVEY §2.C streaming row): per-key state = the OPEN session
(start, last-seen, count); each micro-batch folds its events into that
state in event-time order, EMITS every session the gap rule closes,
and keeps the still-open session in the state store for the next
batch.

Scale shape: state is keyed by user_id → partitioned across the
cluster by the state store; each batch touches only keys present in
the batch; per-key state is O(1) (one open session), so the store
size is bounded by |active keys|, not history.

Why Python state: qd18's point is the Python state API itself; the
native twins sessionize with `F.session_window` (q74, qd102).
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.LongType()),
        T.StructField("session_end", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)

# state: (session_start, last_ts, n_events) of the open session
SESSION_STATE = T.StructType(
    [
        T.StructField("session_start", T.LongType()),
        T.StructField("last_ts", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)


def _sessionize_group(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    gap: int,
    idle_timeout_ms: int | None,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if idle_timeout_ms is not None and state.hasTimedOut:
        # no events for this key since the timer was set: FLUSH the
        # open session and drop the state — without this, a key that
        # goes quiet forever leaks its open session (and its state
        # store entry) for the lifetime of the stream
        if state.exists:
            start, last, n = state.get
            state.remove()
            yield pd.DataFrame(
                [
                    {
                        "user_id": user_id,
                        "session_start": start,
                        "session_end": last,
                        "n_events": n,
                    }
                ]
            )
        return
    if state.exists:
        start, last, n = state.get
    else:
        start = last = None
        n = 0
    closed: list[dict[str, Any]] = []
    for pdf in pdfs:
        for ts in sorted(int(t) for t in pdf["ts_epoch"]):
            if last is None:
                start, last, n = ts, ts, 1
            elif ts - last > gap:
                closed.append(
                    {
                        "user_id": user_id,
                        "session_start": start,
                        "session_end": last,
                        "n_events": n,
                    }
                )
                start, last, n = ts, ts, 1
            else:
                last = ts
                n += 1
    state.update((start, last, n))
    if idle_timeout_ms is not None:
        state.setTimeoutDuration(idle_timeout_ms)
    if closed:
        yield pd.DataFrame(closed)


def sessionize_stream(
    events: DataFrame, gap_seconds: int = 1800, idle_timeout_ms: int | None = None
) -> DataFrame:
    """Apply the stateful sessionizer to a STREAMING frame with columns
    (user_id long, ts_epoch long). Returns the stream of CLOSED
    sessions.

    Without `idle_timeout_ms`, open sessions live in the state store
    until a later event closes them — a key that goes quiet forever
    never emits its last session and never frees its state. With it,
    a processing-time timer fires after that many ms without events
    for the key: the open session is flushed downstream and the state
    entry removed, bounding the store by |recently-active keys|."""

    def fn(key, pdfs, state):
        return _sessionize_group(key, pdfs, state, gap_seconds, idle_timeout_ms)

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=SESSION_OUTPUT,
        stateStructType=SESSION_STATE,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if idle_timeout_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )
