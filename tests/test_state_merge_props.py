"""Batching invariance of the stateful streaming folds: any batching
of the same rows must converge to the same state, which is exactly
what lets qd60/qd70 oracle cell-exactly against their batch twins.

The native aggregates (bars, CDC) are checked end to end, by draining
the same seeded rows as one file and as three shuffled files. The
Misra-Gries reduce, which keeps Python state, is checked as a pure
function under hypothesis — no Spark session, so it can hammer
hundreds of cases in seconds."""

from __future__ import annotations

import random

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from graphsense_blocksci_spark import queries


def _drain_final(spark, work, op, schema, batches, key_cols):
    """Stage each of `batches` as one parquet file, drain `op` over
    them one file per trigger, and return the freshest emitted row
    (max ``n_seen``) per key as ``{key: row tuple}``."""
    src = f"{work}/src"
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    queries._drain_updates_to_out(op(stream), work, op.__name__)
    final = {}
    for r in spark.read.parquet(f"{work}/out").collect():
        key = tuple(r[c] for c in key_cols)
        if key not in final or r["n_seen"] > final[key]["n_seen"]:
            final[key] = r
    return {k: tuple(r) for k, r in final.items()}


def test_ohlc_and_cdc_streams_batching_invariant(spark, tmp_path):
    """The same seeded rows, drained as one file and as three shuffled
    files read one per trigger, end in identical final rows; each bar
    equals its batch-semantics reference, and each CDC survivor is
    the key's max (seq, payload_cents, op)."""
    from graphsense_blocksci_spark.streaming.bars import ohlc_stream
    from graphsense_blocksci_spark.streaming.cdc import cdc_compact_stream

    rng = random.Random(41)
    # event_id is unique, so (ts_micros, event_id) is the unique event
    # key arg-min/arg-max need; few timestamps force ts ties
    events = [
        (rng.randrange(3), rng.choice("abc"), rng.randrange(40), eid,
         rng.randint(-10_000, 10_000), rng.randint(1, 7))
        for eid in range(300)
    ]
    ops = [
        (rng.randrange(15), rng.randrange(30), rng.randint(-10_000, 10_000),
         rng.choice("UD"))
        for _ in range(300)
    ]

    def three_shuffled(rows):
        rows = list(rows)
        rng.shuffle(rows)
        a, b = sorted(rng.sample(range(1, len(rows)), 2))
        return [rows[:a], rows[a:b], rows[b:]]

    cases = [
        (ohlc_stream, "day long, symbol string, ts_micros long,"
         " event_id long, cents long, vol long", events, ("day", "symbol")),
        (cdc_compact_stream, "key long, seq long, payload_cents long,"
         " op string", ops, ("key",)),
    ]
    finals = []
    for op, schema, rows, keys in cases:
        one = _drain_final(
            spark, str(tmp_path / f"{op.__name__}_1"), op, schema, [rows], keys
        )
        three = _drain_final(
            spark, str(tmp_path / f"{op.__name__}_3"), op, schema,
            three_shuffled(rows), keys,
        )
        assert one == three, op.__name__
        finals.append(one)
    bars, survivors = finals

    by_bar: dict = {}
    for day, sym, ts, eid, cents, vol in events:
        by_bar.setdefault((day, sym), []).append((ts, eid, cents, vol))
    assert set(bars) == set(by_bar)
    for key, evs in by_bar.items():
        ordered = sorted(evs)
        assert bars[key] == (
            *key,
            len(evs),
            ordered[0][2],
            max(e[2] for e in evs),
            min(e[2] for e in evs),
            ordered[-1][2],
            sum(e[3] for e in evs),
            sum(e[2] * e[3] for e in evs),
        ), key

    by_key: dict = {}
    for key, seq, payload, op in ops:
        by_key.setdefault(key, []).append((seq, payload, op))
    assert set(survivors) == {(k,) for k in by_key}
    for key, tuples in by_key.items():
        assert survivors[(key,)] == (key, len(tuples), *max(tuples)), key


mg_items = st.lists(
    st.sampled_from([f"i{k}" for k in range(12)]),
    min_size=1,
    max_size=120,
)


@given(mg_items, st.integers(2, 8), st.randoms())
@settings(max_examples=150, deadline=None)
def test_misra_gries_merge_guarantee(items, capacity, rng):
    """The mergeable MG reduce keeps its deviation guarantee under
    ANY batching: for every item, true_count - total/capacity <=
    approx <= true_count (undercount-only, bounded), and every item
    with true_count > total/capacity is PRESENT in the summary."""
    from collections import Counter

    from graphsense_blocksci_spark.streaming.sketches import _merge_mg

    shuffled = list(items)
    rng.shuffle(shuffled)
    n_batches = rng.randint(1, 4)
    size = max(1, len(shuffled) // n_batches)
    counts = None
    for i in range(0, len(shuffled), size):
        counts = _merge_mg(
            counts, pd.Series(shuffled[i:i + size]), capacity
        )
    total = len(items)
    true = Counter(items)
    bound = total / capacity
    for item, t in true.items():
        approx = float(counts.get(item, 0.0))
        assert approx <= t
        assert approx >= t - bound - 1e-9, (item, t, approx, bound)
        if t > bound:
            assert item in counts.index
