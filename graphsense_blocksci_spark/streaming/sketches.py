"""Streaming sketches over Spark's state store.

Heavy hitters keep Python state: a sharded Misra-Gries summary.
Items shard by `xxhash64(item) % n_shards` (each item lives in
exactly ONE shard, so per-item counts never split across state keys);
every shard keeps a bounded summary — (items, counts, total) arrays,
≤ ``capacity`` entries — in the `applyInPandasWithState` store and
folds each micro-batch in with the mergeable reduce rule (Agarwal et
al., PODS'12). Capacity eviction (subtract the (capacity+1)-th count,
drop the non-positive) is a state machine no declared aggregate
expresses, which is why this one operator stays in Python. After each
batch a shard EMITS its current summary snapshot, so the sink always
holds a bounded, freshest-wins view of the stream's frequent items
with the standard MG guarantee: any item with true running count >
total/capacity is present, and ``approx_count`` undercounts by at
most total/capacity. State is O(capacity) per shard over a fixed
number of shards; emission is candidate-sized, not stream-sized.

Every other sketch here is a fold Spark already declares, so it is a
plain streaming ``groupBy(...).agg(...)`` whose state the engine
keeps: HDR and Count-Min cells (``count`` per (group, bucket)), HLL
registers (``max(rho)``), the log2 histogram (``count``), activity
bitmaps (``bit_or``) and the address lifetime ledger (min, max, count
and two sums). Bucket ids, registers and masks are computed JVM-side,
and no row reaches a Python worker. Each merge is commutative, so
micro-batch boundaries cannot change a cell. These frames are
aggregates without a watermark: drain them in update mode, where each
batch emits only the cells it changed, each with its running value.
Counts, maxima and ORs only grow, so a reader collapses the emitted
rows per key with the operator's own merge (max of ``cnt``/``rho``,
``bit_or`` of ``bits``, the row with the largest count), which also
absorbs a replayed batch.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

HH_OUTPUT = T.StructType(
    [
        T.StructField("item", T.StringType()),
        T.StructField("approx_count", T.LongType()),
        T.StructField("shard_total", T.LongType()),
    ]
)

# state: parallel arrays (MG summary) + the shard's running item total
HH_STATE = T.StructType(
    [
        T.StructField("items", T.ArrayType(T.StringType())),
        T.StructField("counts", T.ArrayType(T.LongType())),
        T.StructField("total", T.LongType()),
    ]
)


def _merge_mg(
    counts: "pd.Series | None", batch: pd.Series, capacity: int
) -> pd.Series:
    """Mergeable Misra-Gries reduce: combine, then keep the top
    ``capacity`` by subtracting the (capacity+1)-th largest count."""
    vc = batch.dropna().value_counts()
    merged = vc if counts is None else counts.add(vc, fill_value=0)
    if len(merged) > capacity:
        top = merged.nlargest(capacity + 1)
        merged = (top - top.iloc[-1]).iloc[:-1]
        merged = merged[merged > 0]
    return merged


def _hh_group(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    capacity: int,
) -> Iterator[pd.DataFrame]:
    if state.exists:
        items, counts_list, total = state.get
        counts = pd.Series(list(counts_list), index=list(items), dtype="float64")
    else:
        counts, total = None, 0
    for pdf in pdfs:
        total += int(pdf["item"].notna().sum())
        counts = _merge_mg(counts, pdf["item"], capacity)
    if counts is None:
        counts = pd.Series(dtype="float64")
    state.update(
        (
            [str(i) for i in counts.index],
            [int(c) for c in counts],
            total,
        )
    )
    if len(counts):
        yield pd.DataFrame(
            {
                "item": list(counts.index),
                "approx_count": [int(c) for c in counts],
                "shard_total": total,
            }
        )


def heavy_hitters_stream(
    items: DataFrame,
    col: str = "item",
    capacity: int = 4096,
    n_shards: int = 8,
) -> DataFrame:
    """Apply the sharded stateful Misra-Gries summary to a STREAMING
    frame. Returns the per-batch summary snapshot stream
    ``(item, approx_count, shard_total)`` — append-mode friendly (file
    sinks): each batch appends the shard's refreshed candidate set,
    and a consumer takes the latest (or max) row per item.

    With ``capacity`` ≥ the per-shard distinct-item count no decrement
    ever fires, so snapshot counts are EXACT running counts — that is
    the configuration the driver's SQL oracle verifies (qd24);
    summaries under pressure (real decrements) are pytest-gated
    against the batch Misra-Gries reference instead.
    """

    def fn(key, pdfs, state):
        return _hh_group(key, pdfs, state, capacity)

    sharded = items.select(
        F.col(col).cast("string").alias("item"),
        F.pmod(F.xxhash64(F.col(col).cast("string")), F.lit(n_shards)).alias(
            "_shard"
        ),
    )
    return sharded.groupBy("_shard").applyInPandasWithState(
        fn,
        outputStructType=HH_OUTPUT,
        stateStructType=HH_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def hdr_histogram_stream(
    values: DataFrame,
    value_col: str,
    group_col: str,
    sub_bits: int = 4,
) -> DataFrame:
    """STREAMING mergeable quantile partials: the stateful face of
    `operators/sketches.py:hdr_histogram`. The HDR bucket id is
    computed JVM-side on the stream (the same integer bit arithmetic
    as the batch operator), and each (group, bucket) cell is a running
    ``count`` in the state store — the per-bucket sum that CANNOT be
    order-sensitive, which is exactly why HDR partials and not a rank
    sketch live in the state store. Each batch emits the cells it
    changed, ``(group, bucket, cnt)`` with the running count, not the
    group's whole histogram; the max ``cnt`` per (group, bucket) over
    all emissions is the histogram, which feeds `hdr_quantiles`
    unchanged.

    State per group is bounded by the VALUE RANGE (≈ sub_bits·64
    cells), not the stream length, with zero approximation: counts
    are always exact running counts (unlike MG under pressure).
    """
    from graphsense_blocksci_spark.operators.sketches import hdr_bucket

    keyed = values.select(
        F.col(group_col).cast("long").alias("group"),
        hdr_bucket(F.col(value_col), sub_bits).alias("bucket"),
    )
    return keyed.groupBy("group", "bucket").agg(F.count(F.lit(1)).alias("cnt"))


def cms_stream(
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """STREAMING Count-Min sketch: the stateful face of
    `operators/sketches.py:cms_build`. The (hash-row, bucket) cell of
    every occurrence is computed JVM-side with the same md5 arithmetic
    as the batch operator, and each cell is a running ``count`` in the
    state store — the order-insensitive cell sum that makes CMS
    partials safe in a state store (the HDR argument above). Each
    batch emits the cells it changed as ``(group, bucket, cnt)``,
    where ``group`` is the hash row, not the row's whole counter
    table; the max ``cnt`` per cell over all emissions is the sketch,
    which `operators/sketches.py:cms_estimate` probes unchanged.

    State is bounded by ``depth × width`` cells — it never grows with
    the stream; counts are exact running cell counts, so the drained
    cells reproduce the batch sketch cell-for-cell (the qd26 gate).
    """
    exploded = keys.select(
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("_d"),
        F.col(key_col).cast("string").alias("_k"),
    )
    keyed = exploded.select(
        F.col("_d").cast("long").alias("group"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("#", F.col("_d"), F.col("_k"))), 1, 7
                ),
                16,
                10,
            ).cast("long")
            % width
        ).alias("bucket"),
    )
    return keyed.groupBy("group", "bucket").agg(F.count(F.lit(1)).alias("cnt"))


def hll_stream(values: DataFrame, key_col: str, p: int = 8) -> DataFrame:
    """STREAMING HyperLogLog registers: the stateful face of
    `operators/sketches.py:hll_registers`. The (bucket, rho) pair of
    every key is computed JVM-side with the identical md5/shift/bin
    arithmetic, and each register is a running ``max(rho)`` in the
    state store — the order-insensitive, idempotent merge that makes
    HLL the canonical mergeable sketch (duplicate keys and replayed
    batches cannot move a register). Each batch emits the registers
    it touched as ``(bucket, rho)``; the max ``rho`` per bucket over
    all emissions IS the batch register table, which `hll_estimate`
    consumes unchanged.

    State is ONE long per register — at most 2^p state rows total,
    regardless of stream length or cardinality.
    """
    if not 4 <= p <= 16:
        raise ValueError(f"hll_stream: p must be in [4, 16], got {p}")
    m = 1 << p
    h = (
        F.conv(
            F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10
        ).cast("long")
    )
    z = F.shiftright(h, p)
    # suffix width is 60-p bits, so rho ranges over [1, 61-p] — the
    # identical window as the batch hll_registers (a p!=8 stream and
    # batch register table stay cell-for-cell equal)
    rho = (
        F.when(z == 0, F.lit(61 - p))
        .otherwise(F.lit(61 - p) - F.length(F.bin(z)))
        .cast("long")
    )
    keyed = values.select((h % F.lit(m)).alias("bucket"), rho.alias("rho"))
    return keyed.groupBy("bucket").agg(F.max("rho").alias("rho"))


def log2_hist_stream(values: DataFrame, value_col: str) -> DataFrame:
    """STREAMING power-of-2 histogram: the stateful face of the q252
    log2 quantile sketch. The bucket (floor(log2(v)) via
    length(bin(v)) - 1, the libm-free integer form) is computed
    JVM-side, and each bucket is a running ``count`` in the state
    store — addition is the order-insensitive merge that makes
    histograms the simplest mergeable sketch, so micro-batch
    boundaries cannot move a cell. Each batch emits the buckets it
    touched as ``(bucket, cnt)``; counts are monotone, so the max per
    bucket is the batch histogram, which the q252 quantile readout
    consumes unchanged.

    State is ONE long per bucket — at most 64 state rows total,
    regardless of stream length or value distribution.
    """
    keyed = values.select(
        (F.length(F.bin(F.col(value_col).cast("long"))) - 1)
        .cast("long")
        .alias("bucket")
    )
    return keyed.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))


def bitmap_or_stream(values: DataFrame, day_col: str, user_col: str) -> DataFrame:
    """STREAMING activity bitmaps: the stateful face of the q253
    bitmap-retention build. Each (epoch-day, 60-user word) cell is a
    running ``bit_or`` of the users' masks (60-bit payload — the same
    cross-engine shift-safe width as the batch twin); masks are
    computed JVM-side, and OR is idempotent and commutative, so
    duplicate events, replayed batches and micro-batch boundaries
    cannot change a cell. Each batch emits the cells it touched as
    ``(day, word, bits)``; OR-ing a key's emissions (or taking the
    last) reproduces the batch bitmap exactly.

    State is ONE long per (day, word) — bounded by days x users/60,
    not by the event stream.
    """
    keyed = values.select(
        F.col(day_col).cast("long").alias("day"),
        F.expr(f"CAST({user_col} DIV 60 AS BIGINT)").alias("word"),
        F.expr(f"shiftleft(1L, CAST({user_col} % 60 AS INT))").alias("mask"),
    )
    return keyed.groupBy("day", "word").agg(F.bit_or("mask").alias("bits"))


def lifetime_stream(ledger: DataFrame) -> DataFrame:
    """STREAMING per-address lifetime ledger: the stateful face of the
    qd77 batch rollup (minus the distinct-tx count, whose state would
    be a per-address tx SET — the maintained index qd44/qd48 owns that
    shape). Each address is five running aggregates in the state store
    (min and max block, event count, received and spent sums) — each a
    commutative monoid, so replay and batch boundaries cannot change
    the fixpoint. Each batch emits the addresses it touched as
    ``(addr, first_block, last_block, n_events, received_value,
    spent_value)``; the final row per key is the emission with the
    largest n_events (monotone). Input must carry (addr string, blk
    long, recv long, spent long).

    State is O(addresses), independent of event volume.
    """
    return ledger.groupBy("addr").agg(
        F.min("blk").alias("first_block"),
        F.max("blk").alias("last_block"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum("recv").alias("received_value"),
        F.sum("spent").alias("spent_value"),
    )
