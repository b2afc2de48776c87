"""Window-based operators replacing the reference's storage-order tricks.

Cassandra gives the reference "latest row" for free via
`CLUSTERING ORDER BY (block_id DESC)` + `LIMIT 1` and dedup for free via
primary-key upsert (reference: blocksci_export.py:51-69, :466-473;
schema.cql:13). In Spark those become window functions / aggregations —
explicit, partition-parallel, and AQE-sized.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from graphsense_blocksci_spark.operators.progress import _scalars


def latest_per_group(
    df: DataFrame, group_cols: Sequence[str], order_col: str, descending: bool = True
) -> DataFrame:
    """First row per group under the given order — the reference's
    `PER PARTITION LIMIT 1` idiom (blocksci_export.py:55-58).

    Shuffles once on the group key; no global sort.
    """
    order = F.desc(order_col) if descending else F.asc(order_col)
    w = Window.partitionBy(*group_cols).orderBy(order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def dedup_last_write_wins(
    df: DataFrame, key_cols: Sequence[str], version_col: str
) -> DataFrame:
    """Keep the max-version row per key — the general form of the BIP30
    upsert (blocksci_export.py:466-473): newest duplicate wins."""
    return latest_per_group(df, key_cols, version_col, descending=True)


def top_k(df: DataFrame, order_cols: Sequence[Column], k: int) -> DataFrame:
    """Global top-k. `orderBy().limit(k)` lets Spark run TakeOrdered
    per-partition then merge k*partitions rows on the driver — no global
    sort shuffle (reference idiom: blocksci_export.py:64-67)."""
    return df.orderBy(*order_cols).limit(k)


def high_water_mark(sink: DataFrame, block_col: str = "block_id"):
    """The sink's max `block_col` — one job; None for an empty sink,
    which means "nothing ingested yet" (the reference's cold start from
    block 0, blocksci_export.py:497-505)."""
    (hwm,) = _scalars(sink.select(block_col), F.max(block_col))
    return hwm


def high_water_mark_filter(
    source: DataFrame, sink: DataFrame, key_col: str
) -> DataFrame:
    """Rows of `source` above the sink's max key — the `--continue`
    incremental-resume pattern (blocksci_export.py:489-505).

    An EMPTY sink means "nothing ingested yet": the reference starts
    from block 0 and ingests everything (blocksci_export.py:497-505),
    so a NULL max (empty or all-NULL sink) passes every row — `key >
    NULL` alone would be NULL and silently drop the entire source on
    first run.

    The max is resolved when this is called (`high_water_mark`, one
    job) and the filter holds it as a literal, so the bound reaches a
    parquet source's `PushedFilters` and no join is planned.
    """
    hwm = high_water_mark(sink, key_col)
    return source if hwm is None else source.filter(F.col(key_col) > F.lit(hwm))


def skyline_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bucket_width: int = 1024,
) -> DataFrame:
    """2-D Pareto frontier (skyline), both dimensions MINIMIZED:
    rows for which no other row has x ≤ and y ≤ with at least one
    strict. Duplicates of a skyline point all survive (neither
    dominates the other). Returns the input columns unchanged.

    Two-phase, all-JVM plan (no mapInPandas, no global sort in
    phase 1): a row is dominated iff
      min(y) over rows with STRICTLY smaller x   ≤ y      (earlier-x)
      or min(y) over rows with EQUAL x            < y      (same-x)
    — one RANGE-frame window + one partition-min window. Phase 1
    evaluates this within x-bucket partitions (``x // bucket_width``),
    in parallel: bucket-local skylines are a SUPERSET of the global
    skyline (domination within a bucket is domination globally).
    Phase 2 re-runs the same predicate globally over the surviving
    candidates only — a single-partition window, but over the
    candidate set (≈ per-bucket frontier sizes, not the input), the
    same bounded-frame contract as the sequence-packing offset window.
    """
    x = F.col(x_col).cast("long")
    base = df.withColumn("_bk", F.floor(x / F.lit(bucket_width)))

    def survivors(frame: DataFrame, *part_cols: str) -> DataFrame:
        wr = (
            Window.partitionBy(*part_cols)
            .orderBy(F.col(x_col).cast("long"))
            .rangeBetween(Window.unboundedPreceding, -1)
        )
        we = Window.partitionBy(*part_cols, x_col)
        return (
            frame.withColumn("_pre", F.min(F.col(y_col)).over(wr))
            .withColumn("_same", F.min(F.col(y_col)).over(we))
            .filter(
                (F.col("_pre").isNull() | (F.col("_pre") > F.col(y_col)))
                & (F.col("_same") >= F.col(y_col))
            )
            .drop("_pre", "_same")
        )

    local = survivors(base, "_bk")
    return survivors(local).drop("_bk")


def global_rank(
    df: DataFrame,
    order_cols: Sequence[str],
    rank_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """DISTRIBUTED dense global row_number over a total order — the
    scale-safe replacement for ``row_number().over(Window.orderBy(...))``,
    whose empty partitionBy funnels the whole frame through ONE task.

    Two passes, all DataFrame ops: (1) range-partition on the order
    key (sampled boundaries; since the key is a TOTAL order, no tie
    can straddle a boundary ambiguously) and rank within each
    partition; (2) count rows per partition, prefix-sum the counts on
    the tiny partition-count frame, and add each partition's offset.
    The result is exactly the single-task global row_number — rank
    depends only on the total order, not on where the sampled
    boundaries fell — but the sort runs partition-parallel.

    ``order_cols`` must be a deterministic TOTAL order (include a
    tiebreak id column), else ranks within ties are partition-
    dependent.
    """
    cols = list(order_cols)
    # r13: derive the range width from the session's shuffle parallelism
    # instead of a literal 32 (scale-adaptive per guide §2; rank depends
    # only on the total order, so ANY width is bit-identical — the qd46
    # treatment applied to the shared operator)
    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    ranged = df.repartitionByRange(num_partitions, *cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    wl = Window.partitionBy("_pid").orderBy(*cols)
    # pin: `local` feeds BOTH the per-partition counts and the final
    # offset join — unpinned, the input subplan (and its range
    # exchange) would execute twice
    local = ranged.withColumn(
        "_lrk", F.row_number().over(wl)
    ).localCheckpoint(eager=False)
    counts = local.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
    wo = (
        Window.orderBy("_pid").rowsBetween(
            Window.unboundedPreceding, -1
        )
    )
    offsets = counts.select(
        "_pid",
        F.coalesce(F.sum("_cnt").over(wo), F.lit(0)).alias("_off"),
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(rank_col, (F.col("_lrk") + F.col("_off")).cast("long"))
        .drop("_pid", "_lrk", "_off")
    )
