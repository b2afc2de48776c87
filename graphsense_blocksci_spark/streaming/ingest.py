"""Structured Streaming variant of the ingest daemon.

The reference's production loop (docker/ingest.sh:2-8) re-runs
`blocksci_export.py --continue --previous-day` forever: resume from the
sink's high-water mark, never ingest today's blocks, retry failed
writes until effectively-once. Structured Streaming subsumes all three
mechanisms natively:

- `--continue` / HWM query (blocksci_export.py:489-505) → the stream
  CHECKPOINT: offsets of already-processed files survive restarts, so
  a restarted daemon resumes exactly where it stopped — no sink scan.
- `--previous-day` cutoff (blocksci_export.py:540-553) → WATERMARK:
  late/open windows are held back until the watermark passes, closing
  a window only when no earlier data can still arrive.
- per-row retry + PK upsert (blocksci_export.py:132-142) →
  `foreachBatch` with a dedup-before-append write and task retries.
  The append ignores the batch id, so it is not idempotent: a batch
  re-run after its append committed but before the stream's commit log
  recorded it appends its rows again (at-least-once at the sink).

The streams read the same parquet layout the batch plans read (a file
source is what a chain-tip follower drops block files into), and reuse
the SAME transforms — `transaction_table` is one declarative function
applied identically in batch and streaming, which is the point of the
DataFrame API.

At scale: the file source lists incrementally (maxFilesPerTrigger
bounds a micro-batch), the transform is the batch plan (no extra
shuffle), and the sink append is partitioned by the same bucket
columns as the batch writer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from graphsense_blocksci_spark.plans.ingest import transaction_table
from graphsense_blocksci_spark.schemas import RAW_TXS


def stream_transactions(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 16,
    available_now: bool = False,
) -> StreamingQuery:
    """File-source stream of raw txs → `transaction` table appends.

    The checkpoint hands each source file to one batch; the foreachBatch
    dedups on tx_id within the batch and appends it as plain parquet
    (the streaming analog of the reference's PK-upsert + infinite retry,
    blocksci_export.py:132-142, without the upsert). Dedup does not
    span batches, and a batch re-run after its append committed but
    before its commit-log entry was written appends its rows twice.
    """
    raw = (
        spark.readStream.schema(RAW_TXS)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    txs = transaction_table(raw)

    def _write_batch(batch: DataFrame, batch_id: int) -> None:
        deduped = batch.dropDuplicates(["tx_id"])
        deduped.write.mode("append").parquet(sink_dir)

    writer = (
        txs.writeStream.foreachBatch(_write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_block_stats(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 day",
    window: str = "1 hour",
    available_now: bool = False,
    sink_dir: str | None = None,
) -> StreamingQuery:
    """Windowed chain statistics with a lateness watermark — the
    streaming analog of the previous-day cutoff (A16): a window only
    closes (emits) when the watermark says no earlier tx can arrive,
    exactly the reference's "never ingest an open day" semantics.
    """
    raw = spark.readStream.schema(RAW_TXS).parquet(source_dir)
    stats = (
        raw.withColumn("ts", F.to_timestamp(F.col("timestamp").cast("long")))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("no_txs"),
            F.sum(F.size(F.coalesce("outputs", F.array()))).alias("no_outputs"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "no_txs",
            "no_outputs",
        )
    )
    writer = (
        stats.writeStream.option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if sink_dir is not None:
        writer = writer.format("parquet").option("path", sink_dir)
    else:
        writer = writer.format("memory").queryName("block_stats")
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
