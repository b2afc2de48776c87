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
- per-row retry + PK upsert (blocksci_export.py:132-142) → the FILE
  SINK's own log (`_spark_metadata/` under the sink). A batch re-run
  after its append was logged but before the stream's commit log
  recorded it is skipped, not appended again (exactly-once at the
  sink, *Structured Streaming*, SIGMOD 2018). There is no upsert and no
  dedup: `tx_id` is the chain's running index, unique in a well-formed
  source, so the repeat to guard against is a replayed batch.
  `spark.read.parquet(sink)` reads the files the log lists; a reader
  that globs the directory also sees the files of a write that crashed
  before the log recorded its batch.

The streams read the same parquet layout the batch plans read (a file
source is what a chain-tip follower drops block files into), and reuse
the SAME transforms — `transaction_table` is one declarative function
applied identically in batch and streaming, which is the point of the
DataFrame API.

At scale: the file source lists incrementally (maxFilesPerTrigger
bounds a micro-batch), the transform is the batch plan (no extra
shuffle), and each micro-batch is one write job of plain, unpartitioned
parquet under the sink directory.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
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

    The checkpoint hands each source file to one batch, and the parquet
    file sink appends the batch's transformed rows once: its
    `_spark_metadata/` log skips a batch it already holds (see the
    module docstring).
    """
    raw = (
        spark.readStream.schema(RAW_TXS)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    writer = (
        transaction_table(raw)
        .writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
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
