"""The production ingest daemon — the reference's `docker/ingest.sh:2-8`
loop (`while true; do blocksci_export.py --continue --previous-day;
sleep …; done`) as a driver-side composition of the incremental layer.

Each step is pure incremental batch: read the source directory (the
chain follower drops parsed block files there), read the sink's
high-water mark, resolve the delta's bounds (reorg lag → previous-day
cutoff → high-water mark, `plans/incremental.py`), transform, append.
Idempotence comes from the high-water mark, not from write-side dedup:
a step re-run after a write that committed all of its files finds an
empty delta. A write that committed only some of its files is not
covered: the HWM is the max over whatever landed, so the blocks below
it that did not land are never retried.

This is the BATCH face of the daemon; `streaming/ingest.py` is the
Structured-Streaming face (checkpoint instead of HWM query). Both reuse
the same `plans/ingest.py` transforms — one declarative transform, two
execution modes, which is the Spark-first point.

Scale shape per step: at most three jobs, one scan each, every read
with a known schema (no schema-inference job) and no join or shuffle.
- The sink's max `block_id` (skipped on cold start, when the sink path
  does not exist). It reads the sink's `block_id` column whole.
- One pass over the source rows above that HWM: the tip and the lowest
  block before the day cutoff. The HWM is a literal, so it is in the
  source scan's `PushedFilters`, and files or row groups wholly at or
  below it are skipped by their footer statistics. A step with nothing
  to append returns here, before any write job.
- One append of the transformed delta under literal bounds. The row
  count is observed on that write (`Dataset.observe`), not counted by a
  second pass.
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession

from graphsense_blocksci_spark.operators.progress import observed
from graphsense_blocksci_spark.operators.windows import high_water_mark
from graphsense_blocksci_spark.plans.incremental import delta_predicate
from graphsense_blocksci_spark.plans.ingest import block_table
from graphsense_blocksci_spark.schemas import RAW_BLOCKS, REORG_SAFETY_LAG
from graphsense_blocksci_spark.sources.sinks import hadoop_fs


def ingest_daemon_step(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    as_of_epoch: int | None = None,
    lag: int = REORG_SAFETY_LAG,
) -> int:
    """One `--continue --previous-day` pass: append the `block_table` of
    the delta to the sink; returns the number of rows appended (0 ⇒ the
    chain has nothing new — the daemon just sleeps).

    Cold start (first daemon run: nothing ingested yet ⇒ full history,
    matching blocksci_export.py:497-505) is ONLY a missing sink path.
    Any other read failure (corrupt footer, transient FS error) surfaces,
    because treating it as empty would recompute the full history and
    append a duplicate of everything next to the existing rows."""
    source = spark.read.schema(RAW_BLOCKS).parquet(source_dir)
    hwm = None
    fs, sink_path = hadoop_fs(spark, sink_dir)
    if fs.exists(sink_path):
        hwm = high_water_mark(spark.read.schema("block_id int").parquet(sink_dir))
    pred = delta_predicate(source, hwm, as_of_epoch=as_of_epoch, lag=lag)
    if pred is None:
        return 0
    delta, obs = observed(block_table(source.filter(pred)), "ingest_daemon_step")
    delta.write.mode("append").parquet(sink_dir)
    return obs.get["rows_processed"]


def run_ingest_daemon(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    max_iterations: int = 1,
    poll_seconds: float = 0.0,
    stop_when_empty: bool = False,
    **step_kwargs,
) -> list[int]:
    """The ingest.sh loop, bounded for embedding in schedulers and
    tests: run up to `max_iterations` daemon steps, sleeping
    `poll_seconds` between them; with `stop_when_empty` the loop exits
    on the first 0-row step (a test's "caught up" signal). Returns the
    per-step appended row counts."""
    counts: list[int] = []
    for i in range(max_iterations):
        n = ingest_daemon_step(spark, source_dir, sink_dir, **step_kwargs)
        counts.append(n)
        if stop_when_empty and n == 0:
            break
        if poll_seconds and i + 1 < max_iterations:
            time.sleep(poll_seconds)
    return counts


def _main() -> None:
    """CLI face of the daemon — `python -m
    graphsense_blocksci_spark.plans.daemon SRC SINK [--iterations N]
    [--poll SECONDS]` is the repo's `docker/ingest.sh` equivalent."""
    import argparse

    from graphsense_blocksci_spark.session import get_spark

    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("source_dir")
    p.add_argument("sink_dir")
    p.add_argument("--iterations", type=int, default=1)
    p.add_argument("--poll", type=float, default=0.0)
    p.add_argument("--lag", type=int, default=REORG_SAFETY_LAG)
    args = p.parse_args()
    spark = get_spark(app_name="gbs-ingest-daemon")
    counts = run_ingest_daemon(
        spark,
        args.source_dir,
        args.sink_dir,
        max_iterations=args.iterations,
        poll_seconds=args.poll,
        lag=args.lag,
    )
    print({"appended_per_step": counts, "total": sum(counts)})


if __name__ == "__main__":
    _main()
