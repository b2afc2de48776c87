"""Progress metering — the Spark-native replacement for the
reference's lock-protected shared counter printed every 10⁴ rows
(reference: blocksci_export.py:40-48, :74, :146-149).

Two mechanisms, both zero-cost in the data plane:

- ``observed`` uses `Observation` + `Dataset.observe`: named aggregate
  metrics evaluated INSIDE the existing plan (no extra pass, no
  shuffle, no second scan) and delivered to the driver when the next
  action completes. This is the idiomatic replacement for "count rows
  while writing".
- ``CountingAccumulator`` wraps a Spark accumulator for imperative
  paths (foreachPartition sinks) — the direct analog of the
  reference's `Value('d', 0)` shared-memory counter, merged by the
  scheduler instead of a lock.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def observed(df: DataFrame, name: str = "progress") -> tuple[DataFrame, Observation]:
    """Attach an inline row-count/byte metric observation to a plan.

    Returns (df, observation); after any action on the returned df,
    ``observation.get`` yields {'rows_processed': n, ...} — computed
    by the very tasks that ran the action, like the reference's
    per-worker counters but without shared-memory locking.
    """
    obs = Observation(name)
    return (
        df.observe(
            obs,
            F.count(F.lit(1)).alias("rows_processed"),
        ),
        obs,
    )


def _scalars(df: DataFrame, *aggs: Column) -> list:
    """Evaluate global aggregates over `df` in one job: they are observed
    (`Dataset.observe`) while a noop sink drains the scan. Under AQE an
    `agg().first()` is two jobs, a shuffle map stage and the result."""
    obs = Observation()
    names = [f"_{i}" for i in range(len(aggs))]
    watched = df.observe(obs, *[a.alias(n) for a, n in zip(aggs, names)])
    watched.write.format("noop").mode("overwrite").save()
    return [obs.get[n] for n in names]


class CountingAccumulator:
    """Spark accumulator wrapper — the reference's shared counter
    (blocksci_export.py:74) without the lock."""

    def __init__(self, spark: SparkSession, name: str = "rows_written"):
        self._acc = spark.sparkContext.accumulator(0)
        self.name = name

    def add(self, n: int) -> None:
        self._acc.add(n)

    @property
    def value(self) -> int:
        return self._acc.value

    def count_partition(self, rows) -> None:
        """foreachPartition helper: count rows while iterating."""
        n = 0
        for _ in rows:
            n += 1
        self._acc.add(n)
