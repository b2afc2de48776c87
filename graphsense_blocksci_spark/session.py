"""SparkSession factory tuned for the local[N] test/bench environment.

The engine itself never assumes session ownership — every transform takes
an explicit SparkSession or DataFrame, so the driver can inject its own.
This factory is for tests and bench.py.

Both this factory and `cluster_conf` set the whole-stage codegen cache
(`CODEGEN_CONF`). The iterative graph operators run many small jobs
whose plans repeat round after round and call after call, and each
stage's generated Java is compiled by Janino before it runs:

- ``spark.sql.codegen.useIdInClassName=false`` keeps the stage id out
  of the generated class name (``GeneratedIteratorForCodegenStage<N>``),
  so identical stage bodies produce identical source and share one
  compiled class instead of one per stage id.
- ``spark.sql.codegen.cache.maxEntries`` (static: read once per JVM)
  bounds the cache of compiled classes, keyed by source. Spark's default
  of 100 is smaller than one pass over the q84/q87/q63 graph queries
  (116 distinct bodies), so every warm pass recompiled ~120 of them; at
  1000 a warm pass compiles none. Measured at sf0.1 on local[4] over
  the 40 slowest bench queries (``tools/opt_measure.py --top 40
  --passes 2``): the largest single query needs 107 bodies (q160), the
  40 together 1132; the second pass of each compiles 24 in all at 1000
  against 226 at 100, with the same driver peak RSS.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

CODEGEN_CONF = {
    "spark.sql.codegen.useIdInClassName": "false",
    "spark.sql.codegen.cache.maxEntries": "1000",
}


def get_spark(
    app_name: str = "graphsense-blocksci-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Shuffle width ~ cores for local mode; AQE coalesces the tail.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in {**CODEGEN_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def cluster_conf(
    target_input_tb: float = 100.0,
    executors: int = 1000,
    cores_per_executor: int = 4,
) -> dict[str, str]:
    """The conf profile this engine is designed to run under on a real
    cluster — documentation-as-code, consumable via
    ``get_spark(extra_conf=cluster_conf())`` or spark-submit --conf.

    Sizing rationale (the numbers the operators assume):
    - shuffle partitions ≈ 2-3 tasks per core so AQE has room to
      coalesce and split skew; hard floor so a 100 TB shuffle never
      lands 30 GB partitions (shuffle.partitions is only the INITIAL
      number — AQE re-sizes by `advisoryPartitionSizeInBytes`).
    - 256 MB scan splits and 128 MB advisory shuffle partitions keep
      task state well under executor memory with room for join hash
      maps.
    - RocksDB state store: streaming state (dedup hashes, open
      sessions) lives off-heap/on-disk, bounded by watermark/timeout
      eviction — the defaults' in-heap map ooms first at this scale.
    - dynamic partition overwrite: idempotent re-runs replace only
      touched partitions (`sinks.overwrite_partitions`).
    - codegen cache (`CODEGEN_CONF`, module docstring): each executor
      JVM compiles a stage body once instead of once per stage id.
    """
    cores = executors * cores_per_executor
    shuffle_parts = max(cores * 2, int(target_input_tb * 1024 * 1024 / 128))
    return {
        "spark.sql.shuffle.partitions": str(shuffle_parts),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128m",
        "spark.sql.files.maxPartitionBytes": "256m",
        "spark.sql.autoBroadcastJoinThreshold": "64m",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.sources.partitionOverwriteMode": "dynamic",
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        ),
        "spark.sql.parquet.aggregatePushdown": "true",
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        # iterative graph operators: shuffle each loop-static frame ONCE
        # (repartition on its per-round join key + persist) instead of
        # once per round — at cluster scale those joins are sort-merge,
        # so this removes the static side's exchange from every round.
        # This conf key is the only switch: true pins, false never pins,
        # unset pins only where an operator's own size threshold says so
        # (pagerank). Local bench scale leaves it unset: the frames are
        # broadcast-sized there and pre-partitioning is measured pure
        # overhead (operators/graph.py:_pinned).
        "spark.graphsense.prepartitionStatic": "true",
        **CODEGEN_CONF,
    }
