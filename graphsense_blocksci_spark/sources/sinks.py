"""Sinks.

The reference's sink is Cassandra: wide rows keyed by
(partition key, clustering key DESC), written via micro-batched async
prepared statements with per-row infinite retry
(reference: blocksci_export.py:113-149, :571-575; schema.cql:13).

Spark equivalents:
- `write_bucketed_table` — partitioned parquet that preserves the same
  physical layout: directory per partition-key group, rows sorted by the
  clustering key within each file. Spark task retries + deterministic
  keyed output give the same effectively-once semantics the reference
  gets from upsert-by-primary-key (SURVEY §2.A21).
- `write_cassandra` — the real connector, gated behind availability of
  the spark-cassandra-connector jars (not present in the test image).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_bucketed_table(
    df: DataFrame,
    path: str,
    partition_col: str,
    cluster_col: str,
    descending: bool = True,
    mode: str = "overwrite",
) -> None:
    """Emulate Cassandra's (partition key, clustering order) layout in
    parquet: `partitionBy(group)` + `sortWithinPartitions(id)`.

    `repartition(partition_col)` first so each output directory is
    written by one task (no small-file explosion at scale: files per
    group == 1 instead of == #tasks).
    """
    order = F.desc(cluster_col) if descending else F.asc(cluster_col)
    (
        # Sort by the partition column FIRST: the parquet writer requires
        # its ordering on partition columns anyway, and satisfying it
        # explicitly keeps the clustering order a guarantee rather than a
        # sort-stability accident.
        df.repartition(F.col(partition_col))
        .sortWithinPartitions(F.col(partition_col), order)
        .write.mode(mode)
        .partitionBy(partition_col)
        .parquet(path)
    )


def write_range_sorted(
    df: DataFrame,
    path: str,
    order_col: str,
    num_chunks: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Even range-chunked, globally-ordered layout — the Spark-native
    replacement for the reference's `chunk()` arithmetic + process pool
    (blocksci_export.py:295-315, SURVEY §2.A18).

    `repartitionByRange` samples the key distribution and splits into
    near-equal ranges (the reference's "first r chunks one larger"
    arithmetic, generalized to skewed keys); `sortWithinPartitions`
    makes every file internally ordered, so file k < file k+1 gives a
    total order across the dataset — the layout range scans want.
    """
    if num_chunks is None:
        num_chunks = df.sparkSession.sparkContext.defaultParallelism
    (
        df.repartitionByRange(num_chunks, F.col(order_col))
        .sortWithinPartitions(F.col(order_col))
        .write.mode(mode)
        .parquet(path)
    )


def cassandra_available(spark) -> bool:
    """True if the spark-cassandra-connector is on the classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "com.datastax.spark.connector.datasource.CassandraCatalog"
        )
        return True
    except Exception:
        return False


def write_cassandra(
    df: DataFrame, keyspace: str, table: str, mode: str = "append"
) -> None:
    """Bulk-write through the Spark-Cassandra connector (the reference's
    real sink). The connector handles batching, async concurrency and
    token-aware routing — replacing the reference's hand-rolled
    QueryManager/multiprocessing machinery (blocksci_export.py:72-102).

    Raises RuntimeError if the connector jars are absent (test image).
    """
    if not cassandra_available(df.sparkSession):
        raise RuntimeError(
            "spark-cassandra-connector not on classpath; add "
            "com.datastax.spark:spark-cassandra-connector_2.13 via "
            "spark.jars.packages and set spark.cassandra.connection.host"
        )
    (
        df.write.format("org.apache.spark.sql.cassandra")
        .options(keyspace=keyspace, table=table)
        .mode(mode)
        .save()
    )


def write_spark_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 16,
    mode: str = "overwrite",
) -> None:
    """Spark-native bucketed table (`bucketBy` + `sortBy` into the
    catalog): rows are hash-bucketed by `bucket_col` into `n_buckets`
    files per partition AND sorted within each bucket.

    This is the co-located-join layout: two tables bucketed the same
    way on their join key sort-merge-join with NO Exchange on either
    side (pinned by test_plans) — the shuffle is paid once at write
    time instead of on every join, the decisive trade for fact tables
    joined daily at 100 TB. The reference's Cassandra partition-key
    layout is the same idea (token-route once, read co-located
    forever); `write_bucketed_table` above emulates its physical
    file layout, this one feeds Spark's planner.
    """
    (
        df.repartition(n_buckets, F.col(bucket_col))
        .write.mode(mode)
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
        .saveAsTable(table_name)
    )


def overwrite_partitions(
    df: DataFrame,
    path: str,
    partition_col: str,
    cluster_col: str | None = None,
    descending: bool = True,
) -> None:
    """Replace ONLY the partitions present in `df`, leaving the rest of
    the sink untouched — dynamic partition overwrite, the parquet-world
    equivalent of the reference's keyed Cassandra upsert for re-runs
    (SURVEY §7 risk list: "dedup-before-write + overwrite-by-partition
    for reruns"). A failed ingest of day N re-runs by overwriting day
    N's directories idempotently; a plain "overwrite" would drop the
    whole table, a plain "append" would duplicate the partial write.
    """
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        out = df.repartition(F.col(partition_col))
        if cluster_col is not None:
            order = F.desc(cluster_col) if descending else F.asc(cluster_col)
            out = out.sortWithinPartitions(F.col(partition_col), order)
        out.write.mode("overwrite").partitionBy(partition_col).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def hadoop_fs(spark, path: str):
    """The Hadoop FileSystem serving `path`, and `path` as a Hadoop Path:
    the same calls then work on local disk, HDFS, or an object store."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def drop_partition_dirs_ge(
    spark, path: str, partition_col: str, threshold: int
) -> list[int]:
    """Delete every hive partition directory `partition_col=V` under
    `path` with integer V >= threshold; returns the deleted values.

    The partition-level DROP half of a rollback: dynamic partition
    overwrite can only REPLACE partitions present in the written
    frame, so partitions that must end up EMPTY (every row orphaned)
    need an explicit directory delete (through `hadoop_fs`). Callers
    must eager-materialize any frame read from these partitions BEFORE
    deleting (the overwrite-invalidates-readers rule).
    """
    fs, hpath = hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return []
    dropped: list[int] = []
    prefix = f"{partition_col}="
    for status in fs.listStatus(hpath):
        name = status.getPath().getName()
        if not (status.isDirectory() and name.startswith(prefix)):
            continue
        try:
            val = int(name[len(prefix):])
        except ValueError:
            continue
        if val >= threshold:
            fs.delete(status.getPath(), True)
            dropped.append(val)
    return sorted(dropped)


def compact_parquet(
    spark,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    partition_by: list[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet directory so files are
    ~``target_bytes`` each. Returns the new file count (recursive, so
    hive-partitioned layouts count their nested files). Pass
    ``partition_by`` to keep a ``partitionBy`` layout through the
    rewrite instead of flattening it.

    The 100 TB housekeeping op every long-running ingest needs:
    micro-batched / streaming sinks accrete thousands of KB-sized
    files per partition, and scan-task scheduling overhead (one task
    per tiny split, footer reads, S3 LIST latency) comes to dominate
    query time. Compaction is the fix the reference never needs
    (Cassandra compacts SSTables itself) — a parquet lake must do it
    explicitly.

    Write-audit-swap, never in-place: Spark cannot overwrite a path it
    is currently reading (the scan would lose its own input files), so
    the rewrite lands in a staging sibling, the old directory is
    removed, and the staging dir takes its name. On object stores the
    same flow runs against a manifest/table format; the directory
    rename here is the local-filesystem stand-in for that commit.

    Sizing reads the REAL current bytes (file-status sum, not row
    estimates), so the output file count tracks compression ratio.
    """
    import math
    import shutil
    from pathlib import Path

    p = Path(path)
    total = sum(f.stat().st_size for f in p.rglob("*.parquet"))
    n_files = max(1, math.ceil(total / target_bytes))
    staging = str(p.with_name(p.name + "._compacting"))
    writer = spark.read.parquet(path).repartition(n_files).write.mode("overwrite")
    if partition_by:
        # preserve the hive layout so downstream partition pruning
        # survives compaction (flattening it would silently turn pruned
        # scans into full scans)
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staging)
    shutil.rmtree(path)
    Path(staging).rename(p)
    # rglob, not glob: partitioned layouts nest files under key=value dirs
    return len(list(p.rglob("*.parquet")))


def write_zorder(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    bits: int = 16,
    num_chunks: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet layout: range-partition + sort on the
    Morton interleave of two integer columns (functions/layout.py:
    morton_key), then drop the key — the OPTIMIZE ZORDER primitive for
    data skipping. Each output file's (x, y) bounding box is a small
    Z-curve segment, so parquet min/max footer stats prune scans that
    filter on EITHER column; a plain `write_range_sorted(x)` can only
    prune x. Same shuffle cost as any global sort (one range exchange);
    the win is entirely at read time.
    """
    from graphsense_blocksci_spark.functions.layout import morton_key

    if num_chunks is None:
        num_chunks = df.sparkSession.sparkContext.defaultParallelism
    keyed = df.withColumn("_zkey", morton_key(x_col, y_col, bits=bits))
    (
        keyed.repartitionByRange(num_chunks, F.col("_zkey"))
        .sortWithinPartitions(F.col("_zkey"))
        .drop("_zkey")
        .write.mode(mode)
        .parquet(path)
    )
