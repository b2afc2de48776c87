"""Structured Streaming ingest daemon tests: checkpoint resume
(--continue), watermarked windows (--previous-day), exactly-once sink."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from graphsense_blocksci_spark import fixtures, queries
from graphsense_blocksci_spark.streaming import (
    stream_block_stats,
    stream_transactions,
)


def _raw_txs(spark, tmp_path):
    d = fixtures.ensure_fixtures()
    df = spark.read.parquet(f"{d}/raw_txs.parquet")
    src = str(tmp_path / "src")
    df.write.mode("overwrite").parquet(src)
    return df, src


def test_stream_transactions_matches_batch(spark, tmp_path):
    batch_df, src = _raw_txs(spark, tmp_path)
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    q = stream_transactions(
        spark, src, sink, ckpt, max_files_per_trigger=2, available_now=True
    )
    q.awaitTermination(120)
    got = spark.read.parquet(sink)
    assert got.count() == batch_df.count()
    # stream output has the batch transform's schema and values
    assert got.filter(F.col("total_input") < 0).count() == 0
    assert set(got.columns) >= {"tx_id", "tx_id_group", "coinjoin"}


def test_stream_resume_is_incremental(spark, tmp_path):
    batch_df, src = _raw_txs(spark, tmp_path)
    sink = str(tmp_path / "sink2")
    ckpt = str(tmp_path / "ckpt2")
    q = stream_transactions(spark, src, sink, ckpt, available_now=True)
    q.awaitTermination(120)
    n1 = spark.read.parquet(sink).count()
    # restart with NO new files: checkpoint must prevent reprocessing
    q2 = stream_transactions(spark, src, sink, ckpt, available_now=True)
    q2.awaitTermination(120)
    n2 = spark.read.parquet(sink).count()
    assert n1 == n2 == batch_df.count()


def test_stream_replay_after_lost_commit_appends_nothing(spark, tmp_path):
    """A batch re-run after its append landed but before the checkpoint
    recorded its commit adds no rows: the file sink's log already holds
    the batch. Every micro-batch is at most one job."""
    batch_df, _ = _raw_txs(spark, tmp_path)
    src = str(tmp_path / "src4")
    batch_df.repartition(4).write.parquet(src)
    sink, ckpt = str(tmp_path / "sink4"), tmp_path / "ckpt4"
    tracker = spark.sparkContext.statusTracker()

    def drain() -> int:
        q = stream_transactions(
            spark, src, sink, str(ckpt), max_files_per_trigger=1, available_now=True
        )
        q.awaitTermination(120)
        jobs = tracker.getJobIdsForGroup(str(q.runId))
        assert len(jobs) <= len(q.recentProgress)
        return spark.read.parquet(sink).count()

    assert drain() == batch_df.count()
    commits = ckpt / "commits"
    assert sorted(p.name for p in commits.iterdir() if p.name.isdigit()) == list("0123")
    (commits / "3").unlink()
    (commits / ".3.crc").unlink(missing_ok=True)
    assert drain() == batch_df.count()


def test_stateful_sessionize_across_batches(spark, tmp_path):
    from graphsense_blocksci_spark.streaming import sessionize_stream

    src = tmp_path / "sessions_src"
    src.mkdir()
    ckpt = str(tmp_path / "sessions_ckpt")
    schema = "user_id long, ts_epoch long"

    # batch 1: user 1 has two sessions (gap > 1800 closes the first);
    # the second stays OPEN in the state store
    spark.createDataFrame(
        [(1, 1000), (1, 1500), (1, 9000), (2, 50)], schema
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "f1"))

    sink = str(tmp_path / "sessions_out")

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        q = (
            sessionize_stream(stream, gap_seconds=1800)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            (r.user_id, r.session_start, r.session_end, r.n_events)
            for r in spark.read.parquet(sink).collect()
        }

    got1 = run_once()
    assert got1 == {(1, 1000, 1500, 2)}  # only the CLOSED session

    # batch 2: user 1's event continues the open session (9000+1700 ≤
    # gap) then a far event closes it; user 2's closes too
    spark.createDataFrame(
        [(1, 10_700), (1, 99_000), (2, 90_000)], schema
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "f2"))
    got2 = run_once()
    # state carried ACROSS the restart: session opened in batch 1
    # (start 9000) extends through 10700 before closing
    assert (1, 9000, 10_700, 2) in got2
    assert (2, 50, 50, 1) in got2


def test_stream_block_stats_windows(spark, tmp_path):
    _, src = _raw_txs(spark, tmp_path)
    ckpt = str(tmp_path / "ckpt3")
    out = str(tmp_path / "stats")
    q = stream_block_stats(
        spark, src, ckpt, window="1 hour", available_now=True, sink_dir=out
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    # append mode emits only watermark-closed windows; with a 1-day
    # watermark over a short fixture chain the newest windows stay open
    assert set(got.columns) == {
        "window_start",
        "window_end",
        "no_txs",
        "no_outputs",
    }


def test_stateful_sessionize_idle_timeout_flush(spark, tmp_path):
    import time

    from graphsense_blocksci_spark.streaming import sessionize_stream

    src = tmp_path / "timeout_src"
    src.mkdir()
    ckpt = str(tmp_path / "timeout_ckpt")
    sink = str(tmp_path / "timeout_out")
    schema = "user_id long, ts_epoch long"

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        q = (
            sessionize_stream(stream, gap_seconds=1800, idle_timeout_ms=1)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()  # make the restart race-free for the next run
        return {
            (r.user_id, r.session_start, r.session_end, r.n_events)
            for r in spark.read.parquet(sink).collect()
        }

    # batch 1: user 1's session never closes by gap, but availableNow
    # runs a final no-data batch in which the expired 1 ms idle timer
    # fires — the open session is FLUSHED and the state removed
    spark.createDataFrame([(1, 1000), (1, 1500)], schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "f1"))
    got1 = run_once()
    assert got1 == {(1, 1000, 1500, 2)}

    # batch 2: user 1 comes back -> state was removed, so a FRESH
    # session opens (no continuation of the flushed one); its later
    # event closes it by gap, proving the restart started clean
    time.sleep(0.1)
    spark.createDataFrame([(1, 2000), (1, 99_000)], schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "f2"))
    got2 = run_once()
    assert (1, 2000, 2000, 1) in got2  # fresh session, not 1000-started
    # and the trailing open session (99000) flushes by timer too
    assert (1, 99_000, 99_000, 1) in got2


def test_stream_dedup_within_watermark(spark, tmp_path):
    from graphsense_blocksci_spark.streaming import dedup_stream

    src = tmp_path / "dedup_src"
    src.mkdir()
    ckpt = str(tmp_path / "dedup_ckpt")
    sink = str(tmp_path / "dedup_out")
    schema = "doc_id long, text string, ts timestamp"

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        q = (
            dedup_stream(stream, watermark="1 hour")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(r.doc_id for r in spark.read.parquet(sink).collect())

    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    # batch 1: two distinct docs + one exact repeat + one
    # whitespace/case variant (same normalized content)
    write_batch(
        "f1",
        [
            (1, "hello world", t0),
            (2, "other doc", t0),
            (3, "hello world", t0),
            (4, "  Hello   WORLD ", t0),
        ],
    )
    got1 = run_once()
    assert got1 == [1, 2]  # first arrival per content wins

    # batch 2: a repeat arriving within the watermark window is
    # dropped by carried state; a new doc passes
    write_batch(
        "f2",
        [
            (5, "hello world", t0 + dt.timedelta(minutes=10)),
            (6, "fresh content", t0 + dt.timedelta(minutes=10)),
        ],
    )
    got2 = run_once()
    assert got2 == [1, 2, 6]


def test_curate_stream_dedups_and_filters(spark, tmp_path):
    import datetime as dt

    from graphsense_blocksci_spark.streaming import curate_stream

    src = tmp_path / "cur_src"
    src.mkdir()
    ckpt = str(tmp_path / "cur_ckpt")
    sink = str(tmp_path / "cur_out")
    schema = "doc_id long, text string, ts timestamp"
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    good_en = "the quick brown fox jumps over the lazy dog again and again"
    spark.createDataFrame(
        [
            (1, good_en, t0),
            (2, good_en, t0),          # dup of 1 -> dropped by dedup
            (3, "x y", t0),            # too short -> quality gate
            (4, "der hund und die katze und das haus heute", t0),  # de
        ],
        schema,
    ).coalesce(1).write.parquet(str(src / "f1"))
    q = (
        curate_stream(
            spark.readStream.schema(schema).parquet(str(src / "*")),
            keep_langs=("en",),
        )
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(sink).collect()
    assert [r.doc_id for r in got] == [1]
    assert got[0].lang_pred == "en" and got[0].n_tokens == 12


def test_sessionize_on_rocksdb_state_store(spark, tmp_path):
    """Large-state streaming runs on the RocksDB state store (bounded
    executor heap: state lives off-heap/on-disk instead of the
    default in-memory HDFS-backed map) — the 100 TB configuration.
    Same sessionizer, same results, different store."""
    from graphsense_blocksci_spark.streaming import sessionize_stream

    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    src = tmp_path / "rocks_src"
    src.mkdir()
    schema = "user_id long, ts_epoch long"
    spark.createDataFrame(
        [(1, 1000), (1, 1500), (1, 9000), (2, 50)], schema
    ).coalesce(1).write.parquet(str(src / "f1"))
    try:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        q = (
            sessionize_stream(
                spark.readStream.schema(schema).parquet(str(src / "*")),
                gap_seconds=1800,
            )
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "rocks_out"))
            .option("checkpointLocation", str(tmp_path / "rocks_ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r.user_id, r.session_start, r.session_end, r.n_events)
            for r in spark.read.parquet(str(tmp_path / "rocks_out")).collect()
        }
        assert got == {(1, 1000, 1500, 2)}
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )


def test_asof_join_works_stream_static(spark, tmp_path):
    """The broadcast as-of join is stream-capable as-is: the only
    window runs over the STATIC right side (rates), so a streaming
    left side needs nothing new — stream-static join + broadcast.
    One operator, batch and streaming execution."""
    from graphsense_blocksci_spark.operators import asof_join

    src = tmp_path / "asof_src"
    src.mkdir()
    schema = "event_id long, ts long"
    left_rows = [(1, 5), (2, 15), (3, 25), (4, 3)]
    spark.createDataFrame(left_rows, schema).coalesce(1).write.parquet(
        str(src / "f1")
    )
    rates = spark.createDataFrame(
        [(0, 1.0), (10, 2.0), (20, 3.0)], "rts long, rate double"
    )
    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    enriched = asof_join(
        stream, rates, on="ts", right_on="rts", value_cols=["rate"]
    )
    q = (
        enriched.writeStream.format("parquet")
        .option("path", str(tmp_path / "asof_out"))
        .option("checkpointLocation", str(tmp_path / "asof_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.event_id: r.rate_asof
        for r in spark.read.parquet(str(tmp_path / "asof_out")).collect()
    }
    # identical to the batch run of the same operator
    batch = {
        r.event_id: r.rate_asof
        for r in asof_join(
            spark.createDataFrame(left_rows, schema),
            rates,
            on="ts",
            right_on="rts",
            value_cols=["rate"],
        ).collect()
    }
    assert got == batch == {1: 1.0, 2: 2.0, 3: 3.0, 4: 1.0}


def test_streaming_knn_matches_batch_lsh(spark, tmp_path):
    """Stream-static LSH kNN == batch cosine_topk_lsh, exactly:
    the static index makes per-batch ranking exact (a query's whole
    candidate set lands in its own micro-batch), so the streaming
    path must reproduce the batch operator row for row — including
    across a micro-batch split of the query set."""
    from graphsense_blocksci_spark.operators.similarity import cosine_topk_lsh
    from graphsense_blocksci_spark.sources.tables import load_table
    from graphsense_blocksci_spark.streaming.ann import knn_stream_topk, lsh_index

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    kw = dict(n_planes=6, n_tables=2, seed=42, multiprobe=1)
    want = cosine_topk_lsh(emb, k=3, **kw)

    src = str(tmp_path / "ann_src")
    # two files -> maxFilesPerTrigger=1 forces >=2 micro-batches
    emb.repartition(2).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    index = lsh_index(emb, n_planes=6, n_tables=2, seed=42).persist()
    index.count()

    sink = str(tmp_path / "ann_out")

    def _sink(ranked, batch_id):
        ranked.write.mode("append").parquet(sink)

    q = knn_stream_topk(
        stream,
        index,
        _sink,
        k=3,
        checkpoint=str(tmp_path / "ann_ckpt"),
        **kw,
    )
    if not q.awaitTermination(180):
        q.stop()
        raise AssertionError("streaming kNN did not finish in 180s")
    got = spark.read.parquet(sink)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    index.unpersist()


def test_stream_stream_join_matches_batch(spark):
    """Watermarked stream-stream inner join == batch join when the
    watermark horizon exceeds the event-time spread (nothing evicts
    before its match arrives)."""
    from graphsense_blocksci_spark.queries import QUERIES
    from graphsense_blocksci_spark.sources.tables import load_table
    from pyspark.sql import functions as F2

    sf = "/root/testdata/sf0.001"
    got = QUERIES["qd14_stream_stream_join"](spark, sf)
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    want = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .filter(
            (F2.col("l_shipdate") >= F2.col("o_orderdate") - F2.expr("INTERVAL 2500 DAYS"))
            & (F2.col("l_shipdate") <= F2.col("o_orderdate") + F2.expr("INTERVAL 2500 DAYS"))
        )
        .select(
            F2.col("o_orderkey").cast("long").alias("o_orderkey"),
            F2.col("o_custkey").cast("long").alias("o_custkey"),
            F2.col("l_linenumber").cast("long").alias("l_linenumber"),
            F2.round(F2.col("l_extendedprice") * 100).cast("long").alias("cents"),
        )
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_stream_stream_left_outer_emits_on_timeout(spark, tmp_path):
    """LEFT OUTER stream-stream join semantics: matches emit as both
    sides arrive; unmatched left rows emit NULL-extended only after
    the watermark passes their join window; rows whose window is
    still open when the stream drains stay in state and do NOT emit."""
    import time as _time

    from graphsense_blocksci_spark.streaming.join import stream_stream_join

    work = str(tmp_path / "ssj")

    def _ts(df):
        return df.select("k", F.timestamp_seconds("sec").alias("ts"))

    # batch-1 files: k=1 matches; k=2,3 never will
    _ts(spark.createDataFrame([(1, 100), (2, 100), (3, 100)], "k long, sec long")) \
        .coalesce(1).write.mode("append").parquet(f"{work}/L")
    _ts(spark.createDataFrame([(1, 110)], "k long, sec long")) \
        .coalesce(1).write.mode("append").parquet(f"{work}/R")
    _time.sleep(1.1)  # later mtime => second micro-batch
    # batch-2 files: far-future rows push the watermark past batch 1
    _ts(spark.createDataFrame([(99, 100000)], "k long, sec long")) \
        .coalesce(1).write.mode("append").parquet(f"{work}/L")
    _ts(spark.createDataFrame([(98, 100000)], "k long, sec long")) \
        .coalesce(1).write.mode("append").parquet(f"{work}/R")

    sl = (
        spark.readStream.schema("k long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{work}/L")
    )
    sr = (
        spark.readStream.schema("k long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{work}/R")
        .withColumnRenamed("k", "rk")
        .withColumnRenamed("ts", "rts")
    )
    j = stream_stream_join(
        sl,
        sr,
        (F.col("k") == F.col("rk"))
        & (F.col("rts") >= F.col("ts"))
        & (F.col("rts") <= F.col("ts") + F.expr("INTERVAL 60 SECONDS")),
        left_ts="ts",
        right_ts="rts",
        left_watermark="10 seconds",
        right_watermark="10 seconds",
        how="left_outer",
    )
    q = (
        j.writeStream.format("parquet")
        .option("path", f"{work}/sink")
        .option("checkpointLocation", f"{work}/ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(180):
        q.stop()
        raise AssertionError("left-outer stream-stream join did not finish")
    got = sorted((r.k, r.rk) for r in spark.read.parquet(f"{work}/sink").collect())
    # k=99's join window (100000..100060) is still open at shutdown —
    # correctly retained in state, not emitted
    assert got == [(1, 1), (2, None), (3, None)]


def test_streaming_heavy_hitters_across_batches_with_pressure(spark, tmp_path):
    """Two micro-batches with a capacity small enough to force real
    Misra-Gries decrements: the final snapshot must equal the Python
    reference that applies the same mergeable reduce batch-by-batch
    (the reduce is value-deterministic even under count ties — every
    item strictly above the (capacity+1)-th largest count survives)."""
    import pandas as pd

    from graphsense_blocksci_spark.streaming.sketches import (
        _merge_mg,
        heavy_hitters_stream,
    )

    b1 = ["a"] * 10 + ["b"] * 6 + [f"t{i}" for i in range(8)]
    b2 = ["a"] * 5 + ["c"] * 7 + [f"u{i}" for i in range(6)]
    src = tmp_path / "hh_src"
    src.mkdir()
    ckpt = str(tmp_path / "hh_ckpt")
    sink = str(tmp_path / "hh_out")
    spark.createDataFrame([(v,) for v in b1], "item string").coalesce(
        1
    ).write.mode("overwrite").parquet(str(src / "f1"))

    def run_once():
        stream = (
            spark.readStream.schema("item string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        q = (
            heavy_hitters_stream(stream, capacity=4, n_shards=1)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    spark.createDataFrame([(v,) for v in b2], "item string").coalesce(
        1
    ).write.mode("overwrite").parquet(str(src / "f2"))
    run_once()

    # reference: the same reduce applied batch-by-batch
    ref = _merge_mg(None, pd.Series(b1), 4)
    ref = _merge_mg(ref, pd.Series(b2), 4)
    want = {(k, int(v)) for k, v in ref.items()}

    out = spark.read.schema(
        "item string, approx_count long, shard_total long"
    ).parquet(sink)
    # snapshots append per batch: the batch-2 snapshot rows are the
    # ones carrying the full stream total
    total = len(b1) + len(b2)
    final = {
        (r.item, r.approx_count)
        for r in out.filter(F.col("shard_total") == total).collect()
    }
    assert final == want
    # batch-1 snapshot was also emitted
    assert out.filter(F.col("shard_total") == len(b1)).count() > 0


def test_streaming_lsh_pairs_union_equals_batch(spark, tmp_path):
    """Two micro-batches: the union of emitted pairs must equal the
    batch LSH pair set over BOTH batches, with each pair emitted
    exactly once (the later-member-arrival contract) — including
    pairs that span the batch boundary (an old doc near-duplicating a
    newly arrived one)."""
    from graphsense_blocksci_spark.operators.text_dedup import (
        minhash_lsh_pairs,
    )
    from graphsense_blocksci_spark.streaming.dedup import lsh_pairs_stream

    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the band plays on"
    )
    b1 = [(1, base), (2, base + " tonight"), (5, "completely different "
          "text about distributed systems and parquet files everywhere")]
    b2 = [(3, base), (4, base + " tonight"),
          (6, "completely different text about distributed systems and "
              "parquet files everywhere indeed")]
    src = tmp_path / "slsh_src"
    src.mkdir()
    ckpt, sink = str(tmp_path / "slsh_ckpt"), str(tmp_path / "slsh_out")
    spark.createDataFrame(b1, "doc_id long, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(str(src / "f1"))

    def run_once():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        q = (
            lsh_pairs_stream(stream)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    spark.createDataFrame(b2, "doc_id long, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(str(src / "f2"))
    run_once()
    got = (
        spark.read.schema("id_a long, id_b long").parquet(sink).collect()
    )
    # exactly-once per (band-deduped) pair: distinct == raw after the
    # cross-band distinct the batch operator also applies
    got_pairs = sorted({(r.id_a, r.id_b) for r in got})
    both = spark.createDataFrame(b1 + b2, "doc_id long, text string")
    want = sorted(
        (r.id_a, r.id_b) for r in minhash_lsh_pairs(both).collect()
    )
    assert got_pairs == want
    # cross-boundary pair present: doc 3 (batch 2) near-dups doc 1
    assert (1, 3) in got_pairs


# ------------------------------------------- native streaming aggregates
# Multi-batch drains of the sketches that run as Spark's own streaming
# aggregates: `queries._drain_updates_to_out` drains them in update
# mode, and each reader collapses the emitted rows per key.


def test_streaming_hdr_accumulates_across_batches(spark, tmp_path):
    """Two micro-batches: the emitted cells, collapsed by max cnt per
    (group, bucket), must equal the batch operator's histogram over
    BOTH batches — the per-bucket-sum merge has no
    pressure/approximation case at all."""
    from graphsense_blocksci_spark.operators.sketches import hdr_histogram
    from graphsense_blocksci_spark.streaming.sketches import hdr_histogram_stream

    rng = random.Random(21)
    b1 = [(i % 3, rng.randrange(0, 100000)) for i in range(400)]
    b2 = [(i % 3, rng.randrange(0, 100000)) for i in range(300)]
    src = tmp_path / "hdr_src"
    src.mkdir()
    work = str(tmp_path / "hdr")
    spark.createDataFrame(b1, "day long, cents long").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "f1"))

    def run_once():
        stream = (
            spark.readStream.schema("day long, cents long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        queries._drain_updates_to_out(
            hdr_histogram_stream(stream, "cents", "day"), work, "hdr"
        )

    run_once()
    spark.createDataFrame(b2, "day long, cents long").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "f2"))
    run_once()

    out = spark.read.schema("group long, bucket long, cnt long").parquet(
        f"{work}/out"
    )
    # counts only grow: the final snapshot per (group, bucket) is the max
    final = {
        (r["group"], r["bucket"]): r["cnt"]
        for r in out.groupBy("group", "bucket")
        .agg(F.max("cnt").alias("cnt"))
        .collect()
    }
    both = spark.createDataFrame(b1 + b2, "day long, cents long")
    want = {
        (r["day"], r["bucket"]): r["cnt"]
        for r in hdr_histogram(both, "cents", group_cols=("day",)).collect()
    }
    assert final == want


def test_streaming_cms_accumulates_across_batches(spark, tmp_path):
    """Two micro-batches: the final CMS snapshot must equal the batch
    sketch over BOTH batches — cell sums merge with no approximation
    case, and estimates probed from the streamed sketch match the
    batch-built sketch exactly."""
    from graphsense_blocksci_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )
    from graphsense_blocksci_spark.streaming.sketches import cms_stream

    b1 = [(i % 17,) for i in range(300)]
    b2 = [(i % 11,) for i in range(200)]
    src = tmp_path / "cms_src"
    src.mkdir()
    work = str(tmp_path / "cms")
    spark.createDataFrame(b1, "k long").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "f1"))

    def run_once():
        stream = (
            spark.readStream.schema("k long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        queries._drain_updates_to_out(
            cms_stream(stream, "k", depth=3, width=64), work, "cms"
        )

    run_once()
    spark.createDataFrame(b2, "k long").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "f2"))
    run_once()

    out = spark.read.schema("group long, bucket long, cnt long").parquet(
        f"{work}/out"
    )
    # counts only grow: final snapshot per cell is the max
    final = (
        out.groupBy("group", "bucket")
        .agg(F.max("cnt").alias("cnt"))
        .select(F.col("group").alias("d"), "bucket", "cnt")
    )
    both = spark.createDataFrame(b1 + b2, "k long")
    want = cms_build(both, "k", depth=3, width=64)
    assert sorted(map(tuple, final.collect())) == sorted(
        map(tuple, want.collect())
    )
    # probing the streamed sketch gives the batch estimates
    keys = both.distinct()
    est_stream = {
        r.k: r.est
        for r in cms_estimate(final, keys, "k", depth=3, width=64).collect()
    }
    est_batch = {
        r.k: r.est
        for r in cms_estimate(want, keys, "k", depth=3, width=64).collect()
    }
    assert est_stream == est_batch


def test_streaming_hll_accumulates_across_batches(spark, tmp_path):
    """Two micro-batches: the latest streamed register snapshot per
    bucket must equal the batch register table over BOTH batches —
    the per-bucket MAX merge is idempotent and order-free, so
    replayed/duplicated input cannot move a register."""
    from graphsense_blocksci_spark.operators.sketches import hll_registers
    from graphsense_blocksci_spark.streaming.sketches import hll_stream

    b1 = [(i * 7 + 3,) for i in range(400)]
    b2 = [(i * 13 + 1,) for i in range(300)]
    src = tmp_path / "hll_src"
    src.mkdir()
    work = str(tmp_path / "hll")
    spark.createDataFrame(b1, "k long").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "f1"))

    def run_once():
        stream = (
            spark.readStream.schema("k long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        queries._drain_updates_to_out(
            hll_stream(stream, "k", p=6), work, "hll"
        )

    run_once()
    spark.createDataFrame(b2, "k long").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "f2"))
    run_once()
    out = spark.read.schema("bucket long, rho long").parquet(f"{work}/out")
    # latest snapshot per bucket = max rho emitted (rho only grows)
    final = out.groupBy("bucket").agg(F.max("rho").alias("rho"))
    both = spark.createDataFrame(b1 + b2, "k long")
    want = hll_registers(both, "k", p=6)
    assert sorted(map(tuple, final.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_log2_hist_stream_multibatch(spark, tmp_path):
    """Three source files consumed one per trigger: the state-store
    merge across micro-batch boundaries must reproduce the exact
    batch histogram (floor(log2) buckets, full counts)."""
    import random

    from graphsense_blocksci_spark.streaming.sketches import log2_hist_stream

    rng = random.Random(11)
    vals = [rng.randint(1, 1 << 40) for _ in range(3000)]
    src = str(tmp_path / "src")
    for i in range(3):
        spark.createDataFrame(
            [(v,) for v in vals[i * 1000 : (i + 1) * 1000]], "cents long"
        ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("cents long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    queries._drain_updates_to_out(log2_hist_stream(stream, "cents"), str(tmp_path), "log2")
    snaps = spark.read.schema("bucket long, cnt long").parquet(
        str(tmp_path / "out")
    )
    got = {
        r["bucket"]: r["cnt"]
        for r in snaps.groupBy("bucket").agg(F.max("cnt").alias("cnt")).collect()
    }
    want: dict[int, int] = {}
    for v in vals:
        want[v.bit_length() - 1] = want.get(v.bit_length() - 1, 0) + 1
    assert got == want


def test_bitmap_or_stream_multibatch(spark, tmp_path):
    """OR-folded bitmap state across three micro-batches must equal
    the batch per-day distinct-user counts exactly (OR idempotence:
    duplicate users across batches cannot inflate DAU)."""
    import random

    from graphsense_blocksci_spark.streaming.sketches import bitmap_or_stream

    rng = random.Random(31)
    rows = [
        (rng.randint(0, 3), rng.randint(0, 400)) for _ in range(900)
    ]
    src = str(tmp_path / "src")
    for i in range(3):
        spark.createDataFrame(
            rows[i * 300 : (i + 1) * 300], "eday long, u long"
        ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("eday long, u long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    queries._drain_updates_to_out(bitmap_or_stream(stream, "eday", "u"), str(tmp_path), "bitmap")
    snaps = spark.read.schema("day long, word long, bits long").parquet(
        str(tmp_path / "out")
    )
    got = {
        r["day"]: r["dau"]
        for r in snaps.groupBy("day", "word")
        .agg(F.expr("bit_or(bits)").alias("bits"))
        .groupBy("day")
        .agg(F.sum(F.bit_count("bits")).cast("long").alias("dau"))
        .collect()
    }
    want: dict[int, set[int]] = {}
    for d, u in rows:
        want.setdefault(d, set()).add(u)
    assert got == {d: len(us) for d, us in want.items()}


def test_update_drain_replay_after_lost_commit_keeps_reader_results(
    spark, sf_dir, monkeypatch
):
    """`foreachBatch` is at-least-once: a batch re-run after its rows
    landed but before the checkpoint recorded its commit appends them
    again. Each registry reader collapses the rows per key with its
    aggregate's merge, so every entry's result is unchanged."""
    from pathlib import Path

    names = (
        "qd25_streaming_hdr_quantiles",
        "qd26_streaming_count_min",
        "qd33_streaming_hll",
        "qd70_streaming_cdc",
    )

    def run(name):
        return sorted(map(tuple, queries.QUERIES[name](spark, sf_dir).collect()))

    want = {name: run(name) for name in names}
    drain = queries._drain_updates_to_out
    replayed = {}

    def drain_and_replay_last_batch(df, work, name):
        drain(df, work, name)
        n_rows = spark.read.parquet(f"{work}/out").count()
        commits = Path(work) / "ckpt" / "commits"
        last = max(int(p.name) for p in commits.iterdir() if p.name.isdigit())
        (commits / str(last)).unlink()
        (commits / f".{last}.crc").unlink(missing_ok=True)
        drain(df, work, name)
        replayed[name] = spark.read.parquet(f"{work}/out").count() - n_rows

    monkeypatch.setattr(queries, "_drain_updates_to_out", drain_and_replay_last_batch)
    for name in names:
        assert run(name) == want[name], name
    # the replay really appended the batch's rows a second time
    assert sorted(replayed) == ["qd25", "qd26", "qd33", "qd70"]
    assert all(n > 0 for n in replayed.values()), replayed


def test_native_stream_operators_plan_an_aggregate_not_python_state(
    spark, tmp_path
):
    """The eight folds Spark declares run as its own streaming
    aggregate: each analyzed plan has an `Aggregate` and no
    `FlatMapGroupsInPandasWithState`, and keeps its output schema."""
    from graphsense_blocksci_spark.streaming.bars import ohlc_stream
    from graphsense_blocksci_spark.streaming.cdc import cdc_compact_stream
    from graphsense_blocksci_spark.streaming.sketches import (
        bitmap_or_stream,
        cms_stream,
        hdr_histogram_stream,
        heavy_hitters_stream,
        hll_stream,
        lifetime_stream,
        log2_hist_stream,
    )

    cols = (
        "key long, seq long, payload_cents long, op string, day long,"
        " symbol string, ts_micros long, event_id long, cents long,"
        " vol long, addr string, blk long, recv long, spent long, u long"
    )
    src = str(tmp_path / "src")
    spark.createDataFrame([], cols).write.parquet(src)
    s = spark.readStream.schema(cols).parquet(src)
    cells = "group bigint, bucket bigint, cnt bigint"
    frames = {
        "cdc": (
            cdc_compact_stream(s),
            "key bigint, n_seen bigint, seq bigint, payload_cents bigint,"
            " op string",
        ),
        "ohlc": (
            ohlc_stream(s),
            "day bigint, symbol string, n_seen bigint, open_c bigint,"
            " high_c bigint, low_c bigint, close_c bigint, vol bigint,"
            " pv bigint",
        ),
        "lifetime": (
            lifetime_stream(s),
            "addr string, first_block bigint, last_block bigint,"
            " n_events bigint, received_value bigint, spent_value bigint",
        ),
        "hll": (hll_stream(s, "u"), "bucket bigint, rho bigint"),
        "log2": (log2_hist_stream(s, "cents"), "bucket bigint, cnt bigint"),
        "bitmap": (
            bitmap_or_stream(s, "day", "u"),
            "day bigint, word bigint, bits bigint",
        ),
        "hdr": (hdr_histogram_stream(s, "cents", "day"), cells),
        "cms": (cms_stream(s, "u"), cells),
    }

    def analyzed(df):
        return df._jdf.queryExecution().analyzed().toString()

    for name, (df, schema) in frames.items():
        plan = analyzed(df)
        assert df.isStreaming, name
        assert "FlatMapGroupsInPandasWithState" not in plan, name
        assert "Aggregate" in plan, name
        got = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema)
        assert got == schema, name
    # the pin can see Python state: Misra-Gries keeps it
    assert "FlatMapGroupsInPandasWithState" in analyzed(
        heavy_hitters_stream(s, col="symbol")
    )
