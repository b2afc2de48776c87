"""Structured Streaming ingest daemon tests: checkpoint resume
(--continue), watermarked windows (--previous-day), exactly-once sink."""

from __future__ import annotations

from pyspark.sql import functions as F

from graphsense_blocksci_spark import fixtures
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
