"""Physical-plan shape assertions — the 100 TB design claims, checked
against `.explain` output so a regression in plan quality fails CI:

- predicate pushdown reaches the parquet scan (A3),
- column pruning keeps ReadSchema minimal,
- small dims broadcast (no shuffle of the fact side),
- pure projections stay shuffle-free inside WholeStageCodegen,
- the unkeyed as-of join never shuffles or window-partitions the big
  side (the round-1 scale bug, pinned here).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphsense_blocksci_spark.queries import QUERIES
from graphsense_blocksci_spark.sources.sinks import write_range_sorted

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_range_scan_pushdown_and_pruning(spark):
    df = QUERIES["q02_range_scan"](spark, SF)
    plan = df._jdf.queryExecution().toString()
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(o_orderkey,1000)" in plan
    assert "LessThan(o_orderkey,5000)" in plan
    # column pruning: untouched columns never leave the scan
    assert "o_orderdate" not in plan.split("ReadSchema")[1][:200]


def test_join_agg_broadcasts_dims(spark):
    plan = plan_of(QUERIES["q13_join_agg"](spark, SF))
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_projection_tables_are_shuffle_free(spark):
    from graphsense_blocksci_spark.plans.ingest import (
        block_table,
        transaction_table,
    )
    from graphsense_blocksci_spark.sources.tables import (
        load_raw_blocks,
        load_raw_txs,
    )

    blocks_plan = plan_of(block_table(load_raw_blocks(spark)))
    txs_plan = plan_of(transaction_table(load_raw_txs(spark)))
    for plan in (blocks_plan, txs_plan):
        assert "Exchange" not in plan  # pure projection of the scan
    # scalar-only projection is fully codegen'd ("*(n)" prefix); the tx
    # projection contains higher-order functions (coinjoin's transform/
    # filter/exists), which Spark evaluates interpreted — still one
    # shuffle-free pass, but no codegen star. Pinned so a future rewrite
    # that reintroduces a shuffle fails loudly.
    assert blocks_plan.lstrip().startswith("*(")


def test_asof_broadcast_never_shuffles_left(spark):
    plan = plan_of(QUERIES["q14_asof_rates"](spark, SF))
    # the events side flows scan→join; the only exchanges build the
    # broadcast (rates) side or follow the tiny rates aggregation
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    left_side = plan.split("Broadcast")[0]
    assert "Exchange hashpartitioning(event_id" not in left_side


def test_hwm_filter_is_a_pushed_literal(spark):
    plan = plan_of(QUERIES["q09_hwm_resume"](spark, SF))
    # the sink's max is resolved first, so the filter is a literal bound
    # in the events scan and no join is planned
    assert "Join" not in plan
    assert "GreaterThan(event_id," in plan
    # the source scan itself is never hash-repartitioned
    assert "Exchange hashpartitioning(event_id" not in plan


def test_pricing_summary_partial_agg(spark):
    plan = plan_of(QUERIES["q01_pricing_summary"](spark, SF))
    # map-side partial aggregation before the single shuffle
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") == 1


def test_write_range_sorted_layout(spark, tmp_path):
    df = spark.range(0, 10_000).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    path = str(tmp_path / "ranged")
    write_range_sorted(df, path, "id", num_chunks=4)
    back = spark.read.parquet(path)
    assert back.count() == 10_000
    # chunk files hold disjoint, near-even ranges
    import pyarrow.parquet as pq
    from pathlib import Path

    bounds = []
    for f in sorted(Path(path).glob("*.parquet")):
        t = pq.read_table(f, columns=["id"])
        ids = t.column("id").to_pylist()
        assert ids == sorted(ids)  # internally ordered
        bounds.append((min(ids), max(ids), len(ids)))
    bounds.sort()
    for (lo1, hi1, _), (lo2, hi2, _) in zip(bounds, bounds[1:]):
        assert hi1 < lo2  # disjoint ranges → global total order
    sizes = [n for _, _, n in bounds]
    assert max(sizes) <= 2 * min(sizes)  # near-even chunks


def test_cobucketed_join_has_no_exchange(spark, tmp_path):
    """write_spark_bucketed: two tables bucketed on their join key
    sort-merge-join WITHOUT a shuffle on either side — the write-once,
    join-forever layout."""
    from graphsense_blocksci_spark.sources import write_spark_bucketed

    left = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("a")
    )
    right = spark.range(0, 10_000, 3).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("b")
    )
    write_spark_bucketed(left, "t_bk_left", "k", n_buckets=8)
    write_spark_bucketed(right, "t_bk_right", "k", n_buckets=8)
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # at test size the planner prefers broadcast (which also avoids
        # the shuffle); force the sort-merge path to show the bucketed
        # layout is what eliminates the Exchange at fact-fact scale
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        l, r = spark.table("t_bk_left"), spark.table("t_bk_right")
        joined = l.join(r, "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert joined.count() == right.count()  # every right key matches
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        spark.sql("DROP TABLE IF EXISTS t_bk_left")
        spark.sql("DROP TABLE IF EXISTS t_bk_right")


def test_salted_join_equals_plain_join(spark):
    from graphsense_blocksci_spark.operators import salted_join

    big = spark.range(0, 5_000).select(
        (F.col("id") % 10).alias("k"), F.col("id").alias("v")
    )
    small = spark.createDataFrame(
        [(i, f"dim{i}") for i in range(8)], "sk long, name string"
    )
    plain = big.join(small, big.k == small.sk, "left").select("k", "v", "name")
    salted = salted_join(big, small, "k", "sk", n_salts=4, how="left").select(
        "k", "v", "name"
    )
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_bucketed_sink_partition_pruning(spark, tmp_path):
    """Reading the Cassandra-layout sink back with a group predicate
    prunes directories (PartitionFilters), so point lookups touch one
    partition's files — the read side of the reference's
    partition-key design."""
    from graphsense_blocksci_spark import fixtures
    from graphsense_blocksci_spark.plans.ingest import block_table
    from graphsense_blocksci_spark.sources import write_bucketed_table

    d = fixtures.ensure_fixtures()
    blocks = block_table(spark.read.parquet(f"{d}/raw_blocks.parquet"))
    out = str(tmp_path / "block_sink")
    write_bucketed_table(blocks, out, "block_id_group", "block_id")
    got = spark.read.parquet(out).filter(F.col("block_id_group") == 3)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(block_id_group" in plan
    # and the files actually read are only that directory's
    assert got.count() == blocks.filter(F.col("block_id_group") == 3).count()


def test_overwrite_partitions_replaces_only_touched_groups(spark, tmp_path):
    from graphsense_blocksci_spark.sources import (
        overwrite_partitions,
        write_bucketed_table,
    )

    base = spark.createDataFrame(
        [(g, i, f"v{g}_{i}") for g in range(3) for i in range(4)],
        "g int, id int, payload string",
    )
    path = str(tmp_path / "dyn")
    write_bucketed_table(base, path, "g", "id")
    # re-run of group 1 with corrected rows
    fixed = spark.createDataFrame(
        [(1, i, f"fixed_{i}") for i in range(4)], "g int, id int, payload string"
    )
    overwrite_partitions(fixed, path, "g", "id")
    got = spark.read.parquet(path)
    assert got.count() == 12  # groups 0 and 2 untouched, group 1 replaced
    assert got.filter(F.col("g") == 1).filter(
        ~F.col("payload").startswith("fixed_")
    ).count() == 0
    assert got.filter(F.col("g") == 0).filter(
        F.col("payload").startswith("v0_")
    ).count() == 4
    # idempotent: same re-run twice leaves the same table
    overwrite_partitions(fixed, path, "g", "id")
    assert spark.read.parquet(path).count() == 12


def test_topk_per_group_uses_window_group_limit(spark):
    """q22's per-group top-k must plan as WindowGroupLimit (partial
    per-partition top-k before the shuffle) — the rank-filter pushdown
    that keeps per-group top-k from materializing every group row."""
    plan = optimized_of(QUERIES["q22_topk_per_group"](spark, SF))
    assert "WindowGroupLimit" in plan


def test_salted_join_same_key_name(spark):
    """The natural call shape — both sides keyed by the same column
    name — must not hit an ambiguous-reference error."""
    from graphsense_blocksci_spark.operators import salted_join

    big = spark.range(0, 1000).select((F.col("id") % 5).alias("k"))
    small = spark.createDataFrame([(i, i * 10) for i in range(5)], "k long, v long")
    got = salted_join(big, small, "k", "k", n_salts=4)
    assert got.count() == 1000
    assert got.filter(F.col("v").isNull()).count() == 0


def test_runtime_bloom_filter_injection(spark):
    """At production scan sizes Spark injects a bloom runtime filter
    from a selective build side into the probe-side fact scan
    (spark.sql.optimizer.runtime.bloomFilter.enabled stays on in
    session.py). The 10 GB application-side threshold keeps it off at
    test scale, so lower it here to pin that the mechanism actually
    fires for our join shapes end-to-end."""
    from graphsense_blocksci_spark.sources.tables import load_table

    size_key = (
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    bc_key = "spark.sql.autoBroadcastJoinThreshold"
    prev_size, prev_bc = spark.conf.get(size_key), spark.conf.get(bc_key)
    try:
        # Emulate the production regime: fact side too big to avoid a
        # shuffle join (broadcast off), dim under the creation-side
        # threshold — Spark deliberately skips bloom injection when
        # the dim could just broadcast instead, so -1 is load-bearing.
        spark.conf.set(size_key, "0")
        spark.conf.set(bc_key, "-1")
        li = load_table(spark, SF, "lineitem")
        o = load_table(spark, SF, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("l_returnflag")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in plan.lower(), plan[:2000]
        # and it still computes the right thing with the filter in place
        assert j.count() > 0
    finally:
        spark.conf.set(size_key, prev_size)
        spark.conf.set(bc_key, prev_bc)


def test_compact_parquet_round_trip(spark, tmp_path):
    """Many tiny files -> few target-sized files, rows and values
    unchanged, original path name preserved (write-audit-swap)."""
    from graphsense_blocksci_spark.sources.sinks import compact_parquet

    path = str(tmp_path / "frag")
    df = spark.range(0, 10_000).withColumn("v", F.col("id") * 2)
    df.repartition(64).write.parquet(path)  # 64 tiny files
    from pathlib import Path

    assert len(list(Path(path).glob("*.parquet"))) == 64
    before = {(r["id"], r["v"]) for r in spark.read.parquet(path).collect()}
    n = compact_parquet(spark, path, target_bytes=1 << 30)
    assert n == 1
    assert len(list(Path(path).glob("*.parquet"))) == 1
    after = {(r["id"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert after == before


def test_pagerank_one_checkpoint_job_per_iteration(spark):
    """The dangling-mass correction must not add jobs: with AQE off,
    all PageRank rounds are one lazy plan behind one eager
    localCheckpoint (which observes every dangling mass the driver
    solves for at the end), so a round adds no job and no driver
    .first()/.collect() round-trip. Measured as the job-count delta
    between 7- and 2-iteration runs so setup jobs cancel out."""
    import time

    from graphsense_blocksci_spark.operators.graph import pagerank

    sc = spark.sparkContext
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1), (3, 4), (4, 4), (5, 1)],
            "src: long, dst: long",
        )

        def jobs_for(iters: int, tag: str) -> int:
            sc.setJobGroup(tag, tag)
            pagerank(df, iterations=iters).collect()
            sc.setJobGroup("pr-other-" + tag, "x")
            time.sleep(0.3)
            return len(sc.statusTracker().getJobIdsForGroup(tag))

        j2 = jobs_for(2, "pr-jobs-2")
        j7 = jobs_for(7, "pr-jobs-7")
        assert (j7 - j2) == 0, (j2, j7)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def _jobs_per_round_aqe_on(spark, run) -> float:
    """Jobs per round of ``run(iterations)`` with AQE on, as the job-count
    delta between 7- and 2-iteration runs divided by 5 (setup cancels)."""
    import time

    sc = spark.sparkContext
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:

        def jobs_for(iters: int) -> int:
            tag = f"round-jobs-{run.__name__}-{iters}"
            sc.setJobGroup(tag, tag)
            run(iters)
            sc.setJobGroup("round-jobs-other", "x")
            time.sleep(0.3)
            return len(sc.statusTracker().getJobIdsForGroup(tag))

        return (jobs_for(7) - jobs_for(2)) / 5
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def _q84_edges(spark):
    from graphsense_blocksci_spark.queries import _supplier_chain_edges
    from graphsense_blocksci_spark.sources.tables import load_table

    return _supplier_chain_edges(load_table(spark, SF, "lineitem")).localCheckpoint()


def test_pagerank_round_is_one_join_one_aggregate_under_aqe(spark):
    """With AQE on, a PageRank round on the q84 graph is at most 1 job:
    the contribution shuffle, which AQE runs as its own job. Rounds share
    one lazy plan and one final checkpoint, and the node attributes ride
    on the state rows, so no node frame is re-joined per round."""
    from graphsense_blocksci_spark.operators.graph import pagerank

    edges = _q84_edges(spark)

    def pr(iters):
        pagerank(edges, iterations=iters).collect()

    assert _jobs_per_round_aqe_on(spark, pr) <= 1


def test_label_propagation_round_is_one_aggregate_under_aqe(spark):
    """With AQE on, a label-propagation round on the q84 graph is at most
    3 jobs: one join and one ``mode`` aggregate per round."""
    from graphsense_blocksci_spark.operators.graph import label_propagation

    edges = _q84_edges(spark)

    def lpa(iters):
        label_propagation(edges, iterations=iters).collect()

    assert _jobs_per_round_aqe_on(spark, lpa) <= 3


def test_triangle_count_plan_is_checkpoint_bounded(spark):
    """The oriented edge frame feeds three consumers (both wedge sides
    and the closing join); the lazy localCheckpoint plus the map-side
    corner explode must keep the AQE-off physical plan at the
    documented shape — a handful of exchanges over ExistingRDD scans,
    never the 34-exchange re-computation tree (VERDICT r4 item 2)."""
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = QUERIES["q120_triangle_count"](spark, SF)
        plan = plan_of(df)
        assert plan.count("Exchange") <= 8, plan.count("Exchange")
        assert plan.count("SortMergeJoin") <= 2
        # the shared subplan is pinned: consumers read the RDD, not the
        # degree/rank join lineage
        assert "Scan ExistingRDD" in plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def test_compact_parquet_partitioned_layout(spark, tmp_path):
    """Compacting a hive-partitioned sink keeps the key=value layout
    and reports the recursive file count (was 0 with a non-recursive
    glob)."""
    from pathlib import Path

    from graphsense_blocksci_spark.sources.sinks import compact_parquet

    path = str(tmp_path / "part_frag")
    df = spark.range(0, 9_000).select(
        (F.col("id") % 3).alias("g"), F.col("id"), (F.col("id") * 7).alias("v")
    )
    df.repartition(16).write.partitionBy("g").parquet(path)
    assert len(list(Path(path).rglob("*.parquet"))) >= 3 * 16 // 2
    before = {
        (r["g"], r["id"], r["v"]) for r in spark.read.parquet(path).collect()
    }
    n = compact_parquet(spark, path, target_bytes=1 << 30, partition_by=["g"])
    assert n == 3  # one file per partition dir, counted recursively
    assert sorted(
        d.name for d in Path(path).iterdir() if d.is_dir()
    ) == ["g=0", "g=1", "g=2"]
    after = {
        (r["g"], r["id"], r["v"]) for r in spark.read.parquet(path).collect()
    }
    assert after == before
