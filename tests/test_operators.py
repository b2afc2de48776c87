"""Operator tests: windows, as-of join, incremental layer, UTXO linkage.

Covers the round-1 verdict items: the empty-sink high-water-mark bug
(first-run data loss), both as-of strategies, run-twice==run-once
idempotence, and the linkage join over the UTXO-consistent fixtures.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from graphsense_blocksci_spark.operators import (
    asof_join,
    dedup_last_write_wins,
    explode_outputs,
    high_water_mark_filter,
    latest_per_group,
    link_inputs_to_outputs,
    top_k,
)
from graphsense_blocksci_spark.plans.incremental import (
    incremental_delta,
    previous_day_cutoff,
    reorg_safety_filter,
)


@pytest.fixture(scope="module")
def sample(spark):
    return spark.createDataFrame(
        [
            (1, "a", 10, 100),
            (1, "a", 20, 200),
            (1, "b", 15, 150),
            (2, "a", 30, 300),
            (2, "b", 5, 50),
        ],
        "grp int, name string, version int, value int",
    )


class TestWindows:
    def test_latest_per_group(self, sample):
        rows = {
            (r.grp, r.version)
            for r in latest_per_group(sample, ["grp"], "version").collect()
        }
        assert rows == {(1, 20), (2, 30)}

    def test_latest_per_group_ascending(self, sample):
        rows = {
            (r.grp, r.version)
            for r in latest_per_group(
                sample, ["grp"], "version", descending=False
            ).collect()
        }
        assert rows == {(1, 10), (2, 5)}

    def test_dedup_last_write_wins(self, sample):
        rows = {
            (r.grp, r.name, r.version)
            for r in dedup_last_write_wins(sample, ["grp", "name"], "version").collect()
        }
        assert rows == {(1, "a", 20), (1, "b", 15), (2, "a", 30), (2, "b", 5)}

    def test_top_k(self, sample):
        rows = [r.value for r in top_k(sample, [F.desc("value")], 2).collect()]
        assert rows == [300, 200]


class TestHighWaterMark:
    def test_empty_sink_passes_everything(self, spark, sample):
        """First-run cold start: empty sink must NOT drop the source
        (reference --continue semantics, blocksci_export.py:497-505)."""
        empty = spark.createDataFrame([], sample.schema)
        out = high_water_mark_filter(sample, empty, "version")
        assert out.count() == sample.count()

    def test_all_null_sink_passes_everything(self, spark):
        src = spark.createDataFrame([(1,), (2,)], "k int")
        sink = spark.createDataFrame([(None,)], "k int")
        assert high_water_mark_filter(src, sink, "k").count() == 2

    def test_delta_only(self, spark, sample):
        sink = sample.filter(F.col("version") <= 15)
        out = high_water_mark_filter(sample, sink, "version")
        assert {r.version for r in out.collect()} == {20, 30}

    def test_idempotent(self, spark, sample):
        """Re-running after the sink caught up yields nothing."""
        out = high_water_mark_filter(sample, sample, "version")
        assert out.count() == 0

    def test_bounds_are_pushed_literals(self, spark, tmp_path):
        """The HWM and the reorg lag reach a parquet scan as literal
        `PushedFilters`; neither plans a join."""
        path = str(tmp_path / "src")
        spark.range(100_000).selectExpr("CAST(id AS INT) AS k").write.parquet(path)
        src = spark.read.parquet(path)
        for out, bound in (
            (high_water_mark_filter(src, src.filter("k <= 90000"), "k"),
             "GreaterThan(k,90000)"),
            (reorg_safety_filter(src, "k", lag=6), "LessThanOrEqual(k,99993)"),
        ):
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "Join" not in plan
            pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
            assert len(pushed) == 1 and bound in pushed[0]


class TestAsofJoin:
    @pytest.fixture(scope="class")
    def rates(self, spark):
        return spark.createDataFrame(
            [(10, 1.0), (20, 2.0), (30, 3.0)], "t int, rate double"
        )

    @pytest.fixture(scope="class")
    def ticks(self, spark):
        return spark.createDataFrame(
            [(1, 5), (2, 10), (3, 15), (4, 25), (5, 99)], "id int, t int"
        )

    @pytest.mark.parametrize("strategy", ["broadcast", "union"])
    def test_backward_inclusive(self, ticks, rates, strategy):
        if strategy == "union":
            # keyed variant: single constant key exercises the union path
            ticks = ticks.withColumn("k", F.lit(1))
            rates = rates.withColumn("k", F.lit(1))
            out = asof_join(ticks, rates, on="t", by=["k"], strategy=strategy)
        else:
            out = asof_join(ticks, rates, on="t", strategy=strategy)
        got = {r.id: r.rate_asof for r in out.collect()}
        assert got == {1: None, 2: 1.0, 3: 1.0, 4: 2.0, 5: 3.0}

    def test_keyed(self, spark):
        left = spark.createDataFrame(
            [("x", 15), ("y", 15), ("x", 5)], "k string, t int"
        )
        right = spark.createDataFrame(
            [("x", 10, 100.0), ("y", 12, 200.0)], "k string, t int, v double"
        )
        out = asof_join(left, right, on="t", by=["k"])
        got = {(r.k, r.t): r.v_asof for r in out.collect()}
        assert got == {("x", 15): 100.0, ("y", 15): 200.0, ("x", 5): None}

    def test_union_unkeyed_rejected(self, ticks, rates):
        with pytest.raises(ValueError):
            asof_join(ticks, rates, on="t", strategy="union")

    def test_broadcast_plan_has_no_left_shuffle(self, ticks, rates):
        """The 100 TB guarantee: the big side is never exchanged."""
        plan = asof_join(ticks, rates, on="t")._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


class TestIncremental:
    def test_previous_day_cutoff(self, spark):
        day = int(dt.datetime(2009, 1, 5, tzinfo=dt.timezone.utc).timestamp())
        df = spark.createDataFrame(
            [(1, day - 10), (2, day - 1), (3, day), (4, day + 100)], "id int, ts int"
        )
        out = previous_day_cutoff(df, "ts", as_of_epoch=day + 3600)
        assert {r.id for r in out.collect()} == {1, 2}

    def test_reorg_safety_filter(self, spark):
        df = spark.createDataFrame([(i,) for i in range(100)], "block_id int")
        out = reorg_safety_filter(df, lag=6)
        assert out.agg(F.max("block_id")).first()[0] == 93
        assert out.count() == 94

    def test_run_twice_equals_run_once(self, spark):
        """The daemon-loop property (docker/ingest.sh:2-8): ingesting the
        delta, then asking for the delta again, yields nothing new."""
        now = int(dt.datetime(2009, 1, 30, tzinfo=dt.timezone.utc).timestamp())
        src = spark.createDataFrame(
            [(i, 1_230_768_000 + i * 600) for i in range(2000)],
            "block_id int, timestamp int",
        )
        empty = spark.createDataFrame([], "block_id int, timestamp int")
        first = incremental_delta(src, empty, as_of_epoch=now)
        n_first = first.count()
        assert 0 < n_first < 2000  # lag + cutoff both bit
        second = incremental_delta(src, first, as_of_epoch=now)
        assert second.count() == 0
        # one-shot == first run (same filters, same source)
        again = incremental_delta(src, empty, as_of_epoch=now)
        assert again.count() == n_first


class TestLinkage:
    def test_fixture_utxo_join_resolves_values(self, spark, fixture_dir):
        """Every fixture input must resolve to exactly one earlier output
        with the same value (fixtures are UTXO-consistent by
        construction), via the spent-output equi-join."""
        txs = spark.read.parquet(f"{fixture_dir}/raw_txs.parquet")
        outputs = explode_outputs(txs)
        # Fixtures carry resolved inputs (reference model); rebuild the
        # spent-reference form by matching each input to the pool it was
        # drawn from: join on (value, address) is ambiguous, so instead
        # verify conservation: every non-coinbase input value exists in
        # the output universe.
        inputs = txs.filter(~F.col("coinbase")).select(
            F.col("tx_id"), F.posexplode("inputs").alias("input_index", "inp")
        )
        linked = inputs.join(
            outputs,
            (inputs["inp.value"] == outputs["value"])
            & (inputs["inp.address"] == outputs["address"]),
            "left_semi",
        )
        assert linked.count() == inputs.count()

    def test_synthetic_spent_reference_join(self, spark):
        outs = spark.createDataFrame(
            [(1, 0, 50), (1, 1, 30), (2, 0, 80)],
            "tx_id long, output_index int, value long",
        )
        ins = spark.createDataFrame(
            [(3, 1, 0), (3, 1, 1), (4, 2, 0), (4, 9, 9)],
            "tx_id long, spent_tx_id long, spent_index int",
        )
        out = link_inputs_to_outputs(ins, outs)
        got = {(r.tx_id, r.spent_tx_id, r.spent_index): r.value for r in out.collect()}
        assert got == {
            (3, 1, 0): 50,
            (3, 1, 1): 30,
            (4, 2, 0): 80,
            (4, 9, 9): None,  # unresolvable input survives with NULL
        }


class TestIngestDaemon:
    """plans/daemon.py — the ingest.sh loop as bounded daemon steps."""

    def test_daemon_catches_up_and_is_idempotent(self, spark, tmp_path):
        from graphsense_blocksci_spark import fixtures
        from graphsense_blocksci_spark.plans import run_ingest_daemon
        from graphsense_blocksci_spark.plans.ingest import block_table
        from graphsense_blocksci_spark.plans.incremental import (
            incremental_delta,
        )

        d = fixtures.ensure_fixtures()
        raw = spark.read.parquet(f"{d}/raw_blocks.parquet")
        far_future = 4_000_000_000  # previous-day cutoff never trims
        src = str(tmp_path / "src")
        sink = str(tmp_path / "sink")

        # stage 1: first 60% of the chain arrives
        tip = raw.agg(F.max("block_id")).collect()[0][0]
        cut = int(tip * 0.6)
        raw.filter(F.col("block_id") <= cut).write.mode("overwrite").parquet(src)
        counts1 = run_ingest_daemon(
            spark, src, sink, max_iterations=3, stop_when_empty=True,
            as_of_epoch=far_future,
        )
        # step 1 ingests the staged chain minus the reorg lag; step 2
        # finds nothing new and the loop stops
        assert counts1[0] > 0 and counts1[-1] == 0
        n_after1 = spark.read.parquet(sink).count()
        assert n_after1 == counts1[0]

        # stage 2: the rest of the chain arrives (append new files)
        raw.filter(F.col("block_id") > cut).write.mode("append").parquet(src)
        counts2 = run_ingest_daemon(
            spark, src, sink, max_iterations=3, stop_when_empty=True,
            as_of_epoch=far_future,
        )
        assert counts2[0] > 0 and counts2[-1] == 0

        # catch-up equivalence: the daemon's sink equals the one-shot
        # delta from an empty sink over the full source
        got = spark.read.parquet(sink)
        empty = spark.createDataFrame([], block_table(raw).schema)
        oneshot = block_table(
            incremental_delta(raw, empty, as_of_epoch=far_future)
        )
        assert got.count() == oneshot.count()
        assert got.exceptAll(oneshot).count() == 0
        assert oneshot.exceptAll(got).count() == 0


# ----------------------------------------------------------------------
# Connected components (multi-input entity clustering)
# ----------------------------------------------------------------------


def _uf_components(edges):
    """Reference union-find: node -> min member id of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@pytest.mark.parametrize(
    "edges",
    [
        # two chains + a triangle + a self-loop + duplicate edges
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (20, 22), (5, 5), (1, 2)],
        # star with a high-degree hub (the skew case large-star exists for)
        [(100, i) for i in range(1, 40)] + [(200, 201)],
        # long path (worst case for naive label propagation)
        [(i, i + 1) for i in range(50)],
        # reversed/mixed directions
        [(3, 1), (1, 7), (9, 7), (2, 8)],
    ],
)
def test_connected_components_matches_union_find(spark, edges):
    from graphsense_blocksci_spark.operators.graph import connected_components

    df = spark.createDataFrame(edges, "src: long, dst: long")
    got = {
        (r["node"], r["component"])
        for r in connected_components(df).collect()
    }
    want = set(_uf_components([(a, b) for a, b in edges if a != b]).items())
    assert got == want


def test_connected_components_empty(spark):
    from graphsense_blocksci_spark.operators.graph import connected_components

    df = spark.createDataFrame([], "src: long, dst: long")
    assert connected_components(df).count() == 0


def test_incremental_components_equals_full_recompute(spark):
    """prior-labels-as-edges ∪ delta must recluster identically to the
    full edge set, including a component merge across the split and an
    untouched singleton label passed through."""
    from graphsense_blocksci_spark.operators.graph import (
        connected_components,
        incremental_components,
    )

    old = [(1, 2), (2, 3), (10, 11), (20, 21)]
    new = [(3, 10), (30, 31)]  # merges {1,2,3} with {10,11}; new comp
    old_df = spark.createDataFrame(old, "src: long, dst: long")
    new_df = spark.createDataFrame(new, "src: long, dst: long")
    prior = connected_components(old_df).unionByName(
        spark.createDataFrame([(99, 99)], "node: long, component: long")
    )  # plus an isolated singleton label
    inc = {
        (r["node"], r["component"])
        for r in incremental_components(prior, new_df).collect()
    }
    full = {
        (r["node"], r["component"])
        for r in connected_components(
            spark.createDataFrame(old + new, "src: long, dst: long")
        ).collect()
    }
    assert inc == full | {(99, 99)}


def test_connected_components_distributed_path_equals_unionfind(spark):
    """max_driver_edges=0 forces star contraction; both execution
    paths must label identically (min member id per component)."""
    from graphsense_blocksci_spark.operators.graph import connected_components

    edges = (
        [(100, i) for i in range(1, 40)]
        + [(i, i + 1) for i in range(200, 230)]
        + [(3, 1), (1, 7), (9, 7), (2, 8)]
    )
    df = spark.createDataFrame(edges, "src: long, dst: long")
    fast = {
        (r["node"], r["component"]) for r in connected_components(df).collect()
    }
    dist = {
        (r["node"], r["component"])
        for r in connected_components(df, max_driver_edges=0).collect()
    }
    assert fast == dist


def test_pagerank_matches_dense_reference(spark):
    """Fixed-iteration PageRank == the dense numpy recurrence within
    float tolerance (same damping, same dangling redistribution)."""
    from graphsense_blocksci_spark.operators.graph import pagerank

    # node 6 is a sink (no out-edge): its rank is the dangling mass the
    # correction redistributes every round
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 4), (5, 1), (2, 6)]
    df = spark.createDataFrame(edges, "src: long, dst: long")
    got = {r["node"]: r["rank"] for r in pagerank(df, iterations=12).collect()}

    nodes = sorted({x for e in edges for x in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    out = {}
    for a, b in set(edges):
        out.setdefault(a, []).append(b)
    r = [1.0 / n] * n
    d = 0.85
    for _ in range(12):
        nxt = [0.0] * n
        dangling = sum(r[idx[v]] for v in nodes if v not in out)
        for a, targets in out.items():
            share = r[idx[a]] / len(targets)
            for b in targets:
                nxt[idx[b]] += share
        r = [(1.0 - d) / n + d * (dangling / n + x) for x in nxt]
    for v in nodes:
        assert abs(got[v] - r[idx[v]]) < 1e-9, v
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_snapshot_diff_classification_and_nulls(spark):
    """added/removed/changed classified per key; NULL value columns
    are NULL-safe (NULL->NULL is unchanged, NULL->value is changed)."""
    from graphsense_blocksci_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, None)], "k: long, v: string"
    )
    new = spark.createDataFrame(
        [(2, "B"), (3, None), (4, "now"), (5, "e")], "k: long, v: string"
    )
    got = {(r["k"], r["change"]) for r in snapshot_diff(old, new, ["k"]).collect()}
    assert got == {
        (1, "removed"),
        (2, "changed"),
        (4, "changed"),
        (5, "added"),
    }
    with_same = {
        (r["k"], r["change"])
        for r in snapshot_diff(old, new, ["k"], include_unchanged=True).collect()
    }
    assert (3, "unchanged") in with_same


def test_hll_sketch_partials_union_and_accuracy(spark):
    """Daily HLL sketches: per-day estimates within 5% of exact, and
    the UNION of stored sketches re-aggregates to the global distinct
    count without raw data — the property approx_count_distinct's
    scalar output cannot provide."""
    from graphsense_blocksci_spark.queries import QUERIES
    from graphsense_blocksci_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.01"
    got = {
        r["d"]: r["est_users"]
        for r in QUERIES["q97_hll_partials"](spark, sf).collect()
    }
    ev = load_table(spark, sf, "events")
    exact = {
        r["d"]: r["n"]
        for r in ev.groupBy(F.to_date("ts").cast("timestamp").alias("d"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for d, n in exact.items():
        assert abs(got[d] - n) <= max(1, 0.05 * n), (d, got[d], n)
    union_est = (
        ev.groupBy(F.to_date("ts").alias("d"))
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .first()["est"]
    )
    global_exact = ev.agg(F.countDistinct("user_id").alias("n")).first()["n"]
    assert abs(union_est - global_exact) <= max(1, 0.05 * global_exact)


def test_personalized_pagerank_matches_dense_reference(spark):
    """Seeded (personalized) PageRank == the dense recurrence where
    teleport and dangling mass land uniformly on the seed set only;
    mass still sums to 1 and non-seed sources decay."""
    from graphsense_blocksci_spark.operators.graph import pagerank

    # node 6 is a sink (no out-edge): its rank returns to the seeds
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 4), (5, 1), (2, 6)]
    df = spark.createDataFrame(edges, "src: long, dst: long")
    seeds = spark.createDataFrame([(1,), (3,)], "node: long")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(df, iterations=12, seeds=seeds).collect()
    }

    nodes = sorted({x for e in edges for x in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    seed_set = {1, 3}
    out = {}
    for a, b in set(edges):
        out.setdefault(a, []).append(b)
    tele = [1.0 / len(seed_set) if v in seed_set else 0.0 for v in nodes]
    r = list(tele)
    d = 0.85
    for _ in range(12):
        nxt = [0.0] * n
        dangling = sum(r[idx[v]] for v in nodes if v not in out)
        for a, targets in out.items():
            share = r[idx[a]] / len(targets)
            for b in targets:
                nxt[idx[b]] += share
        r = [
            (1.0 - d) * tele[i] + d * dangling * tele[i] + d * nxt[i]
            for i in range(n)
        ]
    for v in nodes:
        assert abs(got[v] - r[idx[v]]) < 1e-9, v
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_seed_not_in_graph_raises(spark):
    import pytest as _pytest

    from graphsense_blocksci_spark.operators.graph import pagerank

    df = spark.createDataFrame([(1, 2)], "src: long, dst: long")
    seeds = spark.createDataFrame([(99,)], "node: long")
    with _pytest.raises(ValueError, match="no seed appears"):
        pagerank(df, seeds=seeds)


def test_skyline_2d_matches_quadratic_reference(spark):
    """Two-phase bucket skyline == the O(n^2) strict-domination
    definition, including duplicate points (both survive) and
    same-x ties."""
    import random

    from graphsense_blocksci_spark.operators.windows import skyline_2d

    rng = random.Random(17)
    pts = [(rng.randrange(0, 50), rng.randrange(0, 50)) for _ in range(300)]
    pts += [(5, 5), (5, 5), (0, 49), (49, 0)]  # dup skyline point + extremes
    rows = [(i, x, y) for i, (x, y) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    got = {r["id"] for r in skyline_2d(df, "x", "y", bucket_width=8).collect()}

    def dominated(a, b):  # b dominates a
        return b[0] <= a[0] and b[1] <= a[1] and (b[0] < a[0] or b[1] < a[1])

    # identical duplicate points never dominate each other (no strict)
    want = {
        i
        for i, p in enumerate(pts)
        if not any(dominated(p, pts[j]) for j in range(len(pts)) if j != i)
    }
    assert got == want


def test_daily_balances_final_day_equals_lifetime_ledger(spark):
    """Cross-operator invariant: the last daily running balance per
    address must equal the qd15 lifetime ledger balance, and per-addr
    net deltas must sum to it."""
    from graphsense_blocksci_spark import fixtures
    from graphsense_blocksci_spark.operators.linkage import (
        address_balances,
        daily_balances,
    )
    from graphsense_blocksci_spark.sources.tables import load_raw_txs
    from pyspark.sql import functions as F

    fixtures.ensure_fixtures()
    txs = load_raw_txs(spark)
    daily = daily_balances(txs)
    last = (
        daily.groupBy("addr")
        .agg(
            F.max_by("balance", "day").alias("final_balance"),
            F.sum("net_value").alias("net_sum"),
        )
    )
    lifetime = address_balances(txs).select("addr", "balance")
    joined = last.join(lifetime, "addr", "full")
    bad = joined.filter(
        (F.col("final_balance") != F.col("balance"))
        | (F.col("net_sum") != F.col("balance"))
        | F.col("final_balance").isNull()
        | F.col("balance").isNull()
    )
    assert bad.count() == 0
