"""Static-frame pinning in the iterative graph operators
(operators/graph.py `_pinned`; guide §2.4 — remove the per-round
shuffle of a static frame by pre-partitioning it on the join key and
persisting, which keeps the partitioning under AQE where
localCheckpoint does not).

Contracts:
- the pre-partitioned (cluster-profile) path returns the SAME rows as
  the default local path — partitioning only reorders float summation;
- the mechanism itself: a persisted repartition(k, key) frame joins on
  that key with no Exchange above its InMemoryTableScan, while the same
  frame localCheckpointed DOES get re-exchanged (why persist was chosen);
- the switch is the session conf ``spark.graphsense.prepartitionStatic``
  alone (true / false / unset; an explicit false is a hard veto), and
  the retired env spellings warn;
- every pin is released: on return, when the pin's own materializing
  ``count`` fails, and when the loop raises mid-way;
- degenerate arguments are rejected before anything is checkpointed or
  pinned.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyspark.sql.functions as F
import pytest

from graphsense_blocksci_spark.operators import graph

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def prepartition(spark):
    """Setter for the session conf ``spark.graphsense.prepartitionStatic``
    (None unsets it); the key is unset again after the test."""
    key = "spark.graphsense.prepartitionStatic"

    def set_(value):
        if value is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, value)

    yield set_
    spark.conf.unset(key)


def _cached_entries(spark) -> int:
    """Persisted frames registered in the session's SQL CacheManager
    (DataFrame.persist registers there; localCheckpoint RDDs do not)."""
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


EDGES = [
    (1, 2),
    (2, 3),
    (3, 1),
    (3, 4),
    (4, 4),
    (5, 1),
    (6, 2),
    (6, 7),
    (7, 6),
]


def _rank_map(df):
    return {r["node"]: r["rank"] for r in df.collect()}


def test_pagerank_prepartitioned_path_matches_default(spark, monkeypatch):
    """Forcing the pre-partitioned static-frame path (threshold 1) must
    reproduce the default path's ranks exactly up to float summation
    order — same nodes, same values within 1e-12."""
    df = spark.createDataFrame(EDGES, "src: long, dst: long")
    base = _rank_map(graph.pagerank(df, iterations=8))
    monkeypatch.setattr(graph, "_PREPARTITION_MIN_NODES", 1)
    pp = _rank_map(graph.pagerank(df, iterations=8))
    assert set(base) == set(pp)
    for node, r in base.items():
        assert abs(r - pp[node]) < 1e-12, node
    assert abs(sum(pp.values()) - 1.0) < 1e-9


def test_personalized_pagerank_prepartitioned_path_matches_default(
    spark, monkeypatch
):
    df = spark.createDataFrame(EDGES, "src: long, dst: long")
    seeds = spark.createDataFrame([(1,), (6,)], "node: long")
    base = _rank_map(graph.pagerank(df, iterations=8, seeds=seeds))
    monkeypatch.setattr(graph, "_PREPARTITION_MIN_NODES", 1)
    pp = _rank_map(graph.pagerank(df, iterations=8, seeds=seeds))
    assert set(base) == set(pp)
    for node, r in base.items():
        assert abs(r - pp[node]) < 1e-12, node
    assert abs(sum(pp.values()) - 1.0) < 1e-9


def test_static_pin_profile_matches_default_across_operators(spark, prepartition):
    """With the cluster profile forced on
    (spark.graphsense.prepartitionStatic=true), every operator that
    pins its loop-static frame must return EXACTLY the rows of the
    default local path — these are integer/exact-label frames, so set
    equality is the contract."""
    edges = spark.createDataFrame(EDGES, "src: long, dst: long")
    seeds = spark.createDataFrame([(1,), (6,)], "node: long")
    wedges = spark.createDataFrame(
        [(u, v, (u * 7 + v) % 5 + 1) for u, v in EDGES],
        "src: long, dst: long, w: long",
    )

    def snap():
        return {
            "bfs": {
                (r["node"], r["hops"])
                for r in graph.bfs_reachability(edges, seeds, 4).collect()
            },
            "msbfs": {
                (r["source"], r["node"], r["hops"])
                for r in graph.multi_source_bfs(edges, seeds, 4).collect()
            },
            "paths": {
                (r["source"], r["node"], r["dist"], r["sigma"])
                for r in graph.bfs_path_counts(edges, seeds, 4).collect()
            },
            "sp": {
                (r["node"], r["dist"])
                for r in graph.shortest_paths(wedges, seeds, 4).collect()
            },
            "lpa": {
                (r["node"], r["label"])
                for r in graph.label_propagation(edges, iterations=3).collect()
            },
            "walks": {
                (r["seed"], r["walk_id"], r["path"])
                for r in graph.random_walks(edges, seeds, 4).collect()
            },
            "scc": {
                (r["node"], r["component"])
                for r in graph.strongly_connected_components(edges).collect()
            },
            "btw": {
                (r["node"], round(r["betweenness"], 9))
                for r in graph.betweenness_sampled(edges, seeds, 3).collect()
            },
        }

    base = snap()
    prepartition("true")
    pinned = snap()
    for key in base:
        assert base[key] == pinned[key], key


def test_persisted_repartition_keeps_partitioning_under_aqe(spark):
    """The mechanism the scale path relies on: under AQE, a persisted
    repartition(k, key) frame satisfies a same-key join's distribution
    requirement (no Exchange above its InMemoryTableScan), while the
    same frame localCheckpointed loses its partitioning and is
    re-exchanged. Pinned so a Spark upgrade that changes either
    behavior fails loudly instead of silently re-adding (or silently
    relying on) a per-round shuffle."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        prev_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold")
    except Exception:
        prev_aqe = None
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        big = spark.range(0, 2000).select(
            (F.col("id") % 97).alias("k"), F.col("id").alias("payload")
        )
        other = spark.range(0, 97).select(F.col("id").alias("k"))

        cached = big.repartition(8, "k").persist()
        cached.count()
        try:
            import re

            def _without_cached_setup(plan: str) -> str:
                """Drop the InMemoryRelation's EMBEDDED one-time setup
                plan (it prints its own Exchange twice under AQE) so
                exchange counts below see only the join's own plan —
                independent of which side the printer puts first."""
                out: list[str] = []
                skip_deeper_than: int | None = None
                for ln in plan.splitlines():
                    body_col = next(
                        (i for i, ch in enumerate(ln) if ch not in " :+-"),
                        len(ln),
                    )
                    if skip_deeper_than is not None:
                        if body_col > skip_deeper_than:
                            continue
                        skip_deeper_than = None
                    out.append(ln)
                    if "InMemoryRelation" in ln:
                        skip_deeper_than = ln.find("InMemoryRelation")
                return "\n".join(out)

            plan_cached = (
                cached.join(other.repartition(8, "k"), "k")
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            # Structural (join-side-order-independent) form: outside the
            # relation's embedded setup plan, the ONLY hashpartitioning
            # exchange is `other`'s explicit repartition — the cached
            # side satisfies the join's distribution from its
            # InMemoryTableScan with no re-exchange.
            _ex = r"Exchange hashpartitioning\(k#"
            assert "InMemoryTableScan" in plan_cached, plan_cached
            assert (
                len(re.findall(_ex, _without_cached_setup(plan_cached))) == 1
            ), plan_cached

            ckpt = big.repartition(8, "k").localCheckpoint(eager=True)
            plan_ckpt = (
                ckpt.join(other.repartition(8, "k"), "k")
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            # the checkpointed side LOSES its partitioning: its scan is
            # re-exchanged on top of `other`'s explicit repartition
            assert "Scan ExistingRDD" in plan_ckpt, plan_ckpt
            assert len(re.findall(_ex, plan_ckpt)) == 2, plan_ckpt
        finally:
            cached.unpersist(True)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        if prev_aqe is not None:
            spark.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold", prev_aqe
            )
        else:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


# ------------------------------------------------- the switch and the release


def _toy_edges(spark):
    return spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4), (6, 1)],
        ["src", "dst"],
    )


def test_prepartition_false_is_a_hard_veto(spark, prepartition):
    """An explicit 'false' must disable pinning even when the caller's
    adaptive decision says pin (ADVICE r13: previously the adaptive OR
    made 'false' unspellable); 'true' pins whatever the adaptive
    decision; unset leaves the adaptive decision in charge. A pin is
    registered in the CacheManager inside the block and gone after it."""
    df = spark.range(0, 100).select((F.col("id") % 7).alias("k"), "id")
    before = _cached_entries(spark)

    def pins(adaptive):
        with graph._pinned(df, "k", local=None, adaptive=adaptive) as out:
            pinned = _cached_entries(spark) - before
            assert (out is not df) == (pinned == 1), pinned
        assert _cached_entries(spark) == before
        return pinned

    prepartition("false")
    assert pins(adaptive=True) == 0
    prepartition("true")
    assert pins(adaptive=False) == 1
    prepartition(None)
    assert pins(adaptive=True) == 1
    assert pins(adaptive=False) == 0


def test_retired_prepartition_env_vars_warn_once():
    """The env spellings of the switch are no longer read; a process
    that sets one gets a single UserWarning at import naming the conf
    key, and a process that sets neither gets none."""
    probe = (
        "import importlib, json, warnings\n"
        "with warnings.catch_warnings(record=True) as w:\n"
        "    warnings.simplefilter('always')\n"
        "    importlib.import_module('graphsense_blocksci_spark.operators.graph')\n"
        "    importlib.import_module('graphsense_blocksci_spark.operators.graph')\n"
        "print(json.dumps([str(x.message) for x in w if x.category is UserWarning"
        " and 'PREPARTITION' in str(x.message)]))\n"
    )
    base = {
        k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_PREPARTITION")
    }
    for extra in (
        {"SPARK_GRAFT_PREPARTITION_STATIC": "1"},
        {"SPARK_GRAFT_PREPARTITION_MIN_NODES": "0"},
        {},
    ):
        out = subprocess.run(
            [sys.executable, "-c", probe],
            cwd=REPO,
            env={**base, **extra},
            capture_output=True,
            text=True,
            check=True,
        ).stdout
        msgs = json.loads(out.strip().splitlines()[-1])
        if extra:
            assert len(msgs) == 1, msgs
            assert "spark.graphsense.prepartitionStatic" in msgs[0]
        else:
            assert msgs == []


def test_hits_pin_parity_and_release(spark, prepartition):
    """hits under the forced cluster profile must return the exact
    integer scores of the lazy local path, and must leave no persisted
    frames behind (materialize-and-release)."""
    edges = _toy_edges(spark)
    base = {
        (r["node"], r["authority"], r["hub"])
        for r in graph.hits(edges, iterations=2).collect()
    }
    prepartition("true")
    before = _cached_entries(spark)
    pinned_df = graph.hits(edges, iterations=2)
    assert _cached_entries(spark) == before, "hits leaked persisted frames"
    pinned = {
        (r["node"], r["authority"], r["hub"]) for r in pinned_df.collect()
    }
    assert base == pinned


def test_pagerank_pin_release(spark, prepartition):
    """pagerank under the forced cluster profile pins its edge frame and
    must release it before returning."""
    edges = _toy_edges(spark)
    prepartition("true")
    before = _cached_entries(spark)
    ranks = graph.pagerank(edges, iterations=3)
    assert _cached_entries(spark) == before, "pagerank leaked persisted frames"
    assert abs(sum(r["rank"] for r in ranks.collect()) - 1.0) < 1e-9


# ------------------------------------------------------- failure injection


class _Injected(RuntimeError):
    pass


# the ten operators that pin a loop-static frame, called on (edges,
# seeds, weighted edges)
_PINNING_OPERATORS = {
    "bfs_reachability": lambda e, s, w: graph.bfs_reachability(e, s, 4),
    "multi_source_bfs": lambda e, s, w: graph.multi_source_bfs(e, s, 4),
    "bfs_path_counts": lambda e, s, w: graph.bfs_path_counts(e, s, 4),
    "shortest_paths": lambda e, s, w: graph.shortest_paths(w, s, 4),
    "random_walks": lambda e, s, w: graph.random_walks(e, s, 4),
    "label_propagation": lambda e, s, w: graph.label_propagation(e, 3),
    "pagerank": lambda e, s, w: graph.pagerank(e, iterations=3),
    "betweenness_sampled": lambda e, s, w: graph.betweenness_sampled(e, s, 3),
    "hits": lambda e, s, w: graph.hits(e, iterations=2),
    "strongly_connected_components": lambda e, s, w: (
        graph.strongly_connected_components(e)
    ),
}


@pytest.mark.parametrize(
    "op, fault",
    [(op, "first_pin_count") for op in _PINNING_OPERATORS]
    + [(op, "mid_loop") for op in _PINNING_OPERATORS]
    + [
        # the operators that hold two pins at once, or pin twice
        ("hits", "second_pin_count"),
        ("strongly_connected_components", "second_pin_count"),
        ("betweenness_sampled", "second_pin_count"),
    ],
)
def test_pinned_operator_releases_on_failure(spark, prepartition, monkeypatch, op, fault):
    """Under the cluster profile, a failure inside a pinned operator
    propagates and leaves the CacheManager as it found it. Faults: the
    pin's own materializing count (the first pin, or the second pin
    taken), and the second localCheckpoint taken while a pin is held
    (mid-loop). Spark 4's classic DataFrame overrides
    pyspark.sql.DataFrame, so the concrete class is patched."""
    edges = spark.createDataFrame(EDGES, "src: long, dst: long")
    seeds = spark.createDataFrame([(1,), (6,)], "node: long")
    wedges = spark.createDataFrame(
        [(u, v, (u * 7 + v) % 5 + 1) for u, v in EDGES],
        "src: long, dst: long, w: long",
    )
    prepartition("true")
    cls = type(spark.range(1))
    real_count, real_ckpt = cls.count, cls.localCheckpoint
    before = _cached_entries(spark)
    seen = {"pin_counts": 0, "ckpts": 0}
    failing_pin = {"first_pin_count": 1, "second_pin_count": 2}.get(fault)

    def count(self):
        if getattr(self, "is_cached", False):
            seen["pin_counts"] += 1
            if seen["pin_counts"] == failing_pin:
                raise _Injected(fault)
        return real_count(self)

    def local_checkpoint(self, *args, **kwargs):
        if fault == "mid_loop" and _cached_entries(spark) > before:
            seen["ckpts"] += 1
            if seen["ckpts"] == 2:
                raise _Injected(fault)
        return real_ckpt(self, *args, **kwargs)

    monkeypatch.setattr(cls, "count", count)
    monkeypatch.setattr(cls, "localCheckpoint", local_checkpoint)
    with pytest.raises(_Injected):
        _PINNING_OPERATORS[op](edges, seeds, wedges).collect()
    monkeypatch.undo()
    assert _cached_entries(spark) == before, f"{op} leaked after {fault}"


# --------------------------------------------------- degenerate arguments


def test_hits_zero_iterations_rejected_under_cluster_profile(spark, prepartition):
    """iterations=0 fails with ValueError before anything is pinned,
    not with an AttributeError from the materialize-and-release step."""
    prepartition("true")
    before = _cached_entries(spark)
    with pytest.raises(ValueError, match="iterations must be >= 1"):
        graph.hits(_toy_edges(spark), iterations=0)
    assert _cached_entries(spark) == before


def test_pagerank_zero_iterations_rejected_under_cluster_profile(spark, prepartition):
    """pagerank validates iterations at entry: under the cluster profile
    nothing is checkpointed or pinned before the ValueError."""
    prepartition("true")
    before = _cached_entries(spark)
    with pytest.raises(ValueError, match="iterations must be >= 1"):
        graph.pagerank(_toy_edges(spark), iterations=0)
    assert _cached_entries(spark) == before


def test_label_propagation_zero_iterations_rejected(spark):
    with pytest.raises(ValueError, match="iterations must be >= 1"):
        graph.label_propagation(_toy_edges(spark), iterations=0)


@pytest.mark.parametrize(
    "op, match",
    [
        ("bfs_reachability", "max_hops must be >= 0"),
        ("multi_source_bfs", "max_hops must be >= 0"),
        ("bfs_path_counts", "max_hops must be >= 0"),
        ("betweenness_sampled", "max_hops must be >= 0"),
        ("shortest_paths", "max_hops must be >= 0"),
        ("random_walks_length", "walk_length and n_walks must be >= 1"),
        ("random_walks_count", "walk_length and n_walks must be >= 1"),
        ("kcore", "rounds must be >= 0"),
        ("louvain_sub_rounds", "sub_rounds must be >= 0 and levels >= 1"),
        ("louvain_levels", "sub_rounds must be >= 0 and levels >= 1"),
        ("minimum_spanning_forest", "max_rounds must be >= 1"),
        ("strongly_connected_components", "max_rounds must be >= 1"),
        ("ancestor_closure", "max_doublings must be >= 1"),
        ("connected_components", "max_iterations must be >= 1"),
    ],
)
def test_degenerate_arguments_rejected_before_any_job(
    spark, prepartition, monkeypatch, op, match
):
    """Each rejected argument raises ValueError under the cluster
    profile before any frame is checkpointed, counted or pinned."""
    edges = _toy_edges(spark)
    seeds = spark.createDataFrame([(1,)], "node: long")
    calls = {
        "bfs_reachability": lambda: graph.bfs_reachability(edges, seeds, -1),
        "multi_source_bfs": lambda: graph.multi_source_bfs(edges, seeds, -1),
        "bfs_path_counts": lambda: graph.bfs_path_counts(edges, seeds, -1),
        "betweenness_sampled": lambda: graph.betweenness_sampled(edges, seeds, -1),
        "shortest_paths": lambda: graph.shortest_paths(
            edges.withColumn("w", F.lit(1)), seeds, -1
        ),
        "random_walks_length": lambda: graph.random_walks(edges, seeds, 0),
        "random_walks_count": lambda: graph.random_walks(edges, seeds, 3, n_walks=0),
        "kcore": lambda: graph.kcore(edges, k=2, rounds=-1),
        "louvain_sub_rounds": lambda: graph.louvain(edges, sub_rounds=-1),
        "louvain_levels": lambda: graph.louvain(edges, levels=0),
        "minimum_spanning_forest": lambda: graph.minimum_spanning_forest(
            edges, max_rounds=0
        ),
        "strongly_connected_components": lambda: (
            graph.strongly_connected_components(edges, max_rounds=0)
        ),
        "ancestor_closure": lambda: graph.ancestor_closure(
            edges, src="src", dst="dst", max_doublings=0
        ),
        "connected_components": lambda: graph.connected_components(
            edges, max_iterations=0
        ),
    }
    prepartition("true")
    cls = type(edges)

    def no_job(*args, **kwargs):
        raise AssertionError("a job ran before the argument check")

    for name in ("count", "localCheckpoint", "persist", "checkpoint", "collect"):
        monkeypatch.setattr(cls, name, no_job)
    with pytest.raises(ValueError, match=match):
        calls[op]()
