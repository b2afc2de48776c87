"""Round-14 optimization pins: prepartition gate semantics and the
hits materialize-and-release pin."""
from __future__ import annotations

from pyspark.sql import functions as F

from graphsense_blocksci_spark.operators import graph


def _toy_edges(spark):
    return spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4), (6, 1)],
        ["src", "dst"],
    )


def test_prepartition_false_is_a_hard_veto(spark, monkeypatch):
    """An explicit 'false' conf/env must disable pinning even when the
    caller's adaptive decision says pin (ADVICE r13: previously the
    adaptive OR made 'false' unspellable)."""
    df = spark.range(0, 100).select((F.col("id") % 7).alias("k"), "id")

    monkeypatch.setenv("SPARK_GRAFT_PREPARTITION_STATIC", "false")
    out, pins = graph._pin_static(df, "k", local=None, adaptive=True)
    assert pins == []

    monkeypatch.setenv("SPARK_GRAFT_PREPARTITION_STATIC", "true")
    out, pins = graph._pin_static(df, "k", local=None, adaptive=False)
    assert len(pins) == 1
    for p in pins:
        p.unpersist(True)

    # unset -> the adaptive decision governs
    monkeypatch.delenv("SPARK_GRAFT_PREPARTITION_STATIC", raising=False)
    out, pins = graph._pin_static(df, "k", local=None, adaptive=True)
    assert len(pins) == 1
    for p in pins:
        p.unpersist(True)
    out, pins = graph._pin_static(df, "k", local=None, adaptive=False)
    assert pins == []


def test_pagerank_min_nodes_zero_disables_adaptive(spark, monkeypatch):
    """SPARK_GRAFT_PREPARTITION_MIN_NODES <= 0 must mean 'adaptive path
    disabled', not 'pin every graph' (ADVICE r13). Ranks are identical
    either way; this pins the decision wiring via the module constant."""
    monkeypatch.setattr(graph, "_PREPARTITION_MIN_NODES", 0)
    monkeypatch.delenv("SPARK_GRAFT_PREPARTITION_STATIC", raising=False)
    edges = _toy_edges(spark)
    base = {
        (r["node"], round(r["rank"], 12))
        for r in graph.pagerank(edges, iterations=3).collect()
    }
    # threshold 1 -> adaptive pin engages on this 6-node graph
    monkeypatch.setattr(graph, "_PREPARTITION_MIN_NODES", 1)
    pinned = {
        (r["node"], round(r["rank"], 12))
        for r in graph.pagerank(edges, iterations=3).collect()
    }
    assert base == pinned


def _cached_entries(spark) -> int:
    """Persisted frames registered in the session's SQL CacheManager
    (DataFrame.persist registers there; localCheckpoint RDDs do not)."""
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


def test_hits_pin_parity_and_release(spark, monkeypatch):
    """hits under the forced cluster profile must return the exact
    integer scores of the lazy local path, and must leave no persisted
    frames behind (materialize-and-release)."""
    edges = _toy_edges(spark)
    base = {
        (r["node"], r["authority"], r["hub"])
        for r in graph.hits(edges, iterations=2).collect()
    }
    monkeypatch.setenv("SPARK_GRAFT_PREPARTITION_STATIC", "1")
    before = _cached_entries(spark)
    pinned_df = graph.hits(edges, iterations=2)
    assert _cached_entries(spark) == before, "hits leaked persisted frames"
    pinned = {
        (r["node"], r["authority"], r["hub"]) for r in pinned_df.collect()
    }
    assert base == pinned


def test_pagerank_pin_release(spark, monkeypatch):
    """pagerank under the forced cluster profile pins its node and edge
    frames and must release both before returning."""
    edges = _toy_edges(spark)
    monkeypatch.setenv("SPARK_GRAFT_PREPARTITION_STATIC", "1")
    before = _cached_entries(spark)
    ranks = graph.pagerank(edges, iterations=3)
    assert _cached_entries(spark) == before, "pagerank leaked persisted frames"
    assert abs(sum(r["rank"] for r in ranks.collect()) - 1.0) < 1e-9


def test_hits_zero_iterations_rejected_under_cluster_profile(spark, monkeypatch):
    """iterations=0 fails with ValueError before anything is pinned,
    not with an AttributeError from the materialize-and-release step."""
    import pytest

    monkeypatch.setenv("SPARK_GRAFT_PREPARTITION_STATIC", "1")
    before = _cached_entries(spark)
    with pytest.raises(ValueError, match="iterations must be >= 1"):
        graph.hits(_toy_edges(spark), iterations=0)
    assert _cached_entries(spark) == before


def test_pagerank_zero_iterations_rejected_under_cluster_profile(spark, monkeypatch):
    """pagerank validates iterations at entry: under the cluster profile
    nothing is checkpointed or pinned before the ValueError."""
    import pytest

    monkeypatch.setenv("SPARK_GRAFT_PREPARTITION_STATIC", "1")
    before = _cached_entries(spark)
    with pytest.raises(ValueError, match="iterations must be >= 1"):
        graph.pagerank(_toy_edges(spark), iterations=0)
    assert _cached_entries(spark) == before


def test_label_propagation_zero_iterations_rejected(spark):
    import pytest

    with pytest.raises(ValueError, match="iterations must be >= 1"):
        graph.label_propagation(_toy_edges(spark), iterations=0)


def test_min_nodes_non_positive_warns_once(monkeypatch):
    """SPARK_GRAFT_PREPARTITION_MIN_NODES <= 0 once meant 'pin every
    graph'; it now disables the adaptive pin, so it warns once per
    process and names the force-on spelling."""
    import warnings

    import pytest

    monkeypatch.setattr(graph, "_PREPARTITION_MIN_NODES", 0)
    monkeypatch.setattr(graph, "_MIN_NODES_WARNED", False)
    with pytest.warns(UserWarning, match="prepartitionStatic=true"):
        assert graph._adaptive_pin(10**9) is False
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert graph._adaptive_pin(10**9) is False
