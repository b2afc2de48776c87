"""k-means / SemDeDup operator tests: numpy parity for the Lloyd
iterations (the one non-oracle-able float path), invariants for the
E-step and SemDeDup keep set."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from graphsense_blocksci_spark.operators.clustering import (
    kmeans_assign,
    kmeans_lloyd,
    seed_centroids,
    semdedup,
)
from graphsense_blocksci_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"
K = 10


def _embeddings_np(spark):
    rows = (
        load_table(spark, SF, "embeddings")
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in rows])
    E = np.array([[float(x) for x in r["embedding"]] for r in rows])
    return ids, E


def _lloyd_np(ids, E, k, n_iter):
    C = E[ids < k].copy()
    cids = np.sort(ids[ids < k])
    for _ in range(n_iter):
        d = ((E[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        a = d.argmin(1)
        for j in range(k):
            if (a == j).any():
                C[j] = E[a == j].mean(0)
    d = ((E[:, None, :] - C[None, :, :]) ** 2).sum(-1)
    return cids[d.argmin(1)], d.min(1)


def test_lloyd_numpy_parity(spark):
    ids, E = _embeddings_np(spark)
    exp_cl, exp_d = _lloyd_np(ids, E, K, 3)
    got = {
        r["vec_id"]: (r["cluster_id"], r["dist_sq"])
        for r in kmeans_lloyd(
            load_table(spark, SF, "embeddings"), k=K, n_iter=3
        ).collect()
    }
    assert len(got) == len(ids)
    for i, vid in enumerate(ids):
        cl, d = got[vid]
        assert cl == exp_cl[i], f"vec {vid}: cluster {cl} != {exp_cl[i]}"
        assert d == pytest.approx(exp_d[i], abs=1e-9)


def test_assign_every_vector_once(spark):
    emb = load_table(spark, SF, "embeddings")
    asg = kmeans_assign(emb, seed_centroids(emb, K))
    n = emb.count()
    assert asg.count() == n
    assert asg.select("vec_id").distinct().count() == n
    assert asg.filter(
        (F.col("cluster_id") < 0) | (F.col("cluster_id") >= K)
    ).count() == 0


def test_semdedup_keeps_smallest_of_each_dup_pair(spark):
    emb = load_table(spark, SF, "embeddings")
    out = semdedup(emb, k=K, threshold=0.2).collect()
    by_id = {r["vec_id"]: r for r in out}
    assert len(by_id) == emb.count()
    # the smallest id of every cluster can never be dropped
    smallest = {}
    for r in out:
        c = r["cluster_id"]
        if c not in smallest or r["vec_id"] < smallest[c]:
            smallest[c] = r["vec_id"]
    for c, vid in smallest.items():
        assert by_id[vid]["keep"], f"cluster {c} smallest id {vid} dropped"


def test_semdedup_max_cluster_disables_pairing(spark):
    emb = load_table(spark, SF, "embeddings")
    out = semdedup(emb, k=K, threshold=0.0, max_cluster=1)
    # every cluster is larger than 1 -> no pairing anywhere -> all kept
    assert out.filter(~F.col("keep")).count() == 0


@pytest.mark.parametrize("k, n_iter", [(0, 3), (3, -1)])
def test_lloyd_rejects_degenerate_arguments_before_any_job(spark, monkeypatch, k, n_iter):
    df = spark.createDataFrame([(0, [0.0, 1.0])], "vec_id long, embedding array<double>")

    def no_job(*args, **kwargs):
        raise AssertionError("a job ran before the argument check")

    for name in ("first", "collect", "count", "localCheckpoint"):
        monkeypatch.setattr(type(df), name, no_job)
    with pytest.raises(ValueError, match="k >= 1 and n_iter >= 0"):
        kmeans_lloyd(df, k=k, n_iter=n_iter)
