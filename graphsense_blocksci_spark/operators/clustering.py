"""Distributed k-means over the embeddings table: E-step assignment,
Lloyd iterations, and SemDeDup-style cluster-local near-dedup.

Training-data curation pipelines cluster embeddings to (a) bucket a
corpus into semantic shards for mixture control, (b) prune
semantically redundant documents (SemDeDup, Abbas et al. 2023:
cluster, then drop all-but-one of any within-cluster pair whose
cosine exceeds a threshold), and (c) seed IVF-style ANN cells. The
reference engine has no embedding stack (its scope is chain ETL,
`blocksci_export.py:1`), so this is extension surface like the rest
of the similarity operators.

Exactness design (same rules as operators/similarity.py):

- **Deterministic seeds, not random init.** Initial centroids are the
  embeddings with the ``k`` smallest ids — a pure filter both engines
  evaluate identically — so the E-step is a deterministic function of
  the data and is CELL-EXACT oracle-able. (Classic k-means++ random
  init would make every downstream value run-dependent.)
- **Fixed-order folds.** Squared-L2 distance is a left-to-right
  double fold over `zip_with` (≡ the oracle's explicitly expanded
  ``(e[1]-c[1])^2 + (e[2]-c[2])^2 + ...`` sum), so distances are
  bitwise identical across engines; argmin ties break on centroid id.
- **Lloyd M-step** averages are unordered float sums (Spark partial
  aggregation order is nondeterministic), so the iterative path is
  verified by a numpy-parity pytest at 1e-9 and a rows-only driver
  check — the same split the PageRank / IVF operators use.

Scale shape: the centroid side is k·dim doubles (KBs) and always
BROADCAST; assignment is a map-side projection over the corpus (one
scan, no shuffle). The M-step is one groupBy(cluster) with map-side
partial aggregation — dim fixed-width agg columns, never an explode.
Per-iteration centroid materialization is a bounded k×dim driver
collect (same probe contract as IVF's `_train_centroids`,
similarity.py:269). SemDeDup's within-cluster pairing is quadratic in
cluster size; `max_cluster` drops oversized clusters from pairing
(documented recall trade, same guard as `embedding_neardup`'s
`max_bucket`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from graphsense_blocksci_spark.operators.similarity import (
    _as_double,
    dot,
    unit_vector,
)

KMEANS_K = 10  # fixture default: matches the synthetic label count


def dist_sq(a: Column, b: Column) -> Column:
    """Fixed-order (left-to-right) squared-L2 double fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _centroid_array(
    centroids: DataFrame, cid_col: str = "cid", cvec_col: str = "ce"
) -> DataFrame:
    """Collapse (cid, ce) to a single-row array frame for broadcast."""
    return centroids.agg(
        F.collect_list(
            F.struct(F.col(cid_col).alias("cid"), F.col(cvec_col).alias("ce"))
        ).alias("_cs")
    )


def _argmin_struct(cs: Column, e: Column) -> Column:
    """Nearest-centroid (dist_sq, cid) struct: array_sort's struct
    ordering IS the (dist asc, cid asc) tie-break."""
    return F.element_at(
        F.array_sort(
            F.transform(
                cs,
                lambda c: F.struct(
                    dist_sq(e, c["ce"]).alias("dist_sq"),
                    c["cid"].cast("long").alias("cid"),
                ),
            )
        ),
        1,
    )


def kmeans_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cid_col: str = "cid",
    cvec_col: str = "ce",
) -> DataFrame:
    """E-step: nearest centroid per vector (ties -> smallest cid).

    `centroids` is (cid, ce) with ce already double-typed. The
    centroid frame is collapsed to ONE array row (k·dim doubles) and
    broadcast; the argmin is then a per-row `array_sort` over
    (dist_sq, cid) structs — struct ordering IS the (dist asc, cid
    asc) tie-break — so assignment is a ZERO-SHUFFLE projection over
    the corpus scan: no per-vector window, no exchange, nothing that
    grows with corpus size except the scan itself.
    """
    carr = _centroid_array(centroids, cid_col, cvec_col)
    best = _argmin_struct(F.col("_cs"), F.col("_e"))
    return (
        vectors.select(
            F.col(id_col).cast("long").alias(id_col),
            _as_double(F.col(vec_col)).alias("_e"),
        )
        .crossJoin(F.broadcast(carr))
        .select(id_col, best.alias("_best"))
        .select(
            id_col,
            F.col("_best.cid").alias("cluster_id"),
            F.col("_best.dist_sq").alias("dist_sq"),
        )
    )


def seed_centroids(
    vectors: DataFrame,
    k: int = KMEANS_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic init: the k smallest-id vectors as centroids."""
    return vectors.filter(F.col(id_col) < k).select(
        F.col(id_col).cast("long").alias("cid"),
        _as_double(F.col(vec_col)).alias("ce"),
    )


def kmeans_lloyd(
    vectors: DataFrame,
    k: int = KMEANS_K,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Lloyd iterations from the deterministic seed; returns the final
    assignment (vec_id, cluster_id, dist_sq).

    Each iteration: broadcast E-step (no shuffle) + one
    groupBy(cluster) M-step computing all `dim` coordinate means as
    fixed-width agg columns (map-side partials; never an explode whose
    shuffle would be dim× the corpus). New centroids (k×dim doubles)
    are collected to the driver — a bounded probe, k rows — so each
    iteration's plan stays flat instead of stacking n_iter crossJoins
    of lineage. Empty clusters keep their previous centroid (standard
    Lloyd convention).

    Float caveat: M-step means are unordered sums -> not cross-engine
    bit-exact; verified by numpy parity pytest (tests/test_clustering)
    and a rows-only driver check, like PageRank.
    """
    if k < 1 or n_iter < 0:
        raise ValueError(
            f"kmeans_lloyd: need k >= 1 and n_iter >= 0, got k={k}, n_iter={n_iter}"
        )
    if dim is None:
        row = vectors.select(F.size(F.col(vec_col)).alias("d")).first()
        if row is None:
            spark = vectors.sparkSession
            return spark.createDataFrame(
                [], f"{id_col} long, cluster_id long, dist_sq double"
            )
        dim = row["d"]
    # r13: pin the cast vector frame ONCE — every Lloyd iteration (and
    # the final assignment) re-scanned the source and re-cast the
    # arrays otherwise; caching the feature matrix across iterations is
    # the canonical iterative-ML shape (guide §5.3).
    v = vectors.select(
        F.col(id_col).cast("long").alias(id_col),
        _as_double(F.col(vec_col)).alias("_e"),
    ).localCheckpoint(eager=True)
    cents = [
        (int(r["cid"]), [float(x) for x in r["ce"]])
        for r in seed_centroids(vectors, k, id_col, vec_col).collect()
    ]
    spark = vectors.sparkSession
    for _ in range(n_iter):
        cdf = spark.createDataFrame(
            [(cid, ce) for cid, ce in cents], "cid long, ce array<double>"
        )
        # assignment + vector in one projection: the only shuffle per
        # iteration is the k-row M-step aggregate itself
        assign = v.crossJoin(F.broadcast(_centroid_array(cdf))).select(
            id_col,
            _argmin_struct(F.col("_cs"), F.col("_e"))["cid"].alias(
                "cluster_id"
            ),
            "_e",
        )
        means = assign.groupBy("cluster_id").agg(
            *[F.avg(F.col("_e")[i]).alias(f"m{i}") for i in range(dim)]
        )
        new = {
            int(r["cluster_id"]): [float(r[f"m{i}"]) for i in range(dim)]
            for r in means.collect()
        }
        cents = [(cid, new.get(cid, ce)) for cid, ce in cents]
    cdf = spark.createDataFrame(
        [(cid, ce) for cid, ce in cents], "cid long, ce array<double>"
    )
    return kmeans_assign(v, cdf, id_col=id_col, vec_col="_e")


def semdedup(
    vectors: DataFrame,
    k: int = KMEANS_K,
    threshold: float = 0.999,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster: int | None = None,
) -> DataFrame:
    """SemDeDup: cluster with the deterministic E-step, then inside
    each cluster mark every vector that has a higher-similarity twin
    with a SMALLER id (cosine >= threshold) as a drop.

    Deterministic end-to-end (seed centroids + fixed-order folds), so
    the whole composition is cell-exact oracle-able — unlike the
    banded-LSH near-dup (q46) this prunes by SEMANTIC cluster
    locality: only same-cluster pairs are ever compared, which is the
    SemDeDup paper's scale argument (pairing cost is sum of squared
    cluster sizes, not corpus²). `max_cluster` drops oversized
    clusters from pairing entirely (recall trade, documented), keeping
    the bound under data skew.

    Output: (vec_id, cluster_id, keep) for every input vector.
    """
    carr = _centroid_array(seed_centroids(vectors, k, id_col, vec_col))
    # Assignment AND unit vector in ONE zero-shuffle projection — no
    # id-join to reattach vectors to their cluster labels.
    u = (
        vectors.select(
            F.col(id_col).cast("long").alias(id_col),
            _as_double(F.col(vec_col)).alias("_e"),
            unit_vector(F.col(vec_col)).alias("_uv"),
        )
        .crossJoin(F.broadcast(carr))
        .select(
            id_col,
            _argmin_struct(F.col("_cs"), F.col("_e"))["cid"].alias(
                "cluster_id"
            ),
            "_uv",
        )
        # r13: `u` (whose projection embeds the k-fold E-step argmin)
        # feeds the final assignment frame AND both sides of the
        # within-cluster pair join; the lazy pin runs that compute once
        # (guide §2.4).
        .localCheckpoint(eager=False)
    )
    assign = u.select(id_col, "cluster_id")
    paired = u
    if max_cluster is not None:
        wc = Window.partitionBy("cluster_id")
        paired = (
            paired.withColumn("_cn", F.count(F.lit(1)).over(wc))
            .filter(F.col("_cn") <= max_cluster)
            .drop("_cn")
        )
    a = paired.select(
        F.col("cluster_id"),
        F.col(id_col).alias("_ida"),
        F.col("_uv").alias("_ua"),
    )
    b = paired.select(
        F.col("cluster_id"),
        F.col(id_col).alias("_idb"),
        F.col("_uv").alias("_ub"),
    )
    dropped = (
        a.join(b, "cluster_id")
        .filter(F.col("_idb") < F.col("_ida"))
        .select(
            F.col("_ida").alias(id_col),
            dot(F.col("_ua"), F.col("_ub")).alias("_cos"),
        )
        .filter(F.col("_cos") >= F.lit(float(threshold)))
        .select(id_col)
        .distinct()
        .withColumn("_drop", F.lit(True))
    )
    return (
        assign.select(id_col, "cluster_id")
        .join(dropped, id_col, "left")
        .select(
            id_col,
            "cluster_id",
            F.coalesce(~F.col("_drop"), F.lit(True)).alias("keep"),
        )
    )


def kmeans_lloyd_quantized(
    vectors: DataFrame,
    k: int = KMEANS_K,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    scale: int = 1_000_000,
) -> DataFrame:
    """Lloyd iterations in EXACT integer arithmetic — the hash-green
    twin of `kmeans_lloyd`.

    Coordinates quantize once to ``round(x * scale)`` int64; every
    subsequent value is an integer: E-step distances are Σ(x−c)²
    int64 sums (fits comfortably — 1e6-scaled unit-ish coords square
    to ~1e12·dim per vector), the M-step centroid is the TRUNCATED
    integer mean ``sum DIV count`` per coordinate (Spark DIV ≡ DuckDB
    // — truncation toward zero, matching on negatives), and
    assignment ties break on centroid id. Deterministic and
    engine-portable end to end, so the final assignment frame is
    cell-exact oracle-able — unlike the float twin, whose unordered
    M-step sums are only numpy-parity testable. Quantization shifts
    each centroid by < 1/scale per coordinate per iteration; the
    pytest pins the quantized assignment against the float twin's.

    Same scale shape as the float twin: broadcast E-step projection
    (zero shuffle), one groupBy(cluster) M-step with dim fixed-width
    integer agg columns (map-side partials), k×dim driver collect per
    iteration. int64 headroom: per-cluster coordinate sums reach
    ~n·scale, safe to n ~ 9e12 vectors per cluster.

    Returns (vec_id, cluster_id, dist_sq) with integer dist_sq in
    quantized units.
    """
    if dim is None:
        row = vectors.select(F.size(F.col(vec_col)).alias("d")).first()
        if row is None:
            spark = vectors.sparkSession
            return spark.createDataFrame(
                [], f"{id_col} long, cluster_id long, dist_sq long"
            )
        dim = row["d"]
    q = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * scale).cast("long"),
    )
    # r13: same cross-iteration pin as the float twin — the quantized
    # frame fed every iteration, the seed collect, and the final
    # assignment from a fresh source scan otherwise (guide §5.3).
    v = vectors.select(
        F.col(id_col).cast("long").alias(id_col), q.alias("_e")
    ).localCheckpoint(eager=True)
    cents = [
        (int(r[id_col]), [int(x) for x in r["_e"]])
        for r in v.filter(F.col(id_col) < k).collect()
    ]

    def idist(e: Column, ce: Column) -> Column:
        return F.aggregate(
            F.zip_with(e, ce, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, d: acc + d,
        )

    spark = vectors.sparkSession
    for _ in range(n_iter):
        cdf = spark.createDataFrame(
            [(cid, ce) for cid, ce in cents], "cid long, ce array<long>"
        )
        carr = cdf.agg(
            F.collect_list(F.struct("cid", "ce")).alias("_cs")
        )
        best = F.element_at(
            F.array_sort(
                F.transform(
                    F.col("_cs"),
                    lambda c: F.struct(
                        idist(F.col("_e"), c["ce"]).alias("dist_sq"),
                        c["cid"].cast("long").alias("cid"),
                    ),
                )
            ),
            1,
        )
        assign = v.crossJoin(F.broadcast(carr)).select(
            id_col, best["cid"].alias("cluster_id"), "_e"
        )
        means = assign.groupBy("cluster_id").agg(
            *[
                F.expr(f"CAST(sum(_e[{i}]) DIV count(1) AS BIGINT)").alias(
                    f"m{i}"
                )
                for i in range(dim)
            ]
        )
        new = {
            int(r["cluster_id"]): [int(r[f"m{i}"]) for i in range(dim)]
            for r in means.collect()
        }
        cents = [(cid, new.get(cid, ce)) for cid, ce in cents]
    cdf = spark.createDataFrame(
        [(cid, ce) for cid, ce in cents], "cid long, ce array<long>"
    )
    carr = cdf.agg(F.collect_list(F.struct("cid", "ce")).alias("_cs"))
    best = F.element_at(
        F.array_sort(
            F.transform(
                F.col("_cs"),
                lambda c: F.struct(
                    idist(F.col("_e"), c["ce"]).alias("dist_sq"),
                    c["cid"].cast("long").alias("cid"),
                ),
            )
        ),
        1,
    )
    return v.crossJoin(F.broadcast(carr)).select(
        id_col,
        best["cid"].alias("cluster_id"),
        best["dist_sq"].alias("dist_sq"),
    )
