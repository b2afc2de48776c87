"""Connected components — the multi-input clustering primitive.

GraphSense's defining analytic downstream of the reference exporter is
entity clustering: addresses that co-occur as inputs of one transaction
belong to one entity, and the entity is the connected component of the
co-spend graph (the reference's export feeds exactly this step; SURVEY
§2.B context, blocksci_export.py:348-349 resolves the input addresses
this graph is built from). The exporter itself never materializes the
components — a relational engine should, so this module implements
them Spark-first.

Algorithm: alternating **large-star / small-star** (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) — the
published shuffle-efficient formulation:

- ``large-star``: every node connects its larger neighbors to the
  minimum of its closed neighborhood.
- ``small-star``: every node connects its smaller-or-equal neighbors
  (and itself) to that minimum.

Each phase is one groupBy (min per node) + one equi-join — two
shuffles per iteration — and the pair provably converges in
O(log n) iterations to a star forest where every node points at its
component's minimum id. Naive min-label propagation needs O(diameter)
iterations (a 100M-edge chain would never finish); the star algorithm
is the 100 TB-safe choice because high-degree hubs are broken up by
large-star instead of being re-shuffled whole every round.

Scale notes (connected components; the other loops state their own
shape in their docstrings):

- ``localCheckpoint(eager=True)`` after every iteration cuts the
  lineage — without it the plan doubles per round and Catalyst
  analysis time, not the data, becomes the bottleneck.
- The convergence probe collects exactly two longs per iteration
  (edge count + order-insensitive xxhash64 checksum); the edge data
  itself never reaches the driver.
- Skewed components (one giant entity — the exchange-hot-wallet case)
  are the normal regime for this algorithm: large-star splits a
  degree-d hub into d independent pointers in one round, and AQE's
  skew-join handles the transient imbalance.
"""

from __future__ import annotations

import contextlib
import os
import warnings
from typing import Callable, Iterator

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

# pagerank pins its edge frame when the node count reaches this and the
# profile switch is unset. Below it the per-round join sides are
# broadcast-sized and pre-partitioning the static frames is pure overhead
# (measured: q84-shaped sf0.01 graph, cache-partitioned statics 9.2 s vs
# 5.6 s shipped, because AQE already broadcasts the edge frame locally).
# Above it the joins are sort-merge and the static edge frame would
# otherwise be RE-SHUFFLED EVERY ROUND — pre-partitioning on the join key
# and persisting (cached plans keep their partitioning under AQE;
# localCheckpoint does not) removes that per-round exchange outright
# (guide §2.4). An explicit spark.graphsense.prepartitionStatic true or
# false overrides this threshold in both directions.
_PREPARTITION_MIN_NODES = 2_000_000

# The switch used to have env spellings; they are no longer read, so a
# process that still sets one is told once where the switch moved.
_RETIRED_ENV = ("SPARK_GRAFT_PREPARTITION_STATIC", "SPARK_GRAFT_PREPARTITION_MIN_NODES")
if any(v in os.environ for v in _RETIRED_ENV):
    warnings.warn(
        f"{' and '.join(_RETIRED_ENV)} are no longer read; set the session"
        " conf spark.graphsense.prepartitionStatic (true, false or unset)",
        UserWarning,
    )


def _shuffle_width(df: DataFrame) -> int:
    """The session's shuffle width — the scale-adaptive partition count
    used when pinning a static frame's partitioning across iterations."""
    try:
        return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return df.sparkSession.sparkContext.defaultParallelism


@contextlib.contextmanager
def _pinned(
    df: DataFrame,
    key: str,
    local: str | None = "ckpt",
    adaptive: bool = False,
) -> Iterator[DataFrame]:
    """Materialize a frame that an iterative loop equi-joins on ``key``
    EVERY round (guide §2.4 — remove shuffles outright), for the span of
    a ``with`` block.

    Cluster profile (session conf ``spark.graphsense.prepartitionStatic``
    true, shipped in ``session.cluster_conf()``): repartition on the
    join key once and persist. Cached plans keep their partitioning
    under AQE (localCheckpoint does not — pinned in
    tests/test_graph_pinning.py), so every round's sort-merge join reads
    the static side exchange-free: the frame is shuffled ONCE at setup
    instead of once per round. The pin is released when the block
    exits, also when it raises or the materializing ``count`` fails, so
    the block must materialize whatever it returns that reads the pin.

    ``adaptive``: a caller-computed pin decision (e.g. pagerank's
    node-count threshold) used only when the switch is UNSET — an
    explicit true or false always wins, so ``false`` is a hard veto on
    pinning everywhere.

    Local default (switch unset, no adaptive pin): at bench scale the
    loop-static frames are broadcast-sized, so pre-partitioning them is
    pure overhead (measured on the q84 graph: 9.2 s vs 5.6 s) and the
    shipped plans are kept. ``local='ckpt'`` yields the eager
    localCheckpoint; ``local=None`` yields the frame as-is (for loops
    that deliberately never materialized it). Results are unchanged
    either way — partitioning only moves rows between tasks.
    """
    switch = df.sparkSession.conf.get("spark.graphsense.prepartitionStatic", "")
    switch = str(switch).strip().lower()
    pin = adaptive
    if switch in ("1", "true", "yes", "on"):
        pin = True
    elif switch in ("0", "false", "no", "off"):
        pin = False
    if not pin:
        yield df.localCheckpoint(eager=True) if local == "ckpt" else df
        return
    out = df.repartition(_shuffle_width(df), key).persist()
    try:
        out.count()
        yield out
    finally:
        out.unpersist(False)


def _uv_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The ``(u, v)`` LONG edge list with null ends dropped."""
    return edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    ).filter(F.col("u").isNotNull() & F.col("v").isNotNull())


def _large_star(e: DataFrame) -> DataFrame:
    """Connect strictly-larger neighbors of every node to the minimum
    of the node's closed neighborhood."""
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("_mn"))
    mins = mins.select("u", F.least(F.col("_mn"), F.col("u")).alias("_m"))
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("_m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Direct every edge large→small, then connect each node's smaller
    neighbors (and the node itself) to the neighborhood minimum."""
    d = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = d.groupBy("u").agg(F.min("v").alias("_m"))
    joined = d.join(mins, "u")
    pairs = joined.select(F.col("v").alias("u"), F.col("_m").alias("v")).union(
        joined.select("u", F.col("_m").alias("v"))
    )
    return pairs.filter(F.col("u") != F.col("v")).distinct()


def _checksum(e: DataFrame) -> tuple[int, int]:
    # decimal(38,0) sum: an order-insensitive checksum that cannot hit
    # ANSI long-overflow no matter how many edges are summed
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
    ).first()
    return (row["n"], row["h"])


def _unionfind_components(rows) -> list[tuple[int, int]]:
    """Single-pass union-find with union-by-min + path compression:
    every root is the minimum id of its tree, so find() directly
    yields the component label the distributed path would produce."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in rows:
        ra, rb = find(row[0]), find(row[1])
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return [(x, find(x)) for x in parent]


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 25,
    max_driver_edges: int = 1 << 20,
) -> DataFrame:
    """Component id (= minimum member id) for every node that appears
    in ``edges``. Returns columns ``(node, component)``, both LONG.

    ``edges`` is undirected input — direction and duplicates are
    normalized away. Isolated nodes (no edges) are the caller's to
    union in; the edge list doesn't know about them.

    Adaptive execution, same contract as Spark's broadcast-join
    threshold: a distinct edge set within ``max_driver_edges`` (probed
    via limit(cap+1) — the driver never materializes more) is solved in
    ONE pass of union-by-min union-find instead of O(log n) distributed
    rounds, each of which costs ~4 shuffles of fixed scheduler latency.
    The deduped co-spend / verified-pair graphs this operator serves
    are typically far below the cap even when the INPUT is huge — the
    quadratic-prone raw data never reaches the driver, only the edge
    list. Larger graphs take the distributed star-contraction path
    unchanged; results are identical (min-member labels) either way.
    Set ``max_driver_edges=0`` to force the distributed path.

    The distributed iteration collects only a (count, checksum) pair
    per round; raises if the edge set hasn't stabilized after
    ``max_iterations`` (provably O(log n) — 25 covers any realistic
    graph; 2^25 nodes would converge far earlier). ``max_iterations <
    1`` raises ValueError before any job: the distributed path needs one
    round to see its fixpoint.
    """
    if max_iterations < 1:
        raise ValueError(
            "connected_components: max_iterations must be >= 1, got"
            f" {max_iterations}"
        )
    e = _uv_edges(edges, src, dst).filter(F.col("u") != F.col("v")).distinct()
    if max_driver_edges:
        probe = e.limit(max_driver_edges + 1).collect()
        if len(probe) <= max_driver_edges:
            out = _unionfind_components(probe)
            return edges.sparkSession.createDataFrame(
                out, "node long, component long"
            )
    e = e.localCheckpoint(eager=True)
    prev = _checksum(e)
    if prev[0] == 0:
        return e.select(
            F.col("u").alias("node"), F.col("v").alias("component")
        )
    for _ in range(max_iterations):
        # lazy checkpoint: the checksum probe right below is the round's
        # ONE materializing job — it both caches the new edge set and
        # returns the convergence pair (eager=True would spend a second
        # full job per round just to cache).
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        cur = _checksum(e)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} iterations"
        )
    # Converged: e is a star forest (node -> component min). Roots
    # appear only on the right side; union them in as self-labels.
    members = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = e.select(F.col("v").alias("node"), F.col("v").alias("component")).distinct()
    return members.union(roots).distinct()


def incremental_components(
    prior: DataFrame,
    new_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    comp_col: str = "component",
) -> DataFrame:
    """Delta clustering — the daily-batch pattern for entity graphs:
    given yesterday's ``(node, component)`` labels and today's NEW
    edges, produce labels identical to reclustering the full history.

    Yesterday's labels ARE a star-forest compression of every
    historical edge (each row is an edge node→component), so
    clustering `prior-as-edges ∪ new_edges` touches
    |prior nodes| + |delta| rows instead of all history — and because
    components are labeled by their MINIMUM member, the merged labels
    equal the full recompute exactly (min is preserved under union).
    Untouched singleton labels (node == component, no incident edge)
    are passed through unchanged.
    """
    lab_edges = prior.select(
        F.col(node_col).cast("long").alias("src"),
        F.col(comp_col).cast("long").alias("dst"),
    )
    merged = connected_components(
        lab_edges.unionByName(
            new_edges.select(
                F.col(src).cast("long").alias("src"),
                F.col(dst).cast("long").alias("dst"),
            )
        )
    )
    singles = (
        prior.filter(F.col(node_col) == F.col(comp_col))
        .select(F.col(node_col).cast("long").alias("node"))
        .join(merged.select("node"), "node", "left_anti")
        .select("node", F.col("node").alias("component"))
    )
    return merged.unionByName(singles)


def _directed_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The distinct ``(_src, _dst)`` LONG edge list the directed
    operators iterate over."""
    return edges.select(
        F.col(src).cast("long").alias("_src"), F.col(dst).cast("long").alias("_dst")
    ).distinct()


def _bfs_levels(
    e: DataFrame,
    level0: DataFrame,
    max_hops: int,
    expand: Callable[[DataFrame], DataFrame],
    keys: list[str],
    level_col: str,
    local: str | None,
) -> DataFrame:
    """The level loop of the BFS family (`bfs_reachability`,
    `multi_source_bfs`, `bfs_path_counts`). ``e`` is the ``(_src, _dst,
    ...)`` edge frame, pinned on ``_src`` for the loop; ``level0`` is the
    seed level with the result's columns. Per level h: ``expand`` maps
    the frontier⋈e rows (the frontier's ``node`` matched to ``_src``) to
    the next level keyed by ``keys``; rows already visited are
    anti-joined away, ``level_col`` is set to h, and the level is
    checkpointed. The loop stops at ``max_hops`` or at the first empty
    level. Returns the LAZY union of the checkpointed levels — each
    level's rows are materialized exactly once and the lineage depth
    stays bounded by ``max_hops``.
    """
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    cols = level0.columns
    with _pinned(e, "_src", local=local) as e:
        visited = level0.localCheckpoint(eager=True)
        frontier = visited
        for h in range(1, max_hops + 1):
            nxt = (
                expand(frontier.join(e, frontier.node == e._src))
                .join(visited.select(*keys), keys, "left_anti")
                .withColumn(level_col, F.lit(h).cast("long"))
                .select(*cols)
                .localCheckpoint(eager=True)
            )
            if nxt.isEmpty():
                break
            visited = visited.union(nxt)
            frontier = nxt
    return visited


def bfs_reachability(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "node",
) -> DataFrame:
    """Hop-bounded forward reachability (taint tracing): every node
    reachable from the seed set in ≤ ``max_hops`` directed steps, with
    the minimum hop count. Returns ``(node, hops)``, both LONG.

    This is GraphSense's "follow the funds" primitive: seeds are the
    tainted transactions, edges point spent-output → spending-tx, and
    the frontier expands one spend-hop per iteration.

    Scale shape: classic frontier BFS — per hop, one equi-join of the
    CURRENT FRONTIER (small) against the edge table on `src` (the only
    big shuffle; pre-bucketing edges by `src` makes it co-located),
    one anti-join against the visited set, one dedup. The visited set
    grows monotonically but stays id-only (2 longs/row);
    localCheckpoint keeps the lineage flat across hops. Early-exits
    when a frontier drains, so the loop runs min(max_hops, eccentricity)
    rounds.

    r14 (guide §2.4): the visited set is a LAZY union of the per-level
    checkpointed frontiers instead of being re-checkpointed (= fully
    re-copied, one extra job) every level — each level's rows are
    materialized exactly once, the anti-join scans the union of those
    checkpoints, and the lineage depth stays bounded by ``max_hops``.
    (A two-levels-per-plan unroll was A/B-measured ~35% SLOWER here:
    the level-h subtree is referenced three times by level h+1 and AQE
    does not reuse its exchanges across the union branches.)
    """
    seeds0 = (
        seeds.select(F.col(id_col).cast("long").alias("node"))
        .distinct()
        .withColumn("hops", F.lit(0).cast("long"))
    )
    return _bfs_levels(
        _directed_edges(edges, src, dst),
        seeds0,
        max_hops,
        lambda j: j.select(F.col("_dst").alias("node")).distinct(),
        ["node"],
        "hops",
        local=None,
    )


def label_propagation(
    edges: DataFrame,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronized deterministic label propagation (community
    detection). Returns ``(node, label)``, both LONG, for every node
    that appears in ``edges`` (treated as undirected).

    Rule per round, applied to ALL nodes simultaneously: a node's new
    label is the most frequent label among its neighbors' CURRENT
    labels, ties broken by the smallest label. This is the
    deterministic variant of Raghavan et al. 2007 (whose original is
    asynchronous + random tie-break); determinism is what makes it
    oracle-checkable and retry-idempotent. Synchronized LPA can
    oscillate on bipartite-ish structures, so the standard practice —
    followed here — is a FIXED iteration count, taking the round-k
    snapshot rather than iterating to a fixpoint.

    Unlike `connected_components` (star contraction, O(log n) rounds
    to an exact answer), LPA is a heuristic whose round count is a
    quality knob: communities denser than their cut converge in 2-3
    rounds; k rounds can never move a label further than k hops.

    Scale shape per round: one equi-join (labels ⋈ symmetric edges on
    the neighbor id) + one per-node ``mode(label, deterministic=True)``
    aggregate, which is exactly the rule above (most frequent label,
    ties to the lowest). Round 1 needs no join, because every label is
    still its node id, so it is the aggregate alone. Measured on the q84
    graph: 3 jobs and 4 stages per round with AQE on, 2 jobs and 3
    stages with it off. Both shuffles are on node ids, so co-partitioning
    edges by neighbor id keeps the join local. High-degree hubs are
    handled by mode's map-side partial (per-label counts: a degree-d hub
    contributes ≤ #distinct-neighbor-labels entries to the shuffle, not
    d). ``localCheckpoint`` per round keeps lineage flat; nothing
    reaches the driver.
    """
    if iterations < 1:
        raise ValueError(
            f"label_propagation: iterations must be >= 1, got {iterations}"
        )
    sym = _uv_edges(edges, src, dst).filter(F.col("u") != F.col("v"))
    sym = sym.union(sym.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    # loop-invariant Column expressions, built once (py4j calls per round)
    on_v = F.col("v") == F.col("node")
    out = [F.col("u").alias("node"), "label"]

    def pick(msgs: DataFrame, label: str) -> DataFrame:
        # deterministic mode = the rule above (ties to the lowest)
        return (
            msgs.groupBy("u")
            .agg(F.mode(label, deterministic=True).alias("label"))
            .select(*out)
            .localCheckpoint(eager=True)
        )

    # per-round join key is the neighbor id v (labels ⋈ sym on v)
    with _pinned(sym, "v") as sym:
        # round 1 needs no join: every neighbor's label is still its id
        labels = pick(sym, "v")
        for _ in range(iterations - 1):
            labels = pick(sym.join(labels, on_v), "label")
    return labels


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle counts over an undirected edge list. Returns
    ``(node, n_triangles)``, both LONG, one row per node that closes at
    least one triangle.

    Algorithm: degree-ordered edge orientation + wedge join (the
    MapReduce-standard formulation, Suri & Vassilvitskii WWW'11
    "Counting Triangles and the Curse of the Last Reducer"). Every
    undirected edge is directed from the lower-ranked endpoint to the
    higher, where rank = degree * 2^32 + node_id (the id term makes
    the total order deterministic and oracle-reproducible without a
    global row_number — no single-partition window anywhere). Wedges
    are the self-join of oriented edges on their source; a wedge
    (v, w) closes iff the oriented edge (v, w) exists (semi-join-shaped
    inner join back against the edge set).

    Why orientation matters at 100 TB: an unoriented wedge join
    explodes a degree-d hub into d² wedge rows. Ordering by degree
    caps every node's oriented out-degree at O(sqrt(|E|)), so the
    wedge count — the only super-linear intermediate — is bounded by
    Σ out_deg² = O(|E|^1.5) worst-case and far less on real graphs,
    with the heaviest hubs contributing wedges on their LOW-degree
    side only. Three shuffles total: degree agg, wedge join, closing
    join; the per-corner explode to per-node counts is a map-side
    explode + one count agg.
    """
    und = (
        edges.select(
            F.least(F.col(src).cast("long"), F.col(dst).cast("long")).alias("u"),
            F.greatest(F.col(src).cast("long"), F.col(dst).cast("long")).alias("v"),
        )
        .filter(F.col("u").isNotNull() & (F.col("u") != F.col("v")))
        .distinct()
    )
    sym = und.union(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("_deg"))
    rank = deg.select(
        F.col("u").alias("node"),
        (F.col("_deg") * F.lit(1 << 32) + F.col("u")).alias("_rank"),
    )
    ranked = (
        und.join(rank.withColumnRenamed("node", "u"), "u")
        .withColumnRenamed("_rank", "_ru")
        .join(
            rank.select(F.col("node").alias("v"), F.col("_rank").alias("_rv")),
            "v",
        )
    )
    # The oriented frame feeds THREE consumers (both wedge sides and the
    # closing join); without materialization the degree aggregate and both
    # rank joins re-execute per consumer (34 exchanges AQE-off). The lazy
    # localCheckpoint pins it once, restoring the documented 3-shuffle
    # shape — same treatment as modularity's `und` frame below.
    oriented = ranked.select(
        F.when(F.col("_ru") < F.col("_rv"), F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(F.col("_ru") < F.col("_rv"), F.col("v")).otherwise(F.col("u")).alias("b"),
        F.least("_ru", "_rv").alias("_ra"),
        F.greatest("_ru", "_rv").alias("_rb"),
    ).localCheckpoint(eager=False)
    e1 = oriented.select("a", F.col("b").alias("w1"), F.col("_rb").alias("_r1"))
    e2 = oriented.select("a", F.col("b").alias("w2"), F.col("_rb").alias("_r2"))
    wedges = e1.join(e2, "a").filter(F.col("_r1") < F.col("_r2"))
    closing = oriented.select(F.col("a").alias("w1"), F.col("b").alias("w2"))
    tris = wedges.join(closing, ["w1", "w2"]).select(
        F.col("a").alias("x"), F.col("w1").alias("y"), F.col("w2").alias("z")
    )
    # Map-side explode, NOT a 3-way union: a union would make `tris` a
    # triple consumer and replicate the wedge+closing join tree per
    # corner (the SMJ work runs 3x even when exchanges are reused).
    corners = tris.select(F.explode(F.array("x", "y", "z")).alias("node"))
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list. Returns
    ``(node, rank)`` where ranks sum to ~1 (dangling mass is
    redistributed uniformly each round, the standard correction).

    The weighted counterpart of `connected_components`' label passing:
    each round every node ships rank/out_degree along its out-edges,
    contributions are summed per target, and the damping mixes in the
    teleport vector t plus the mass held by dangling nodes:
    r₍ₖ₊₁₎ = d·M·rₖ + gₖ·t with gₖ = (1−d) + d·Dₖ, where Dₖ is the
    dangling mass of rₖ and r₀ = t. Dₖ is the only global value a round
    needs, and the recurrence is linear, so it is consumed once, at the
    end, instead of once per round: every rₖ is Σⱼ βₖ,ⱼ·hⱼ over the
    basis hⱼ = Mʲ·t, which needs no global value. All ``iterations``
    rounds compute h₁ … h_K as ONE lazy plan ended by one eager
    localCheckpoint; that checkpoint observes (``Dataset.observe``) the
    dangling mass mⱼ of each hⱼ as an exact ``decimal(38, 36)`` sum, so
    the observed figures, and the β solved from them, do not depend on
    the order in which task partials merge. The driver then solves the
    K-step scalar recurrence (β₀ = 1; Dₖ = Σⱼ βₖ,ⱼ·mⱼ; βₖ₊₁ = (gₖ,
    d·βₖ)) and projects rank = Σⱼ β_K,ⱼ·hⱼ. There is no driver round
    trip, broadcast literal or checkpoint between rounds.

    Plan per round, the GraphX superstep shape (one message aggregation
    per vertex; Gonzalez et al., OSDI 2014): one join of the state rows
    against the static frame ``hop`` — the distinct out-edges plus one
    self row (``_dst`` null) per node — then ONE ``groupBy`` on the
    target node that sums the contributions hⱼ(u)/deg(u) into hⱼ₊₁ and
    carries the node's out-degree and history h₀ … hⱼ through its self
    row. The state is read once per round, so the lazy plan grows
    linearly in K. Cost of the history: a node row carries up to K+1
    doubles (O(N·K) state), and the self rows shuffle O(N·K²) doubles
    over a call, besides the O(E) contributions of every round. Measured
    on the q84 graph (local[4]), a round adds 0 jobs with AQE off (the
    whole loop is one job) and at most 1 with it on, because AQE runs
    every shuffle-map stage as its own job; a q84 call runs 23 jobs,
    against 42 with a checkpoint and a dangling-mass literal per round.
    The rounds are built from SQL text (one py4j round trip per
    expression). No literal varies with the data inside the loop; the
    β literals enter only the final projection, so an unseen input
    compiles one whole-stage class for them, not one per round.

    Setup is one eager checkpoint, ``rows``: one self row per node with
    its out-degree (one aggregate over both edge ends) and seed flag,
    plus the distinct edges; both halves read the same distinct-edge
    exchange, and the node and teleport-set counts ride on the same job.
    ``hop`` is its ``(node, _dst)`` projection and the initial state its
    self rows. From ``_PREPARTITION_MIN_NODES`` nodes on (a constant; an
    explicit ``spark.graphsense.prepartitionStatic`` true or false
    overrides it) ``rows`` is repartitioned on ``node`` ONCE and
    persisted (cached plans keep their partitioning under AQE), so the
    static side of every round's join is exchange-free and a round's
    only exchange is its contribution shuffle; below it the frames are
    broadcast-sized and pre-partitioning is pure overhead (measured), so
    AQE picks the join.

    An edge with a NULL end is no graph edge: it counts toward its
    source's out-degree but carries no rank, and a NULL node gets no row.

    Float caveat (why the registry entry is rows-only): the per-node
    contribution sums are partition-order-dependent doubles, so
    cross-engine comparison is tolerance-based (pytest vs a dense numpy
    reference), not hash-exact like the integer/graph oracles.

    ``seeds`` (a frame with a ``node`` column) switches to
    PERSONALIZED PageRank: the teleport mass (1-d) and the dangling
    return both land uniformly on the seed set instead of all nodes —
    the standard random-walk-with-restart relevance score. Only t
    changes (uniform over the seeds, 0 elsewhere; it is also the initial
    rank), so the plan is the same as a plain call's.
    """
    if iterations < 1:
        raise ValueError(f"pagerank: iterations must be >= 1, got {iterations}")
    e = _directed_edges(edges, src, dst)
    # every node with its out-degree (_deg, null for a dangling node): one
    # aggregate over both edge ends
    nodes = (
        e.selectExpr("_src AS node", "1 AS _out")
        .union(e.selectExpr("_dst AS node", "0 AS _out"))
        .groupBy("node")
        .agg(F.expr("nullif(sum(_out), 0) AS _deg"))
    )
    if seeds is not None:
        nodes = nodes.join(
            F.broadcast(
                seeds.selectExpr("CAST(node AS BIGINT) AS node")
                .distinct()
                .selectExpr("node", "true AS _is_seed")
            ),
            "node",
            "left",
        ).selectExpr("node", "_deg", "coalesce(_is_seed, false) AS _is_seed")
    else:
        nodes = nodes.selectExpr("node", "_deg", "true AS _is_seed")
    # One frame holds one self row (_dst null) per node with its attributes
    # and the distinct edges; both halves read the same distinct-edge
    # exchange, which the plan computes once. The node and teleport-set
    # counts ride on its checkpoint job (Dataset.observe).
    setup = Observation()
    rows = (
        nodes.selectExpr("node", "CAST(NULL AS BIGINT) AS _dst", "_deg", "_is_seed")
        .union(e.selectExpr("_src", "_dst", "NULL", "NULL"))
        .observe(
            setup,
            F.expr("count_if(_dst IS NULL) AS n"),
            F.expr("count_if(_is_seed) AS n_tele"),
        )
        .localCheckpoint(eager=True)
    )
    counts = setup.get
    if counts["n"] == 0:
        return rows.selectExpr("node", "0D AS rank")
    n_tele = counts["n_tele"]
    if n_tele == 0:
        raise ValueError("personalized pagerank: no seed appears in the graph")
    # Scale-adaptive static-frame layout (guide §2.4): at cluster scale the
    # per-round state⋈hop join is a sort-merge join, so the STATIC hop
    # frame would be re-shuffled every round; pre-partitioning the rows on
    # the join key, persisted so the partitioning survives AQE, makes the
    # static side of every round's join exchange-free. The initial state
    # is read from the same pinned rows and every later state arrives
    # partitioned on node by the previous round's aggregate, so a round's
    # only exchange is its contribution shuffle. Below the threshold this
    # is pure overhead (measured — see _PREPARTITION_MIN_NODES); an
    # explicit spark.graphsense.prepartitionStatic overrides the threshold
    # either way. Partitioning only reorders float summation within the
    # same per-node groups, and the parity tests pin both paths to the
    # dense reference. The final checkpoint is taken inside the block, so
    # the result no longer reads the pinned frame once the block exits.
    with _pinned(
        rows, "node", local=None, adaptive=counts["n"] >= _PREPARTITION_MIN_NODES
    ) as rows:
        hop = rows.select("node", "_dst")
        state = rows.where("_dst IS NULL").selectExpr(
            "node", "_deg", f"IF(_is_seed, {1.0 / n_tele!r}D, 0D) AS _h0"
        )
        # Each round is built from SQL text (functions/sqltext.py: one py4j
        # round trip per expression instead of one per Column node), and
        # the carried history's aggregates are built once. A joined self
        # row (_dst null) brings its node's _deg and h_0..h_j to its own
        # group; an edge row brings one contribution h_j(u)/deg(u) to _dst.
        to = F.expr("coalesce(_dst, node) AS node")
        keep = [F.expr("max(IF(_dst IS NULL, _deg, NULL)) AS _deg")]
        for j in range(iterations):
            keep.append(F.expr(f"max(IF(_dst IS NULL, _h{j}, NULL)) AS _h{j}"))
            step = F.expr(f"sum(IF(_dst IS NULL, NULL, _h{j} / _deg)) AS _h{j + 1}")
            state = state.join(hop, "node").groupBy(to).agg(step, *keep)
        held = Observation()
        state = state.observe(
            held,
            *(
                F.expr(f"sum(IF(_deg IS NULL, CAST(_h{j} AS DECIMAL(38, 36)), NULL)) AS m{j}")
                for j in range(iterations)
            ),
        ).localCheckpoint(eager=True)
        masses = held.get
        m = [float(masses[f"m{j}"] or 0) for j in range(iterations)]
    # r_k = Σ_j beta[j]·h_j; a round shifts the basis one step (times d)
    # and adds g_k·t = g_k·h_0
    beta = [1.0]
    for _ in range(iterations):
        gain = (1.0 - damping) + damping * sum(b * mj for b, mj in zip(beta, m))
        beta = [gain] + [damping * b for b in beta]
    rank = " + ".join(f"{b!r}D * coalesce(_h{j}, 0D)" for j, b in enumerate(beta))
    return state.selectExpr("node", f"{rank} AS rank")


def shortest_paths(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    id_col: str = "node",
) -> DataFrame:
    """Hop-bounded weighted single-source(-set) shortest paths
    (distributed Bellman-Ford). Returns ``(node, dist)`` — the minimum
    total INTEGER edge weight over any directed path of ≤ ``max_hops``
    edges from the seed set. Seeds have dist 0.

    The weighted generalization of `bfs_reachability` ("follow the
    funds" with a cost: fee-weighted hops, latency-weighted routes).
    Integer weights keep min() exact, so the result is oracle-checkable
    cell-exact against a recursive-CTE min aggregation — unlike
    float-summing PageRank.

    Scale shape per round: relax ONLY the frontier (nodes whose dist
    improved last round) against the edge table — one equi-join on
    `src` (co-locatable by pre-bucketing edges), one (node, min)
    aggregate, one join against current dists to keep improvements.
    The frontier shrinks as distances settle (early-exit when it
    drains), and the dist frame stays 2 longs/row. localCheckpoint per
    round keeps lineage flat; only the empty-frontier probe reaches
    the driver.

    r14 note: a two-rounds-per-plan unroll and a lazy dist-merge were
    both considered and NOT shipped — the BFS-family A/B showed the
    unrolled level-h subtree recomputes across its union branches, and
    unlike the BFS visited set the dist map REPLACES rows per round
    (an anti-join), so a lazy merge would re-execute the whole merge
    chain every round. The per-round dist checkpoint stays.
    """
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    e = (
        edges.select(
            F.col(src).cast("long").alias("_src"),
            F.col(dst).cast("long").alias("_dst"),
            F.col(weight).cast("long").alias("_w"),
        )
        .groupBy("_src", "_dst")
        .agg(F.min("_w").alias("_w"))  # parallel edges: keep the cheapest
    )

    def _relax(frontier: DataFrame) -> DataFrame:
        return (
            frontier.join(e, frontier.node == e._src)
            .select(
                F.col("_dst").alias("node"),
                (F.col("dist") + F.col("_w")).alias("cand"),
            )
            .groupBy("node")
            .agg(F.min("cand").alias("cand"))
        )

    def _improvements(relaxed: DataFrame, cur: DataFrame) -> DataFrame:
        return (
            relaxed.join(cur, "node", "left")
            .filter(F.col("dist").isNull() | (F.col("cand") < F.col("dist")))
            .select("node", F.col("cand").alias("dist"))
        )

    def _merge(cur: DataFrame, imp: DataFrame) -> DataFrame:
        return cur.join(imp.select("node"), "node", "left_anti").union(imp)

    with _pinned(e, "_src") as e:
        dist = (
            seeds.select(F.col(id_col).cast("long").alias("node"))
            .distinct()
            .withColumn("dist", F.lit(0).cast("long"))
            .localCheckpoint(eager=True)
        )
        frontier = dist
        for _ in range(max_hops):
            improved = _improvements(_relax(frontier), dist).localCheckpoint(
                eager=True
            )
            if improved.isEmpty():
                break
            dist = _merge(dist, improved).localCheckpoint(eager=True)
            frontier = improved
    return dist


def kcore(
    edges: DataFrame,
    k: int,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Bounded-round k-core peeling: iteratively delete nodes with
    undirected degree < ``k``; after ``rounds`` passes return the
    surviving ``(node, degree)`` (degree within the surviving
    subgraph). With enough rounds this converges to the exact k-core —
    the dense backbone community detection and spam/bot-net analyses
    key on; a FIXED round count keeps the result deterministic and
    oracle-checkable (the oracle unrolls the same peels, as q87 does
    for LPA).

    Scale shape per round: one degree aggregate over the surviving
    symmetric edge list + two semi-joins to drop edges touching peeled
    nodes — all shuffles on node id, hub fan-in collapsed by map-side
    partial counts. The edge frame only ever shrinks; localCheckpoint
    per round keeps lineage flat, and the loop early-exits once a
    round peels nothing. ``rounds = 0`` returns the unpeeled degrees;
    ``rounds < 0`` raises ValueError before any job.
    """
    if rounds < 0:
        raise ValueError(f"kcore: rounds must be >= 0, got {rounds}")
    sym = (
        edges.select(
            F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
    )
    sym = (
        sym.union(sym.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # r13: carry the surviving-edge count across rounds — round N's
    # sym.count() is by construction round N-1's nxt.count(), so
    # re-counting it cost one full pass over the (checkpointed) edge
    # frame per round for a number we already hold (guide §2.4).
    cur_cnt = sym.count()
    for _ in range(rounds):
        deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("degree"))
        keep = deg.filter(F.col("degree") >= k).select("u")
        nxt = (
            sym.join(keep, "u", "left_semi")
            .join(keep.select(F.col("u").alias("v")), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
        nxt_cnt = nxt.count()
        # early-exit: nothing peeled -> fixpoint reached
        sym = nxt
        if nxt_cnt == cur_cnt:
            break
        cur_cnt = nxt_cnt
    return (
        sym.groupBy("u")
        .agg(F.count(F.lit(1)).alias("degree"))
        .select(F.col("u").alias("node"), F.col("degree").cast("long").alias("degree"))
    )


def random_walks(
    edges: DataFrame,
    seeds: DataFrame,
    walk_length: int,
    n_walks: int = 3,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "node",
) -> DataFrame:
    """Deterministic hash-driven random walks — the DeepWalk/node2vec
    corpus generator, with the same rand()-is-wrong-at-scale fix as
    operators/sampling.py: the "random" neighbor choice at (walk,
    step) is the out-neighbor minimizing the repo's 28-bit md5 prefix
    of ``walk_id|step|neighbor``, so retries, backfills and the DuckDB
    oracle reproduce identical walks (true RNG walks cannot be
    oracle-checked and resample on every task retry).

    Returns ``(seed, walk_id, path)`` — path the comma-joined node
    sequence (arrays stringified per repo convention). A walk reaching
    a sink node stops early and keeps its shorter path.

    Scale shape per step: ONE equi-join of the walk frame (|seeds| ×
    n_walks rows, constant) against the edge table on the current
    node + one min aggregate per walk — the hash tie-break rides the
    aggregate as ``min(struct(h, dst))`` (smallest hash, then smallest
    node id), so no window, no per-walk sort. localCheckpoint per step
    keeps lineage flat. Walk storage is a STRING per walk, never an
    exploded row per visited node.
    """
    if walk_length < 1 or n_walks < 1:
        raise ValueError(
            "random_walks: walk_length and n_walks must be >= 1, got"
            f" {walk_length} and {n_walks}"
        )
    e = _directed_edges(edges, src, dst)
    walks = (
        seeds.select(F.col(id_col).cast("long").alias("seed"))
        .distinct()
        .crossJoin(
            F.broadcast(
                seeds.sparkSession.range(n_walks).select(
                    F.col("id").alias("walk_id")
                )
            )
        )
        .select(
            "seed",
            "walk_id",
            F.col("seed").alias("cur"),
            F.col("seed").cast("string").alias("path"),
        )
    )
    picked = F.col("_pick._dst")
    with _pinned(e, "_src") as e:
        for step in range(1, walk_length + 1):
            h = F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.col("walk_id").cast("string"),
                            F.lit(step).cast("string"),
                            F.col("_dst").cast("string"),
                        )
                    ),
                    1,
                    7,
                ),
                16,
                10,
            ).cast("long")
            # a walk at a sink matches no edge: _dst is null and so is
            # the pick, which leaves cur null and the path as it was
            pick = F.when(F.col("_dst").isNotNull(), F.struct(h, "_dst"))
            walks = (
                walks.join(e, walks.cur == e._src, "left")
                .groupBy("seed", "walk_id")
                .agg(F.first("path").alias("_path"), F.min(pick).alias("_pick"))
                .select(
                    "seed",
                    "walk_id",
                    picked.alias("cur"),
                    F.when(
                        picked.isNotNull(),
                        F.concat_ws(",", F.col("_path"), picked.cast("string")),
                    ).otherwise(F.col("_path")).alias("path"),
                )
                .localCheckpoint(eager=True)
            )
    return walks.select("seed", "walk_id", "path")


def multi_source_bfs(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "node",
) -> DataFrame:
    """Hop-bounded BFS from EVERY seed simultaneously: returns
    ``(source, node, hops)`` — the minimum hop count from each seed to
    each node it reaches within ``max_hops``, INCLUDING the seed
    itself at hops 0. The one-frame generalization of
    `bfs_reachability` that centrality estimators need: k seeds cost
    one shared frontier pass per hop, not k separate BFS driver loops.

    Scale shape per hop: one equi-join of the (source, node) frontier
    against the edge table on the node side + one min-dedup + one
    anti-join against the visited set — all shuffles on node id. The
    state is (source, node) pairs: bounded by k · reachable-set, the
    price of per-source distances (an unlabeled union would lose the
    per-seed attribution harmonic/closeness centrality divides by).

    r14 (guide §2.4): visited is a LAZY union of the per-hop
    checkpointed frontiers (see `bfs_reachability` — the re-copy
    checkpoint per hop bought nothing; the two-level unroll variant
    was A/B-measured slower and rejected).
    """
    seeds0 = (
        seeds.select(F.col(id_col).cast("long").alias("source"))
        .distinct()
        .select("source", F.col("source").alias("node"))
        .withColumn("hops", F.lit(0).cast("long"))
    )
    return _bfs_levels(
        _directed_edges(edges, src, dst),
        seeds0,
        max_hops,
        lambda j: j.select("source", F.col("_dst").alias("node")).distinct(),
        ["source", "node"],
        "hops",
        local=None,
    )


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Newman modularity of a given partition, per community, in exact
    integer arithmetic — the quality gauge for ANY community
    assignment (LPA labels, entity clusters, a hash partition):

        Q = Σ_c [ e_c/m − (d_c/(2m))² ]

    over the undirected simple graph (edges deduped as unordered
    pairs, self-loops dropped), where e_c = intra-community edges,
    d_c = total degree of c, m = |edges|. Multiplying through by 4m²
    keeps every term integer:  q_num_c = 4·m·e_c − d_c², and
    Q = Σ_c q_num_c / (4m²) — so the per-community rows hash-compare
    exactly, and the one float (`q_contrib`) is a single int/int
    division any engine reproduces bit-for-bit.

    Scale shape: canonicalize+dedup edges (one shuffle), one broadcast
    join of the (small) label map onto each endpoint, a |labels|-keyed
    degree aggregate and a |labels|-keyed intra-edge aggregate, plus a
    1-row m/total broadcast — no iteration, no driver collect.

    Returns (label, n_nodes, d_tot, e_in, q_num, q_contrib) — sum
    q_num over rows and divide by 4m² for total Q.
    """
    und = (
        edges.select(
            F.least(F.col(src).cast("long"), F.col(dst).cast("long")).alias(
                "a"
            ),
            F.greatest(
                F.col(src).cast("long"), F.col(dst).cast("long")
            ).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    lab = labels.select(
        F.col(node_col).cast("long").alias("n"),
        F.col(label_col).cast("long").alias("c"),
    ).distinct()
    la = lab.select(F.col("n").alias("a"), F.col("c").alias("ca"))
    lb = lab.select(F.col("n").alias("b"), F.col("c").alias("cb"))
    tagged = und.join(F.broadcast(la), "a").join(F.broadcast(lb), "b")
    m_row = und.agg(F.count(F.lit(1)).cast("long").alias("m"))
    # degree per community: each undirected edge adds 1 to both ends
    deg = (
        tagged.select(F.col("ca").alias("c"))
        .union(tagged.select(F.col("cb").alias("c")))
        .groupBy("c")
        .agg(F.count(F.lit(1)).cast("long").alias("d_tot"))
    )
    e_in = (
        tagged.filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("c"))
        .agg(F.count(F.lit(1)).cast("long").alias("e_in"))
    )
    nodes = lab.groupBy("c").agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    out = (
        nodes.join(deg, "c", "left")
        .join(e_in, "c", "left")
        .na.fill({"d_tot": 0, "e_in": 0})
        .crossJoin(F.broadcast(m_row))
    )
    return out.select(
        F.col("c").alias("label"),
        "n_nodes",
        "d_tot",
        "e_in",
        (4 * F.col("m") * F.col("e_in") - F.col("d_tot") * F.col("d_tot"))
        .cast("long")
        .alias("q_num"),
        (
            (
                4 * F.col("m") * F.col("e_in")
                - F.col("d_tot") * F.col("d_tot")
            ).cast("double")
            / (4 * F.col("m") * F.col("m")).cast("double")
        ).alias("q_contrib"),
    )


def two_hop_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Distinct 2-hop neighborhood size per node (friends-of-friends
    reach): nodes y reachable as src→x→y with y ≠ src and y NOT a
    direct neighbor — the expansion metric feature engineering and
    link-prediction baselines use.

    Scale shape: one self-join on the mid node, one distinct, one
    anti-join against the direct edge set, one count aggregate — all
    shuffles on node id. The mid-node join fans out quadratically on
    hub nodes (a hub with 10⁶ in- and out-edges contributes 10¹²
    pairs); for hub-heavy graphs cap or sample hub adjacency first —
    the same `max_bucket` discipline as the LSH family. Fixture-graph
    degrees are bounded, so the exact form is the oracle path.

    Returns (node, n_two_hop).
    """
    e = (
        edges.select(
            F.col(src).cast("long").alias("s"),
            F.col(dst).cast("long").alias("d"),
        )
        .filter(F.col("s") != F.col("d"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    hop2 = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.d") == F.col("e2.s"))
        .select(F.col("e1.s").alias("s"), F.col("e2.d").alias("y"))
        .filter(F.col("s") != F.col("y"))
        .distinct()
        .join(
            e.select(F.col("s"), F.col("d").alias("y")),
            ["s", "y"],
            "left_anti",
        )
    )
    return hop2.groupBy(F.col("s").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("n_two_hop")
    )


def _louvain_local_move(
    und: DataFrame, sub_rounds: int, two_m: DataFrame
) -> DataFrame:
    """One Louvain level: parity-alternating synchronous local moves
    over the canonical undirected weighted graph ``und (a, b, w)``
    (self-loops carry contracted intra-community weight). Returns
    (node, comm) with comm canonicalized to the min member node id.

    Gain comparisons are EXACT integers scaled by 2m:
    score(c) = 2m·k_{i,c} − k_i·Σtot(c\\{i}); i moves to the argmax
    neighboring community only if strictly better than staying —
    ties prefer staying, then the smallest community id, so every
    round is deterministic. Parity alternation (only nodes with
    node%2 == round%2 move) is the standard distributed-Louvain
    safeguard against synchronous two-node swap oscillation.
    """
    adj = und.filter(F.col("a") != F.col("b"))
    adj = adj.select(
        F.col("a").alias("i"), F.col("b").alias("j"), "w"
    ).union(adj.select(F.col("b").alias("i"), F.col("a").alias("j"), "w"))
    selfw = und.filter(F.col("a") == F.col("b")).select(
        F.col("a").alias("i"), F.col("w").alias("ws")
    )
    nodes = (
        und.select(F.col("a").alias("i"))
        .union(und.select(F.col("b").alias("i")))
        .distinct()
    )
    k = (
        nodes.join(
            adj.groupBy("i").agg(F.sum("w").alias("_s")), "i", "left"
        )
        .join(selfw, "i", "left")
        .select(
            "i",
            (
                F.coalesce(F.col("_s"), F.lit(0))
                + 2 * F.coalesce(F.col("ws"), F.lit(0))
            )
            .cast("long")
            .alias("k"),
        )
        # lazy: materializes inside the first consuming job, so a level
        # costs ONE Spark job instead of one per checkpoint (the
        # job-folding treatment that took logistic GD 5.4->4.4 s)
        .localCheckpoint(eager=False)
    )
    # r13 optimization (guide §2.4): k_i is STATIC within a level, so
    # carry it inside the labels frame instead of re-joining `k` every
    # sub-round — sigma becomes a plain aggregate (no labels⋈k join)
    # and the scoring join chain drops its ⋈k leg: two node-keyed
    # shuffles fewer per sub-round at every scale, identical integers.
    labels = k.select("i", F.col("i").alias("comm"), "k")
    for r in range(sub_rounds):
        sigma = labels.groupBy("comm").agg(
            F.sum("k").cast("long").alias("sig")
        )
        cur = labels.select("i", F.col("comm").alias("cur"), "k")
        movers = cur.filter(F.col("i") % 2 == r % 2)
        # only this round's parity class can move — filter BEFORE the
        # neighbor join so the widest shuffle carries half the edges.
        # r13 optimization (guide §2.4): the stay option rides the SAME
        # join as the real neighbors — a zero-weight virtual self-edge
        # per mover maps through labels to (i, cur, +0), so the old
        # union + SECOND (i, cj) aggregate ("cand") disappears; one
        # (i, cj)-keyed shuffle per sub-round instead of two. Values
        # are unchanged: sum(w)+0 == max(kc, 0) for kc >= 0.
        cand = (
            adj.filter(F.col("i") % 2 == r % 2)
            .union(
                movers.select(
                    "i", F.col("i").alias("j"), F.lit(0).cast("long")
                )
            )
            .join(
                labels.select(
                    F.col("i").alias("j"), F.col("comm").alias("cj")
                ),
                "j",
            )
            .groupBy("i", "cj")
            .agg(F.sum("w").cast("long").alias("kc"))
        )
        scored = (
            cand.join(movers, "i")
            .join(sigma.select(F.col("comm").alias("cj"), "sig"), "cj")
            .crossJoin(F.broadcast(two_m))
            .select(
                "i",
                "cj",
                (
                    2 * F.col("m") * F.col("kc")
                    - F.col("k")
                    * (
                        F.col("sig")
                        - F.when(
                            F.col("cj") == F.col("cur"), F.col("k")
                        ).otherwise(F.lit(0))
                    )
                )
                .cast("long")
                .alias("score"),
                (F.col("cj") == F.col("cur")).cast("int").alias("is_cur"),
            )
        )
        moved = scored.groupBy("i").agg(
            F.max_by(
                "cj",
                F.struct(
                    F.col("score"),
                    F.col("is_cur"),
                    (-F.col("cj")).alias("_nc"),
                ),
            ).alias("comm")
        )
        labels = (
            labels.join(moved.withColumnRenamed("comm", "_new"), "i", "left")
            .select(
                "i",
                F.coalesce(F.col("_new"), F.col("comm")).alias("comm"),
                "k",
            )
            .localCheckpoint(eager=False)
        )
    canon = labels.groupBy("comm").agg(F.min("i").alias("canon"))
    return labels.join(canon, "comm").select(
        F.col("i").alias("node"), F.col("canon").alias("comm")
    )


def louvain(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight_col: str | None = None,
    sub_rounds: int = 4,
    levels: int = 2,
) -> DataFrame:
    """Deterministic distributed Louvain community detection
    (Blondel et al. 2008, the modularity-maximizing counterpart of
    `label_propagation`): parity-alternating local-move rounds, then
    graph contraction (communities become weighted supernodes,
    intra-community weight becomes a self-loop), repeated per level.
    Every gain comparison is an exact 2m-scaled integer and every
    tie-break is total (stay ≻ smallest community id), so the output
    is bit-reproducible across runs, retries and engines — unlike
    textbook Louvain's random node order. Returns (node, community)
    with community = min original member id.

    Quality contract (pytest-gated, using the exact-integer
    `modularity` operator): recovers planted partitions on
    clique-cluster graphs and never returns a worse-than-singleton
    partition. Like LPA, `sub_rounds`/`levels` are fixed quality
    knobs, not convergence loops — the round-k snapshot is the
    answer.

    Scale shape per sub-round: one neighbor-label join + one (node,
    community) aggregate + one |communities|-sized Σtot aggregate +
    one per-node max_by argmax — all node-id-keyed shuffles with
    map-side partials, no window, nothing at the driver. Contraction
    is one label join + one (comm,comm) aggregate. Domain bound:
    2m·k_i must stay under 2^63 (graphs to ~10^9 edges with degrees
    to ~10^6); past that, scale the score to 128-bit decimals.

    Reference parity: none — beyond-reference graph surface.

    ``sub_rounds = 0`` keeps every node in its own community;
    ``sub_rounds < 0`` or ``levels < 1`` (no level, so no labels)
    raises ValueError before any job.
    """
    if sub_rounds < 0 or levels < 1:
        raise ValueError(
            "louvain: sub_rounds must be >= 0 and levels >= 1, got"
            f" sub_rounds={sub_rounds}, levels={levels}"
        )
    w = (
        F.col(weight_col).cast("long")
        if weight_col
        else F.lit(1).cast("long")
    )
    und = (
        edges.select(
            F.least(
                F.col(src).cast("long"), F.col(dst).cast("long")
            ).alias("a"),
            F.greatest(
                F.col(src).cast("long"), F.col(dst).cast("long")
            ).alias("b"),
            w.alias("w"),
        )
        .groupBy("a", "b")
        .agg(F.sum("w").cast("long").alias("w"))
        .localCheckpoint(eager=False)
    )
    # 2m is invariant across levels (contraction preserves total weight)
    two_m = (
        und.select(
            (
                F.when(F.col("a") == F.col("b"), 2 * F.col("w")).otherwise(
                    2 * F.col("w")
                )
            ).alias("_t")
        )
        .agg(F.sum("_t").cast("long").alias("m"))
        .localCheckpoint(eager=False)
    )
    mapping: DataFrame | None = None
    cur = und
    for lvl in range(levels):
        labels = _louvain_local_move(cur, sub_rounds, two_m)
        if mapping is None:
            mapping = labels.select(
                "node", F.col("comm").alias("community")
            )
        else:
            mapping = (
                mapping.join(
                    labels.withColumnRenamed("node", "community"),
                    "community",
                )
                .select("node", F.col("comm").alias("community"))
            )
        mapping = mapping.localCheckpoint(eager=False)
        if lvl < levels - 1:
            la = labels.select(
                F.col("node").alias("a"), F.col("comm").alias("ca")
            )
            lb = labels.select(
                F.col("node").alias("b"), F.col("comm").alias("cb")
            )
            cur = (
                cur.join(la, "a")
                .join(lb, "b")
                .select(
                    F.least("ca", "cb").alias("a"),
                    F.greatest("ca", "cb").alias("b"),
                    "w",
                )
                .groupBy("a", "b")
                .agg(F.sum("w").cast("long").alias("w"))
                .localCheckpoint(eager=False)
            )
    return mapping


def bfs_path_counts(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "node",
) -> DataFrame:
    """Forward pass of Brandes' betweenness algorithm, multi-source:
    for every seed, the shortest-path DISTANCE and NUMBER OF SHORTEST
    PATHS (σ) to every node within ``max_hops``. σ is an exact
    integer — σ(w, h) = Σ over BFS-tree predecessors u of σ(u) — so
    unlike the float dependency pass this frame is oracle-checkable
    (a hop-bounded recursive path enumeration counts the same paths).

    Scale shape per hop: one frontier⋈edges equi-join + one
    (source, node) sum aggregate + one anti-join against the visited
    set — the `multi_source_bfs` plan plus a σ column riding the
    aggregate. State is (source, node) pairs with two longs.

    r14 (guide §2.4): visited is a LAZY union of the per-hop
    checkpointed frontiers (see `bfs_reachability`; the two-level
    unroll variant was A/B-measured slower and rejected).

    Returns (source, node, dist, sigma) including (s, s, 0, 1).
    """
    seeds0 = (
        seeds.select(F.col(id_col).cast("long").alias("source"))
        .distinct()
        .select(
            "source",
            F.col("source").alias("node"),
            F.lit(0).cast("long").alias("dist"),
            F.lit(1).cast("long").alias("sigma"),
        )
    )
    return _bfs_levels(
        _directed_edges(edges, src, dst),
        seeds0,
        max_hops,
        lambda j: j.groupBy("source", F.col("_dst").alias("node")).agg(
            F.sum("sigma").cast("long").alias("sigma")
        ),
        ["source", "node"],
        "dist",
        local="ckpt",
    )


def betweenness_sampled(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "node",
) -> DataFrame:
    """Hop-bounded sampled betweenness centrality (Brandes 2001 with
    source sampling — the standard estimator at graph scale, since
    exact betweenness is all-pairs): forward `bfs_path_counts` for
    distances and integer σ, then the backward dependency
    accumulation level by level:

        δ(v) += σ(v)/σ(w) · (1 + δ(w))   for BFS-tree edges v→w

    and betweenness(v) = Σ over sampled sources of δ(v), v ≠ source.
    The δ pass divides path counts — floats — so the query gate is
    rows-only; exactness is pytest-gated against a pure-Python
    Brandes reference (same hop bound, same seeds).

    Scale shape: 2·max_hops node-keyed joins total (forward + one
    backward join per level, deepest level first); the backward state
    is the same (source, node) frame width as the forward pass. Seeds
    are a sample — cost scales with |seeds| · reachable set, the
    estimator's dial.

    Returns (node, betweenness, n_sources).
    """
    paths = bfs_path_counts(edges, seeds, max_hops, src, dst, id_col)
    e = _directed_edges(edges, src, dst)
    # the backward pass joins on the edge HEAD (w == _dst) every level
    with _pinned(e, "_dst") as e:
        deepest = paths.agg(F.max("dist")).first()[0] or 0
        # delta starts 0 everywhere; accumulate level by level, deep first
        delta = paths.select(
            "source", "node", F.lit(0.0).alias("delta")
        ).localCheckpoint(eager=True)
        for h in range(int(deepest), 0, -1):
            w_level = (
                paths.filter(F.col("dist") == h)
                .join(delta, ["source", "node"])
                .select(
                    F.col("source").alias("src_w"),
                    F.col("node").alias("w"),
                    F.col("sigma").alias("sigma_w"),
                    F.col("delta").alias("delta_w"),
                )
            )
            v_level = paths.filter(F.col("dist") == h - 1).select(
                F.col("source").alias("src_v"),
                F.col("node").alias("v"),
                F.col("sigma").alias("sigma_v"),
            )
            contribs = (
                w_level.join(e, F.col("w") == F.col("_dst"))
                .join(
                    v_level,
                    (F.col("_src") == F.col("v"))
                    & (F.col("src_w") == F.col("src_v")),
                )
                .select(
                    F.col("src_v").alias("source"),
                    F.col("v").alias("node"),
                    (
                        F.col("sigma_v").cast("double")
                        / F.col("sigma_w").cast("double")
                        * (F.lit(1.0) + F.col("delta_w"))
                    ).alias("c"),
                )
                .groupBy("source", "node")
                .agg(F.sum("c").alias("c"))
            )
            delta = (
                delta.join(contribs, ["source", "node"], "left")
                .select(
                    "source",
                    "node",
                    (F.col("delta") + F.coalesce(F.col("c"), F.lit(0.0))).alias(
                        "delta"
                    ),
                )
                .localCheckpoint(eager=True)
            )
        n_sources = seeds.select(
            F.col(id_col).cast("long").alias("s")
        ).distinct().count()
    return (
        delta.filter(F.col("node") != F.col("source"))
        .groupBy("node")
        .agg(F.sum("delta").alias("betweenness"))
        .withColumn("n_sources", F.lit(n_sources).cast("long"))
    )


def betweenness_pair_counting(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "node",
) -> DataFrame:
    """Hop-bounded sampled betweenness via the PAIR-COUNTING identity —
    the oracle-exact twin of ``betweenness_sampled``. Brandes'
    recursive float accumulation telescopes to

        betweenness(v) = Σ over (s, t):  σ_sv · P_vt / σ_st

    where P_vt counts the shortest-path-DAG paths v→t (every shortest
    s→t path through v is a shortest s→v path × a DAG v→t path), so
    EVERYTHING is exact integer arithmetic until one division per
    DISTINCT denominator: numerators group by (v, σ_st) into exact
    LONG sums, and the final per-node value is a fixed-order
    left-associated double fold over the ≤|distinct σ| quotients
    sorted by denominator — bit-reproducible and SQL-mirrorable
    (DuckDB ``list(x ORDER BY denom)`` + ``list_reduce``), unlike the
    level-by-level float recursion whose sum order is plan-dependent.

    Scale shape: the P frame is (source, v, t) pairs inside the
    hop-truncated DAG — bounded by |seeds| × (reachable set)², the
    estimator's dial, and strictly hop-bounded; max_hops−1 self-joins
    of the DAG edge frame build it. Numerator sums can reach
    σ² · paths — LONG is ample at sampled-source scale; lift to
    DECIMAL(38,0) for adversarially dense DAGs.

    Returns (node, betweenness, n_sources) like betweenness_sampled.
    """
    paths = bfs_path_counts(edges, seeds, max_hops, src, dst, id_col)
    sp = paths.localCheckpoint(eager=True)
    e = _directed_edges(edges, src, dst)
    a, b = sp.alias("a"), sp.alias("b")
    dag = (
        a.join(e, F.col("a.node") == F.col("_src"))
        .join(
            b,
            (F.col("b.source") == F.col("a.source"))
            & (F.col("b.node") == F.col("_dst"))
            & (F.col("b.dist") == F.col("a.dist") + 1),
        )
        .select(
            F.col("a.source").alias("source"),
            F.col("a.node").alias("u"),
            F.col("b.node").alias("w"),
        )
        .localCheckpoint(eager=True)
    )
    p1 = dag.select(
        "source",
        F.col("u").alias("v"),
        F.col("w").alias("t"),
        F.lit(1).cast("long").alias("p"),
    )
    acc, cur = p1, p1
    for _ in range(max_hops - 1):
        cur = (
            dag.join(
                cur.select(
                    F.col("source").alias("_s"),
                    F.col("v").alias("_v"),
                    "t",
                    "p",
                ),
                (F.col("source") == F.col("_s")) & (F.col("w") == F.col("_v")),
            )
            .select("source", F.col("u").alias("v"), "t", "p")
        )
        acc = acc.unionByName(cur)
    pall = acc.groupBy("source", "v", "t").agg(
        F.sum("p").cast("long").alias("p")
    )
    sv = sp.select("source", F.col("node").alias("v"), F.col("sigma").alias("_sv"))
    st = sp.select("source", F.col("node").alias("t"), F.col("sigma").alias("denom"))
    terms = (
        pall.filter(F.col("v") != F.col("source"))
        .join(sv, ["source", "v"])
        .join(st, ["source", "t"])
        .select(
            F.col("v").alias("node"),
            (F.col("_sv") * F.col("p")).cast("long").alias("num"),
            "denom",
        )
    )
    folded = (
        terms.groupBy("node", "denom")
        .agg(F.sum("num").cast("long").alias("s"))
        .groupBy("node")
        .agg(
            F.aggregate(
                F.sort_array(F.collect_list(F.struct("denom", "s"))),
                F.lit(0.0),
                lambda a_, x: a_
                + x["s"].cast("double") / x["denom"].cast("double"),
            ).alias("betweenness")
        )
    )
    n_sources = (
        seeds.select(F.col(id_col).cast("long").alias("s")).distinct().count()
    )
    return (
        sp.filter(F.col("node") != F.col("source"))
        .select("node")
        .distinct()
        .join(folded, "node", "left")
        .select(
            "node",
            F.coalesce("betweenness", F.lit(0.0)).alias("betweenness"),
            F.lit(n_sources).cast("long").alias("n_sources"),
        )
    )


def minimum_spanning_forest(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight_col: str | None = None,
    max_rounds: int = 25,
) -> DataFrame:
    """Deterministic distributed Borůvka minimum spanning forest.
    Returns the forest edges ``(a, b, w)``, all LONG, one row per
    chosen edge (n_nodes − n_components rows total).

    Borůvka is THE MapReduce-friendly MST algorithm: every round each
    component picks its cheapest outgoing edge (all picks in one
    min_by aggregate), picked edges merge components, and the
    component count at least halves — O(log n) rounds, like the
    star-contraction CC this module is built around. Prim/Kruskal are
    inherently sequential (one global priority queue) and have no
    shuffle-efficient formulation.

    Determinism: the edge total order is (w, a, b) — with that
    tie-break the MSF is UNIQUE, so output is reproducible across
    runs, partitionings and engines (the same discipline as the
    degree*2^32+id rank in `triangle_count`).

    Plan per round: one labels join onto the (static, checkpointed)
    edge set + one per-component min_by aggregate + a component
    contraction on the PICKED edges only (≤ one edge per component —
    the adaptive `connected_components` solves that tiny graph at the
    driver long before any distributed rounds are needed). The round
    count probe collects one long. Multi-edges collapse to their min
    weight up front, so the shuffled edge set never exceeds the
    simple-graph size. ``max_rounds < 1`` raises ValueError before any
    job: even an edgeless graph takes one round to see it is done.
    """
    if max_rounds < 1:
        raise ValueError(
            f"minimum_spanning_forest: max_rounds must be >= 1, got {max_rounds}"
        )
    w = (
        F.col(weight_col).cast("long")
        if weight_col
        else F.lit(1).cast("long")
    )
    und = (
        edges.select(
            F.least(F.col(src).cast("long"), F.col(dst).cast("long")).alias("a"),
            F.greatest(F.col(src).cast("long"), F.col(dst).cast("long")).alias("b"),
            w.alias("w"),
        )
        # null-weight edges are DROPPED (not silently kept: a null w
        # survives min() but is skipped by min_by's ordering struct,
        # which would silently truncate the forest for components
        # whose only cross edges carry null weight)
        .filter(
            F.col("a").isNotNull()
            & (F.col("a") != F.col("b"))
            & F.col("w").isNotNull()
        )
        .groupBy("a", "b")
        .agg(F.min("w").alias("w"))
        .localCheckpoint(eager=True)
    )
    labels = (
        und.select(F.col("a").alias("node"))
        .union(und.select(F.col("b").alias("node")))
        .distinct()
        .select("node", F.col("node").alias("comp"))
        .localCheckpoint(eager=False)
    )
    forest: DataFrame | None = None
    for _ in range(max_rounds):
        la = labels.select(F.col("node").alias("a"), F.col("comp").alias("ca"))
        lb = labels.select(F.col("node").alias("b"), F.col("comp").alias("cb"))
        cross = (
            und.join(la, "a")
            .join(lb, "b")
            .filter(F.col("ca") != F.col("cb"))
        )
        sides = cross.select(
            F.col("ca").alias("comp"), "a", "b", "w", "ca", "cb"
        ).union(
            cross.select(F.col("cb").alias("comp"), "a", "b", "w", "ca", "cb")
        )
        # r13 optimization (guide §2.4): two per-round trims. (1) The
        # old `.distinct()` on picked cost one more exchange per round;
        # an edge picked by BOTH its endpoints' components appears
        # twice, but union-find is duplicate-tolerant and the final
        # `forest.distinct()` already dedups the output — so the
        # per-round dedup bought nothing. (2) The old emptiness probe
        # (limit(1).count()) and connected_components' own adaptive
        # driver probe each collected from picked; ONE bounded
        # limit(cap+1) collect now serves both: empty -> converged,
        # <= cap -> driver union-find (identical min-member labels),
        # > cap -> the distributed star-contraction path unchanged.
        picked = (
            sides.groupBy("comp")
            .agg(
                F.min_by(
                    F.struct("a", "b", "w", "ca", "cb"),
                    F.struct("w", "a", "b"),
                ).alias("e")
            )
            .select("e.a", "e.b", "e.w", "e.ca", "e.cb")
            .localCheckpoint(eager=False)
        )
        cap = 1 << 20
        probe = picked.select("ca", "cb").limit(cap + 1).collect()
        if not probe:
            break
        chosen = picked.select("a", "b", "w")
        forest = chosen if forest is None else forest.union(chosen)
        forest = forest.localCheckpoint(eager=False)
        if len(probe) <= cap:
            mapping = edges.sparkSession.createDataFrame(
                _unionfind_components(probe), "comp long, _new long"
            )
        else:
            mapping = connected_components(
                picked.select(
                    F.col("ca").alias("src"), F.col("cb").alias("dst")
                )
            ).select(
                F.col("node").alias("comp"), F.col("component").alias("_new")
            )
        labels = (
            labels.join(mapping, "comp", "left")
            .select(
                "node", F.coalesce(F.col("_new"), F.col("comp")).alias("comp")
            )
            .localCheckpoint(eager=False)
        )
    else:
        raise RuntimeError(
            f"minimum_spanning_forest did not converge in {max_rounds} rounds"
        )
    if forest is None:
        spark = edges.sparkSession
        return spark.createDataFrame([], "a long, b long, w long")
    return forest.distinct()


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 2,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999), UN-NORMALIZED so
    every score is an EXACT int64: starting from h0 = 1, each round
    computes a(v) = Σ_{u→v} h(u) then h(u) = Σ_{u→v} a(v) — pure
    integer sums, order-free, hash-comparable, and rebuildable by a
    plain SQL CTE chain (one join+aggregate pair per half-round).
    Normalization is the CONSUMER's divide (un-normalized scores have
    the same per-iteration ratios the normalized iteration produces,
    so rankings are identical); keep ``iterations`` small — scores
    grow like (mean degree)^(2·iterations), and int64 overflow is the
    price of exactness (~3 iterations on a degree-100 graph is the
    practical ceiling; production HITS normalizes every round and
    accepts float drift).

    Plan per half-round: one edge⋈score join + one node-keyed
    aggregate — the PageRank shuffle shape without the dangling
    correction. Multi-edges collapse first, so fan-out is the simple
    graph's.

    Returns (node, authority, hub).
    """
    if iterations < 1:
        raise ValueError(
            f"hits: iterations must be >= 1, got {iterations}"
        )
    if iterations > 16:
        # scores grow like (mean degree)^(2·iterations); int64 is the
        # documented exactness ceiling, so refuse ranges that can only
        # end in silent overflow.
        raise ValueError(
            "hits: iterations > 16 would overflow the exact-int64"
            f" contract, got {iterations}"
        )
    e = _uv_edges(edges, src, dst).distinct().localCheckpoint(eager=False)
    # r14 (guide §2.4): the a-step joins the static edge frame on u and
    # the h-step on v EVERY iteration — under the cluster profile pin
    # one copy per join key so neither half-round re-exchanges the edge
    # frame. hits returns a lazy composition, so when pins exist the
    # final a/h are eagerly materialized before the pins are released
    # (the materialize-and-release contract); the local plans stay
    # exactly the shipped lazy ones (pins are no-ops there).
    with _pinned(e, "u", local=None) as eu, _pinned(e, "v", local=None) as ev:
        nodes = (
            e.select(F.col("u").alias("node"))
            .union(e.select(F.col("v").alias("node")))
            .distinct()
            .localCheckpoint(eager=False)
        )
        h = nodes.select("node", F.lit(1).cast("long").alias("hub"))
        for _ in range(iterations):
            a = (
                eu.join(h.select(F.col("node").alias("u"), "hub"), "u")
                .groupBy(F.col("v").alias("node"))
                .agg(F.sum("hub").cast("long").alias("authority"))
            )
            a = (
                nodes.join(a, "node", "left")
                .select(
                    "node",
                    F.coalesce("authority", F.lit(0)).cast("long").alias(
                        "authority"
                    ),
                )
                .localCheckpoint(eager=False)
            )
            h = (
                ev.join(a.select(F.col("node").alias("v"), "authority"), "v")
                .groupBy(F.col("u").alias("node"))
                .agg(F.sum("authority").cast("long").alias("hub"))
            )
            h = (
                nodes.join(h, "node", "left")
                .select(
                    "node",
                    F.coalesce("hub", F.lit(0)).cast("long").alias("hub"),
                )
                .localCheckpoint(eager=False)
            )
        if eu is not e:
            a = a.localCheckpoint(eager=True)
            h = h.localCheckpoint(eager=True)
    return nodes.join(a, "node").join(h, "node").select(
        "node", "authority", "hub"
    )


def strongly_connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 50,
) -> DataFrame:
    """Strongly connected components of a DIRECTED graph — the
    classic `connected_components` (above) cannot see direction, and
    money-flow / transition graphs are directed.

    Algorithm: forward-backward min-label peeling (the distributed
    FW-BW/coloring family): per peel round, propagate the minimum
    reachable node id to fixpoint along FORWARD edges (f) and along
    BACKWARD edges (b) — each propagation step is one edge⋈label
    join + one node-keyed min aggregate, O(diameter) steps — then
    every node with f(v) = b(v) = m belongs to the SCC of m exactly
    (m is reachable from v and reaches v). Labeled SCCs peel off;
    surviving nodes and their induced edges repeat. Each round labels
    at least the SCC of the globally minimal surviving node, so the
    round count is bounded by the longest chain of SCCs the peel
    exposes (tiny in practice — most graphs shed almost everything in
    the first round, exactly like FW-BW's giant-SCC behaviour).

    Labels are the SCC's minimum member id (deterministic across
    engines and partitionings). Fixpoint detection collects one
    (count, checksum) pair per step — edges never reach the driver.

    Returns (node, component). Scale shape: every step is a
    node-keyed shuffle on the label frame; the peel shrinks the
    active graph monotonically, and lineage is cut per step (lazy
    localCheckpoint — the probe materializes it). ``max_rounds < 1``
    raises ValueError before any job: even an edgeless graph takes one
    round to see it is done."""
    if max_rounds < 1:
        raise ValueError(
            "strongly_connected_components: max_rounds must be >= 1, got"
            f" {max_rounds}"
        )
    e_all = _uv_edges(edges, src, dst).distinct().localCheckpoint(eager=True)
    nodes = (
        e_all.select(F.col("u").alias("node"))
        .union(e_all.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    spark = edges.sparkSession
    result = spark.createDataFrame([], "node long, component long")
    active_nodes = nodes
    active_edges = e_all
    # r13: emptiness is derived from the count that materializes each
    # round's active-node checkpoint, so no separate probe job runs.
    n_active = nodes.count()
    for _ in range(max_rounds):
        if n_active == 0:
            break

        def _minreach(edges_dir: DataFrame) -> DataFrame:
            lab = active_nodes.select(
                "node", F.col("node").alias("m")
            ).localCheckpoint(eager=False)
            prev = None
            for _step in range(max_rounds):
                nxt = (
                    edges_dir.join(
                        lab.select(F.col("node").alias("v"), "m"), "v"
                    )
                    .groupBy(F.col("u").alias("node"))
                    .agg(F.min("m").alias("m2"))
                )
                lab2 = (
                    lab.join(nxt, "node", "left")
                    .select(
                        "node",
                        F.least(
                            "m", F.coalesce("m2", F.col("m"))
                        ).alias("m"),
                    )
                    .localCheckpoint(eager=False)
                )
                chk = lab2.agg(
                    F.sum(F.xxhash64("node", "m").cast("decimal(38,0)"))
                ).first()[0]
                if prev is not None and chk == prev:
                    return lab2
                prev = chk
                lab = lab2
            # Mirrors the outer peel loop's else-raise: an
            # under-propagated min label would silently split one SCC
            # (f(v)=b(v)=v for nodes whose SCC min sits > max_rounds
            # hops away), so exhaustion here is an error, never a
            # fallback.
            raise RuntimeError(
                "strongly_connected_components: min-label propagation did"
                f" not converge within {max_rounds} steps"
            )

        # r13 optimization (guide §2.6): the forward and backward
        # propagations are INDEPENDENT job sequences — run them from
        # two driver threads so each direction's per-step scheduler
        # latency overlaps the other's (and, on a cluster, one
        # direction's stage tail back-fills the other's executors).
        # Each thread issues only its own jobs; results are unchanged
        # (same-window A/B: 9.2 s -> 5.1 s for q223 at sf0.1).
        from concurrent.futures import ThreadPoolExecutor

        rev_edges = active_edges.select(
            F.col("v").alias("u"), F.col("u").alias("v")
        )
        # Cluster profile (guide §2.4): each propagation step joins its
        # static direction frame on v; pinning both directions
        # partitioned by v makes every step's edge side exchange-free
        # (the propagation runs O(diameter) steps per peel round).
        # labeled and the next round's frames are materialized inside
        # the block, so this round's direction pins can go at its end.
        with _pinned(active_edges, "v", local=None) as fwd_edges, _pinned(
            rev_edges, "v", local=None
        ) as rev_edges:
            with ThreadPoolExecutor(max_workers=2) as pool:
                f_fut = pool.submit(_minreach, fwd_edges)
                b_fut = pool.submit(_minreach, rev_edges)
                f = f_fut.result()  # min id reachable FORWARD from v
                b = b_fut.result()
            labeled = (
                f.select("node", F.col("m").alias("f"))
                .join(b.select("node", F.col("m").alias("b")), "node")
                .filter(F.col("f") == F.col("b"))
                .select("node", F.col("f").alias("component"))
                .localCheckpoint(eager=True)
            )
            result = result.unionByName(labeled)
            done = labeled.select("node")
            active_nodes = active_nodes.join(
                done, "node", "left_anti"
            ).localCheckpoint(eager=False)
            n_active = active_nodes.count()  # materializes the checkpoint
            active_edges = (
                active_edges.join(
                    done.select(F.col("node").alias("u")), "u", "left_anti"
                )
                .join(done.select(F.col("node").alias("v")), "v", "left_anti")
                .localCheckpoint(eager=True)
            )
    else:
        raise RuntimeError(
            f"strongly_connected_components: {max_rounds} peel rounds exceeded"
        )
    return result


def ancestor_closure(
    edges: DataFrame,
    src: str = "child",
    dst: str = "parent",
    max_doublings: int = 20,
) -> DataFrame:
    """Transitive closure with exact min-hop distances by iterative
    path doubling: after round i the frame holds every (u, v) whose
    shortest path is ≤ 2^i hops, with that exact distance (shortest
    paths decompose into shortest halves, so the min() merge keeps
    every round exact). The loop converges in ⌈log2(diameter)⌉
    self-joins — 20 doublings covers a million hops. This is the
    distributed answer to SQL's WITH RECURSIVE (which walks one hop
    per round): each round is ONE co-partitioned self-join, and the
    frame is checkpoint-pinned so lineage never stacks.

    Works on any digraph — cycles just close into all-pairs
    reachability within the cycle (count stabilization is a sound
    fixpoint test: a pair's distance is already exact the first round
    it appears). Raises RuntimeError if the closure hasn't stabilized
    within ``max_doublings`` (pathological diameter), same
    loud-failure contract as connected_components.

    Returns (node, ancestor, dist), all LONG. ``max_doublings < 1``
    raises ValueError before any job: a non-empty closure needs one
    doubling to see its fixpoint.
    """
    if max_doublings < 1:
        raise ValueError(
            f"ancestor_closure: max_doublings must be >= 1, got {max_doublings}"
        )
    p = (
        _uv_edges(edges, src, dst)
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .select("u", "v", F.lit(1).cast("long").alias("dist"))
        .localCheckpoint(eager=True)
    )
    prev = p.count()
    if prev == 0:
        return p.select(
            F.col("u").alias("node"),
            F.col("v").alias("ancestor"),
            "dist",
        )
    for _ in range(max_doublings):
        hop = p.select(
            F.col("u").alias("m"),
            F.col("v").alias("w"),
            F.col("dist").alias("d2"),
        )
        doubled = (
            p.join(hop, p["v"] == hop["m"])
            .select("u", F.col("w").alias("v"),
                    (F.col("dist") + F.col("d2")).alias("dist"))
        )
        p = (
            p.unionByName(doubled)
            .groupBy("u", "v")
            .agg(F.min("dist").cast("long").alias("dist"))
            .localCheckpoint(eager=False)
        )
        cur = p.count()
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            "ancestor_closure: closure did not stabilize within"
            f" {max_doublings} doublings — cyclic input or pathological"
            " depth"
        )
    return p.select(
        F.col("u").alias("node"), F.col("v").alias("ancestor"), "dist"
    )
