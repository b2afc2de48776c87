"""Round-4 extension operators: intervals, record linkage, SCD2,
systematic sampling, Z-order layout, weighted shortest paths, k-core,
and distributed BPE training — each pinned against a brute-force or
pure-Python reference (the SQL oracles cover the testdata shapes; these
cover the edge cases the testdata cannot)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- intervals


def _brute_concurrency(intervals):
    """All boundary instants with the open-interval count (half-open)."""
    deltas = {}
    for s, e in intervals:
        deltas.setdefault((s, 1), 0)
        deltas[(s, 1)] += 1
        deltas.setdefault((e, -1), 0)
        deltas[(e, -1)] -= 1
    out = []
    running = 0
    for (t, d) in sorted(deltas):
        running += deltas[(t, d)]
        out.append((t, d, running))
    return out


def test_sweep_concurrency_matches_bruteforce(spark):
    from graphsense_blocksci_spark.operators.intervals import sweep_concurrency

    rng = random.Random(7)
    iv = [
        (s := rng.randrange(0, 1000), s + rng.randrange(1, 200))
        for _ in range(300)
    ]
    df = spark.createDataFrame(iv, "start long, end long")
    got = sorted(
        tuple(r) for r in sweep_concurrency(df, n_buckets=7).collect()
    )
    assert got == sorted(_brute_concurrency(iv))


def test_sweep_concurrency_handoff_never_double_counts(spark):
    from graphsense_blocksci_spark.operators.intervals import sweep_concurrency

    # back-to-back handoff at t=10: end applies before start
    df = spark.createDataFrame([(0, 10), (10, 20)], "start long, end long")
    rows = {r["t"]: r["concurrent"] for r in sweep_concurrency(df).collect()}
    assert max(rows.values()) == 1


def test_sweep_concurrency_empty(spark):
    from graphsense_blocksci_spark.operators.intervals import sweep_concurrency

    df = spark.createDataFrame([], "start long, end long")
    assert sweep_concurrency(df).count() == 0


def test_interval_overlap_join_matches_cross_join(spark):
    from graphsense_blocksci_spark.operators.intervals import (
        interval_overlap_join,
    )

    rng = random.Random(11)
    mk = lambda n, o: [  # noqa: E731
        (i + o, s := rng.randrange(0, 3000), s + rng.randrange(0, 500))
        for i in range(n)
    ]
    lft = spark.createDataFrame(mk(80, 0), "id long, start long, end long")
    rgt = spark.createDataFrame(mk(80, 1000), "id long, start long, end long")
    got = sorted(
        (r["l_id"], r["r_id"])
        for r in interval_overlap_join(lft, rgt, bucket_width=256).collect()
    )
    expect = sorted(
        (r["l"], r["r"])
        for r in lft.alias("a")
        .crossJoin(rgt.alias("b"))
        .filter(
            (F.col("a.start") <= F.col("b.end"))
            & (F.col("b.start") <= F.col("a.end"))
        )
        .select(F.col("a.id").alias("l"), F.col("b.id").alias("r"))
        .collect()
    )
    assert got == expect
    assert len(got) == len(set(got))  # exactly-once, no dedup needed


# ------------------------------------------------------------ record linkage


def test_record_linkage_finds_near_names_only(spark):
    from graphsense_blocksci_spark.operators.entity_resolution import (
        record_linkage,
    )

    rows = [
        (1, "jon smith", 1),
        (2, "john smith", 1),  # dist 1 from jon smith — but len differs!
        (3, "jon smyth", 1),  # dist 1 from jon smith, same length
        (4, "completely", 1),
        (5, "jon smith", 2),  # other block: never compared
    ]
    df = spark.createDataFrame(rows, "id long, name string, blk long")
    df = df.withColumn("nl", F.length("name").cast("long"))
    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in record_linkage(
            df, ["blk", "nl"], max_dist=2, id_col="id", name_col="name"
        ).collect()
    }
    assert (1, 3, 1) in got
    assert all(a != 5 and b != 5 for a, b, _ in got)
    assert all(d <= 2 for _, _, d in got)


def test_record_linkage_max_block_raises_with_advice(spark):
    from graphsense_blocksci_spark.operators.entity_resolution import (
        record_linkage,
    )

    df = spark.createDataFrame(
        [(i, "same", 0) for i in range(30)], "id long, name string, blk long"
    )
    with pytest.raises(ValueError, match="max_block"):
        record_linkage(
            df, ["blk"], max_dist=1, id_col="id", name_col="name", max_block=10
        ).collect()


# -------------------------------------------------------------------- SCD2


def test_scd2_merges_runs_and_chains_validity(spark):
    from graphsense_blocksci_spark.operators.diff import scd2_intervals

    rows = [
        (1, "a", 10, 1),
        (1, "a", 20, 2),  # same state: merged into the first run
        (1, "b", 30, 3),
        (1, "a", 40, 4),  # back to a: NEW run, not merged with row 1
        (2, "x", 5, 5),
    ]
    df = spark.createDataFrame(rows, "k long, st string, ts long, ord long")
    got = sorted(
        tuple(r)
        for r in scd2_intervals(
            df, key="k", state="st", ts="ts", order=["ord"]
        ).collect()
    )
    assert got == [
        (1, "a", 10, 30),
        (1, "a", 40, None),
        (1, "b", 30, 40),
        (2, "x", 5, None),
    ]


# -------------------------------------------------------- systematic sample


def test_systematic_sample_invariants(spark):
    from graphsense_blocksci_spark.operators.sampling import systematic_sample

    rng = random.Random(3)
    rows = [(i, rng.randrange(0, 40)) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, weight long")
    step = 100
    out = systematic_sample(df, step=step).collect()
    # python reference: prefix sums in id order
    cum = 0
    expect = {}
    for i, w in sorted(rows):
        sel = w > 0 and (cum + w - 1) // step > (cum - 1) // step
        expect[i] = (w, cum, sel)
        cum += w
    got = {r["doc_id"]: (r["weight"], r["offset"], r["selected"]) for r in out}
    assert got == expect
    n_sel = sum(1 for _, _, s in got.values() if s)
    total = sum(w for w, _, _ in got.values())
    # every step-window of weight contains exactly one selection
    assert n_sel == (total + step - 1) // step
    # any row with weight >= step is always selected
    assert all(s for w, _, s in got.values() if w >= step)


# ------------------------------------------------------------------ z-order


def test_write_zorder_files_have_small_bounding_boxes(spark, tmp_path):
    from graphsense_blocksci_spark.sources.sinks import write_zorder

    n = 64
    rows = [(x, y) for x in range(n) for y in range(n)]
    df = spark.createDataFrame(rows, "x long, y long")
    path = str(tmp_path / "zorder")
    write_zorder(df, path, "x", "y", bits=6, num_chunks=16)
    import pyarrow.parquet as pq
    from pathlib import Path

    spans = []
    for f in Path(path).glob("*.parquet"):
        t = pq.read_table(f)
        xs, ys = t.column("x").to_pylist(), t.column("y").to_pylist()
        if xs:
            spans.append((max(xs) - min(xs), max(ys) - min(ys)))
    assert spans
    # a z-ordered 16-way split of a 64x64 grid keeps BOTH dims far below
    # the global span on every file; a plain x-sort would leave the y
    # span at 63 everywhere.
    assert all(sx < n and sy < n for sx, sy in spans)
    avg_y = sum(sy for _, sy in spans) / len(spans)
    assert avg_y <= n / 2


# ------------------------------------------------------------------- graph


def _ref_shortest(edges, seeds, max_hops):
    import collections

    adj = collections.defaultdict(list)
    for s, d, w in edges:
        adj[s].append((d, w))
    dist = {s: 0 for s in seeds}
    frontier = dict(dist)
    for _ in range(max_hops):
        nxt = {}
        for u, du in frontier.items():
            for v, w in adj[u]:
                cand = du + w
                if cand < dist.get(v, 1 << 60) and cand < nxt.get(v, 1 << 60):
                    nxt[v] = cand
        frontier = {v: c for v, c in nxt.items() if c < dist.get(v, 1 << 60)}
        dist.update(frontier)
        if not frontier:
            break
    return dist


def test_shortest_paths_matches_reference(spark):
    from graphsense_blocksci_spark.operators.graph import shortest_paths

    rng = random.Random(5)
    edges = [
        (rng.randrange(30), rng.randrange(30), rng.randrange(1, 10))
        for _ in range(120)
    ]
    e = spark.createDataFrame(edges, "src long, dst long, w long")
    seeds = spark.createDataFrame([(0,), (7,)], "node long")
    got = {r["node"]: r["dist"] for r in shortest_paths(e, seeds, 5).collect()}
    assert got == _ref_shortest(edges, [0, 7], 5)


def test_shortest_paths_prefers_cheap_long_path(spark):
    from graphsense_blocksci_spark.operators.graph import shortest_paths

    # direct hop costs 10; the 3-hop detour costs 3
    edges = [(0, 9, 10), (0, 1, 1), (1, 2, 1), (2, 9, 1)]
    e = spark.createDataFrame(edges, "src long, dst long, w long")
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {r["node"]: r["dist"] for r in shortest_paths(e, seeds, 4).collect()}
    assert got[9] == 3


def _ref_kcore(edges, k, rounds):
    sym = set()
    for u, v in edges:
        if u != v:
            sym.add((u, v))
            sym.add((v, u))
    for _ in range(rounds):
        deg = {}
        for u, _v in sym:
            deg[u] = deg.get(u, 0) + 1
        keep = {u for u, d in deg.items() if d >= k}
        nxt = {(u, v) for u, v in sym if u in keep and v in keep}
        if nxt == sym:
            break
        sym = nxt
    deg = {}
    for u, _v in sym:
        deg[u] = deg.get(u, 0) + 1
    return deg


def test_kcore_matches_reference_and_converges(spark):
    from graphsense_blocksci_spark.operators.graph import kcore

    rng = random.Random(9)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(250)]
    e = spark.createDataFrame(edges, "src long, dst long")
    for k in (2, 4):
        got = {r["node"]: r["degree"] for r in kcore(e, k, rounds=6).collect()}
        assert got == _ref_kcore(edges, k, 6)


def test_kcore_triangle_survives_chain_dies(spark):
    from graphsense_blocksci_spark.operators.graph import kcore

    # triangle (each degree 2) + a pendant chain
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4)]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"] for r in kcore(e, k=2, rounds=5).collect()}
    assert got == {0, 1, 2}


# --------------------------------------------------------------- BPE train


def test_bpe_train_matches_python_reference(spark):
    from graphsense_blocksci_spark.operators.tokenizer import (
        bpe_train,
        bpe_train_reference,
    )

    texts = [
        "the theme thesis then",
        "low lower lowest low low",
        "new newer newest news new",
        "the the the lowest theme",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = [
        (r["rank"], r["left"], r["right"], r["pair_count"])
        for r in bpe_train(docs, n_merges=6).orderBy("rank").collect()
    ]
    counts: dict[str, int] = {}
    for t in texts:
        for w in t.split():
            counts[w] = counts.get(w, 0) + 1
    assert got == bpe_train_reference(counts, n_merges=6)


def test_bpe_train_overlap_counting_and_greedy_application(spark):
    from graphsense_blocksci_spark.operators.tokenizer import bpe_train

    # "aaaa" x3: round 0 counts (a,a) 9 times (overlapping, Sennrich
    # get_stats), merges to [aa, aa]; round 1 merges (aa, aa).
    docs = spark.createDataFrame(
        [(0, "aaaa aaaa aaaa")], "doc_id long, text string"
    )
    got = [
        (r["rank"], r["left"], r["right"], r["pair_count"])
        for r in bpe_train(docs, n_merges=3).orderBy("rank").collect()
    ]
    assert got[0] == (0, "a", "a", 9)
    assert got[1] == (1, "aa", "aa", 3)
    # after [aaaa] no pairs remain: training early-exits at 2 merges
    assert len(got) == 2


# ------------------------------------------------------------ random walks


def test_random_walks_deterministic_and_valid(spark):
    from graphsense_blocksci_spark.operators.graph import random_walks

    rng = random.Random(13)
    edges = [(rng.randrange(20), rng.randrange(20)) for _ in range(60)]
    e = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,), (5,)], "node long")
    out1 = sorted(tuple(r) for r in random_walks(e, seeds, 4, n_walks=2).collect())
    out2 = sorted(tuple(r) for r in random_walks(e, seeds, 4, n_walks=2).collect())
    assert out1 == out2  # retry/backfill determinism
    assert len(out1) == 2 * 2  # seeds x n_walks
    eset = {(s, d) for s, d in edges}
    for _seed, _wid, path in out1:
        nodes = [int(x) for x in path.split(",")]
        assert nodes[0] == _seed
        assert len(nodes) <= 5
        for a, b in zip(nodes, nodes[1:]):
            assert (a, b) in eset  # every hop is a real edge


def test_random_walks_stop_at_sink(spark):
    from graphsense_blocksci_spark.operators.graph import random_walks

    # 0 -> 1 -> 2, node 2 has no out-edges: walks stop after 2 hops
    e = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    rows = random_walks(e, seeds, walk_length=5, n_walks=2).collect()
    assert all(r["path"] == "0,1,2" for r in rows)


def test_random_walks_large_node_ids(spark):
    from graphsense_blocksci_spark.operators.graph import random_walks

    # ids >= 8192 come back as themselves, and the hash tie-break still
    # picks between two out-neighbors deterministically
    e = spark.createDataFrame(
        [(10000, 10001), (10001, 10002), (10001, 2**40), (10002, 10000)],
        "src long, dst long",
    )
    seeds = spark.createDataFrame([(10000,)], "node long")
    rows = random_walks(e, seeds, walk_length=3, n_walks=4).collect()
    assert len(rows) == 4
    edges = {(10000, 10001), (10001, 10002), (10001, 2**40), (10002, 10000)}
    for r in rows:
        nodes = [int(x) for x in r["path"].split(",")]
        assert nodes[:2] == [10000, 10001], r["path"]
        assert all((a, b) in edges for a, b in zip(nodes, nodes[1:])), r["path"]


# --------------------------------------------------------------- KMV sketch


def test_kmv_exact_below_k_and_estimator_accuracy(spark):
    from graphsense_blocksci_spark.operators.sketches import kmv_sketch

    small = spark.createDataFrame(
        [(i % 50,) for i in range(400)], "v long"
    )
    row = kmv_sketch(small, "v", k=256).collect()[0]
    assert row["n_sketch"] == 50 and row["est_distinct"] == 50  # exact set

    big = spark.createDataFrame([(i,) for i in range(20000)], "v long")
    row = kmv_sketch(big, "v", k=256).collect()[0]
    assert row["n_sketch"] == 256
    # KMV rel. error ~ 1/sqrt(k) ≈ 6%; allow 3 sigma
    assert abs(row["est_distinct"] - 20000) / 20000 < 0.20


def test_kmv_merge_is_exact_union_of_partials(spark):
    from graphsense_blocksci_spark.operators.sketches import (
        kmv_estimate,
        kmv_hashes,
        kmv_trim,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i % 2, i % 3000) for i in range(9000)], "g long, v long"
    )
    parts = kmv_hashes(df, "v", ("g",), k=512)
    merged = kmv_trim(parts.select(F.lit(0).alias("g"), "h"), ("g",), 512)
    direct = kmv_hashes(df.select("v"), "v", (), k=512)
    assert sorted(r["h"] for r in merged.collect()) == sorted(
        r["h"] for r in direct.collect()
    )
    est = kmv_estimate(merged, ("g",), 512).collect()[0]["est_distinct"]
    # KMV rel. error ~ 1/sqrt(k) ≈ 4.4% at k=512; allow ~4 sigma for
    # this FIXED (deterministic-hash) value set
    assert abs(est - 3000) / 3000 < 0.18


# -------------------------------------------------------- negative sampling


def test_negative_sampling_invariants(spark, sf_dir):
    from graphsense_blocksci_spark.queries import QUERIES

    out1 = sorted(
        tuple(r) for r in QUERIES["q147_negative_sampling"](spark, sf_dir).collect()
    )
    out2 = sorted(
        tuple(r) for r in QUERIES["q147_negative_sampling"](spark, sf_dir).collect()
    )
    assert out1 == out2  # retry determinism
    assert len(out1) > 0
    assert all(a != neg for a, _j, neg in out1)  # no self pairs
    per_anchor: dict[int, int] = {}
    for a, _j, _n in out1:
        per_anchor[a] = per_anchor.get(a, 0) + 1
    assert max(per_anchor.values()) <= 4


# -------------------------------------------------------- multi-source BFS


def test_multi_source_bfs_matches_per_seed_bfs(spark):
    from graphsense_blocksci_spark.operators.graph import (
        bfs_reachability,
        multi_source_bfs,
    )

    rng = random.Random(17)
    edges = [(rng.randrange(25), rng.randrange(25)) for _ in range(70)]
    e = spark.createDataFrame(edges, "src long, dst long")
    seed_ids = [0, 7, 13]
    seeds = spark.createDataFrame([(s,) for s in seed_ids], "node long")
    multi = {
        (r["source"], r["node"]): r["hops"]
        for r in multi_source_bfs(e, seeds, 3).collect()
    }
    single = {}
    for s in seed_ids:
        one = spark.createDataFrame([(s,)], "node long")
        for r in bfs_reachability(e, one, 3).collect():
            single[(s, r["node"])] = r["hops"]
    assert multi == single


def test_msf_boruvka_matches_kruskal_reference(spark):
    """Borůvka under the (w, a, b) total order must produce THE unique
    minimum spanning forest — checked edge-for-edge against a python
    Kruskal using the same order, on a multi-component weighted graph
    with deliberate weight ties and parallel edges."""
    import random

    from graphsense_blocksci_spark.operators.graph import (
        minimum_spanning_forest,
    )

    rng = random.Random(7)
    edges = []
    # two dense components with tied weights + one isolated pair
    for lo, hi in ((0, 12), (20, 29)):
        nodes = list(range(lo, hi))
        for _ in range(40):
            a, b = rng.sample(nodes, 2)
            edges.append((a, b, rng.randint(1, 4)))
    edges.append((50, 51, 9))
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    got = sorted(
        (r.a, r.b, r.w)
        for r in minimum_spanning_forest(df, weight_col="w").collect()
    )

    # Kruskal reference under the same (w, a, b) order on the deduped
    # simple graph (parallel edges collapse to min weight, as the
    # operator documents)
    simple = {}
    for s, d, w in edges:
        a, b = min(s, d), max(s, d)
        simple[(a, b)] = min(simple.get((a, b), w), w)
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    want = []
    for (a, b), w in sorted(simple.items(), key=lambda kv: (kv[1], kv[0])):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
            want.append((a, b, w))
    assert got == sorted(want)

    # spanning-forest shape: |F| = n - n_components
    nodes = {x for e in simple for x in e}
    comps = len({find(x) for x in nodes})
    assert len(got) == len(nodes) - comps
