"""Randomized reference tests for the round-7 operators: seeded
pseudo-random instances checked against independent pure-Python
references (deterministic seeds — reproducible, no flake)."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F


# -- ancestor_closure vs pure-Python BFS closure --------------------


def _py_closure(edges: list[tuple[int, int]]) -> dict[tuple[int, int], int]:
    """Min-distance closure of a DAG by per-node BFS."""
    adj: dict[int, list[int]] = {}
    for u, v in edges:
        adj.setdefault(u, []).append(v)
    out: dict[tuple[int, int], int] = {}
    for start in {u for u, _ in edges}:
        frontier = [(start, 0)]
        seen: dict[int, int] = {}
        while frontier:
            node, d = frontier.pop()
            for nxt in adj.get(node, []):
                nd = d + 1
                if nxt not in seen or nd < seen[nxt]:
                    seen[nxt] = nd
                    frontier.append((nxt, nd))
        for anc, d in seen.items():
            out[(start, anc)] = d
    return out


def test_ancestor_closure_random_dags(spark):
    from graphsense_blocksci_spark.operators.graph import ancestor_closure

    rng = random.Random(7)
    for trial in range(4):
        n = rng.randint(8, 40)
        # DAG by construction: edges only point to smaller ids
        edges = []
        for v in range(2, n):
            for _ in range(rng.randint(1, 2)):
                edges.append((v, rng.randint(1, v - 1)))
        edges = sorted(set(edges))
        e = spark.createDataFrame(edges, "child long, parent long")
        got = {
            (r["node"], r["ancestor"]): r["dist"]
            for r in ancestor_closure(e).collect()
        }
        assert got == _py_closure(edges), f"trial {trial}"


def test_ancestor_closure_cycle_all_pairs(spark):
    """A cycle closes into all-pairs reachability with exact min-hop
    distances (including node→node = cycle length) — count
    stabilization is a sound fixpoint, no divergence."""
    from graphsense_blocksci_spark.operators.graph import ancestor_closure

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "child long, parent long"
    )
    got = {
        (r["node"], r["ancestor"]): r["dist"]
        for r in ancestor_closure(e).collect()
    }
    assert got == _py_closure([(1, 2), (2, 3), (3, 1)])
    assert got[(1, 1)] == 3 and got[(1, 2)] == 1 and got[(1, 3)] == 2


def test_ancestor_closure_exhaustion_raises(spark):
    """A path longer than 2^max_doublings cannot close — must raise,
    never return a partial closure."""
    from graphsense_blocksci_spark.operators.graph import ancestor_closure

    e = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "child long, parent long"
    )
    with pytest.raises(RuntimeError, match="did not stabilize"):
        ancestor_closure(e, max_doublings=3).collect()


def test_ancestor_closure_empty(spark):
    from graphsense_blocksci_spark.operators.graph import ancestor_closure

    e = spark.createDataFrame([], "child long, parent long")
    assert ancestor_closure(e).count() == 0


# -- spearman_rho / kendall_tau vs pure-Python ----------------------


def _py_spearman(xy: list[tuple[int, int]]) -> float | None:
    def midranks(vals: list[int]) -> list[float]:
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        ranks = [0.0] * len(vals)
        i = 0
        while i < len(order):
            j = i
            while j < len(order) and vals[order[j]] == vals[order[i]]:
                j += 1
            mid = (i + 1 + j) / 2.0
            for k in range(i, j):
                ranks[order[k]] = mid
            i = j
        return ranks

    rx = midranks([x for x, _ in xy])
    ry = midranks([y for _, y in xy])
    n = len(xy)
    mx = sum(rx) / n
    my = sum(ry) / n
    num = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
    dx = sum((a - mx) ** 2 for a in rx)
    dy = sum((b - my) ** 2 for b in ry)
    if dx <= 0 or dy <= 0:
        return None
    return num / math.sqrt(dx * dy)


def _py_kendall(xy: list[tuple[int, int]]) -> float | None:
    conc = disc = tx = ty = 0
    for i in range(len(xy)):
        for j in range(i + 1, len(xy)):
            dx = xy[i][0] - xy[j][0]
            dy = xy[i][1] - xy[j][1]
            s = dx * dy
            if s > 0:
                conc += 1
            elif s < 0:
                disc += 1
            elif dx == 0 and dy != 0:
                tx += 1
            elif dy == 0 and dx != 0:
                ty += 1
    den = (conc + disc + tx) * (conc + disc + ty)
    if den <= 0:
        return None
    return (conc - disc) / math.sqrt(den)


def test_rank_correlations_random_vs_python(spark):
    from graphsense_blocksci_spark.operators.evaluation import (
        kendall_tau,
        spearman_rho,
    )

    rng = random.Random(17)
    rows = []
    expected_s: dict[int, float | None] = {}
    expected_k: dict[int, float | None] = {}
    for g in range(5):
        n = rng.randint(5, 25)
        # small domains force ties — the case worth testing
        xy = [(rng.randint(0, 6), rng.randint(0, 6)) for _ in range(n)]
        rows += [(g, x, y) for x, y in xy]
        expected_s[g] = _py_spearman(xy)
        expected_k[g] = _py_kendall(xy)
    df = spark.createDataFrame(rows, "g long, x long, y long")
    got_s = {r["g"]: r["rho"] for r in spearman_rho(df, "g", "x", "y").collect()}
    got_k = {
        r["g"]: r["tau_b"] for r in kendall_tau(df, "g", "x", "y").collect()
    }
    for g in expected_s:
        if expected_s[g] is None:
            assert got_s[g] is None
        else:
            assert got_s[g] == pytest.approx(expected_s[g], abs=1e-12), g
        if expected_k[g] is None:
            assert got_k[g] is None
        else:
            assert got_k[g] == pytest.approx(expected_k[g], abs=1e-12), g


def test_kendall_tau_single_row_group(spark):
    # a group with one row has an empty pair set — it must still
    # surface with n=1, zero counts, and NULL tau_b, not vanish
    from graphsense_blocksci_spark.operators.evaluation import kendall_tau

    df = spark.createDataFrame(
        [(0, 5, 9)] + [(1, i, i) for i in range(4)],
        "g long, x long, y long",
    )
    rows = {r["g"]: r for r in kendall_tau(df, "g", "x", "y").collect()}
    assert set(rows) == {0, 1}
    assert rows[0]["n"] == 1
    assert rows[0]["concordant"] == 0
    assert rows[0]["discordant"] == 0
    assert rows[0]["tau_b"] is None
    assert rows[1]["tau_b"] == pytest.approx(1.0)


def test_spearman_perfect_monotone(spark):
    from graphsense_blocksci_spark.operators.evaluation import spearman_rho

    df = spark.createDataFrame(
        [(0, i, i * 7 + 1) for i in range(10)]
        + [(1, i, -i) for i in range(10)],
        "g long, x long, y long",
    )
    got = {r["g"]: r["rho"] for r in spearman_rho(df, "g", "x", "y").collect()}
    assert got[0] == pytest.approx(1.0)
    assert got[1] == pytest.approx(-1.0)


# -- pr_curve vs pure-Python ----------------------------------------


def test_pr_curve_random_vs_python(spark):
    from graphsense_blocksci_spark.operators.evaluation import pr_curve

    rng = random.Random(23)
    data = [(rng.randint(0, 9), rng.random() < 0.4) for _ in range(200)]
    df = spark.createDataFrame(data, "score long, label boolean")
    got = {
        r["score"]: (r["tp"], r["fp"], r["fn"], r["precision"], r["recall"])
        for r in pr_curve(df, "score", "label").collect()
    }
    r_total = sum(1 for _, y in data if y)
    for t in sorted({s for s, _ in data}):
        tp = sum(1 for s, y in data if s >= t and y)
        fp = sum(1 for s, y in data if s >= t and not y)
        assert got[t] == (
            tp,
            fp,
            r_total - tp,
            tp / (tp + fp),
            tp / r_total,
        ), t


# -- cohens_kappa: hand-checked + degenerate ------------------------


def test_cohens_kappa_known_value(spark):
    from graphsense_blocksci_spark.operators.evaluation import cohens_kappa

    # classic 2x2 example: tt=20, ff=15, ta=5, tb=10 -> po=0.7,
    # pe = (25*30 + 20*25)/2500 = 0.5 -> kappa = 0.4
    rows = (
        [(True, True)] * 20
        + [(False, False)] * 15
        + [(True, False)] * 5
        + [(False, True)] * 10
    )
    df = spark.createDataFrame(rows, "a boolean, b boolean")
    r = cohens_kappa(df, "a", "b").collect()[0]
    assert r["n"] == 50 and r["kappa"] == pytest.approx(0.4)


def test_cohens_kappa_degenerate_null(spark):
    """pe = 1 (kappa undefined) iff BOTH raters are constant — the
    operator returns NULL there instead of an ANSI divide error."""
    from graphsense_blocksci_spark.operators.evaluation import cohens_kappa

    df = spark.createDataFrame(
        [(False, False)] * 10, "a boolean, b boolean"
    )
    r = cohens_kappa(df, "a", "b").collect()[0]
    assert r["kappa_den"] == 0 and r["kappa"] is None

    # one constant rater is NOT degenerate: pe < 1, kappa = 0 when the
    # other rater splits evenly
    df2 = spark.createDataFrame(
        [(False, True), (False, False)] * 5, "a boolean, b boolean"
    )
    r2 = cohens_kappa(df2, "a", "b").collect()[0]
    assert r2["kappa_den"] == 50 and r2["kappa"] == 0.0


def test_bitmap_word_packing_exact(spark):
    """bit_or-packed 60-bit activity words intersect to the exact
    set-intersection cardinality for random day/user activity."""
    import random

    rng = random.Random(23)
    days = {
        d: {rng.randint(0, 500) for _ in range(rng.randint(5, 80))}
        for d in range(4)
    }
    rows = [(d, u) for d, us in days.items() for u in us for _ in range(2)]
    df = spark.createDataFrame(rows, "day long, u long")
    bm = (
        df.select(
            "day",
            F.expr("CAST(u DIV 60 AS BIGINT)").alias("word"),
            F.expr("shiftleft(1L, CAST(u % 60 AS INT))").alias("mask"),
        )
        .groupBy("day", "word")
        .agg(F.expr("bit_or(mask)").alias("bits"))
    )
    nxt = bm.select(
        (F.col("day") - 1).alias("day"), "word", F.col("bits").alias("bn")
    )
    got = {
        r["day"]: r["ret"]
        for r in bm.join(nxt, ["day", "word"])
        .groupBy("day")
        .agg(
            F.sum(F.bit_count(F.col("bits").bitwiseAND(F.col("bn"))))
            .cast("long")
            .alias("ret")
        )
        .collect()
    }
    for d in range(3):
        want = len(days[d] & days[d + 1])
        assert got.get(d, 0) == want, f"day {d}"
