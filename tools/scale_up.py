"""10x scale-up harness (VERDICT r4 item 5): derive an sf1-equivalent
corpus from sf0.1 and time the most expensive query families at both
scales, validating the "fixed-iteration overhead dominates at toy
scale" claims empirically.

The scale-up unions C=10 copies of each table with disjoint key spaces
and deterministic content perturbation, so cardinalities, group sizes
and join fan-outs scale linearly while per-copy distributions are
preserved:

- lineitem / orders : all keys shifted by copy * stride -> the supplier
  graph becomes 10 disjoint copies (nodes and edges scale x10; degree
  distribution unchanged), GD/profile scans scale x10.
- documents         : doc_id shifted; for copy c > 0 every token gets
  a per-copy suffix, which rewrites the shingle sets wholesale (cross-
  copy Jaccard EXACTLY 0 at any copy count) while preserving each
  copy's internal near-dup structure verbatim -- so the
  set-similarity join grows in corpus, not in degenerate duplicate
  families. (Round 12 replaced the earlier drop-every-(c+1)-th-token
  scheme, which degenerated above ~10 copies.)
- embeddings        : vec_id shifted; components rotated by c, which
  preserves within-copy pairwise dot products (a coordinate
  permutation) and decorrelates copies.

Usage: python tools/scale_up.py [out_dir] [copies]
       python tools/scale_up.py --bench   (build + time the 6 families)
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

SRC = "/root/testdata/sf0.1"
OUT = "/tmp/sf1_synth"
COPIES = 10
KEY_STRIDE = 100_000_000

FAMILIES = [
    "q130_personalized_pagerank",
    "q111_kmeans_lloyd",
    "q155_jaccard_join",
    "q139_column_profile",
    "q173_logistic_gd",
    "q105_substring_dedup",
    # round-5 data-bound families (VERDICT r5 item 5). The exact-
    # percentile single-agg paths (q59 contract: q207/q209/q213 ride
    # it) are the likeliest super-linear candidates — measured here.
    "q186_edit_distance_join",
    "q207_equidepth_bins",
    "q209_theil_sen",
    "q210_ks_test",
    "q211_quality_keeper",
    "q213_fit_apply_bins",
    # round-7 data-bound families: the within-order pair self-join
    # (bounded per key but pair-count-linear), the corpus-wide shingle
    # first-occurrence join, and the tf-idf doc-frequency join.
    "q232_resource_allocation",
    "q238_ngram_novelty",
    "q240_tfidf_keywords",
    # round-7 late-wave data-bound families: the basket combination
    # explode + pair aggregate, the bitmap word self-join, the global-
    # rank remap join, and the two-phase prefix-sum PPS walk.
    "q249_market_basket",
    "q253_bitmap_retention",
    "q259_quantile_normalization",
    "q261_pps_sample",
    # continuation-wave data-bound families: the user-keyed SCD2
    # window, the (nation, segment)-blocked linkage self-join — blocks
    # are FIXED cardinality, so pairs grow quadratically with copies;
    # the honest mitigation at scale is a finer blocking key or a
    # max-block cap, recorded in BASELINE.md — the tolerance-banded
    # per-customer join (linear: per-key density is copy-invariant),
    # and the shingle inverted-index truth join of the LSH audit.
    "q269_scd2_dimension",
    "q275_record_linkage",
    "q283_tolerance_join",
    "q285_lsh_quality_eval",
    # round-8: the stateful-session streaming twin (events-driven, so
    # the standard sf-scaled harness covers it; per-batch state is
    # O(open sessions) and must grow with users, not with events)
    "qd18_stateful_sessions",
    # round-9 closing-wave families (VERDICT r8 item 4): the per-stream
    # lag + rollup cadence detector, the PERMISSIVE CSV quarantine pass
    # (scales with the orders render), and the two rewrites this round
    # — the range-partitioned order-dependency audit and the two-phase
    # prefix-max lateness replay — precisely the rows that would have
    # caught the corpus-sized windows they replace.
    "q313_recurring_payments",
    "q316_corrupt_records",
    "q317_order_dependency",
    "q318_lateness_audit",
    # round-9 wave: the incremental-dedup family. The BATCH is a fixed
    # fraction of the corpus here (doc_id % 5), so these rows measure
    # the whole-corpus worst case; in production the batch is constant-
    # sized and the old side is a prebuilt index, so real incremental
    # cost is batch-bound (the docstrings' contract).
    "q319_incremental_dedup",
    "q320_leakage_safe_split",
    "q321_incremental_neardup",
    # round-10 wave: the grouped Theil-Sen (pair frame is month-grain
    # bounded — corpus touches only the first rollup, so the row should
    # be ~linear-in-scan), the distributed-ntile RFM (three range
    # shuffles over the customer rollup), the first-seen dedup monitor
    # (one reused md5 shuffle), and the distinct-n diversity union
    # (corpus-linear gram explode into one aggregate).
    "q322_theil_sen",
    "q323_rfm_segmentation",
    "q324_dedup_influx_monitor",
    "q325_ngram_diversity",
    # round-10 second wave: MMR's selection rounds run over bounded
    # candidate frames (the corpus appears once, in the relevance
    # scan); triplet mining is the quadratic baseline scan — both
    # measure the corpus-side scan growth.
    "q326_mmr_rerank",
    "q327_triplet_mining",
    # split-conformal: aggregates + one nation-keyed cal-split window
    "q328_conformal_intervals",
    # round-11 wave: the PII scan is projection-only into a 5-key
    # rollup; paragraph dedup is one hash-partitioned window over the
    # chunk explode; the backtest and winsorized stats run on
    # nation-bounded frames after one corpus rollup; the melt is one
    # rollup + a Generate.
    "q329_pii_redaction",
    "q330_paragraph_dedup",
    "q331_seasonal_backtest",
    "q332_winsorized_stats",
    "q333_unpivot_melt",
    # round-11 second wave: the integrity audit is 8 anti-join /
    # dup-group counts; the outlier audit is one broadcast-assign scan
    # + a k-bounded window.
    "q334_integrity_audit",
    "q335_embedding_outliers",
    # round-11 wave 3: ANOVA/Gini/l-diversity are one-pass suffstat
    # rollups; grid-density's CC runs on the bounded CELL frame (the
    # corpus only feeds the cell assignment and the final count); DTW
    # pairs the 25-row profile frame, so only the profile scan grows.
    "q336_anova_f",
    "q337_gini_gain",
    "q338_l_diversity",
    "q339_grid_density_clusters",
    "q340_dtw_profiles",
    # wave 4: Holt folds a 25-row series frame; Shapley is one
    # user-keyed rollup + an 8-row lattice; image dedup pairs run on
    # the DISTINCT-hash frame after exact-dup pre-collapse.
    "q341_holt_forecast",
    "q342_shapley_attribution",
    "q343_image_dedup_groups",
    # k-center: k-1 zero-shuffle corpus scans + TakeOrdered(1) each;
    # qd97 streaming reuse is gate-only per the qd91/qd94 staging
    # convention (qd95 carries the timing signal for the same scan)
    "q344_kcenter_seeds",
    # cluster labeling: one token explode + (cluster, token) rollup;
    # lift math on k-row/token-keyed aggregates
    "q345_cluster_labeling",
    # Pettitt: corpus reduces to the day-grain frame before ranking;
    # the sweep shares ONE candidate/verify pass across 4 thresholds
    "q346_pettitt_changepoint",
    "q347_dedup_threshold_sweep",
    # MNN: ONE batch-broadcast scored product, both directed top-1s
    # via map-side-combinable argmax (mutual_top1_pairs) + one
    # id-keyed mutual join. The harness scales the batch WITH the
    # corpus so pair work grows ~quadratically/100 here under ANY
    # exact scheme; exact-IVF was measured (20.5x — zero cells
    # pruned, see the operator docstring) and rejected.
    # Brown-Forsythe is two corpus scans into the shared ANOVA core
    "q348_mutual_knn_pairs",
    "q349_brown_forsythe",
    # round-12 wave: Kruskal-Wallis windows only the bounded
    # distinct-value rollup (q310's discipline); ordinal patterns
    # reduce to the day frame before the two lead() windows
    "q350_kruskal_wallis",
    "q351_ordinal_patterns",
    # round-12 wave 10: XML round-trips a 5-row rollup (format
    # coverage, volume lives in the pre-I/O groupBy); VARIANT
    # shreds props once per row then aggregates
    "q352_xml_roundtrip",
    "q353_variant_shredding",
    # round-12 wave 11: SQL UDFs inline to plain expressions, so the
    # 10x row is just the rollup's; q354 recursion is gate-only
    # (iteration count is date-bounded, data-independent)
    "q355_sql_udf",
    # round-13 wave: the rank tests reduce to bounded frames before
    # any window (Friedman: per-month k-row rank; Cliff/runs/PH: the
    # distinct-value / day-grain frame; JT: 4x the distinct-value
    # domain); DSIR is a shingle scan + one broadcast-weight rollup;
    # Cochran is a single projection + one global aggregate. q356's
    # generator is fixed-size by construction and q357/q364 are
    # pushed-down literal scans — scale-invariant, no rows needed.
    "q358_friedman_test",
    "q359_cliffs_delta",
    "q360_runs_test",
    "q361_jonckheere_terpstra",
    "q362_dsir_importance",
    "q363_page_hinkley",
    "q365_cochran_q",
]

# chain-family queries read the domain FIXTURE chain (not sf_dir), so
# the sf-scaled harness can't touch them; bench_chain_families builds a
# 10x-DENSER chain (the qd48 recipe: 10 disjoint tx copies, same block
# heights) into a second fixture dir and swaps fixtures.DEFAULT_DIR.
CHAIN_FAMILIES = [
    "qd77_address_lifetime",
    "qd80_utxo_survival",
    "qd81_dust_analysis",
    # round-9 wave: path analysis + rate-weighted metrics on the
    # 10x-denser chain (rates join is day-keyed — the rate table does
    # not grow with density, exactly the broadcast-dim shape)
    "qd82_peel_chain",
    "qd83_realized_cap",
    "qd84_sopr",
    # the change-augmented clustering: both edge families are O(inputs)
    # projections; CC runs on the edge frame
    "qd85_change_augmented_entities",
    # round-10: the bucketed trailing-median rewrite — exactly the row
    # that would have caught the corpus-sized unpartitioned window it
    # replaces (VERDICT r9 item 4); 10x density exercises 32 buckets
    "qd68_whale_transfers",
    # round-10 wave: velocity's only window is day-grain (constant in
    # density); the band census is one linkage + one tiny rollup; the
    # coinjoin audit's CC and the adjusted-volume CC run on edge
    # frames that grow linearly with tx density.
    "qd86_supply_velocity",
    "qd87_balance_band_census",
    "qd88_coinjoin_merge_audit",
    "qd89_adjusted_volume",
    # type-migration matrix: per-tx per-TYPE rollups before pairing,
    # pair fan-out |types|^2 per tx
    "qd90_address_type_migration",
    # round-11 wave: HODL waves emit <=2 delta events per band per
    # output (never a day x UTXO join); the spend-age flow is one
    # linkage join + a banded day rollup. qd94 streaming PII is
    # gate-only per the staging convention (qd91's rule).
    "qd92_hodl_waves",
    "qd93_spend_age_flow",
    # address reuse: one explode + one min rollup + one co-keyed join
    "qd95_address_reuse",
    # link prediction: pair fan-out bounded by the payer degree cap
    # (<=1024 pairs per payer); 10x density = 10x payers, flat cap
    "qd96_payee_link_prediction",
    # intra-block chains: the copy-shifted 10x chain preserves each
    # copy's DAG, so edges and depth relax rounds scale with density
    "qd98_intrablock_chains",
    # round-13: the additive UTXO digest — two explode rollups + one
    # block-grain prefix window; density scales both explode sides
    "qd101_utxo_commitment",
]


def _copy_chain(base_txs, c: int, stride: int = 1_000_000_000):
    """One disjoint copy of the fixture chain: tx ids and BOTH sides'
    spent_tx_id pointers shifted by c*stride (NULL-preserving),
    addresses suffixed per copy, block heights unchanged — unioning C
    copies yields a C-x-denser chain with identical height range."""
    shift = F.lit(c * stride).cast("long")
    suf = F.lit(f"#c{c}")
    return base_txs.select(
        (F.col("tx_id") + shift).alias("tx_id"),
        "tx_hash",
        "block_id",
        "timestamp",
        "coinbase",
        F.transform(
            "inputs",
            lambda i: F.struct(
                F.transform(
                    i["address"], lambda a: F.concat(a, suf)
                ).alias("address"),
                i["value"].alias("value"),
                i["address_type"].alias("address_type"),
                (i["spent_tx_id"] + shift)
                .cast("long")
                .alias("spent_tx_id"),
                i["spent_index"].alias("spent_index"),
            ),
        ).alias("inputs"),
        F.transform(
            "outputs",
            lambda o: F.struct(
                F.transform(
                    o["address"], lambda a: F.concat(a, suf)
                ).alias("address"),
                o["value"].alias("value"),
                o["address_type"].alias("address_type"),
                # shift output-side pointers by the same per-copy
                # stride (NULL-preserving: NULL + shift = NULL) so
                # the synthetic chain stays self-consistent even
                # for consumers that read output-side linkage
                (o["spent_tx_id"] + shift)
                .cast("long")
                .alias("spent_tx_id"),
                o["spent_index"].alias("spent_index"),
            ),
        ).alias("outputs"),
    )


def bench_chain_families(spark) -> dict:
    """10x rows for the fixture-chain query families (VERDICT r8 item
    4): stage a 10x-denser chain (10 disjoint _copy_chain unions) as a
    SECOND fixture dir, then time each family at 1x and 10x by
    swapping fixtures.DEFAULT_DIR — every chain query loads through
    sources.tables._fixture, which reads that attribute at call time.
    min-of-2, noop sink."""
    import shutil
    from pathlib import Path

    from graphsense_blocksci_spark import fixtures
    from graphsense_blocksci_spark.queries import QUERIES
    from graphsense_blocksci_spark.sources.tables import load_raw_txs

    base_dir = Path(fixtures.ensure_fixtures())
    dense = Path("/tmp/gbs_dense_chain")
    dense.mkdir(parents=True, exist_ok=True)
    base_txs = load_raw_txs(spark)
    txs = _copy_chain(base_txs, 0)
    for c in range(1, 10):
        txs = txs.unionByName(_copy_chain(base_txs, c))
    txs.write.mode("overwrite").parquet(str(dense / "raw_txs.parquet"))
    for f in ("raw_blocks.parquet", "raw_exchange_rates.parquet"):
        if not (dense / f).exists():
            shutil.copy(base_dir / f, dense / f)

    results: dict[str, dict[str, float]] = {n: {} for n in CHAIN_FAMILIES}
    for label, d in (("x1", base_dir), ("x10", dense)):
        old = fixtures.DEFAULT_DIR
        fixtures.DEFAULT_DIR = d
        try:
            for name in CHAIN_FAMILIES:
                best = None
                for _ in range(2):
                    t0 = time.time()
                    QUERIES[name](spark, SRC).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    dt = time.time() - t0
                    best = dt if best is None else min(best, dt)
                results[name][label] = round(best, 2)
                print(f"# {name} {label}: {best:.2f}s", file=sys.stderr)
        finally:
            fixtures.DEFAULT_DIR = old
    for name in CHAIN_FAMILIES:
        row = results[name]
        row["ratio"] = round(row["x10"] / row["x1"], 2)
    return results


SKEW_FAMILIES = [
    "qd16_cospend_entities",
    "qd17_entity_summary",
    "qd19_entity_relations",
]


def _hub_inject(txs, hub_frac_ppm: int = 50_000, copy_mod: int = 3):
    """Append ONE shared hub-wallet input to a deterministic slice of
    non-coinbase txs, so co-spend clustering (qd16) absorbs their
    input addresses into a single giant global entity — the exchange-
    hot-wallet skew shape. The fixture chain ALREADY carries a ~64%
    giant component per copy (measured: 2255/3509 input identities),
    so ANY within-copy injection that touches it absorbs the whole
    copy transitively; the absorbed share is therefore controlled at
    COPY granularity — only every `copy_mod`-th copy is hubbed
    (copy = tx_id div stride), which at 30 copies puts ~⅓ × ~90% ≈
    30% of ALL addresses into the one hub entity. The hub input
    spends nothing (NULL outpoint, value 0): qd16/qd19 read only the
    address identity, and address_balances treats a NULL-outpoint
    input as unresolvable — the hub never distorts the value ledger,
    only the entity graph."""
    hub = F.struct(
        F.array(F.lit("HUBWALLET")).alias("address"),
        F.lit(0).cast("long").alias("value"),
        F.lit(0).cast("short").alias("address_type"),
        F.lit(None).cast("long").alias("spent_tx_id"),
        F.lit(None).cast("int").alias("spent_index"),
    )
    pick = (
        (~F.col("coinbase"))
        & (F.size("inputs") > 0)
        & (
            F.pmod(F.floor(F.col("tx_id") / F.lit(1_000_000_000)),
                   F.lit(copy_mod))
            == 0
        )
        & (F.pmod(F.col("tx_id"), F.lit(1_000_000)) < F.lit(hub_frac_ppm))
    )
    return txs.withColumn(
        "inputs",
        F.when(pick, F.concat("inputs", F.array(hub))).otherwise(
            F.col("inputs")
        ),
    )


def bench_skewed_entities(spark, copies: int = 30) -> dict:
    """Skew-stress the co-spend entity trio (VERDICT r12 item 5): the
    text/similarity families carry 30x pair-linearity rows, but the
    graph side's skew story (large-star splits the hub; AQE absorbs
    the transient) was a claim, not a measurement. Stage the fixture
    chain with a hub wallet co-spending in ~30% of txs at 1x and at
    `copies`x density (hub GLOBAL across copies — one entity absorbs
    ~a third of all addresses at every scale), time
    qd16/qd17/qd19 min-of-2 at both, and report the measured hub
    share so the skew is verified, not assumed."""
    import shutil
    from pathlib import Path

    from graphsense_blocksci_spark import fixtures
    from graphsense_blocksci_spark.queries import QUERIES
    from graphsense_blocksci_spark.sources.tables import load_raw_txs

    base_dir = Path(fixtures.ensure_fixtures())
    out: dict[str, dict] = {n: {} for n in SKEW_FAMILIES}
    stage_dirs = {}
    for label, n_copies in (("x1", 1), (f"x{copies}", copies)):
        d = Path(f"/tmp/gbs_skew_chain_{label}")
        d.mkdir(parents=True, exist_ok=True)
        base_txs = load_raw_txs(spark)
        txs = _copy_chain(base_txs, 0)
        for c in range(1, n_copies):
            txs = txs.unionByName(_copy_chain(base_txs, c))
        _hub_inject(txs).write.mode("overwrite").parquet(
            str(d / "raw_txs.parquet")
        )
        for f in ("raw_blocks.parquet", "raw_exchange_rates.parquet"):
            if not (d / f).exists():
                shutil.copy(base_dir / f, d / f)
        stage_dirs[label] = d

    # verify the skew: share of distinct input-address identities in
    # the hub's entity at each scale (measured, not assumed)
    hub_share = {}
    for label, d in stage_dirs.items():
        old = fixtures.DEFAULT_DIR
        fixtures.DEFAULT_DIR = d
        try:
            ent = QUERIES["qd16_cospend_entities"](spark, SRC)
            hub_ent = (
                ent.filter(F.col("addr") == "HUBWALLET")
                .select("entity")
                .first()
            )
            total = ent.count()
            absorbed = ent.filter(
                F.col("entity") == hub_ent["entity"]
            ).count()
            hub_share[label] = round(absorbed / total, 3)
            print(
                f"# hub share {label}: {absorbed}/{total}"
                f" = {hub_share[label]}",
                file=sys.stderr,
            )
        finally:
            fixtures.DEFAULT_DIR = old

    for label, d in stage_dirs.items():
        old = fixtures.DEFAULT_DIR
        fixtures.DEFAULT_DIR = d
        try:
            for name in SKEW_FAMILIES:
                best = None
                for _ in range(2):
                    t0 = time.time()
                    QUERIES[name](spark, SRC).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    dt = time.time() - t0
                    best = dt if best is None else min(best, dt)
                out[name][label] = round(best, 2)
                print(f"# {name} {label}: {best:.2f}s", file=sys.stderr)
        finally:
            fixtures.DEFAULT_DIR = old
    hi = f"x{copies}"
    for name in SKEW_FAMILIES:
        out[name]["ratio"] = round(out[name][hi] / out[name]["x1"], 2)
    out["hub_share"] = hub_share
    return out


def bench_streaming_index(spark) -> dict:
    """10x row for the streaming index daemon (VERDICT r7 item 8):
    the fixture chain is fixed-size, so the harness builds a 10x-
    DENSER chain — 10 disjoint copies of every transaction (tx ids,
    spent_tx_id pointers, and addresses shifted per copy; block
    heights unchanged), i.e. 10x the per-batch delta and 10x the
    accumulated output/index state at the same chain length — and
    drives run_index_daemon over the same 3-file staging at 1x and
    10x. min-of-2 with fresh work dirs (the checkpoint pins a dir to
    one run)."""
    import os
    import shutil
    import tempfile
    import time as _time

    from graphsense_blocksci_spark import fixtures
    from graphsense_blocksci_spark.sources.tables import load_raw_txs
    from graphsense_blocksci_spark.streaming.index_daemon import (
        run_index_daemon,
    )

    fixtures.ensure_fixtures()
    base_txs = load_raw_txs(spark)
    stride = 1_000_000_000

    def copy_chain(c: int):
        return _copy_chain(base_txs, c, stride)

    tx_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in base_txs.schema
    )

    def run_once(txs) -> float:
        work = tempfile.mkdtemp(prefix="gbs_scaleidx_")
        try:
            cuts = [(None, 333), (333, 666), (666, None)]
            src = f"{work}/stream_src"
            os.makedirs(src, exist_ok=True)
            base = int(_time.time())
            for i, (lo, hi) in enumerate(cuts):
                part = txs
                if lo is not None:
                    part = part.filter(F.col("block_id") > lo)
                if hi is not None:
                    part = part.filter(F.col("block_id") <= hi)
                pdir = f"{work}/src/part{i}"
                part.coalesce(1).write.mode("overwrite").parquet(pdir)
                for fn in sorted(os.listdir(pdir)):
                    if fn.endswith(".parquet"):
                        dst = f"{src}/part{i}.parquet"
                        shutil.copy(f"{pdir}/{fn}", dst)
                        os.utime(dst, (base + 60 * i, base + 60 * i))
            t0 = time.time()
            run_index_daemon(spark, src, work, tx_schema)
            return time.time() - t0
        finally:
            shutil.rmtree(work, ignore_errors=True)

    row: dict[str, float] = {}
    for label, copies in (("x1", 1), ("x10", 10)):
        txs = copy_chain(0)
        for c in range(1, copies):
            txs = txs.unionByName(copy_chain(c))
        txs = txs.localCheckpoint(eager=True)
        best = min(run_once(txs) for _ in range(2))
        row[label] = round(best, 2)
        print(f"# qd48_10x_chain {label}: {best:.2f}s", file=sys.stderr)
    row["ratio"] = round(row["x10"] / row["x1"], 2)
    return {"qd48_streaming_index_daemon_10x_chain": row}


def _shift(col: str, c: int):
    return (F.col(col).cast("long") + F.lit(c * KEY_STRIDE)).alias(col)


def build(spark, out_dir: str = OUT, copies: int = COPIES) -> None:
    from graphsense_blocksci_spark.sources.tables import load_table

    li = load_table(spark, SRC, "lineitem")
    o = load_table(spark, SRC, "orders")
    docs = load_table(spark, SRC, "documents")
    emb = load_table(spark, SRC, "embeddings")
    cust = load_table(spark, SRC, "customer")
    ev = load_table(spark, SRC, "events")
    part = load_table(spark, SRC, "part")

    li_parts = []
    o_parts = []
    d_parts = []
    e_parts = []
    c_parts = []
    ev_parts = []
    p_parts = []
    dim = len(emb.select("embedding").first()[0])
    for c in range(copies):
        li_parts.append(
            li.select(
                _shift("l_orderkey", c),
                _shift("l_partkey", c),
                _shift("l_suppkey", c),
                *[
                    col
                    for col in li.columns
                    if col not in ("l_orderkey", "l_partkey", "l_suppkey")
                ],
            )
        )
        o_parts.append(
            o.select(
                _shift("o_orderkey", c),
                _shift("o_custkey", c),
                *[
                    col
                    for col in o.columns
                    if col not in ("o_orderkey", "o_custkey")
                ],
            )
        )
        if c == 0:
            text = F.col("text")
        else:
            # per-copy token SUFFIX: every shingle/gram differs from
            # every other copy's (cross-copy Jaccard EXACTLY 0 at any
            # copy count) while within-copy near-dup structure is
            # preserved verbatim. The previous scheme — drop every
            # (c+1)-th token — degenerated for c >= ~10: dropping 1
            # token in 30 leaves copies ~97% shingle-identical to
            # copy 0, so a 30-copy corpus grew quadratic cross-copy
            # near-dup families BY CONSTRUCTION and the 30x
            # spot-check measured the synthetic data, not the plan
            # (round-12 finding; BASELINE.md 30x table).
            text = F.array_join(
                F.transform(
                    F.split(F.col("text"), " "),
                    lambda x: F.concat(x, F.lit(f"_k{c}")),
                ),
                " ",
            )
        d_parts.append(
            docs.select(
                _shift("doc_id", c),
                text.alias("text"),
                *[col for col in docs.columns if col not in ("doc_id", "text")],
            )
        )
        # customer names get a 2-char copy prefix for c > 0: every
        # cross-copy name pair sits at Levenshtein distance >= 2, so
        # the threshold-1 edit-distance join scales as 10 disjoint
        # copies (candidate structure preserved, no cross-copy blowup)
        name_col = (
            F.col("c_name")
            if c == 0
            else F.concat(F.lit(f"{c}{c}"), F.col("c_name"))
        )
        c_parts.append(
            cust.select(
                _shift("c_custkey", c),
                name_col.alias("c_name"),
                *[
                    col
                    for col in cust.columns
                    if col not in ("c_custkey", "c_name")
                ],
            )
        )
        # events: user and event ids shift per copy (days unchanged),
        # so activity bitmaps grow by x copies in WORDS while each
        # copy's per-day density is preserved — the linear-growth
        # shape the bitmap-retention family should see.
        ev_parts.append(
            ev.select(
                _shift("event_id", c),
                _shift("user_id", c),
                *[
                    col
                    for col in ev.columns
                    if col not in ("event_id", "user_id")
                ],
            )
        )
        # part: keys shift, brands stay — each copy contributes the
        # same basket-pair structure, so pair counts scale linearly.
        p_parts.append(
            part.select(
                _shift("p_partkey", c),
                *[col for col in part.columns if col != "p_partkey"],
            )
        )
        rot = c % dim
        if rot == 0:
            vec = F.col("embedding")
        else:
            vec = F.concat(
                F.slice(F.col("embedding"), rot + 1, dim - rot),
                F.slice(F.col("embedding"), 1, rot),
            )
        e_parts.append(
            emb.select(
                _shift("vec_id", c),
                vec.alias("embedding"),
                *[
                    col
                    for col in emb.columns
                    if col not in ("vec_id", "embedding")
                ],
            )
        )

    def union_all(parts):
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    for name, frame in (
        ("lineitem", union_all(li_parts)),
        ("orders", union_all(o_parts)),
        ("documents", union_all(d_parts)),
        ("embeddings", union_all(e_parts)),
        ("customer", union_all(c_parts)),
        ("events", union_all(ev_parts)),
        ("part", union_all(p_parts)),
    ):
        path = f"{out_dir}/{name}.parquet"
        frame.write.mode("overwrite").parquet(path)
        print(f"# wrote {path}", file=sys.stderr)

    # dimension tables don't scale with copies: at 10x the fact data a
    # real warehouse still has 25 nations — copy them verbatim so dim
    # joins (q322's nation rollup) resolve against the synth dir.
    for name in ("nation", "region", "supplier"):
        path = f"{out_dir}/{name}.parquet"
        load_table(spark, SRC, name).write.mode("overwrite").parquet(path)
        print(f"# wrote {path} (verbatim dim)", file=sys.stderr)


def bench(spark, out_dir: str = OUT) -> dict:
    from graphsense_blocksci_spark.queries import QUERIES

    results: dict[str, dict[str, float]] = {}
    for name in FAMILIES:
        row: dict[str, float] = {}
        for label, sf_dir in (("sf0.1", SRC), ("sf1", out_dir)):
            best = None
            for _ in range(2):
                t0 = time.time()
                QUERIES[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            row[label] = round(best, 2)
            print(f"# {name} {label}: {best:.2f}s", file=sys.stderr)
        row["ratio"] = round(row["sf1"] / row["sf0.1"], 2)
        results[name] = row
    return results


def main() -> None:
    from graphsense_blocksci_spark.session import get_spark

    # --only name1,name2 filters both family lists so a changed query
    # can be re-measured without the full battery (rows merge into
    # BASELINE.md by name).
    global FAMILIES, CHAIN_FAMILIES
    if "--only" in sys.argv:
        keep = set(sys.argv[sys.argv.index("--only") + 1].split(","))
        FAMILIES = [n for n in FAMILIES if n in keep]
        CHAIN_FAMILIES = [n for n in CHAIN_FAMILIES if n in keep]

    spark = get_spark(app_name="scale-up-spotcheck")
    if "--bench" in sys.argv:
        import os

        if not os.path.exists(f"{OUT}/documents.parquet"):
            build(spark)
        out = bench(spark) if FAMILIES else {}
        if CHAIN_FAMILIES:
            out.update(bench_chain_families(spark))
        if "--only" not in sys.argv:
            out.update(bench_streaming_index(spark))
        print(json.dumps(out, indent=2))
    elif "--bench-streaming" in sys.argv:
        print(json.dumps(bench_streaming_index(spark), indent=2))
    elif "--bench-chain" in sys.argv:
        print(json.dumps(bench_chain_families(spark), indent=2))
    elif "--bench-skew" in sys.argv:
        print(json.dumps(bench_skewed_entities(spark), indent=2))
    else:
        out_dir = sys.argv[1] if len(sys.argv) > 1 else OUT
        copies = int(sys.argv[2]) if len(sys.argv) > 2 else COPIES
        build(spark, out_dir, copies)
    spark.stop()


if __name__ == "__main__":
    main()
