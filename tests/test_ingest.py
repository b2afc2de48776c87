"""Golden/invariant tests for the ingest pipelines (FIXTURES.md §C)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import py4j_commands
from graphsense_blocksci_spark import schemas
from graphsense_blocksci_spark.plans import (
    block_table,
    block_transactions_table,
    ingest_all,
    summary_statistics_table,
    transaction_table,
    tx_prefix_table,
)
from graphsense_blocksci_spark.sources import load_raw_blocks, load_raw_txs


def test_block_bucketing(spark, fixture_dir):
    raw = load_raw_blocks(spark, fixture_dir)
    out = block_table(raw)
    bad = out.filter(
        F.col("block_id_group") != F.floor(F.col("block_id") / 100).cast("int")
    ).count()
    assert bad == 0
    assert out.count() == raw.count()


def test_tx_bucketing_and_totals(spark, fixture_dir):
    raw = load_raw_txs(spark, fixture_dir)
    out = transaction_table(raw)
    checks = out.select(
        (F.col("tx_id_group") != F.floor(F.col("tx_id") / 25000).cast("int")).alias("bad_group"),
        (
            F.col("total_input")
            != F.aggregate(F.coalesce("inputs", F.array()), F.lit(0).cast("long"), lambda a, x: a + x["value"])
        ).alias("bad_in"),
        (
            F.col("total_output")
            != F.aggregate(F.coalesce("outputs", F.array()), F.lit(0).cast("long"), lambda a, x: a + x["value"])
        ).alias("bad_out"),
        (F.col("coinbase") & (F.col("total_input") != 0)).alias("bad_coinbase"),
    )
    agg = checks.agg(
        *[F.sum(F.col(c).cast("int")).alias(c) for c in ("bad_group", "bad_in", "bad_out", "bad_coinbase")]
    ).first()
    assert agg["bad_group"] == 0
    assert agg["bad_in"] == 0
    assert agg["bad_out"] == 0
    assert agg["bad_coinbase"] == 0


def test_tx_prefix_and_bip30(spark, fixture_dir):
    raw = load_raw_txs(spark, fixture_dir)
    out = tx_prefix_table(raw)
    # prefix derivation
    bad = out.filter(
        F.col("tx_prefix") != F.substring(F.lower(F.hex("tx_hash")), 1, 5)
    ).count()
    assert bad == 0
    # one row per distinct hash, and it carries the max tx_id (BIP30)
    assert out.groupBy("tx_hash").count().filter("count > 1").count() == 0
    expected = raw.groupBy("tx_hash").agg(F.max("tx_id").alias("tx_id"))
    assert out.select("tx_hash", "tx_id").exceptAll(expected).count() == 0
    # the fixtures actually contain duplicates, so the op is exercised
    assert raw.count() > out.count()


def test_block_transactions_sorted(spark, fixture_dir):
    raw = load_raw_txs(spark, fixture_dir)
    out = block_transactions_table(raw)
    # blocks-complete variant: a block with no txs still gets a row
    blocks = raw.sparkSession.read.parquet(f"{fixture_dir}/raw_blocks.parquet")
    extra = blocks.limit(0).sparkSession.createDataFrame(
        [(99999, None, 0, 0)], blocks.schema
    )
    with_empty = block_transactions_table(raw, blocks.unionByName(extra))
    row = with_empty.filter(with_empty.block_id == 99999).first()
    assert row is not None and row.txs == []
    # arrays sorted by tx_id and counts match the per-block tx count
    checks = out.select(
        "block_id",
        (F.size("txs") == 0).alias("empty"),
        (
            F.transform("txs", lambda t: t["tx_id"])
            != F.sort_array(F.transform("txs", lambda t: t["tx_id"]))
        ).alias("unsorted"),
    )
    assert checks.filter("empty or unsorted").count() == 0
    per_block = raw.groupBy("block_id").count()
    joined = out.join(per_block, "block_id")
    assert joined.filter(F.size("txs") != F.col("count")).count() == 0
    # no_inputs/no_outputs within structs
    exploded = out.select(F.explode("txs").alias("t")).select("t.*")
    src = raw.select(
        "tx_id",
        F.coalesce(F.size("inputs"), F.lit(0)).alias("exp_in"),
        F.coalesce(F.size("outputs"), F.lit(0)).alias("exp_out"),
    )
    j = exploded.join(src, "tx_id")
    assert j.filter((F.col("no_inputs") != F.col("exp_in")) | (F.col("no_outputs") != F.col("exp_out"))).count() == 0


def test_summary_statistics(spark, fixture_dir):
    raw_b = load_raw_blocks(spark, fixture_dir)
    raw_t = load_raw_txs(spark, fixture_dir)
    row = summary_statistics_table(raw_b, raw_t, "btc").first()
    exp_b = raw_b.agg(F.max("block_id")).first()[0] + 1
    exp_t = raw_t.agg(F.max("tx_id")).first()[0] + 1
    last_ts = raw_b.orderBy(F.desc("block_id")).first()["timestamp"]
    assert row["id"] == "btc"
    assert row["no_blocks"] == exp_b
    assert row["no_txs"] == exp_t
    assert row["timestamp"] == last_ts


def test_ingest_all_names_and_types_match_declared_schemas(spark, fixture_dir):
    """Every `ingest_all` table has the column names and types that
    schemas.py declares for it. Nullability is not compared: the plans'
    outputs differ from the declared constants there in every table
    (e.g. output `tx_id` is nullable, since parquet reads are)."""
    tables = ingest_all(
        spark, load_raw_blocks(spark, fixture_dir), load_raw_txs(spark, fixture_dir)
    )
    declared = {
        "block": schemas.BLOCK,
        "transaction": schemas.TRANSACTION,
        "transaction_by_tx_prefix": schemas.TRANSACTION_BY_TX_PREFIX,
        "block_transactions": schemas.BLOCK_TRANSACTIONS,
        "summary_statistics": schemas.SUMMARY_STATISTICS,
        "configuration": schemas.CONFIGURATION,
    }
    assert tables.keys() == declared.keys()
    for name, df in tables.items():
        got = [(f.name, f.dataType.simpleString()) for f in df.schema]
        want = [(f.name, f.dataType.simpleString()) for f in declared[name]]
        assert got == want, name


def test_transaction_sinks_read_back_the_declared_nested_types(spark, fixture_dir, tmp_path):
    """The batch `transaction` sink and the stream's file sink, each read
    back, hold `inputs`/`outputs` with the nested types, nullability
    included, that schemas.TRANSACTION declares."""
    from graphsense_blocksci_spark.sources import write_bucketed_table
    from graphsense_blocksci_spark.streaming import stream_transactions

    raw = load_raw_txs(spark, fixture_dir)
    raw.write.parquet(str(tmp_path / "src"))
    batch, stream = str(tmp_path / "batch"), str(tmp_path / "stream")
    write_bucketed_table(transaction_table(raw), batch, "tx_id_group", "tx_id")
    stream_transactions(
        spark, str(tmp_path / "src"), stream, str(tmp_path / "ckpt"), available_now=True
    ).awaitTermination(120)

    def nested(schema):
        return {f.name: f.dataType.jsonValue() for f in schema if f.name in ("inputs", "outputs")}

    declared = nested(schemas.TRANSACTION)
    assert nested(spark.read.parquet(batch).schema) == declared
    assert nested(spark.read.parquet(stream).schema) == declared


# py4j commands to build each table, counted after one warm call. Each
# helper is one SQL text per column, so a build is a handful of
# selectExpr calls; through the Column API the same builds took 1,215,
# 618, 181 and 151 commands.
BUILD_COMMAND_BOUNDS = {
    "transaction": (lambda blocks, txs: transaction_table(txs), 24),
    "block_transactions": (lambda blocks, txs: block_transactions_table(txs, blocks), 64),
    "block": (lambda blocks, txs: block_table(blocks), 16),
    "transaction_by_tx_prefix": (lambda blocks, txs: tx_prefix_table(txs), 32),
}


@pytest.mark.parametrize("name", BUILD_COMMAND_BOUNDS)
def test_ingest_build_py4j_round_trips_bounded(spark, fixture_dir, name):
    build, bound = BUILD_COMMAND_BOUNDS[name]
    blocks = load_raw_blocks(spark, fixture_dir)
    txs = load_raw_txs(spark, fixture_dir)
    build(blocks, txs)
    with py4j_commands(spark) as calls:
        build(blocks, txs)
    assert 0 < calls.n <= bound, calls.n
