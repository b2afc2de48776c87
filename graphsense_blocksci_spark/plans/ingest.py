"""The ingest pipelines — every output table of the reference as one
declarative DataFrame transform.

Reference mapping (scripts/blocksci_export.py):
- block                    <- block_summary            (:332-337)
- transaction              <- tx_summary               (:352-365)
- transaction_by_tx_prefix <- tx_short_summary         (:368-371)
                              + BIP30 last-write-wins  (:466-473)
- block_transactions       <- tx_stats per block       (:197-240, :340-345)
- summary_statistics       <- insert_summary_stats     (:374-383)
- configuration            <- insert_configuration     (:622-630)

The reference runs these as separate multiprocess passes over the chain;
here they are projections/aggregations of the same raw DataFrames. Each
table is its own plan: Catalyst shares nothing across separate writes,
so every table written re-scans its raw input (the four bulk sink
writes read the raw txs three times and the raw blocks twice).

Every projection is one `selectExpr` (or `F.expr`) of SQL text built by
the `*_sql` helpers in `functions/` (`functions/sqltext.py`): a table is
built in a few dozen py4j round trips instead of hundreds to a thousand
through the Column API, which matters because the daemon and every
streaming restart rebuild these plans. The text resolves to native
expressions (whole-stage codegen, no UDF); the only shuffles in the
whole ingest are the single groupBy for block_transactions and the
window for BIP30 dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphsense_blocksci_spark.functions.coinjoin import is_coinjoin_sql
from graphsense_blocksci_spark.functions.io_aggs import io_count_sql, io_total_value_sql
from graphsense_blocksci_spark.functions.layout import bucket_group_sql, tx_hash_prefix_sql
from graphsense_blocksci_spark.functions.sqltext import ident
from graphsense_blocksci_spark.schemas import (
    BLOCK_BUCKET_SIZE,
    TX_BUCKET_SIZE,
    TX_HASH_PREFIX_LENGTH,
)


def block_table(raw_blocks: DataFrame, bucket_size: int = BLOCK_BUCKET_SIZE) -> DataFrame:
    """`block` — 5-col projection with derived partition group
    (reference: blocksci_export.py:332-337)."""
    return raw_blocks.selectExpr(
        f"CAST({bucket_group_sql('block_id', bucket_size)} AS INT) AS block_id_group",
        "CAST(`block_id` AS INT) AS block_id",
        "`block_hash`",
        "CAST(`timestamp` AS INT) AS timestamp",
        "CAST(`no_transactions` AS INT) AS no_transactions",
    )


def _io_udt(col: str) -> str:
    """Project a raw-side I/O struct down to the exported UDT shape
    (address, value, address_type) — the reference never exports the
    parser's internal spent-output back-references (schema.cql:15-19)."""
    return (
        f"transform({ident(col)}, x -> named_struct('address', x.address,"
        " 'value', x.value, 'address_type', x.address_type))"
    )


def transaction_table(raw_txs: DataFrame, bucket_size: int = TX_BUCKET_SIZE) -> DataFrame:
    """`transaction` — nested projection incl. totals and the coinjoin
    heuristic (reference: blocksci_export.py:352-365)."""
    return raw_txs.selectExpr(
        f"CAST({bucket_group_sql('tx_id', bucket_size)} AS INT) AS tx_id_group",
        "CAST(`tx_id` AS BIGINT) AS tx_id",
        "`tx_hash`",
        "CAST(`block_id` AS INT) AS block_id",
        "CAST(`timestamp` AS INT) AS timestamp",
        "`coinbase`",
        f"{io_total_value_sql('inputs')} AS total_input",
        f"{io_total_value_sql('outputs')} AS total_output",
        f"{_io_udt('inputs')} AS inputs",
        f"{_io_udt('outputs')} AS outputs",
        f"{is_coinjoin_sql('inputs', 'outputs')} AS coinjoin",
    )


def tx_prefix_table(
    raw_txs: DataFrame, prefix_length: int = TX_HASH_PREFIX_LENGTH
) -> DataFrame:
    """`transaction_by_tx_prefix` — hash-prefix lookup index with BIP30
    last-write-wins dedup.

    The reference achieves the dedup operationally: Cassandra's primary
    key (tx_prefix, tx_hash) upserts, and the two historical duplicate
    hashes are re-inserted so the newest tx_id wins
    (reference: blocksci_export.py:368-371, :466-473). A parquet sink has
    no upsert, so we make the semantics explicit: keep max tx_id per
    tx_hash via a window — the general last-write-wins dedup operator.
    """
    projected = raw_txs.selectExpr(
        f"{tx_hash_prefix_sql('tx_hash', prefix_length)} AS tx_prefix",
        "`tx_hash`",
        "CAST(`tx_id` AS BIGINT) AS tx_id",
    )
    return (
        projected.selectExpr(
            "*", "row_number() OVER (PARTITION BY tx_hash ORDER BY tx_id DESC) AS _rn"
        )
        .filter("_rn = 1")
        .drop("_rn")
    )


def block_transactions_table(
    raw_txs: DataFrame,
    raw_blocks: DataFrame | None = None,
    bucket_size: int = BLOCK_BUCKET_SIZE,
) -> DataFrame:
    """`block_transactions` — per block, the chain-ordered array of
    tx_summary structs (reference: blocksci_export.py:197-240, tx_stats
    :340-345).

    collect_list order is shuffle-dependent, so the array is explicitly
    sorted by tx_id (struct comparison orders by first field) — never
    rely on arrival order.

    The reference iterates BLOCKS, so a block with zero transactions
    still gets a row (empty list). Pass `raw_blocks` to reproduce that
    exactly (left join from blocks, empty array for misses); without
    it, tx-less blocks are absent — indistinguishable on real chains,
    where every block carries at least its coinbase.
    """
    tx = ", ".join([
        "'tx_id', CAST(`tx_id` AS BIGINT)",
        f"'no_inputs', {io_count_sql('inputs')}",
        f"'no_outputs', {io_count_sql('outputs')}",
        f"'total_input', {io_total_value_sql('inputs')}",
        f"'total_output', {io_total_value_sql('outputs')}",
    ])
    summaries = raw_txs.selectExpr(
        "CAST(`block_id` AS INT) AS block_id", f"named_struct({tx}) AS tx"
    )
    grouped = summaries.groupBy("block_id").agg(
        F.expr("sort_array(collect_list(tx)) AS txs")
    )
    if raw_blocks is not None:
        blocks = raw_blocks.selectExpr("CAST(`block_id` AS INT) AS block_id")
        grouped = blocks.join(grouped, "block_id", "left").selectExpr(
            "block_id", "coalesce(txs, array()) AS txs"
        )
    return grouped.selectExpr(
        f"CAST({bucket_group_sql('block_id', bucket_size)} AS INT) AS block_id_group",
        "block_id",
        "txs",
    )


def summary_statistics_table(
    raw_blocks: DataFrame, raw_txs: DataFrame, keyspace: str = "btc"
) -> DataFrame:
    """`summary_statistics` — chain totals keyed by keyspace name
    (reference: blocksci_export.py:374-383): no_blocks = max height + 1,
    no_txs = max tx_id + 1, timestamp of the latest block."""
    blocks_agg = raw_blocks.agg(
        (F.max("block_id") + 1).cast("int").alias("no_blocks"),
        F.max_by("timestamp", "block_id").cast("int").alias("timestamp"),
    )
    txs_agg = raw_txs.agg((F.max("tx_id") + 1).cast("long").alias("no_txs"))
    return (
        blocks_agg.crossJoin(txs_agg)  # two single-row frames
        .select(
            F.lit(keyspace).alias("id"),
            "no_blocks",
            "no_txs",
            "timestamp",
        )
    )


def configuration_table(
    spark: SparkSession,
    keyspace: str = "btc",
    block_bucket_size: int = BLOCK_BUCKET_SIZE,
    tx_prefix_length: int = TX_HASH_PREFIX_LENGTH,
    tx_bucket_size: int = TX_BUCKET_SIZE,
) -> DataFrame:
    """`configuration` — layout constants recorded as data so readers can
    reconstruct the bucketing (reference: blocksci_export.py:622-630)."""
    return spark.createDataFrame(
        [(keyspace, block_bucket_size, tx_prefix_length, tx_bucket_size)],
        "id string, block_bucket_size int, tx_prefix_length int, tx_bucket_size int",
    )


def exchange_rates_table(raw_rates: DataFrame) -> DataFrame:
    """`exchange_rates` — pass-through normalization of the rate feed the
    sibling component writes (schema.cql:58-61): ISO date string key,
    map<currency,float> values."""
    return raw_rates.select(
        F.col("date").cast("string").alias("date"),
        "fiat_values",
    )


def transactions_with_rates(txs: DataFrame, rates: DataFrame) -> DataFrame:
    """Attach the latest rate at-or-before each transaction's day — the
    downstream join the `exchange_rates` table exists for
    (schema.cql:58-61). An as-of join so days with no rate row (weekend
    gaps in fiat feeds) carry the previous rate forward.

    The rate series is one small global table (no entity key), so this
    uses the broadcast interval strategy: the only window runs over the
    rates side; the tx side is never shuffled.
    """
    from graphsense_blocksci_spark.operators.asof import asof_join

    dated = txs.withColumn(
        "_tx_date", F.to_date(F.to_timestamp(F.col("timestamp").cast("long")))
    )
    rated = asof_join(
        dated,
        rates.withColumn("_rate_date", F.to_date("date")),
        on="_tx_date",
        right_on="_rate_date",
        value_cols=["fiat_values"],
        suffix="",
        strategy="broadcast",
    )
    return rated.drop("_tx_date")


def ingest_all(
    spark: SparkSession,
    raw_blocks: DataFrame,
    raw_txs: DataFrame,
    keyspace: str = "btc",
) -> dict[str, DataFrame]:
    """All output tables, each a lazy plan over the raw frames. Every
    table written is one pass over its raw input; the writes do not
    share a scan."""
    return {
        "block": block_table(raw_blocks),
        "transaction": transaction_table(raw_txs),
        "transaction_by_tx_prefix": tx_prefix_table(raw_txs),
        "block_transactions": block_transactions_table(raw_txs, raw_blocks),
        "summary_statistics": summary_statistics_table(raw_blocks, raw_txs, keyspace),
        "configuration": configuration_table(spark, keyspace),
    }
