"""Explicit schemas and layout constants.

Mirrors the reference DDL (reference: scripts/schema.cql:6-75) and the
constants in scripts/blocksci_export.py:35-37. No schema inference anywhere
— the reference's schema system is fixed and explicit
(create_keyspace.py:63-70), and so is ours.

All monetary values are integer satoshis (LongType) — no floating point in
the data plane. Timestamps are epoch-second ints
(blocksci_export.py:359).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- layout constants (blocksci_export.py:35-37) --------------------------
TX_HASH_PREFIX_LENGTH = 5
TX_BUCKET_SIZE = 25_000
BLOCK_BUCKET_SIZE = 100

# Chain-tip reorg safety lag: never ingest the newest N blocks
# (reference: conf/btc.cfg:20 `maxBlockNum: -6`).
REORG_SAFETY_LAG = 6

# --- address-type dictionary (blocksci_export.py:22-33) -------------------
# BlockSci enum repr -> smallint code.
ADDRESS_TYPES: dict[str, int] = {
    "nonstandard": 1,
    "pubkey": 2,
    "pubkeyhash": 3,
    "multisig_pubkey": 4,
    "scripthash": 5,
    "multisig": 6,
    "nulldata": 7,
    "witness_pubkeyhash": 8,
    "witness_scripthash": 9,
    "witness_unknown": 10,
}
# Types rendered as NULL address (blocksci_export.py:322-325):
NULL_ADDRESS_TYPE_CODES = (1, 7, 10)  # nonstandard, nulldata, witness_unknown
MULTISIG_TYPE_CODE = 6

# --- nested types (schema.cql:15-19, 43-49) --------------------------------
# Every field of the I/O struct, and every element of the `transaction`
# arrays that hold it, is nullable: parquet writers store nested fields
# that way, so the batch and the stream `transaction` sinks both read back
# this type (plans/ingest.py casts the arrays to it).
TX_INPUT_OUTPUT = T.StructType(
    [
        T.StructField("address", T.ArrayType(T.StringType()), True),
        T.StructField("value", T.LongType(), True),
        T.StructField("address_type", T.ShortType(), True),
    ]
)

TX_SUMMARY = T.StructType(
    [
        T.StructField("tx_id", T.LongType(), False),
        T.StructField("no_inputs", T.IntegerType(), False),
        T.StructField("no_outputs", T.IntegerType(), False),
        T.StructField("total_input", T.LongType(), False),
        T.StructField("total_output", T.LongType(), False),
    ]
)

# --- input schemas (FIXTURES.md §A.1-A.3) ----------------------------------
RAW_BLOCKS = T.StructType(
    [
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("block_hash", T.BinaryType(), True),
        T.StructField("timestamp", T.IntegerType(), False),
        T.StructField("no_transactions", T.IntegerType(), False),
    ]
)

# Raw-side I/O struct: the UDT fields plus the UTXO back-reference the
# parser resolves (BlockSci does this linkage in C++; SURVEY §2.B1).
# The reference never EXPORTS the reference — transaction_table projects
# back down to TX_INPUT_OUTPUT.
RAW_TX_IO = T.StructType(
    [
        T.StructField("address", T.ArrayType(T.StringType()), True),
        T.StructField("value", T.LongType(), False),
        T.StructField("address_type", T.ShortType(), False),
        T.StructField("spent_tx_id", T.LongType(), True),
        T.StructField("spent_index", T.IntegerType(), True),
    ]
)

RAW_TXS = T.StructType(
    [
        T.StructField("tx_id", T.LongType(), False),
        T.StructField("tx_hash", T.BinaryType(), True),
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("timestamp", T.IntegerType(), False),
        T.StructField("coinbase", T.BooleanType(), False),
        T.StructField("inputs", T.ArrayType(RAW_TX_IO), True),
        T.StructField("outputs", T.ArrayType(RAW_TX_IO), True),
    ]
)

RAW_EXCHANGE_RATES = T.StructType(
    [
        T.StructField("date", T.StringType(), False),
        T.StructField("fiat_values", T.MapType(T.StringType(), T.FloatType()), True),
    ]
)

# --- output table schemas (schema.cql:6-75) --------------------------------
BLOCK = T.StructType(
    [
        T.StructField("block_id_group", T.IntegerType(), False),
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("block_hash", T.BinaryType(), True),
        T.StructField("timestamp", T.IntegerType(), False),
        T.StructField("no_transactions", T.IntegerType(), False),
    ]
)

TRANSACTION = T.StructType(
    [
        T.StructField("tx_id_group", T.IntegerType(), False),
        T.StructField("tx_id", T.LongType(), False),
        T.StructField("tx_hash", T.BinaryType(), True),
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("timestamp", T.IntegerType(), False),
        T.StructField("coinbase", T.BooleanType(), False),
        T.StructField("total_input", T.LongType(), False),
        T.StructField("total_output", T.LongType(), False),
        T.StructField("inputs", T.ArrayType(TX_INPUT_OUTPUT), True),
        T.StructField("outputs", T.ArrayType(TX_INPUT_OUTPUT), True),
        T.StructField("coinjoin", T.BooleanType(), False),
    ]
)

TRANSACTION_BY_TX_PREFIX = T.StructType(
    [
        T.StructField("tx_prefix", T.StringType(), False),
        T.StructField("tx_hash", T.BinaryType(), False),
        T.StructField("tx_id", T.LongType(), False),
    ]
)

BLOCK_TRANSACTIONS = T.StructType(
    [
        T.StructField("block_id_group", T.IntegerType(), False),
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("txs", T.ArrayType(TX_SUMMARY), False),
    ]
)

SUMMARY_STATISTICS = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("no_blocks", T.IntegerType(), False),
        T.StructField("no_txs", T.LongType(), False),
        T.StructField("timestamp", T.IntegerType(), False),
    ]
)

CONFIGURATION = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("block_bucket_size", T.IntegerType(), False),
        T.StructField("tx_prefix_length", T.IntegerType(), False),
        T.StructField("tx_bucket_size", T.IntegerType(), False),
    ]
)

EXCHANGE_RATES = RAW_EXCHANGE_RATES

# Output table name -> schema; mirrors check_tables_arg's table list
# (blocksci_export.py:444-463) plus the epilogue tables.
OUTPUT_TABLES = {
    "block": BLOCK,
    "transaction": TRANSACTION,
    "transaction_by_tx_prefix": TRANSACTION_BY_TX_PREFIX,
    "block_transactions": BLOCK_TRANSACTIONS,
    "summary_statistics": SUMMARY_STATISTICS,
    "configuration": CONFIGURATION,
    "exchange_rates": EXCHANGE_RATES,
}
