"""Partition-layout column expressions.

The reference buckets surrogate keys so Cassandra partitions stay bounded
(reference: blocksci_export.py:333,355 `height // BLOCK_BUCKET_SIZE`,
`tx.index // TX_BUCKET_SIZE`; :368-371 hash prefix). In Spark the same
derivations become plain column expressions — they stay inside
whole-stage codegen and cost nothing. `bucket_group` and
`tx_hash_prefix` are one SQL expression each (`functions/sqltext.py`);
their `*_sql` forms let a plan put them into one `selectExpr`.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from graphsense_blocksci_spark.functions.sqltext import ident
from graphsense_blocksci_spark.schemas import TX_HASH_PREFIX_LENGTH


def bucket_group_sql(col: str, bucket_size: int) -> str:
    return f"CAST(floor({ident(col)} / {int(bucket_size)}) AS BIGINT)"


def tx_hash_prefix_sql(col: str, length: int = TX_HASH_PREFIX_LENGTH) -> str:
    return f"substring(lower(hex({ident(col)})), 1, {int(length)})"


def bucket_group(col: str, bucket_size: int) -> Column:
    """``id // bucket_size`` as LongType.

    `floor` (not an integer cast) matches Python's floor division on
    negatives, though ids are always >= 0 in practice
    (reference: blocksci_export.py:333,355). The group stays LONG in
    the data plane — an int32 group overflows once id/bucket exceeds
    2^31 (hypothesis-found), and 100 TB-scale surrogate ids get there.
    Sinks whose schema demands the reference's CQL `int` cast at the
    write boundary, where values are range-checked by construction.
    """
    return F.expr(bucket_group_sql(col, bucket_size))


def tx_hash_prefix(col: str, length: int = TX_HASH_PREFIX_LENGTH) -> Column:
    """First `length` lowercase hex chars of a binary hash.

    The reference slices `str(tx_hash)[:5]` where BlockSci renders hashes
    as lowercase hex (reference: blocksci_export.py:368-371). Spark's
    `hex()` is uppercase, hence the `lower()`.
    """
    return F.expr(tx_hash_prefix_sql(col, length))


def morton_key(x: Column | str, y: Column | str, bits: int = 16) -> Column:
    """Z-order (Morton) interleave of two non-negative integers into
    one LONG: bit i of x lands at position 2i, bit i of y at 2i+1.

    The multi-dimensional clustering key data-skipping layouts sort by
    (Delta/Iceberg OPTIMIZE ZORDER): writing files in morton order
    makes each file's (x, y) bounding box small, so min/max footer
    stats prune scans on EITHER dimension — a range-partition on x
    alone can only prune x. Pure bit arithmetic (shiftleft/or), stays
    inside whole-stage codegen; `bits` per dimension caps the domain
    at [0, 2^bits) (callers bucket raw values down first — layout
    keys need ordering, not precision).
    """
    xc = (F.col(x) if isinstance(x, str) else x).cast("long")
    yc = (F.col(y) if isinstance(y, str) else y).cast("long")
    key = F.lit(0).cast("long")
    for i in range(bits):
        key = key.bitwiseOR(
            F.shiftleft(F.shiftright(xc, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(yc, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return key
