"""Stateful streaming CDC log compaction: the streaming face of the
q273 batch apply.

Per-key state is the SURVIVOR op under the total order
(seq, payload_cents, op) — the same total order the batch twin's
row_number uses — kept as ``max(struct(seq, payload_cents, op))`` by
Spark's own streaming aggregate. Max is commutative and idempotent:
batches may arrive in any order, replay, or split arbitrarily and the
converged survivor is identical, which is what makes the cell-exact
oracle against q273's SQL possible. In update mode each batch emits
the keys it touched, with the survivor tagged by ``n_seen`` (the
key's running op count, strictly growing); the freshest emission per
key is the compacted row.

Scale shape: one fixed-width state row per live key — the log
compaction contract — held in the engine's state store, and the
per-batch shuffle is the groupBy(key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cdc_compact_stream(ops: DataFrame, key_col: str = "key") -> DataFrame:
    """Fold a (key, seq, payload_cents, op) op-log stream into per-key
    survivor rows ``(key, n_seen, seq, payload_cents, op)``, a
    streaming aggregate to drain in update mode (see module
    docstring)."""
    survivor = F.max(
        F.struct(
            F.col("seq").cast("long").alias("seq"),
            F.col("payload_cents").cast("long").alias("payload_cents"),
            F.col("op").cast("string").alias("op"),
        )
    )
    return (
        ops.groupBy(F.col(key_col).cast("long").alias("key"))
        .agg(F.count(F.lit(1)).alias("n_seen"), survivor.alias("s"))
        .select("key", "n_seen", "s.seq", "s.payload_cents", "s.op")
    )
