"""CoinJoin detection as a native column expression.

The reference calls `blocksci.heuristics.is_coinjoin(tx)` (reference:
blocksci_export.py:365; schema.cql:32). The underlying algorithm is
BlockSci's published `isCoinjoin` heuristic (BlockSci C++ source,
src/heuristics/tx_identification.cpp; Kalodner et al., USENIX Security
2020) — a Meiklejohn-style participant-count test:

1. fewer than 2 inputs or fewer than 3 outputs  -> False
2. participantCount = (no_outputs + 1) // 2
3. participantCount > no_inputs                 -> False
4. participantCount > #distinct input addresses -> False
5. the most frequent output value must occur exactly participantCount
   times, and must not be one of the dust constants 546 / 2730 satoshi.

Implemented as one SQL expression of array functions (`size`/
`transform`/`filter`/`array_distinct`/`array_max`; see
`functions/sqltext.py`) — no UDF, no shuffle. Condition 5 is evaluated
flat: each distinct output value is counted once, the max of those
counts must equal participantCount, and neither dust value may occur
exactly participantCount times. Given the first half, the second is the
same as "no max-count value is dust". A NULL output value equals
nothing, so it is counted zero times. Per row that costs
O(n_outputs * n_distinct_values) for the value counts, O(n_outputs) per
dust value, and O(n_inputs^2) for the distinct input identities
(`array_distinct` over structs compares them pairwise) — fine for real
transaction fan-outs.

Divergence notes (both documented, both deterministic):
- when several values tie for the max count, BlockSci picks an
  unspecified one (unordered_map iteration order). We define the tie
  deterministically: condition 5 holds iff the max count equals
  participantCount AND no max-count value is dust.
- BlockSci counts one Address object per input regardless of type; we
  count distinct rendered identities `struct(address_type, address)`
  per input — multisig inputs stay ONE identity (not flattened into
  constituents) and NULL-rendered inputs (nonstandard/witness_unknown)
  still count, though several NULL-rendered inputs of the same type
  collapse to one identity (BlockSci would keep them distinct; the
  rendered row carries no further identity to distinguish them).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from graphsense_blocksci_spark.functions.sqltext import ident

DUST_VALUES = (546, 2730)


def is_coinjoin_sql(inputs: str, outputs: str) -> str:
    ins = f"coalesce({ident(inputs)}, array())"
    outs = f"coalesce({ident(outputs)}, array())"
    n_in = f"coalesce(size({ident(inputs)}), 0)"
    n_out = f"coalesce(size({ident(outputs)}), 0)"
    participants = f"CAST(floor(({n_out} + 1) / 2) AS INT)"
    # Distinct input identities: one per input, keyed by the rendered
    # (address_type, address) pair — multisig is one identity, not its
    # flattened constituents; NULL-rendered inputs count too.
    n_distinct_in_addrs = (
        f"size(array_distinct(transform({ins}, i -> named_struct("
        "'address_type', i.address_type, 'address', i.address))))"
    )
    max_count = (
        f"array_max(transform(array_distinct(transform({outs}, o -> o.value)),"
        f" v -> size(filter({outs}, o -> o.value = v))))"
    )
    no_dust_at_max = [
        f"size(filter({outs}, o -> o.value = {int(d)})) != {participants}"
        for d in DUST_VALUES
    ]
    return "(" + " AND ".join([
        f"{n_in} >= 2",
        f"{n_out} >= 3",
        f"{participants} <= {n_in}",
        f"{participants} <= {n_distinct_in_addrs}",
        f"{max_count} = {participants}",
        *no_dust_at_max,
    ]) + ")"


def is_coinjoin(inputs: str, outputs: str) -> Column:
    return F.expr(is_coinjoin_sql(inputs, outputs))
