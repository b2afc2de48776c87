"""Table-driven unit tests for the coinjoin heuristic (SURVEY §2.B5).

Cases derived from the published BlockSci `isCoinjoin` semantics
(src/heuristics/tx_identification.cpp in the public BlockSci repo).
"""

from __future__ import annotations

import random
from collections import Counter

import pytest

from graphsense_blocksci_spark.functions import is_coinjoin
from graphsense_blocksci_spark.functions.coinjoin import DUST_VALUES
from graphsense_blocksci_spark.schemas import RAW_TXS


def _io(addr, value, atype=3):
    return {"address": addr, "value": value, "address_type": atype}


CASES = [
    # (name, inputs, outputs, expected)
    (
        "classic_2_participants",
        [_io(["a1"], 100), _io(["a2"], 100)],
        [_io(["b1"], 50), _io(["b2"], 50), _io(["c1"], 90)],
        True,
    ),
    ("too_few_inputs", [_io(["a1"], 100)], [_io(["b1"], 50), _io(["b2"], 50), _io(["c1"], 40)], False),
    ("too_few_outputs", [_io(["a1"], 100), _io(["a2"], 100)], [_io(["b1"], 50), _io(["b2"], 50)], False),
    (
        "participants_exceed_inputs",
        [_io(["a1"], 100), _io(["a2"], 100)],
        # 5 outputs -> 3 participants > 2 inputs
        [_io(["b1"], 50), _io(["b2"], 50), _io(["b3"], 50), _io(["c1"], 20), _io(["c2"], 20)],
        False,
    ),
    (
        "same_input_address",
        # distinct input addresses (1) < participants (2)
        [_io(["a1"], 100), _io(["a1"], 100)],
        [_io(["b1"], 50), _io(["b2"], 50), _io(["c1"], 90)],
        False,
    ),
    (
        "wrong_equal_count",
        # max value frequency is 3, participants = 2
        [_io(["a1"], 100), _io(["a2"], 100)],
        [_io(["b1"], 50), _io(["b2"], 50), _io(["b3"], 50)],
        False,
    ),
    (
        "dust_equal_value",
        [_io(["a1"], 100), _io(["a2"], 100)],
        [_io(["b1"], 546), _io(["b2"], 546), _io(["c1"], 90)],
        False,
    ),
    (
        "three_participants",
        [_io(["a1"], 100), _io(["a2"], 100), _io(["a3"], 100)],
        # 6 outputs -> participants 3; value 40 appears exactly 3x
        [_io(["b1"], 40), _io(["b2"], 40), _io(["b3"], 40), _io(["c1"], 10), _io(["c2"], 12), _io(["c3"], 13)],
        True,
    ),
    ("coinbase_empty_inputs", [], [_io(["b1"], 50), _io(["b2"], 50), _io(["c1"], 90)], False),
]


@pytest.mark.parametrize("name,inputs,outputs,expected", CASES, ids=[c[0] for c in CASES])
def test_coinjoin_cases(spark, name, inputs, outputs, expected):
    rows = [
        {
            "tx_id": 0,
            "tx_hash": b"\x00" * 32,
            "block_id": 0,
            "timestamp": 0,
            "coinbase": False,
            "inputs": inputs,
            "outputs": outputs,
        }
    ]
    df = spark.createDataFrame(rows, RAW_TXS)
    got = df.select(is_coinjoin("inputs", "outputs").alias("cj")).first()["cj"]
    assert bool(got) is expected


def _is_coinjoin_py(inputs, outputs, dust=DUST_VALUES) -> bool:
    """The rule as the `functions/coinjoin.py` docstring states it,
    conditions 1-5 in order, with its tie, identity and NULL-value
    definitions."""
    ins, outs = inputs or [], outputs or []
    if len(ins) < 2 or len(outs) < 3:
        return False
    participants = (len(outs) + 1) // 2
    if participants > len(ins):
        return False
    identities = {
        (i["address_type"], None if i["address"] is None else tuple(i["address"]))
        for i in ins
    }
    if participants > len(identities):
        return False
    counts = Counter(o["value"] for o in outs if o["value"] is not None)
    max_count = max(counts.values(), default=0)
    return max_count == participants and not any(
        c == max_count and v in dust for v, c in counts.items()
    )


def _random_tx(rng: random.Random) -> tuple[list | None, list | None]:
    """One transaction drawn to hit every branch of the rule: NULL I/O
    arrays, NULL-rendered and multi-address inputs from a small address
    pool (so identities repeat), NULL and dust output values, and an
    equal-value output set of about the participant count with a second
    value sometimes tying it."""

    def one_input():
        kind = rng.random()
        if kind < 0.15:
            return _io(None, rng.choice([100, 200]), rng.choice([1, 7, 10]))
        if kind < 0.3:
            pool = ["m1", "m2", "m3"]
            return _io(rng.sample(pool, rng.choice([2, 3])), 100, 6)
        return _io([rng.choice(["a1", "a2", "a3", "a4", "a5"])], 100, rng.choice([2, 3]))

    inputs = None if rng.random() < 0.05 else [one_input() for _ in range(rng.randint(0, 6))]
    if rng.random() < 0.05:
        return inputs, None
    n_out = rng.randint(0, 9)
    participants = (n_out + 1) // 2
    pool = [546, 2730, 1000, 5000, 777, None]
    values = [rng.choice(pool) for _ in range(n_out)]
    if n_out and rng.random() < 0.7:
        # an equal-value set of size participants (sometimes one off),
        # and sometimes a second value of the same size: a tie
        size = max(0, min(n_out, participants + rng.choice([0, 0, 0, -1, 1])))
        equal, tie = rng.sample([546, 2730, 1000, 5000], 2)
        values = [equal] * size + [rng.choice([123, 456, 789, None]) for _ in range(n_out - size)]
        if rng.random() < 0.3 and 2 * size <= n_out:
            values[size : 2 * size] = [tie] * size
        rng.shuffle(values)
    return inputs, [_io(["o%d" % k], v, 3) for k, v in enumerate(values)]


def test_coinjoin_matches_python_port_of_the_rule(spark):
    """`is_coinjoin` against a plain-Python port of the documented rule
    on 2,000 seeded random transactions."""
    rng = random.Random(20261019)
    rows = [(k, *_random_tx(rng)) for k in range(2000)]
    io = "array<struct<address:array<string>,value:bigint,address_type:smallint>>"
    df = spark.createDataFrame(rows, f"k int, inputs {io}, outputs {io}")
    got = dict(df.select("k", is_coinjoin("inputs", "outputs").alias("cj")).collect())
    want = {k: _is_coinjoin_py(i, o) for k, i, o in rows}
    wrong = [k for k in want if got[k] is not want[k]]
    assert not wrong, [(rows[k], got[k], want[k]) for k in wrong[:3]]
    # the draw reaches every branch the rule has
    seen = Counter()
    for k, ins, outs in rows:
        counts = Counter(o["value"] for o in outs or [] if o["value"] is not None)
        top = max(counts.values(), default=0)
        seen["coinjoin"] += want[k]
        seen["null_array"] += ins is None or outs is None
        seen["null_value"] += any(o["value"] is None for o in outs or [])
        seen["multi_address"] += any(len(i["address"] or []) > 1 for i in ins or [])
        seen["tie_at_participants"] += want[k] and sum(c == top for c in counts.values()) > 1
        seen["dust_decides"] += not want[k] and _is_coinjoin_py(ins, outs, dust=())
    assert min(seen.values()) > 0 and len(seen) == 6, seen
