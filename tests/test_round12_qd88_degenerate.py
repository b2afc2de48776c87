"""qd88 degenerate-row parity (VERDICT r11 item 4, closing ADVICE r10
for real): feed transactions the committed fixture never contains —
zero-output non-coinbase, zero-input non-coinbase, NULL address
ARRAYS, empty address arrays, and a coinjoin-shaped tx whose distinct
identity count hinges on a NULL-address input — through BOTH the
Spark query and the DuckDB oracle on the same augmented parquet, and
require the cell-exact match the driver gate would. This pins the
three-valued-logic edges: Spark's `FALSE AND NULL = FALSE` keeps a
zero-output tx in the clean graph exactly like the oracle's
`coalesce(..., FALSE)` LEFT-join derivation, and the oracle's
'<null-addr>' ident sentinel counts NULL-address identities exactly
like Spark's struct equality."""

from __future__ import annotations

import shutil

import duckdb


def _augmented_fixture(tmp_path):
    """Copy the committed mini-chain fixture and append degenerate
    non-coinbase txs with ids above the existing max."""
    from graphsense_blocksci_spark import fixtures

    src = str(fixtures.ensure_fixtures())
    for f in ("raw_blocks.parquet", "raw_exchange_rates.parquet"):
        shutil.copy(f"{src}/{f}", tmp_path / f)
    con = duckdb.connect()
    con.sql(
        f"CREATE TABLE t AS SELECT * FROM"
        f" read_parquet('{src}/raw_txs.parquet')"
    )
    mx = con.sql("SELECT max(tx_id) FROM t").fetchone()[0]
    ins_t = (
        "STRUCT(address VARCHAR[], \"value\" BIGINT,"
        " address_type SMALLINT, spent_tx_id BIGINT,"
        " spent_index INTEGER)[]"
    )

    def inp(addrs, value, atype):
        a = "NULL" if addrs is None else (
            "[" + ",".join(f"'{x}'" for x in addrs) + "]"
        )
        ty = "NULL" if atype is None else str(atype)
        return (
            f"{{address: {a}, \"value\": {value}, address_type:"
            f" CAST({ty} AS SMALLINT), spent_tx_id: NULL,"
            f" spent_index: NULL}}"
        )

    rows = [
        # 1) zero-output non-coinbase: oa/dust rows missing in the
        #    oracle; Spark must evaluate is_cj = FALSE (not NULL) and
        #    keep it in the clean graph.
        (
            mx + 1,
            f"[{inp(['deg_a', 'deg_b'], 100, 1)},"
            f" {inp(['deg_c'], 200, 1)}]",
            "CAST([] AS " + ins_t + ")",
        ),
        # 2) zero-input non-coinbase: iagg row missing; both sides
        #    must score it non-coinjoin without dropping it.
        (
            mx + 2,
            "CAST([] AS " + ins_t + ")",
            f"[{inp(['deg_d'], 50, 1)}, {inp(['deg_e'], 50, 1)},"
            f" {inp(['deg_f'], 50, 1)}]",
        ),
        # 3) coinjoin-shaped tx (2 in, 4 out, max value count 2 = (4+1)//2
        #    ... participants = 2) where one input's address array is
        #    NULL: the distinct identity count (2) decides is_cj = TRUE
        #    on BOTH sides only if the oracle counts the NULL-address
        #    identity like Spark's struct equality does.
        (
            mx + 3,
            f"[{inp(None, 300, 1)}, {inp(['deg_g'], 300, 1)}]",
            f"[{inp(['deg_h'], 900, 1)}, {inp(['deg_i'], 900, 1)},"
            f" {inp(['deg_j'], 123, 1)}, {inp(['deg_k'], 456, 1)}]",
        ),
        # 4) same shape but the second input ALSO renders NULL with the
        #    same type -> both collapse to ONE identity on both sides
        #    (participants 2 > nd 1 -> NOT coinjoin).
        (
            mx + 4,
            f"[{inp(None, 300, 2)}, {inp(None, 300, 2)}]",
            f"[{inp(['deg_l'], 900, 1)}, {inp(['deg_m'], 900, 1)},"
            f" {inp(['deg_n'], 123, 1)}, {inp(['deg_o'], 456, 1)}]",
        ),
        # 5) empty vs NULL address arrays of the same type are DISTINCT
        #    identities (struct equality) -> nd = 2 -> coinjoin; its
        #    inputs are all unrenderable so the audit resolves nothing.
        (
            mx + 5,
            f"[{inp(None, 300, 3)}, {inp([], 300, 3)}]",
            f"[{inp(['deg_p'], 900, 1)}, {inp(['deg_q'], 900, 1)},"
            f" {inp(['deg_r'], 123, 1)}, {inp(['deg_s'], 456, 1)}]",
        ),
        # 6) NULL address_type with a real address list: the r10 type
        #    coalesce leg.
        (
            mx + 6,
            f"[{inp(['deg_t'], 300, None)}, {inp(['deg_u'], 300, 1)}]",
            f"[{inp(['deg_v'], 900, 1)}, {inp(['deg_w'], 900, 1)},"
            f" {inp(['deg_x'], 123, 1)}, {inp(['deg_y'], 456, 1)}]",
        ),
    ]
    for tx_id, ins, outs in rows:
        con.sql(
            f"INSERT INTO t SELECT {tx_id}, CAST('aa' AS BLOB), 0,"
            f" 1230768000, FALSE, {ins}, {outs}"
        )
    out = tmp_path / "raw_txs.parquet"
    con.sql(f"COPY t TO '{out}' (FORMAT PARQUET)")
    con.close()
    return str(tmp_path)


def test_qd88_degenerate_rows_match_oracle(spark, tmp_path):
    from graphsense_blocksci_spark import fixtures
    from graphsense_blocksci_spark.queries import (
        _FIXTURE_DIR,
        ORACLE_SQL,
        qd88_coinjoin_merge_audit,
    )

    d = _augmented_fixture(tmp_path)
    old = fixtures.DEFAULT_DIR
    fixtures.DEFAULT_DIR = d
    try:
        got = sorted(
            tuple(r)
            for r in qd88_coinjoin_merge_audit(spark, d).collect()
        )
    finally:
        fixtures.DEFAULT_DIR = old
    exp = sorted(
        tuple(r)
        for r in duckdb.sql(
            ORACLE_SQL["qd88_coinjoin_merge_audit"].replace(_FIXTURE_DIR, d)
        ).fetchall()
    )
    assert got == exp
    # the injected coinjoin-shaped txs must actually be IN the audit:
    # the histogram covers strictly more stake than the committed
    # fixture alone produces.
    base = sorted(
        tuple(r)
        for r in duckdb.sql(
            ORACLE_SQL["qd88_coinjoin_merge_audit"]
        ).fetchall()
    )
    assert sum(r[2] for r in exp) > sum(r[2] for r in base)
