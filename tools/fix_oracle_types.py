"""One-off: rewrite ORACLE_SQL literals in queries.py so each flagged
output column is CAST at the OUTERMOST projection to the Spark result
type (DuckDB widens aggregate results to HUGEINT regardless of argument
casts, so the cast must wrap the result, not the args).

Operates on source text (handles f-string literals untouched except the
flagged projection items). Idempotent-ish: skips items already wrapped.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

PATH = str(
    Path(__file__).resolve().parents[1] / "graphsense_blocksci_spark" / "queries.py"
)

# (query, column, duckdb cast target) — from tools/oracle_types.py audit.
FIXES: list[tuple[str, str, str]] = [
    ("q01_pricing_summary", "sum_qty", "BIGINT"),
    ("q01_pricing_summary", "sum_base_cents", "BIGINT"),
    ("q13_join_agg", "total_cents", "BIGINT"),
    ("q24_rollup", "sum_cents", "BIGINT"),
    ("q26_scalar_funcs", "order_month", "TIMESTAMP"),
    ("q29_json_extract", "sum_k", "BIGINT"),
    ("q28_salted_agg", "sum_cents", "BIGINT"),
    ("q27_range_join", "w_start", "TIMESTAMP"),
    ("qd02_transaction_table", "total_input", "BIGINT"),
    ("qd02_transaction_table", "total_output", "BIGINT"),
    ("q45_curation_pipeline", "total_tokens", "BIGINT"),
    ("q45_curation_pipeline", "dups_absorbed", "BIGINT"),
    ("qd07_streaming_roundtrip", "total_input", "BIGINT"),
    ("qd07_streaming_roundtrip", "total_output", "BIGINT"),
    ("qd11_unnest_roundtrip", "block_id", "BIGINT"),
    ("qd10_streaming_curation", "total_tokens", "BIGINT"),
    ("q85_range_frame", "mills_24h", "BIGINT"),
    ("q86_grouping_sets", "sum_cents", "BIGINT"),
    ("q88_product_profit", "profit_cents", "BIGINT"),
    ("q89_national_part_value", "value_cents", "BIGINT"),
    ("qd15_address_balances", "received_value", "BIGINT"),
    ("qd15_address_balances", "spent_value", "BIGINT"),
    ("qd15_address_balances", "balance", "BIGINT"),
    ("qd17_entity_summary", "n_received", "BIGINT"),
    ("qd17_entity_summary", "received_value", "BIGINT"),
    ("qd17_entity_summary", "spent_value", "BIGINT"),
    ("qd17_entity_summary", "balance", "BIGINT"),
    ("q74_session_window", "sum_mills", "BIGINT"),
    ("q75_pivot", "cents_f", "BIGINT"),
    ("q75_pivot", "cents_o", "BIGINT"),
    ("q76_hopping_windows", "sum_mills", "BIGINT"),
    ("q77_nation_volume", "revenue_cents", "BIGINT"),
    ("q78_market_share", "nation_cents", "BIGINT"),
    ("q78_market_share", "total_cents", "BIGINT"),
    ("q79_top_supplier", "total_revenue_cents", "BIGINT"),
    ("q80_disjunctive_predicates", "revenue_cents", "BIGINT"),
    ("q55_salted_join", "sum_cents", "BIGINT"),
    ("q57_forecast_revenue", "revenue_cents", "BIGINT"),
    ("q58_shipmode_priority", "high_line_count", "BIGINT"),
    ("q58_shipmode_priority", "low_line_count", "BIGINT"),
    ("q67_promo_revenue", "promo_cents", "BIGINT"),
    ("q67_promo_revenue", "total_cents", "BIGINT"),
    ("q69_small_qty_revenue", "small_qty_cents", "BIGINT"),
    ("q70_idle_rich_customers", "totacctbal_cents", "BIGINT"),
    ("q62_returned_items", "lost_cents", "BIGINT"),
    ("q60_large_orders", "total_qty", "BIGINT"),
    ("q51_cube", "sum_cents", "BIGINT"),
    ("q52_lead_lag_running", "running_mills", "BIGINT"),
    ("q48_shipping_priority", "revenue_cents", "BIGINT"),
    ("q49_regional_revenue", "revenue_cents", "BIGINT"),
]


def find_literal_span(src: str, name: str) -> tuple[int, int]:
    """Span of the oracle string literal BODY for `name` in ORACLE_SQL."""
    anchor = src.index("ORACLE_SQL: dict[str, str] = {")
    key = f'"{name}": '
    k = src.index(key, anchor)
    q = src.index('"""', k + len(key)) + 3
    end = src.index('"""', q)
    return q, end


def depth0_find(text: str, word: str, start: int = 0) -> int:
    """Index of regex `word` at paren-depth 0, or -1."""
    depth = 0
    pat = re.compile(word)
    i = start
    while i < len(text):
        c = text[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "'":
            j = text.index("'", i + 1)
            i = j
        elif depth == 0:
            m = pat.match(text, i)
            if m:
                return i
        i += 1
    return -1


def split_top_commas(text: str) -> list[str]:
    items, depth, cur = [], 0, []
    i = 0
    while i < len(text):
        c = text[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "'":
            j = text.index("'", i + 1)
            cur.append(text[i : j + 1])
            i = j + 1
            continue
        if c == "," and depth == 0:
            items.append("".join(cur))
            cur = []
        else:
            cur.append(c)
        i += 1
    items.append("".join(cur))
    return items


def rewrite(body: str, col: str, target: str) -> str:
    # outermost SELECT = last depth-0 SELECT
    sel = -1
    pos = 0
    while True:
        nxt = depth0_find(body, r"\bSELECT\b", pos)
        if nxt < 0:
            break
        sel, pos = nxt, nxt + 6
    if sel < 0:
        raise ValueError("no depth-0 SELECT")
    proj_start = sel + len("SELECT")
    frm = depth0_find(body, r"\bFROM\b", proj_start)
    if frm < 0:
        raise ValueError("no depth-0 FROM after outer SELECT")
    proj = body[proj_start:frm]
    items = split_top_commas(proj)
    hit = False
    for idx, item in enumerate(items):
        stripped = item.strip()
        m = re.match(rf"^(.*\S)\s+AS\s+{re.escape(col)}$", stripped, re.S)
        if m:
            expr = m.group(1)
            if re.match(rf"^CAST\s*\(", expr, re.I) and expr.rstrip().endswith(
                f"AS {target})"
            ):
                return body  # already wrapped
            prefix = ""
            if expr.upper().startswith("DISTINCT "):
                prefix, expr = expr[:9], expr[9:]
            new = f"{prefix}CAST({expr} AS {target}) AS {col}"
        elif stripped == col or re.match(
            rf"^\w+\.{re.escape(col)}$", stripped
        ):
            new = f"CAST({stripped} AS {target}) AS {col}"
        else:
            continue
        lead = item[: len(item) - len(item.lstrip())]
        trail = item[len(item.rstrip()) :]
        items[idx] = lead + new + trail
        hit = True
        break
    if not hit:
        raise ValueError(f"projection item for {col!r} not found")
    return body[:proj_start] + ",".join(items) + body[frm:]


def main() -> int:
    src = open(PATH).read()
    failed = []
    for name, col, target in FIXES:
        try:
            s, e = find_literal_span(src, name)
            new_body = rewrite(src[s:e], col, target)
            src = src[:s] + new_body + src[e:]
        except Exception as exc:  # noqa: BLE001
            failed.append(f"{name}.{col}: {exc}")
    open(PATH, "w").write(src)
    for f in failed:
        print("MANUAL:", f)
    print(f"rewrote {len(FIXES) - len(failed)}/{len(FIXES)}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
