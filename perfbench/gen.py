"""Seeded input generators for the benchmark.

Every input the program sees is made here from the run's seed: the
finance CSVs of the month-close path (FIXTURES.md §A, many entities,
a small share of dirty rows) and a TPC-H-like parquet directory
(FIXTURES.md §B: the relational tables plus ``events``).  The same seed gives byte-identical
files.  Generation is numpy/pyarrow only, so it never touches Spark.
"""

from __future__ import annotations

import csv
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

COA_ROWS = [
    ("10000001", "Cash and Inventory", "Asset"),
    ("11000001", "Accounts Receivable", "Asset"),
    ("20000001", "Accounts Payable", "Liability"),
    ("21000001", "Accrued Liabilities", "Liability"),
    ("40000001", "Product Revenue", "Revenue"),
    ("40000002", "Service Revenue", "Revenue"),
    ("50000001", "Cost of Goods Sold", "COGS"),
    ("61000001", "Payroll Expense", "Expense"),
    ("61000002", "Benefits Expense", "Expense"),
    ("62000001", "Rent Expense", "Expense"),
    ("63000001", "Utilities Expense", "Expense"),
    ("64000001", "Other Expense", "Expense"),
]
CURRENCIES = ("USD", "TZS", "EUR")
SKUS = ("HONEY-DRUM", "WAX-BLOCK", "GIN-750ML")
MOVES = ("receipt", "issue", "adjustment")


def month_days(month: str) -> list[dt.date]:
    start = dt.date.fromisoformat(f"{month}-01")
    end = (start.replace(day=28) + dt.timedelta(days=5)).replace(day=1)
    return [start + dt.timedelta(days=i) for i in range((end - start).days)]


def _write_csv(path: str, header: list[str], rows) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(header)
        n = 0
        for r in rows:
            w.writerow(r)
            n += 1
    return n


def finance_month(
    raw_dir: str,
    reference_dir: str,
    month: str,
    seed: int,
    entities: int,
    rows_per_entity: int,
    dirty_share: float,
) -> dict[str, int]:
    """Write the five raw CSVs of one month plus the chart of accounts.

    Dirty rows (about ``dirty_share`` of sales, expenses, payroll and
    inventory) each break one DQ check: amount <= 0, an account code
    outside the chart, a non-numeric amount, a duplicate key, a broken
    payroll identity, an unknown movement type, and a bad currency
    dated after the month (so the FX join of the month never sees it).
    Returns the row count of each file."""
    rng = np.random.default_rng(seed)
    days = [d.isoformat() for d in month_days(month)]
    after = (month_days(month)[-1] + dt.timedelta(days=15)).isoformat()
    ents = [f"E{i:03d}" for i in range(entities)]
    counts = {
        "chart_of_accounts": _write_csv(
            os.path.join(reference_dir, "chart_of_accounts.csv"),
            ["account_code", "account_name", "account_type"],
            COA_ROWS,
        )
    }

    eur = rng.uniform(1.05, 1.15, len(days)).round(6)
    tzs = rng.uniform(0.00038, 0.00045, len(days)).round(8)
    fx = []
    for i, d in enumerate(days):
        fx += [[d, "USD", "USD", 1.0], [d, "EUR", "USD", eur[i]], [d, "TZS", "USD", tzs[i]]]
    counts["fx_rates"] = _write_csv(
        os.path.join(raw_dir, "fx_rates.csv"),
        ["date", "from_currency", "to_currency", "rate"],
        fx,
    )

    def dirty(n: int) -> np.ndarray:
        return rng.random(n) < dirty_share

    def docs(prefix: str, lo: float, hi: float, codes: tuple[str, ...], bad_code: str):
        rows = []
        for e in ents:
            n = rows_per_entity
            day = rng.integers(0, len(days), n)
            ccy = rng.integers(0, 3, n)
            amt = rng.uniform(lo, hi, n).round(2)
            code = rng.integers(0, len(codes), n)
            bad = dirty(n)
            kind = rng.integers(0, 4, n)
            for i in range(n):
                row = [days[day[i]], e, f"{prefix}-{e}-{i:05d}", codes[code[i]],
                       CURRENCIES[ccy[i]], amt[i], f"{prefix} {i}"]
                if bad[i]:
                    if kind[i] == 0:
                        row[5] = -row[5]
                    elif kind[i] == 1:
                        row[3] = bad_code
                    elif kind[i] == 2:
                        row[5] = "n/a"
                    else:
                        # duplicate key with a bad currency, dated after
                        # the month: flagged by DQ, never FX-joined
                        rows.append([after, e, f"{prefix}-{e}-{i:05d}", codes[0], "GBP", 1.0, "dup"])
                rows.append(row)
        return rows

    counts["sales"] = _write_csv(
        os.path.join(raw_dir, "sales.csv"),
        ["date", "entity", "invoice_id", "account_code", "currency", "amount", "description"],
        docs("INV", 200, 5000, ("40000001", "40000002"), "49999999"),
    )
    counts["expenses"] = _write_csv(
        os.path.join(raw_dir, "expenses.csv"),
        ["date", "entity", "bill_id", "account_code", "currency", "amount", "description"],
        docs("BILL", 50, 2500, ("62000001", "63000001", "64000001"), "69999999"),
    )

    pay = []
    for e in ents:
        n = max(1, rows_per_entity // 4)
        gross = rng.uniform(800, 3000, n).round(2)
        ded = (gross * rng.uniform(0.1, 0.3, n)).round(2)
        ccy = rng.integers(0, 2, n)
        bad = dirty(n)
        for i in range(n):
            net = round(gross[i] - ded[i], 2) + (50.0 if bad[i] else 0.0)
            pay.append([month, e, f"EMP-{e}-{i:04d}", CURRENCIES[ccy[i]], gross[i], ded[i], net])
    counts["payroll"] = _write_csv(
        os.path.join(raw_dir, "payroll.csv"),
        ["month", "entity", "employee_id", "currency", "gross", "deductions", "net"],
        pay,
    )

    inv = []
    for e in ents:
        n = rows_per_entity
        day = rng.integers(0, len(days), n)
        sku = rng.integers(0, len(SKUS), n)
        mv = rng.integers(0, 3, n)
        qty = rng.uniform(1, 50, n).round(2)
        cost = rng.uniform(2, 80, n).round(2)
        ccy = rng.integers(0, 3, n)
        bad = dirty(n)
        for i in range(n):
            inv.append([days[day[i]], e, SKUS[sku[i]], "teleport" if bad[i] else MOVES[mv[i]],
                        qty[i], cost[i], CURRENCIES[ccy[i]]])
    counts["inventory_movements"] = _write_csv(
        os.path.join(raw_dir, "inventory_movements.csv"),
        ["date", "entity", "sku", "movement_type", "qty", "unit_cost", "currency"],
        inv,
    )
    return counts


# ---------------------------------------------------------------------------
# TPC-H-like parquet tables (FIXTURES.md §B)
# ---------------------------------------------------------------------------

_EPOCH = np.datetime64("1994-01-01", "us")
_ORDER_SPAN_DAYS = 2770  # 1994-01-01 .. 2001-08-01
_TYPES = ("ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_ADJ = ("small", "red", "blue", "hot", "old", "large")
_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate")
_EVENT_TYPES = ("view", "click", "signup", "purchase", "error")


def _put(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"), compression="snappy")


def _pick(rng, values: tuple[str, ...], n: int) -> pa.Array:
    return pa.DictionaryArray.from_arrays(
        pa.array(rng.integers(0, len(values), n), pa.int32()), pa.array(values)
    ).cast(pa.string())


def tpch_like(out_dir: str, seed: int, sf: float, events: int) -> None:
    """Write the seven relational FIXTURES.md §B tables at scale ``sf``
    (lineitem has about 6e6*sf rows) plus ``events`` events."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_nat = int(1_500_000 * sf), 25
    _put(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _put(out_dir, "nation", {
        "n_nationkey": pa.array(range(n_nat), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(n_nat)],
        "n_regionkey": pa.array([i % 5 for i in range(n_nat)], pa.int32()),
    })
    _put(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, n_nat, n_cust).astype(np.int32),
        "c_acctbal": rng.uniform(-999, 9999, n_cust).round(2),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    _put(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, n_nat, n_supp).astype(np.int32),
        "s_acctbal": rng.uniform(-999, 9999, n_supp).round(2),
    })
    adj, noun = rng.integers(0, 6, n_part), rng.integers(0, 6, n_part)
    _put(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, _TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": (900 + np.arange(n_part) % 1000 * 0.1).round(2),
    })
    odate = _EPOCH + rng.integers(0, _ORDER_SPAN_DAYS, n_ord).astype("timedelta64[D]")
    _put(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": rng.uniform(1000, 500_000, n_ord).round(2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(okey)
    lineno = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = odate[okey] + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    _put(out_dir, "lineitem", {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": lineno,
        "l_quantity": qty,
        "l_extendedprice": (qty * rng.uniform(900, 2000, n_li)).round(2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
        "l_linestatus": _pick(rng, ("F", "O"), n_li),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })

    n_users = max(10, events // 60)
    gaps = rng.exponential(30 * 86400e6 / events, events).astype(np.int64)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    _put(out_dir, "events", {
        "event_id": np.arange(events, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, events),
        "event_type": _pick(rng, _EVENT_TYPES, events),
        "value": rng.uniform(0, 100, events).round(2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, events)],
    })

