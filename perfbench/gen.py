"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of the seed:

- statement CSVs in the reference upload format (FIXTURES.md §1): dotted
  header, USD/CAD mix, back-dated rows, foreign locations, mixed-case
  ``recurring`` literals, some amounts with more than two decimals;
- TPC-H-shaped parquet tables (``lineitem orders part supplier nation``)
  for the registry queries, with the columns and types of the driver
  testdata that ``plans.transactions_view`` reads.

The program under test only ever sees the files written here.
"""

from __future__ import annotations

import csv
import os
import random
from dataclasses import dataclass, field

HEADER = [
    "UserId", "YearMonth", "transactions.id", "transactions.date",
    "transactions.vendor", "transactions.category", "transactions.amount",
    "transactions.currency", "transactions.recurring", "transactions.type",
    "transactions.location", "transactions.description",
]

VENDORS = {
    "Groceries": ["FreshMart", "GreenGrocer", "Costco", "Safeway"],
    "Shopping": ["Amazon", "BestBuy", "Target", "IKEA"],
    "Entertainment": ["Netflix", "Spotify", "CinemaPlex", "Steam"],
    "Food & Beverages": ["Starbucks", "TimHortons", "PizzaHut", "Chipotle"],
    "Health & Wellness": ["GoodLife", "Walgreens", "YogaWorks", "Shoppers"],
}
CATEGORIES = list(VENDORS)
SUBSCRIPTIONS = {"Netflix", "Spotify", "GoodLife", "YogaWorks"}
HOMES = [("US-CA", "USD"), ("US-NY", "USD"), ("CA-BC", "CAD"), ("CA-ON", "CAD")]
FOREIGN = ["FR-IDF", "DZ-ALG", "GB-LND", "MX-CMX", "DE-BE"]


def ym_add(ym: str, months: int) -> str:
    """``yyyyMM`` shifted by ``months`` (wraps across years)."""
    n = int(ym[:4]) * 12 + int(ym[4:]) - 1 + months
    return f"{n // 12:04d}{n % 12 + 1:02d}"


@dataclass
class StatementGen:
    """Statement rows for ``(user, year_month)`` keys. Transaction ids are
    unique across everything one generator emits."""

    seed: int
    next_id: int = 1000
    rng: random.Random = field(init=False)

    def __post_init__(self) -> None:
        self.rng = random.Random(self.seed)

    def home(self, user: str) -> tuple[str, str]:
        return HOMES[int(user) % len(HOMES)]

    def rows(self, user: str, ym: str, n: int) -> list[list[str]]:
        rng = self.rng
        home, home_ccy = self.home(user)
        out = []
        for _ in range(n):
            cat = rng.choice(CATEGORIES)
            vendor = rng.choice(VENDORS[cat])
            # ~10% back-dated into the previous month (statement month stays)
            month = ym_add(ym, -1) if rng.random() < 0.1 else ym
            date = f"{month[:4]}-{month[4:]}-{rng.randint(1, 28):02d}"
            cents = rng.randint(100, 40000)
            amount = f"{cents / 100:.2f}"
            if rng.random() < 0.05:  # > 2dp: rounded on ingest
                amount += str(rng.randint(1, 9))
            ccy = home_ccy if rng.random() < 0.85 else ("CAD" if home_ccy == "USD" else "USD")
            loc = home if rng.random() < 0.92 else rng.choice(FOREIGN)
            recurring = vendor in SUBSCRIPTIONS
            lit = rng.choice(["true", "True", "TRUE"] if recurring else ["false", "False"])
            kind = "subscription" if recurring else "purchase"
            out.append([
                user, ym, str(self.next_id), date, vendor, cat, amount, ccy, lit,
                kind, loc, f"{kind} at {vendor}",
            ])
            self.next_id += 1
        return out


def write_csv(path: str, rows: list[list[str]]) -> int:
    """Write one statement CSV; returns its size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f)
        w.writerow(HEADER)
        w.writerows(rows)
    return os.path.getsize(path)


def key_counts(rows: list[list[str]]) -> dict[tuple[str, str], int]:
    """Rows per ``(user_id, year_month)`` key."""
    out: dict[tuple[str, str], int] = {}
    for r in rows:
        out[(r[0], r[1])] = out.get((r[0], r[1]), 0) + 1
    return out


# -- TPC-H-shaped tables ----------------------------------------------------

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE",
    "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
    "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA",
    "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES",
]


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the five tables the financial queries read, at scale ``sf``
    (sf 1 = 1.5M orders, about 6M line items). Returns row counts."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_orders = max(100, int(1_500_000 * sf))
    n_cust = max(10, int(150_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    os.makedirs(out_dir, exist_ok=True)

    def write(name: str, cols: dict) -> int:
        table = pa.table(cols)
        pq.write_table(table, f"{out_dir}/{name}.parquet")
        return table.num_rows

    counts = {}
    counts["nation"] = write("nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array(_NATIONS),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    counts["supplier"] = write("supplier", {
        "s_suppkey": pa.array(np.arange(1, n_supp + 1, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(1, n_supp + 1)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    })
    brands = np.array([f"Brand#{a}{b}" for a in range(1, 6) for b in range(1, 6)])
    counts["part"] = write("part", {
        "p_partkey": pa.array(np.arange(1, n_part + 1, dtype=np.int64)),
        "p_name": pa.array([f"part {i}" for i in range(1, n_part + 1)]),
        "p_brand": pa.array(brands[rng.integers(0, len(brands), n_part)]),
        "p_type": pa.array(np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY"])[
            rng.integers(0, 5, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(rng.uniform(900, 2100, n_part), 2)),
    })

    # order dates span 1992-01-01 .. 1998-08-02 like TPC-H
    day0 = np.datetime64("1992-01-01", "D")
    o_date = day0 + rng.integers(0, 2405, n_orders)
    o_key = np.arange(1, n_orders + 1, dtype=np.int64) * 4  # sparse keys
    counts["orders"] = write("orders", {
        "o_orderkey": pa.array(o_key),
        "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_orders, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 500000, n_orders), 2)),
        "o_orderdate": pa.array(o_date.astype("datetime64[us]")),
        "o_orderpriority": pa.array(np.array(_PRIORITIES)[rng.integers(0, 5, n_orders)]),
    })

    lines = rng.integers(1, 8, n_orders)  # 1..7 line items, mean 4
    n_li = int(lines.sum())
    order_idx = np.repeat(np.arange(n_orders), lines)
    starts = np.cumsum(lines) - lines
    linenumber = (np.arange(n_li) - np.repeat(starts, lines) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = np.round(qty * rng.uniform(900, 2100, n_li) / 10, 2)
    ship = o_date[order_idx] + rng.integers(1, 122, n_li)
    counts["lineitem"] = write("lineitem", {
        "l_orderkey": pa.array(o_key[order_idx]),
        "l_partkey": pa.array(rng.integers(1, n_part + 1, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(1, n_supp + 1, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(linenumber),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n_li) / 100, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n_li) / 100, 2)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(ship.astype("datetime64[us]")),
    })
    return counts
