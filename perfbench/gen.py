"""Seeded input generation for the asset-lifecycle benchmark.

Everything the engine receives is made here from one ``numpy`` generator
seeded by ``--seed``: a TPC-H ``lineitem``-shaped source (same eleven
columns and types as ``lineitem.parquet``, plus the DATE partition column
``ship_date``), revised re-materializations and CDC batches for upserts.
The workloads draw their month order and load targets from the same
generator, so the same seed gives the same inputs.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import date

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ROWS_PER_DAY = 240  # sf0.1 lineitem: 600k rows over 2,499 ship days
LINES_PER_ORDER = (1, 7)
NEW_KEY_BASE = 10**9  # orderkeys of CDC inserts start here
UPDATE_SHARE, INSERT_SHARE = 0.10, 0.02  # of a month's rows, per CDC batch
RECENT_DECAY = 0.8  # weight ratio between a month and the next more recent one
_EPOCH = date(1970, 1, 1)

SCHEMA = pa.schema([
    ("l_orderkey", pa.int64()),
    ("l_partkey", pa.int64()),
    ("l_suppkey", pa.int64()),
    ("l_linenumber", pa.int32()),
    ("l_quantity", pa.float64()),
    ("l_extendedprice", pa.float64()),
    ("l_discount", pa.float64()),
    ("l_tax", pa.float64()),
    ("l_returnflag", pa.string()),
    ("l_linestatus", pa.string()),
    ("l_shipdate", pa.timestamp("us")),
    ("ship_date", pa.date32()),
])
KEY = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"]


@dataclass(frozen=True)
class Month:
    year: int
    month: int

    @property
    def start(self) -> date:
        return date(self.year, self.month, 1)

    @property
    def end(self) -> date:
        y, m = divmod(self.year * 12 + self.month, 12)
        return date(y, m + 1, 1)

    def __str__(self) -> str:
        return f"{self.year:04d}-{self.month:02d}"


def months(first: Month, count: int) -> list[Month]:
    out = []
    for i in range(count):
        y, m = divmod(first.year * 12 + first.month - 1 + i, 12)
        out.append(Month(y, m + 1))
    return out


def _days(d: date) -> int:
    return (d - _EPOCH).days


def lineitem(rng: np.random.Generator, start: date, end: date,
             orderkey_base: int = 0, rows: int | None = None) -> pa.Table:
    """Rows with ``ship_date`` uniform in ``[start, end)``; orderkeys
    start above ``orderkey_base`` and (orderkey, linenumber) is unique."""
    d0, d1 = _days(start), _days(end)
    target = rows if rows is not None else (d1 - d0) * ROWS_PER_DAY
    n_orders = max(1, target // 4)
    lines = rng.integers(LINES_PER_ORDER[0], LINES_PER_ORDER[1] + 1, n_orders)
    n = int(lines.sum())
    order_idx = np.repeat(np.arange(n_orders), lines)
    first = np.repeat(np.cumsum(lines) - lines, lines)
    ship = rng.integers(d0, d1, n).astype(np.int32)
    qty = rng.integers(1, 51, n).astype(np.float64)
    cols = {
        "l_orderkey": orderkey_base + order_idx.astype(np.int64) + 1,
        "l_partkey": rng.integers(1, 20_001, n),
        "l_suppkey": rng.integers(1, 1_001, n),
        "l_linenumber": (np.arange(n) - first + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(ship.astype(np.int64) * 86_400_000_000,
                               pa.timestamp("us")),
        "ship_date": pa.array(ship, pa.date32()),
    }
    return pa.table(cols, schema=SCHEMA)


def in_range(table: pa.Table, start: date, end: date) -> pa.Table:
    sd = table.column("ship_date")
    return table.filter(pc.and_(pc.greater_equal(sd, pa.scalar(start)),
                                pc.less(sd, pa.scalar(end))))


def revise(table: pa.Table, revision: int) -> pa.Table:
    """A re-materialization's output: every price raised by
    ``revision`` so a stale row left behind changes the checksum."""
    price = pc.add(table.column("l_extendedprice"), float(revision))
    return table.set_column(table.schema.get_field_index("l_extendedprice"),
                            "l_extendedprice", price)


def cdc_batch(rng: np.random.Generator, month_rows: pa.Table, month: Month,
              batch_no: int) -> pa.Table:
    """Upsert source for one month: UPDATE_SHARE of the month's base rows
    with new prices and discounts, plus INSERT_SHARE new rows under fresh
    orderkeys.  Keys are unique within the batch."""
    n = month_rows.num_rows
    pick = np.sort(rng.choice(n, size=max(1, int(n * UPDATE_SHARE)),
                              replace=False))
    upd = month_rows.take(pa.array(pick))
    k = upd.num_rows
    upd = upd.set_column(
        upd.schema.get_field_index("l_extendedprice"), "l_extendedprice",
        pa.array(np.round(upd.column("l_extendedprice").to_numpy()
                          * rng.uniform(0.9, 1.1, k), 2)))
    upd = upd.set_column(
        upd.schema.get_field_index("l_discount"), "l_discount",
        pa.array(rng.integers(0, 11, k) / 100.0))
    new = lineitem(rng, month.start, month.end,
                   orderkey_base=NEW_KEY_BASE + batch_no * 1_000_000,
                   rows=max(4, int(n * INSERT_SHARE)))
    return pa.concat_tables([upd, new])


def skewed_month(rng: np.random.Generator, count: int) -> int:
    """Index in ``[0, count)`` favouring the most recent (highest)."""
    w = RECENT_DECAY ** np.arange(count - 1, -1, -1, dtype=np.float64)
    return int(rng.choice(count, p=w / w.sum()))


def write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path)
    return path
