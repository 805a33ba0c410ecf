"""Seeded input generation for the benchmark.

Writes the tables the workloads read (``lineitem``, ``orders``,
``customer``, ``nation``, ``events``) with the column names and physical
types of the repo's sf0.1 fixtures (FIXTURES.md §2): one parquet file
per table, one row group per file. The same seed gives the same bytes.

``lineitem`` carries two extra columns for the GBT workloads:

- ``label``: a non-linear function of three features (a disc in
  quantity x discount, XOR a price threshold) with a seeded ~10 % of rows
  flipped, keyed on ``(l_orderkey, l_linenumber)``. The fixture columns are
  independent uniform noise, so a label taken from them (e.g.
  ``l_returnflag = 'R'``) is unlearnable and a fit says nothing about
  model quality.
- ``holdout``: a seeded ~20 % split, keyed the same way.

The SQL queries never read these two columns.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_ORDERS = 150_000
N_LINEITEM = 600_000
N_CUSTOMERS = 15_000
N_NATIONS = 25
N_EVENTS = 100_000
N_USERS = 1_500

FLIP_PER_10K = 1_000
HOLDOUT_PER_10 = 2

FEATURES = [
    "l_partkey",
    "l_suppkey",
    "l_linenumber",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
]

_FLIP_SALT = 0x9E3779B97F4A7C15
_SPLIT_SALT = 0xD1B54A32D192ED03


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer, elementwise over uint64 (wraps mod 2**64)."""
    with np.errstate(over="ignore"):
        x = x ^ (x >> np.uint64(30))
        x = x * np.uint64(0xBF58476D1CE4E5B9)
        x = x ^ (x >> np.uint64(27))
        x = x * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def key_hash(seed: int, salt: int, orderkey: np.ndarray, linenumber: np.ndarray) -> np.ndarray:
    """Seeded 64-bit hash of ``(orderkey, linenumber)`` pairs."""
    with np.errstate(over="ignore"):
        h = _mix64(np.full(len(orderkey), (seed * 0x100000001B3 + salt) & 0xFFFFFFFFFFFFFFFF, dtype=np.uint64))
        h = _mix64(h ^ orderkey.astype(np.uint64))
        return _mix64(h ^ linenumber.astype(np.uint64))


def clean_label(quantity: np.ndarray, discount: np.ndarray, price: np.ndarray) -> np.ndarray:
    """The noise-free target: inside a disc in (quantity, discount), XOR
    an extended-price threshold."""
    u = quantity / 50.0 - 0.5
    d = discount / 0.10 - 0.5
    return ((u * u + d * d) < 0.12) != (price > 60_000.0)


def make_label(seed: int, orderkey, linenumber, quantity, discount, price) -> np.ndarray:
    """``clean_label`` with ``FLIP_PER_10K``/10000 of rows flipped; 0/1 float."""
    flip = key_hash(seed, _FLIP_SALT, orderkey, linenumber) % np.uint64(10_000) < np.uint64(FLIP_PER_10K)
    return (clean_label(quantity, discount, price) != flip).astype(np.float64)


def make_holdout(seed: int, orderkey, linenumber) -> np.ndarray:
    """Seeded holdout mask, ``HOLDOUT_PER_10``/10 of rows."""
    return key_hash(seed, _SPLIT_SALT, orderkey, linenumber) % np.uint64(10) < np.uint64(HOLDOUT_PER_10)


def _days(rng, n, start: dt.date, end: dt.date) -> np.ndarray:
    """Whole days, stored as timestamp[ms] like the fixtures' date columns."""
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "ms")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[ms]")


def _cents(rng, n, lo: float, hi: float) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _pick(rng, n, values: list[str]) -> pa.Array:
    return pa.DictionaryArray.from_arrays(
        pa.array(rng.integers(0, len(values), n).astype(np.int32)), pa.array(values)
    ).cast(pa.string())


def _lines_per_order(rng) -> np.ndarray:
    """1..7 lines per order, adjusted so the total is exactly N_LINEITEM."""
    counts = rng.integers(1, 8, N_ORDERS)
    diff = N_LINEITEM - int(counts.sum())
    order = rng.permutation(N_ORDERS)
    if diff > 0:
        counts[order[counts[order] < 7][:diff]] += 1
    elif diff < 0:
        counts[order[counts[order] > 1][:-diff]] -= 1
    return counts


def lineitem(seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    counts = _lines_per_order(rng)
    orderkey = np.repeat(np.arange(N_ORDERS, dtype=np.int64), counts)
    starts = np.repeat(np.cumsum(counts) - counts, counts)
    linenumber = (np.arange(N_LINEITEM) - starts + 1).astype(np.int32)
    n = N_LINEITEM
    quantity = rng.integers(1, 51, n).astype(np.float64)
    price = _cents(rng, n, 900.0, 105_000.0)
    discount = rng.integers(0, 11, n) / 100.0
    tax = rng.integers(0, 9, n) / 100.0
    return pa.table(
        {
            "l_orderkey": orderkey,
            "l_partkey": rng.integers(0, 20_000, n).astype(np.int64),
            "l_suppkey": rng.integers(0, 1_000, n).astype(np.int64),
            "l_linenumber": linenumber,
            "l_quantity": quantity,
            "l_extendedprice": price,
            "l_discount": discount,
            "l_tax": tax,
            "l_returnflag": _pick(rng, n, ["A", "N", "R"]),
            "l_linestatus": _pick(rng, n, ["F", "O"]),
            "l_shipdate": _days(rng, n, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
            "label": make_label(seed, orderkey, linenumber, quantity, discount, price),
            "holdout": make_holdout(seed, orderkey, linenumber),
        }
    )


def orders(seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    n = N_ORDERS
    return pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, N_CUSTOMERS, n).astype(np.int64),
            "o_orderstatus": _pick(rng, n, ["F", "O", "P"]),
            "o_totalprice": _cents(rng, n, 1_000.0, 500_000.0),
            "o_orderdate": _days(rng, n, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": _pick(
                rng, n, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            ),
        }
    )


def customer(seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 3])
    n = N_CUSTOMERS
    return pa.table(
        {
            "c_custkey": np.arange(n, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": rng.integers(0, N_NATIONS, n).astype(np.int32),
            "c_acctbal": _cents(rng, n, -999.99, 9_999.99),
            "c_mktsegment": _pick(
                rng, n, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
            ),
        }
    )


def nation(seed: int) -> pa.Table:
    keys = np.arange(N_NATIONS, dtype=np.int32)
    return pa.table(
        {
            "n_nationkey": keys,
            "n_name": [f"NATION_{i}" for i in keys],
            "n_regionkey": keys % 5,
        }
    )


def events(seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 5])
    n = N_EVENTS
    span_us = 30 * 86_400 * 1_000_000
    # whole microseconds (Spark's precision), stored as timestamp[ns] like
    # the fixture, so the read goes through the same nanos path
    ts = (
        np.datetime64("2024-01-01T00:00:00", "us") + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    ).astype("datetime64[ns]")
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, N_USERS, n).astype(np.int64),
            "event_type": _pick(rng, n, ["click", "error", "purchase", "signup", "view"]),
            "value": np.round(rng.exponential(40.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


TABLES = {
    "lineitem": lineitem,
    "orders": orders,
    "customer": customer,
    "nation": nation,
    "events": events,
}


def write_tables(seed: int, out_dir: str) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, make in TABLES.items():
        table = make(seed)
        pq.write_table(table, f"{out_dir}/{name}.parquet", row_group_size=table.num_rows)
        rows[name] = table.num_rows
    return rows
