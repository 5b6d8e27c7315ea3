"""Seeded input generator.

Writes the engine's batch tables (the schemas of ``schemas.TESTDATA_SCHEMAS``)
and the day-by-day event snapshots the stream workload lands. Everything is
drawn from one ``numpy`` generator per table, keyed by the workload seed, and
written with fixed parquet settings, so the same seed and scale give
byte-identical files.

Timestamps are written as microsecond parquet timestamps: once
``sources.load_table`` has set ``spark.sql.legacy.parquet.nanosAsLong`` for
the session, a nanosecond-typed file fed to a streaming file source fails
with ``PARQUET_COLUMN_DATA_TYPE_MISMATCH``.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

_US = pa.timestamp("us")
_EPOCH_1995 = dt.datetime(1995, 1, 1)
_EVENTS_START = dt.datetime(2024, 1, 1)
_DAY_US = 86_400_000_000
EVENT_DAYS = 30

# Row counts at scale 1.0. The engine's test data (TESTDATA.md) has these
# counts times its scale factor: 1,500 customers, 100 suppliers, 2,000
# parts, 15,000 orders, 60,000 line items and 10,000 events from 150
# users at sf0.01. No workload reads ``part``: only ``l_partkey``'s range
# is drawn from it.
# Its value distributions are matched below: uniform keys, prices and
# dates, line items drawn on uniformly random orders, exponential event
# values with mean 50 and event times uniform over 30 days.
_BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "users": 15_000,
}

# One sub-seed per table so adding a table never shifts another's draws.
_TABLE_SALT = {
    n: i
    for i, n in enumerate("region nation customer supplier orders lineitem events stream".split())
}


def _rng(seed: int, table: str) -> np.random.Generator:
    return np.random.default_rng([seed, _TABLE_SALT[table]])


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", use_dictionary=True)


def _ts_column(base: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    base_us = int((base - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(base_us + offsets_us.astype(np.int64), type=pa.int64()).cast(_US)


def rows(name: str, scale: float) -> int:
    return max(1, int(round(_BASE_ROWS[name] * scale)))


def _region() -> pa.Table:
    return pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
    )


def _nation() -> pa.Table:
    keys = np.arange(25, dtype=np.int32)
    return pa.table(
        {
            "n_nationkey": keys,
            "n_name": [f"NATION_{k}" for k in keys],
            "n_regionkey": (keys % 5).astype(np.int32),
        }
    )


def _customer(seed: int, n: int) -> pa.Table:
    r = _rng(seed, "customer")
    keys = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "c_custkey": keys,
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": r.integers(0, 25, n, dtype=np.int32),
            "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n), 2),
            "c_mktsegment": np.asarray(SEGMENTS)[r.integers(0, 5, n)],
        }
    )


def _supplier(seed: int, n: int) -> pa.Table:
    r = _rng(seed, "supplier")
    keys = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "s_suppkey": keys,
            "s_name": [f"Supplier#{k:09d}" for k in keys],
            "s_nationkey": r.integers(0, 25, n, dtype=np.int32),
            "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n), 2),
        }
    )


def _orders(seed: int, n: int, n_cust: int) -> pa.Table:
    r = _rng(seed, "orders")
    return pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": r.integers(0, n_cust, n, dtype=np.int64),
            "o_orderstatus": np.asarray(("F", "O", "P"))[r.integers(0, 3, n)],
            "o_totalprice": np.round(r.uniform(1000.0, 500_000.0, n), 2),
            "o_orderdate": _ts_column(_EPOCH_1995, r.integers(0, 2405, n) * _DAY_US),
            "o_orderpriority": np.asarray(PRIORITIES)[r.integers(0, 5, n)],
        }
    )


def _lineitem(seed: int, n: int, n_orders: int, n_part: int, n_supp: int) -> pa.Table:
    r = _rng(seed, "lineitem")
    return pa.table(
        {
            "l_orderkey": r.integers(0, n_orders, n, dtype=np.int64),
            "l_partkey": r.integers(0, n_part, n, dtype=np.int64),
            "l_suppkey": r.integers(0, n_supp, n, dtype=np.int64),
            "l_linenumber": r.integers(1, 8, n, dtype=np.int32),
            "l_quantity": r.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(r.uniform(900.0, 105_000.0, n), 2),
            "l_discount": np.round(r.uniform(0.0, 0.1, n), 2),
            "l_tax": np.round(r.uniform(0.0, 0.08, n), 2),
            "l_returnflag": np.asarray(("A", "N", "R"))[r.integers(0, 3, n)],
            "l_linestatus": np.asarray(("F", "O"))[r.integers(0, 2, n)],
            "l_shipdate": _ts_column(_EPOCH_1995, r.integers(1, 2500, n) * _DAY_US),
        }
    )


def _event_columns(r: np.random.Generator, ids: np.ndarray, ts_us: np.ndarray, users: int) -> dict:
    n = len(ids)
    return {
        "event_id": ids.astype(np.int64),
        "ts": _ts_column(_EVENTS_START, ts_us),
        "user_id": r.integers(0, users, n, dtype=np.int64),
        "event_type": np.asarray(EVENT_TYPES)[r.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(r.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
    }


def _events(seed: int, n: int, users: int) -> pa.Table:
    r = _rng(seed, "events")
    ts = np.sort(r.integers(0, EVENT_DAYS * _DAY_US, n))
    return pa.table(_event_columns(r, np.arange(n), ts, users))


def write_tables(out_dir: str, seed: int, scale: float, names: tuple[str, ...]) -> None:
    """Write the named batch tables as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part, n_orders = (
        rows(t, scale) for t in ("customer", "supplier", "part", "orders")
    )
    builders = {
        "region": _region,
        "nation": _nation,
        "customer": lambda: _customer(seed, n_cust),
        "supplier": lambda: _supplier(seed, n_supp),
        "orders": lambda: _orders(seed, n_orders, n_cust),
        "lineitem": lambda: _lineitem(seed, rows("lineitem", scale), n_orders, n_part, n_supp),
        "events": lambda: _events(seed, rows("events", scale), rows("users", scale)),
    }
    for name in names:
        _write(builders[name](), os.path.join(out_dir, f"{name}.parquet"))


def land_snapshots(out_dir: str, seed: int, scale: float, days: int, replay_share: float) -> pa.Table:
    """Land one parquet snapshot of ``events`` per day into ``out_dir``.

    Day ``d`` carries the new events of that day of a ``scale``-sized
    ``events`` table (its rows spread over ``EVENT_DAYS`` days), plus
    ``replay_share`` times as many rows copied verbatim from earlier days:
    each is both a duplicate key and an arrival behind the stream's
    watermark. Returns every landed row (replays included) for checking."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, "stream")
    rows_per_day, users = rows("events", scale) // EVENT_DAYS, rows("users", scale)
    landed: list[pa.Table] = []
    for day in range(days):
        ids = np.arange(day * rows_per_day, (day + 1) * rows_per_day)
        ts = day * _DAY_US + np.sort(r.integers(0, _DAY_US, rows_per_day))
        fresh = pa.table(_event_columns(r, ids, ts, users))
        if day:
            earlier = pa.concat_tables(landed)
            picks = r.integers(0, earlier.num_rows, int(replay_share * rows_per_day))
            snap = pa.concat_tables([fresh, earlier.take(picks)])
        else:
            snap = fresh
        _write(snap, os.path.join(out_dir, f"events-day{day:03d}.parquet"))
        landed.append(fresh if not day else snap)
    return pa.concat_tables(landed)
