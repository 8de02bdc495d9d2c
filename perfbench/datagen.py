"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of its arguments: the same seed writes
byte-identical files.  Shapes follow the engine's input contracts:

* the request-log CSV (``user_id,request_time,processing_time``) in the
  reference generator's shape: inter-arrival U(0.1, 1.0) s accumulated
  from the 2023-01-01 epoch, processing ``round(U(1, 10), 1)`` s;
* the ``events`` and ``lineitem`` parquet tables with the column names,
  types and value ranges of the engine's TPC-H-ish test tables
  (``schema.TABLE_NAMES``).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REQUEST_EPOCH = np.datetime64("2023-01-01T00:00:00", "us")
EVENTS_EPOCH = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])


def write_requests_csv(path: str, rows: int, users: int, seed: int) -> None:
    """Request log sorted by arrival, ``users`` distinct ``user_<k>`` ids."""
    rng = np.random.default_rng(seed)
    arrival_us = np.cumsum(np.round(rng.uniform(0.1, 1.0, rows) * 1e6)).astype("int64")
    ts = np.datetime_as_string(REQUEST_EPOCH + arrival_us.astype("timedelta64[us]"), unit="us")
    proc = np.round(rng.uniform(1.0, 10.0, rows), 1)
    user = rng.integers(0, users, rows)
    with open(path, "w") as f:
        f.write("user_id,request_time,processing_time\n")
        f.writelines(f"user_{u},{t}Z,{p}\n" for u, t, p in zip(user, ts, proc))


def events_table(rows: int, seed: int) -> pa.Table:
    """``events``: ids in time order over 30 days, ~66 events per user."""
    rng = np.random.default_rng([seed, 1])
    offs = np.sort(rng.integers(0, 30 * 86_400 * 10**6, rows))
    return pa.table({
        "event_id": pa.array(np.arange(rows, dtype="int64")),
        "ts": pa.array(EVENTS_EPOCH + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(rows // 66, 1), rows, dtype="int64")),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), rows)]),
        "value": pa.array(np.round(0.01 + rng.exponential(25.0, rows), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)]),
    })


def lineitem_table(rows: int, seed: int) -> pa.Table:
    """``lineitem``: 4 lines per order on average, prices on a cent grid."""
    rng = np.random.default_rng([seed, 2])
    qty = rng.integers(1, 51, rows).astype("float64")
    day0 = np.datetime64("1995-01-02", "D")
    ship = day0 + rng.integers(0, 2500, rows).astype("timedelta64[D]")
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, max(rows // 4, 1), rows, dtype="int64")),
        "l_partkey": pa.array(rng.integers(0, max(rows // 30, 1), rows, dtype="int64")),
        "l_suppkey": pa.array(rng.integers(0, max(rows // 600, 1), rows, dtype="int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, rows, dtype="int32")),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, rows), 2)),
        "l_discount": pa.array(rng.integers(0, 11, rows) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, rows) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, rows)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, rows)]),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
    })


TABLES = {"events": events_table, "lineitem": lineitem_table}


def write_tables(sf_dir: str, sizes: dict[str, int], seed: int) -> None:
    """One ``<name>.parquet`` file per table, laid out like the test tables."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, rows in sizes.items():
        pq.write_table(TABLES[name](rows, seed), os.path.join(sf_dir, f"{name}.parquet"))
