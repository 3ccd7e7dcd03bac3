"""Fixed input tables for the `query_mix` workload.

The workload's queries read two tables of the engine's test schema:
`events` and `orders`. This module writes them with the same column
names and types, at a fixed size and from a fixed data seed, so the
committed output fingerprints (`fingerprints.json`) stay valid for every
benchmark seed. The benchmark seed has no effect on `query_mix`.
"""

import datetime as _dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# rows per table, in the test data's ratio
EVENTS = 20_000
USERS = 300
ORDERS = 30_000
# planted outbreaks in `events`: (user_id % 5, day of January 2024); the
# outbreak queries read region "R<user_id % 5>" and date(ts)
OUTBREAKS = [(1, 9), (3, 16), (0, 23)]
SPIKE = 6


def planted():
    """Planted outbreaks as a set of (region, ISO date)."""
    return {("R%d" % r, "2024-01-%02d" % (d + 1)) for r, d in OUTBREAKS}


def _ts(base, seconds):
    us = (np.asarray(seconds) * 1_000_000).astype(np.int64)
    start = int(_dt.datetime(*base).replace(tzinfo=_dt.timezone.utc).timestamp()) * 1_000_000
    return pa.array(start + us, type=pa.timestamp("us"))


def write_all(out_dir):
    """Write the tables as `<out_dir>/<name>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)

    n = EVENTS
    secs = rng.uniform(0, 30 * 86400, n)
    users = rng.integers(0, USERS, n)
    # an outbreak adds (SPIKE - 1) times a region-day's usual events
    extra = int(n / 30 / 5 * (SPIKE - 1))
    for region, day in OUTBREAKS:
        secs = np.concatenate([secs, rng.uniform(day * 86400, (day + 1) * 86400, extra)])
        users = np.concatenate([users, rng.integers(0, USERS // 5, extra) * 5 + region])
    order = np.argsort(secs, kind="stable")
    secs, users = secs[order], users[order]
    n = len(secs)
    types = np.array(["click", "error", "purchase", "signup", "view"])
    events = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts((2024, 1, 1), secs),
        "user_id": pa.array(users, pa.int64()),
        "event_type": pa.array(types[rng.integers(0, len(types), n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n) + 0.01, 2)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n)]),
    })

    n = ORDERS
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n), 2)),
        "o_orderdate": _ts((1995, 1, 1), rng.integers(0, 2404, n) * 86400),
        "o_orderpriority": pa.array(prio[rng.integers(0, len(prio), n)]),
    })

    for name, table in [("events", events), ("orders", orders)]:
        pq.write_table(table, os.path.join(out_dir, name + ".parquet"))
