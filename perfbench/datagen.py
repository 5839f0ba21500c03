"""Seeded generator for the benchmark's input tables.

Writes the five fixture tables the benchmark's workloads read (``region``,
``nation``, ``customer``, ``supplier``, ``events``) as one parquet file
each, with the same column names and Arrow types as the engine's fixture
data (FIXTURES.md), so the engine receives only generated inputs.

Row counts scale with ``sf`` like the fixtures: sf 0.1 gives 15,000
customers, 1,000 suppliers and 100,000 events over 1,500 users.

Events fall in eight working hours (09:00-16:59) of January 2024. The
transition digraph of ``q_graph_scc`` has one node per (event type, hour),
so this keeps it at 40 nodes, and its recursive DuckDB oracle stays well
under a second (120 nodes, as in the fixtures, take ~0.7 s for SCC and
~20 s for betweenness).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
N_NATIONS = 25
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC, in µs
DAY_US = 86_400_000_000
HOUR_US = 3_600_000_000
N_DAYS = 30
FIRST_HOUR = 9
N_HOURS = 8
TABLE_NAMES = ("region", "nation", "customer", "supplier", "events")


def table_sizes(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (plus ``users``)."""
    return {
        "customer": max(int(150_000 * sf), 10),
        "supplier": max(int(10_000 * sf), 5),
        "events": max(int(1_000_000 * sf), 500),
        "users": max(int(15_000 * sf), 10),
    }


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Build every table in memory; the same seed gives the same tables."""
    rng = np.random.default_rng([seed, 0])
    n = table_sizes(sf)
    region = pa.table(
        {
            "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
            "r_name": REGIONS,
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(N_NATIONS), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(N_NATIONS)],
            "n_regionkey": pa.array(
                [i % len(REGIONS) for i in range(N_NATIONS)], pa.int32()
            ),
        }
    )
    nc = n["customer"]
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, N_NATIONS, nc), pa.int32()),
            "c_acctbal": _money(rng, nc, -999.99, 9999.99),
            "c_mktsegment": pa.array(SEGMENTS, pa.string()).take(
                rng.integers(0, len(SEGMENTS), nc)
            ),
        }
    )
    ns = n["supplier"]
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, N_NATIONS, ns), pa.int32()),
            "s_acctbal": _money(rng, ns, -999.99, 9999.99),
        }
    )
    ne = n["events"]
    ts = np.sort(
        EPOCH_US
        + rng.integers(0, N_DAYS, ne) * DAY_US
        + (FIRST_HOUR + rng.integers(0, N_HOURS, ne)) * HOUR_US
        + rng.integers(0, HOUR_US, ne)
    )
    events = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
            "event_type": pa.array(EVENT_TYPES, pa.string()).take(
                rng.integers(0, len(EVENT_TYPES), ne)
            ),
            "value": _money(rng, ne, 0.0, 200.0),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "events": events,
    }


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for every table; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
