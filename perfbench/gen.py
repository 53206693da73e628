"""Seeded inputs for the benchmark: tables, request schedule, event shards.

Everything here is a pure function of the seed and the workload
parameters, so the same seed gives byte-identical inputs and the
engine only ever sees what this module generates.

The tables mimic the shape of the engine's synthetic testdata at a
given scale factor (``sf``): ``events`` holds 1e6 * sf rows over 30
days from 1,500 * (sf / 0.1) users; ``customer`` holds 150,000 * sf
rows; ``nation`` and ``region`` are the fixed 25/5-row dimensions.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

EVENT_TYPES = ("error", "view", "signup", "purchase", "click")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PERIODS = ("hourly", "daily", "5min")
ROUTES = (
    "latest_info",
    "global_recent",
    "geo_distribution",
    "new_count",
    "recent_by_category",
    "status",
)
# The dashboard mix: every route once, in a fixed order.  The reference
# dashboard refreshes its five widgets on one 30 s interval
# (BASELINE.md, "Dashboard refresh"), so the five parity routes carry
# equal weight; the status route rides along at the same weight.  With
# a fixed order each route meets the same concurrent requests and the
# same phase of the ingest trigger in every run; a seeded order moved a
# route's few samples in and out of ingest steps, and its median with
# them, from seed to seed.
MIX = (
    "latest_info",
    "geo_distribution",
    "global_recent",
    "new_count",
    "recent_by_category",
    "status",
)
EPOCH_2024 = dt.datetime(2024, 1, 1)
SPAN_US = 30 * 24 * 3600 * 1_000_000
TS_TYPE = pa.timestamp("us")
EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", TS_TYPE),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    n_events = int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 10)
    n_cust = max(int(150_000 * sf), n_users)

    region = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    custkey = np.arange(n_cust, dtype=np.int64)
    customer = pa.table(
        {
            "c_custkey": custkey,
            "c_name": pa.array([f"Customer#{k:09d}" for k in custkey]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
        }
    )
    ts_us = np.sort(rng.integers(0, SPAN_US, n_events))
    events = pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": pa.array(ts_us + _us(EPOCH_2024), TS_TYPE),
            "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
            "event_type": pa.array(
                np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)]
            ),
            "value": np.round(np.minimum(rng.exponential(60.0, n_events), 560.0), 2),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]
            ),
        },
        schema=EVENTS_SCHEMA,
    )
    return {"region": region, "nation": nation, "customer": customer, "events": events}


def _us(t: dt.datetime) -> int:
    return (t - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)


@dataclass(frozen=True)
class Request:
    due_s: float  # offset from the start of the timed section
    route: str
    url: str
    params: tuple


def request_url(route: str, params: tuple) -> str:
    if route == "latest_info":
        return f"/api/v1/customers/latest_info/{params[0]}"
    if route == "global_recent":
        return f"/api/v1/customers/global_recent?limit={params[0]}"
    if route == "geo_distribution":
        return f"/api/v1/customers/geo_distribution_hourly_by_country/{params[0]}"
    if route == "new_count":
        return f"/api/v1/products/new_count?period={params[0]}"
    if route == "recent_by_category":
        return f"/api/v1/products/recent_by_category/{params[0]}"
    return "/api/v1/status"


def draw_params(rng: np.random.Generator, route: str, user_ids: np.ndarray) -> tuple:
    """Route parameters: user ids Zipf-skewed over ids that exist (the
    rank order is a seeded permutation), everything else uniform."""
    if route == "latest_info":
        rank = min(int(rng.zipf(1.2)) - 1, len(user_ids) - 1)
        return (int(user_ids[rank]),)
    if route == "global_recent":
        return (int(rng.integers(1, 51)),)
    if route == "geo_distribution":
        return (REGIONS[rng.integers(0, len(REGIONS))],)
    if route == "new_count":
        return (PERIODS[rng.integers(0, len(PERIODS))],)
    if route == "recent_by_category":
        return (EVENT_TYPES[rng.integers(0, len(EVENT_TYPES))],)
    return ()


def ranked_users(seed: int, events: pa.Table) -> np.ndarray:
    """Existing user ids in a seeded popularity order (rank 0 hottest)."""
    ids = np.unique(events.column("user_id").to_numpy())
    return np.random.default_rng([seed, 2]).permutation(ids)


def request_schedule(
    seed: int, rate: float, seconds: float, user_ids: np.ndarray
) -> list[Request]:
    """Open loop at one fixed rate: request j is due at j / rate, for
    every j due before ``seconds``, and goes to route ``MIX[j % 6]``;
    parameters are seeded."""
    rng = np.random.default_rng([seed, 3])
    out = []
    for j in range(int(np.ceil(seconds * rate))):
        route = MIX[j % len(MIX)]
        params = draw_params(rng, route, user_ids)
        out.append(Request(j / rate, route, request_url(route, params), params))
    return out


def check_requests(seed: int, user_ids: np.ndarray) -> list[Request]:
    """The fixed set of post-run checks: every route once, seeded params."""
    rng = np.random.default_rng([seed, 4])
    out = []
    for route in ROUTES:
        params = draw_params(rng, route, user_ids)
        out.append(Request(0.0, route, request_url(route, params), params))
    return out


class ShardSource:
    """Replays ``events[start:]`` in (ts, event_id) order as shards of
    ``size`` rows.  Each lap over the replay shifts event ids by the
    replay length and timestamps by its span, so ids stay unique, time
    keeps moving forward and the source never runs dry."""

    def __init__(self, events: pa.Table, start: int, size: int):
        self.replay = events.slice(start)
        self.size = size
        n = self.replay.num_rows
        ts = self.replay.column("ts").cast(pa.int64()).to_numpy()
        self.id_shift = n
        self.ts_shift = int(ts[-1] - ts[0]) + 1_000_000
        self.n = n

    def shard(self, i: int) -> pa.Table:
        first = i * self.size
        parts = []
        while first < (i + 1) * self.size:
            lap, off = divmod(first, self.n)
            take = min((i + 1) * self.size - first, self.n - off)
            part = self.replay.slice(off, take)
            if lap:
                part = _shift(part, lap * self.id_shift, lap * self.ts_shift)
            parts.append(part)
            first += take
        return pa.concat_tables(parts)


def _shift(t: pa.Table, id_shift: int, ts_shift: int) -> pa.Table:
    ids = t.column("event_id").to_numpy() + id_shift
    ts = t.column("ts").cast(pa.int64()).to_numpy() + ts_shift
    t = t.set_column(0, "event_id", pa.array(ids, pa.int64()))
    return t.set_column(1, "ts", pa.array(ts, TS_TYPE))
