"""Seeded input generation for the benchmark.

Every input the engine sees is made here from ``numpy.random.Generator``
seeded by the workload seed, so one seed always gives the same rows.
Files are written with pyarrow (no Spark), and a file that a streaming
source may pick up is written under a temporary name and renamed into
place, so a reader never sees a half-written file.
"""

from __future__ import annotations

import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CHANNELS = ("ios", "android", "web", "ios-test", "web-test")
#: ~40% of ratings land on a test channel (RATINGS_TEST in the reference)
CHANNEL_P = (0.25, 0.20, 0.15, 0.25, 0.15)
MESSAGES = (
    "more peanuts please",
    "why is it so difficult to keep the bathrooms clean?",
    "your team here rocks!",
    "airport refurb looks great, will fly outta here more!",
    "(expletive deleted)",
)
CLUB = ("bronze", "silver", "gold", "platinum")
FIRST = ("Rica", "Ruthie", "Mariejeanne", "Hashim", "Hansiain", "Robinet",
         "Fay", "Patti", "Even", "Brena", "Alexandro", "Ferguson", "Clair",
         "Tania", "Emmett", "Ada", "Grace", "Alan", "Edsger", "Barbara")
LAST = ("Blaisdell", "Brockherst", "Cockshoot", "Rawles", "Coda", "Leheude",
        "Wilson", "Rolf", "Turing", "Hopper", "Lovelace", "Dijkstra")

#: event-time origin of every generated rating (2023-11-14T22:13:20Z)
EVENT_T0_MS = 1_700_000_000_000
#: event-time spacing between consecutive ratings
EVENT_STEP_MS = 100
#: share of ratings whose event time is pushed back (out of order)
LATE_SHARE = 0.02
LATE_MAX_MS = 20 * 60 * 1000

RATINGS_SCHEMA = pa.schema([
    ("rating_id", pa.int64()),
    ("user_id", pa.int32()),
    ("stars", pa.int32()),
    ("route_id", pa.int32()),
    ("rating_time", pa.int64()),
    ("channel", pa.string()),
    ("message", pa.string()),
])

#: the Spark DDL twin of RATINGS_SCHEMA (the file source needs it up front)
RATINGS_DDL = (
    "rating_id bigint, user_id int, stars int, route_id int,"
    " rating_time bigint, channel string, message string"
)


def customer_row(cid: int, version: int, rng: np.random.Generator) -> dict:
    """One CUSTOMERS row image; ``version`` changes the mutable fields."""
    return {
        "id": int(cid),
        "first_name": FIRST[cid % len(FIRST)],
        "last_name": f"{LAST[cid % len(LAST)]}{cid}",
        "email": f"c{cid}.v{version}@example.com",
        "gender": "F" if cid % 2 else "M",
        "club_status": CLUB[int(rng.integers(0, len(CLUB)))],
        "comments": f"rev {version}",
    }


def customers_changelog(n_customers: int, n_updates: int, seed: int) -> pa.Table:
    """The CUSTOMERS changelog the ratings join reduces to latest per key:
    one snapshot row per id plus ``n_updates`` later updates on
    Zipf-skewed ids (columns as FIXTURES.md's customers changelog)."""
    rng = np.random.default_rng(seed)
    rows = [customer_row(i, 0, rng) for i in range(1, n_customers + 1)]
    upd_ids = zipf_ids(rng, n_customers, n_updates)
    rows += [customer_row(int(c), k + 1, rng) for k, c in enumerate(upd_ids)]
    n = len(rows)
    base_us = (EVENT_T0_MS - 86_400_000) * 1000
    # snapshot rows share one timestamp; updates are strictly later
    ts = np.concatenate([
        np.full(n_customers, base_us, dtype=np.int64),
        base_us + 1_000_000 * np.arange(1, n_updates + 1, dtype=np.int64),
    ])
    cols = {k: [r[k] for r in rows] for k in rows[0]}
    cols["id"] = pa.array(cols["id"], pa.int32())
    cols["create_ts"] = pa.array(np.full(n, base_us, dtype=np.int64)).cast(
        pa.timestamp("us", tz="UTC"))
    cols["update_ts"] = pa.array(ts).cast(pa.timestamp("us", tz="UTC"))
    cols["op_seq"] = pa.array(np.arange(n, dtype=np.int64))
    return pa.table(cols)


def zipf_ids(rng: np.random.Generator, n_ids: int, n: int, s: float = 1.1,
             extra: float = 0.0) -> np.ndarray:
    """``n`` ids in 1..n_ids·(1+extra), Zipf(s)-skewed by rank; the rank
    → id map is a seeded permutation so hot ids are scattered. Ids past
    ``n_ids`` have no customer (the join's unmatched side)."""
    top = int(n_ids * (1 + extra))
    p = 1.0 / np.arange(1, top + 1, dtype=np.float64) ** s
    p /= p.sum()
    ranks = rng.choice(top, size=n, p=p)
    return rng.permutation(top)[ranks] + 1


def ratings(first_id: int, n: int, n_customers: int, seed: int) -> pa.Table:
    """``n`` ratings with ids first_id.. — Zipf-skewed user_id (2% of
    ids have no customer), ~40% test channels, and LATE_SHARE of them
    with an event time pushed back up to LATE_MAX_MS (out of order)."""
    rng = np.random.default_rng([seed % 2**32, first_id % 2**32])
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    t = EVENT_T0_MS + ids * EVENT_STEP_MS
    late = rng.random(n) < LATE_SHARE
    t[late] -= rng.integers(1, LATE_MAX_MS, size=int(late.sum()))
    ch = rng.choice(len(CHANNELS), size=n, p=CHANNEL_P)
    return pa.table({
        "rating_id": ids,
        "user_id": zipf_ids(rng, n_customers, n, extra=0.02).astype(np.int32),
        "stars": rng.integers(1, 6, size=n).astype(np.int32),
        "route_id": rng.integers(0, 1000, size=n).astype(np.int32),
        "rating_time": t,
        "channel": pa.array(np.array(CHANNELS, dtype=object)[ch]),
        "message": pa.array(np.array(MESSAGES, dtype=object)[
            rng.integers(0, len(MESSAGES), size=n)]),
    }, schema=RATINGS_SCHEMA)


def write_atomic(table: pa.Table, directory: str, tmp_dir: str) -> str:
    """Write one parquet file and rename it into ``directory``."""
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(tmp_dir, name)
    pq.write_table(table, tmp)
    final = os.path.join(directory, name)
    os.rename(tmp, final)
    return final
