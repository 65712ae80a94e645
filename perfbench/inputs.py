"""Seeded inputs for the workloads, derived from the engine's fixtures.

fixtures/ holds byte-identical copies of the engine's deterministic
fixture tables (see README.md); the benchmark only reads them,
and every workload's data starts from them.  `--seed` drives what varies
between runs: the request mix of `api_mix`, and the replication shifts
and the folded day of `refresh_batch`.
"""

from __future__ import annotations

import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
EVENTS_DIR = os.path.join(FIXTURES, "sf0.1")
GRAPH_DIR = os.path.join(FIXTURES, "sf0.01")
# the events fixture: 100,000 events over 30 days of January 2024,
# users 0..1499, a `{"k": n}` props field naming one of 100 datasets
N_USERS = 1_500
N_PIDS = 100
DAYS = 30
COPY_KEY_STRIDE = 10_000_000
COPY_USER_STRIDE = 1_000_000


def events() -> pa.Table:
    """The events fixture, as it is."""
    return pq.read_table(os.path.join(EVENTS_DIR, "events.parquet"))


def _copy_shifts(copies: int, seed: int) -> list[tuple[int, np.timedelta64]]:
    """Each copy's user offset and day shift: users are offset per copy
    and then shifted, and days shifted, by amounts drawn from `seed`."""
    rng = np.random.default_rng(seed)
    user_shift = rng.integers(0, N_USERS, copies)
    day_shift = rng.integers(0, 3, copies)
    return [
        (c * COPY_USER_STRIDE + int(user_shift[c]), np.timedelta64(int(day_shift[c]), "D"))
        for c in range(copies)
    ]


def replicate(base: pa.Table, copies: int, seed: int) -> list[pa.Table]:
    """`copies` copies of `base` with disjoint keys, the way
    tools/scale_probe.py grows the event log: event ids and users are
    offset per copy, and users and days are also shifted by `seed`."""
    return [
        shifted(base, key_offset=c * COPY_KEY_STRIDE, user_offset=users, ts_shift=days)
        for c, (users, days) in enumerate(_copy_shifts(copies, seed))
    ]


def new_day(base: pa.Table, copies: int, seed: int, day: np.datetime64) -> list[pa.Table]:
    """One more day for the log `replicate(base, copies, seed)`: in each
    copy, the events of one day of `base` (the day drawn from `seed`),
    moved to `day`, with event ids past every copy's and the copy's
    users."""
    d = int(np.random.default_rng(seed + 1).integers(0, DAYS))
    first = np.datetime64("2024-01-01", "us") + np.timedelta64(d, "D")
    ts = base.column("ts")
    mask = pc.and_(
        pc.greater_equal(ts, pa.scalar(first, ts.type)),
        pc.less(ts, pa.scalar(first + np.timedelta64(1, "D"), ts.type)),
    )
    events = base.filter(mask)
    return [
        shifted(
            events,
            key_offset=(copies + c) * COPY_KEY_STRIDE,
            user_offset=users,
            ts_shift=day - first,
        )
        for c, (users, _) in enumerate(_copy_shifts(copies, seed))
    ]


def shifted(t: pa.Table, *, key_offset: int, user_offset: int, ts_shift) -> pa.Table:
    ts = t.column("ts").to_numpy() + ts_shift
    return (
        t.set_column(0, "event_id", pc.add(t.column("event_id"), key_offset))
        .set_column(1, "ts", pa.array(ts, t.schema.field("ts").type))
        .set_column(2, "user_id", pc.add(t.column("user_id"), user_offset))
    )


def write(tables: list[pa.Table], path: str) -> tuple[int, int]:
    """Write one parquet file per table under directory `path`; return
    (rows, bytes)."""
    os.makedirs(path, exist_ok=True)
    rows = size = 0
    for i, t in enumerate(tables):
        f = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(t, f)
        rows += t.num_rows
        size += os.path.getsize(f)
    return rows, size


# -- api_mix request shapes ----------------------------------------------
#
# Each shape has a small, fixed domain of parameters so that the digest
# of every possible response can be recorded once (digests.json) and
# checked on any seed.  The data covers January 2024; the third range
# starts before it, so the spine has empty buckets.

RANGES = (
    ("01/01/2024", "02/01/2024"),
    ("01/08/2024", "01/22/2024"),
    ("12/15/2023", "01/15/2024"),
)
PIDS = (7, 12, 19, 26, 33, 41, 58, 64, 77, 95)
METRICS = ["citations", "downloads", "views"]


def _request(filters: list[dict], group_by: list[str]) -> dict:
    return {"metrics": METRICS, "filterBy": filters, "groupBy": group_by}


def _scope(kind: str, values: list[str]) -> dict:
    return {"filterType": kind, "values": values, "interpretAs": "list"}


def _months(r: tuple[str, str]) -> dict:
    return {"filterType": "month", "values": list(r), "interpretAs": "range"}


SHAPES: dict[str, list[dict]] = {
    "landing": [_request([_scope("dataset", [f"pid{p}"])], ["dataset"]) for p in PIDS],
    "day_country": [
        _request([_scope("dataset", [f"pid{p}"]), _months(r)], ["day", "country"])
        for p in PIDS[:5]
        for r in RANGES
    ],
    "user": [
        _request([_scope("user", [f"uid={u}"])], ["month"])
        for u in (3, 8, 17, 22, 31, 36, 40, 44, 46, 49)
    ],
    "group": [
        _request([_scope("group", [f"grp={g}"]), _months(r)], ["month"])
        for g in range(9)
        for r in RANGES[:2]
    ],
    "repository": [
        _request([_scope("repository", [f"urn:node:N{n}"]), _months(r)], ["year"])
        for n in range(4)
        for r in RANGES
    ],
    "portal": [
        _request([_scope("portal", [f"portal{a}", f"portal{b}"]), _months(r)], ["month"])
        for a, b in ((2, 5), (0, 3), (1, 7), (4, 8), (6, 2), (3, 5))
        for r in RANGES[:2]
    ],
    # one value: a package request with several goes to the catalog
    # summary branch, which the next shape already covers
    "package": [
        _request([_scope("package", [v])], ["month"])
        for v in [f"pid{p}" for p in PIDS[::2]] + [f"sid{s}" for s in (0, 3, 4, 6, 9)]
    ],
    "catalog_summary": [
        _request([_scope("catalog", [f"pid{a}", f"pid{b}", f"sid{s}"])], ["dataset"])
        for a, b, s in zip(PIDS, PIDS[3:] + PIDS[:3], (4, 7, 1, 9, 0, 2, 5, 8, 3, 6))
    ],
}


def request_key(request: dict) -> str:
    return json.dumps(request, sort_keys=True)


def request_cycles(seed: int):
    """Endless cycles of one request per shape, in a seeded order and
    with seeded parameters."""
    rng = random.Random(seed)
    names = sorted(SHAPES)
    while True:
        rng.shuffle(names)
        yield [(name, rng.choice(SHAPES[name])) for name in names]
