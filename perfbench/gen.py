"""Seeded generator for the benchmark's ``events`` table.

The table has the testdata schema (event_id, ts, user_id, event_type, value,
props). ``event_id`` is contiguous from 0 and ``ts`` strictly increases in
whole microseconds, so ``obadiah_spark.synth`` derives a valid level3 log
from it. Knobs: the seed, the event count, the time span in ISO weeks (the
number of eras) and the episode size (mean events per one-minute episode,
which fixes the arrival rate). The 240 orders and 2 pairs are fixed by
synth, so only history length and density vary.

``ts`` is written as TIMESTAMP(MICROS): nanosecond parquet is rejected by a
plain Spark read.
"""

from __future__ import annotations

import hashlib
import io
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_US = 1_704_067_200_000_000          # 2024-01-01 00:00 UTC, a Monday
WEEK_US = 7 * 86_400_000_000
MINUTE_US = 60_000_000
EVENT_TYPES = np.array(["view", "click", "cart", "purchase", "error"])


@dataclass(frozen=True)
class Shape:
    events: int
    weeks: int
    episode_size: float     # mean events per active one-minute episode

    @property
    def span_us(self) -> int:
        return self.weeks * WEEK_US


def _timestamps(rng: np.random.Generator, shape: Shape) -> np.ndarray:
    """Bursty arrivals: events come in episodes of Poisson(episode_size)
    size at uniformly drawn minutes of the span; inside an episode they are
    spread uniformly over the minute. Sorted and made strictly increasing."""
    minutes = shape.span_us // MINUTE_US
    n_eps = max(1, int(round(shape.events / shape.episode_size)))
    sizes = rng.poisson(shape.episode_size - 1, n_eps) + 1
    # trim or pad episode sizes so they sum to exactly `events`
    while sizes.sum() != shape.events:
        diff = shape.events - int(sizes.sum())
        idx = rng.integers(0, n_eps, abs(diff))
        np.add.at(sizes, idx, 1 if diff > 0 else -1)
        sizes = np.maximum(sizes, 0)
    starts = rng.choice(minutes, size=n_eps, replace=n_eps > minutes)
    minute_of = np.repeat(starts, sizes)
    ts = EPOCH_US + minute_of * MINUTE_US + rng.integers(0, MINUTE_US, shape.events)
    ts = np.sort(ts)
    # strictly increasing µs without leaving the span: bump ties forward
    ts = np.maximum.accumulate(ts - np.arange(shape.events)) + np.arange(shape.events)
    return ts


def events_table(seed: int, shape: Shape) -> pa.Table:
    rng = np.random.default_rng(seed)
    ts = _timestamps(rng, shape)
    n = shape.events
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]"), type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 200, n, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(np.round(rng.uniform(0, 50, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def events_bytes(seed: int, shape: Shape) -> bytes:
    """The parquet file for (seed, shape), byte for byte."""
    buf = io.BytesIO()
    pq.write_table(events_table(seed, shape), buf, compression="snappy")
    return buf.getvalue()


def write_events(path: str, seed: int, shape: Shape) -> str:
    """Write ``<path>/events.parquet``; return its sha256."""
    os.makedirs(path, exist_ok=True)
    data = events_bytes(seed, shape)
    with open(os.path.join(path, "events.parquet"), "wb") as fh:
        fh.write(data)
    return hashlib.sha256(data).hexdigest()


def determinism_problems(seed: int, shape: Shape) -> list[str]:
    """The same seed must give byte-identical input, another seed other
    input, and the table must honour the synth contract."""
    a, b = events_bytes(seed, shape), events_bytes(seed, shape)
    c = events_bytes(seed + 1, shape)
    problems = []
    if a != b:
        problems.append("same seed gave different bytes")
    if a == c:
        problems.append("different seeds gave identical bytes")
    t = pq.read_table(io.BytesIO(a))
    ts = t.column("ts").cast(pa.int64()).to_numpy()
    ids = t.column("event_id").to_numpy()
    if t.schema.field("ts").type != pa.timestamp("us"):
        problems.append(f"ts stored as {t.schema.field('ts').type}")
    if not (ids == np.arange(len(ids))).all():
        problems.append("event_id is not contiguous from 0")
    if not (np.diff(ts) > 0).all():
        problems.append("ts is not strictly increasing")
    if ts[0] < EPOCH_US or ts[-1] >= EPOCH_US + shape.span_us:
        problems.append("ts leaves the span")
    return problems
