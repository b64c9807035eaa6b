"""Seeded input generator for the feature-engine benchmark.

One seed gives one event history plus the per-workload inputs derived from
it: the live-tail schedule of the ``stream`` workload and the request list
of the ``serve`` workload. Everything is drawn from one numpy PCG64 stream,
so the same seed and size always give byte-identical inputs.

Shape of the history (per ``Size``):

- ``days`` of event time starting at 2024-01-01 00:00 UTC, timestamps
  unique to the microsecond and sorted, ``event_id`` = position;
- ``user_id`` Zipf(s=0.8) over ``keys`` ranks: each rank gets exactly its
  expected share of the events (largest-remainder rounding) and ranks map
  to ids by one fixed permutation, so every seed has the same key sizes and
  the same key-to-partition layout; the seed moves each key's events in
  time and draws their types and values;
- 5 skewed ``event_type`` values; ``value`` with 2 decimals.

The program under test only ever sees the files and lists written here.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(2024, 1, 1)
EPOCH_US = int((EPOCH - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
DAY_US = 86_400 * 1_000_000
HOUR_US = 3_600 * 1_000_000
ZIPF_S = 0.8
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
TYPE_P = (0.40, 0.25, 0.15, 0.12, 0.08)


@dataclass(frozen=True)
class Size:
    events: int
    keys: int
    days: int = 30


@dataclass
class Events:
    """Column arrays of one batch of events (ts in epoch microseconds)."""

    event_id: np.ndarray
    ts_us: np.ndarray
    user_id: np.ndarray
    event_type: np.ndarray  # object array of str
    value: np.ndarray

    def __len__(self) -> int:
        return len(self.event_id)

    def table(self) -> pa.Table:
        return pa.table({
            "event_id": pa.array(self.event_id, pa.int64()),
            "ts": pa.array(self.ts_us, pa.timestamp("us")),
            "user_id": pa.array(self.user_id, pa.int64()),
            "event_type": pa.array(self.event_type, pa.string()),
            "value": pa.array(self.value, pa.float64()),
        })

    def write(self, path: str) -> None:
        pq.write_table(self.table(), path)


class Generator:
    """All inputs of one seed. Draw order is fixed, so each list is a pure
    function of (seed, size)."""

    def __init__(self, seed: int, size: Size):
        self.seed = seed
        self.size = size
        self.rng = np.random.Generator(np.random.PCG64(seed))
        ranks = np.arange(1, size.keys + 1, dtype=np.float64)
        p = ranks ** -ZIPF_S
        self.key_p = p / p.sum()
        fixed = np.random.Generator(np.random.PCG64(size.keys))
        self.key_of_rank = fixed.permutation(size.keys).astype(np.int64)
        self.history = self._history()
        self.end_us = int(self.history.ts_us[-1])

    def _keys(self, n: int) -> np.ndarray:
        return self.key_of_rank[self.rng.choice(self.size.keys, size=n, p=self.key_p)]

    def _attrs(self, n: int) -> tuple[np.ndarray, np.ndarray]:
        types = np.array(EVENT_TYPES, dtype=object)[
            self.rng.choice(len(EVENT_TYPES), size=n, p=TYPE_P)
        ]
        cents = np.minimum(
            np.round(self.rng.lognormal(mean=3.5, sigma=1.0, size=n) * 100), 99_999
        ).astype(np.int64) + 1
        return types, cents / 100.0

    def _history(self) -> Events:
        n = self.size.events
        span = self.size.days * DAY_US
        ts = np.unique(self.rng.integers(0, span, size=n + n // 50))
        ts = np.sort(self.rng.choice(ts, size=n, replace=False)) + EPOCH_US
        exact = n * self.key_p
        counts = np.floor(exact).astype(np.int64)
        short = n - int(counts.sum())
        counts[np.argsort(counts - exact, kind="stable")[:short]] += 1
        keys = self.rng.permutation(np.repeat(self.key_of_rank, counts))
        types, values = self._attrs(n)
        return Events(np.arange(n, dtype=np.int64), ts, keys, types, values)

    def live_tail(
        self, start_us: int, rate: float, seconds: float, tick_s: float
    ) -> list[Events]:
        """The ``stream`` workload's open-loop schedule: one file of events
        per ``tick_s`` of wall time at ``rate`` events/s. Event time is
        virtual: it runs at wall speed from ``start_us`` (just past the
        history's end), spread uniformly and uniquely inside each tick."""
        per_tick = int(round(rate * tick_s))
        tick_us = int(tick_s * 1_000_000)
        out = []
        next_id = len(self.history)
        for i in range(int(round(seconds / tick_s))):
            lo = start_us + i * tick_us
            ts = np.sort(self.rng.choice(tick_us, size=per_tick, replace=False)) + lo
            types, values = self._attrs(per_tick)
            ids = np.arange(next_id, next_id + per_tick, dtype=np.int64)
            out.append(Events(ids, ts, self._keys(per_tick), types, values))
            next_id += per_tick
        return out

    def requests(self, n_requests: int, points: int) -> list[list[tuple]]:
        """The ``serve`` workload's request list: ``points`` (request_id,
        user_id, ts_us) virtual points per request. Keys follow the history's
        Zipf law; 9 in 10 timestamps fall in the history's last hour
        ("features as of now"), the rest anywhere in its last 7 days."""
        n = n_requests * points
        keys = self._keys(n)
        recent = self.rng.random(n) < 0.9
        back = np.where(
            recent,
            self.rng.integers(0, HOUR_US, size=n),
            self.rng.integers(0, 7 * DAY_US, size=n),
        )
        ts = self.end_us - back
        pts = [(i, int(k), int(t)) for i, (k, t) in enumerate(zip(keys, ts))]
        return [pts[r * points : (r + 1) * points] for r in range(n_requests)]

    def describe(self) -> dict:
        """Input shape, printed by every run so the inputs are visible."""
        h = self.history
        _, counts = np.unique(h.user_id, return_counts=True)
        span_days = (h.ts_us[-1] - h.ts_us[0]) / DAY_US
        per_key_day = counts / max(span_days, 1e-9)
        return {
            "seed": self.seed,
            "events": len(h),
            "keys": int(len(counts)),
            "top_key_share": round(float(counts.max() / len(h)), 4),
            "rows_per_key_window_1h": round(float(per_key_day.mean() / 24), 4),
            "rows_per_key_window_7d": round(float(per_key_day.mean() * 7), 3),
        }
