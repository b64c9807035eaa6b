"""``stream`` workload: streaming mode over long sliding windows.

The query is ``tiled_sliding_window_stream`` (7-day RANGE window, tiled
count/sum/avg plus ``sum_cate`` and ``topn_frequency``) over a parquet file
source, with a fixed processing-time trigger and a ``foreachBatch`` sink
that collects each batch's rows.

1. Catch-up: the history arrives as one file per day and is drained.
   Throughput is the history rows emitted over the time from query start
   until the last of them reaches the sink.
2. Live: an open-loop generator thread writes one file per tick at a fixed
   rate, on a schedule that does not wait for the query. Event time is
   virtual and continues from the history's end at wall speed, so each
   event's due time is known; its latency is the wall time the sink's
   collect returned minus that due time.

The file source is uncapped, so a batch takes whatever has arrived. Rows
are emitted once the watermark (no lateness) passes them and their state
bucket gets data, so the end of each phase writes punctuation rows: one row
per synthetic key (negative ids, never in the history) at a timestamp just
past the phase, which reach every state bucket. After the generator stops,
two punctuation rounds flush the tail; events still missing after a fixed
grace period count as failed.
"""

from __future__ import annotations

import json
import os
import threading
import time

import numpy as np
import pandas as pd

import oracle
from gen import DAY_US, Events, Generator
from harness import Ctx, e2e, log, measurement_done, median, pct, timed_reps

TRIGGER = "1 second"
TICK_S = 0.25  # the generator writes one file per tick
RATE_PER_EVENT = 1 / 50  # live events/s per history event: 200/s at 10k
PUNCT_KEYS = 2048
CATCHUP_TIMEOUT_S = 60.0
GRACE_S = 20.0
SCHEMA = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE"


def _punctuation(ts_us: int) -> Events:
    ids = -np.arange(1, PUNCT_KEYS + 1, dtype=np.int64)
    return Events(
        ids, np.full(PUNCT_KEYS, ts_us, dtype=np.int64), ids,
        np.full(PUNCT_KEYS, "view", dtype=object), np.ones(PUNCT_KEYS),
    )


def _publish(ev: Events, src: str, name: str) -> None:
    """Write then rename, so the file source never lists a partial file."""
    tmp = os.path.join(src, f".{name}")
    ev.write(tmp)
    os.rename(tmp, os.path.join(src, name))


def _ms_floor(ts_us: int) -> int:
    return ts_us // 1000 * 1000


def _query(ctx: Ctx, src: str):
    from volga_spark.operators.window import cents, range_frame
    from volga_spark.streaming.tiled_window import (
        TiledCateSpec,
        TiledSpec,
        TiledTopSpec,
        tiled_sliding_window_stream,
    )

    source = ctx.spark.readStream.schema(SCHEMA).parquet(src)
    return tiled_sliding_window_stream(
        source,
        key_cols="user_id",
        ts_col="ts",
        frame=range_frame("7 days"),
        granularity="1 hour",
        specs=[
            TiledSpec("cnt_7d", "count", "vc", "bigint"),
            TiledSpec("sum_7d", "sum", "vc", "bigint"),
            TiledSpec("avg_7d", "avg", "vc", "double"),
            TiledCateSpec("sum_cate_7d", "sum", "vc", "event_type"),
            TiledTopSpec("topf_7d", "topn_frequency", "event_type", k=oracle.TOPN_K),
        ],
        passthrough=["event_id"],
        lateness="0 seconds",
        prepared={"vc": cents("value")},
        spill_root=os.path.join(ctx.scratch, "spill"),
    )


def _progress_listener(feed_counter):
    from volga_spark.observability import PipelineMetrics

    class ProgressLog(PipelineMetrics):
        """PipelineMetrics that also keeps every progress event, with its
        arrival time and the live events generated by then."""

        def __init__(self):
            super().__init__()
            self.log: list[tuple[float, dict, int]] = []

        def onQueryProgress(self, event):  # noqa: N802 (Spark API)
            super().onQueryProgress(event)
            p = json.loads(event.progress.json)
            with self._lock:
                self.log.append((time.perf_counter(), p, feed_counter()))

        def rows_in(self) -> int:
            with self._lock:
                return sum(int(p.get("numInputRows") or 0) for _, p, _ in self.log)

    return ProgressLog()


class Sink:
    """foreachBatch target: collects each batch and stamps its events."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.lock = threading.Lock()
        self.tables = []
        self.emitted_at: dict[int, float] = {}
        self.sink_ms: list[float] = []

    def __call__(self, df, batch_id):
        t0 = time.perf_counter()
        with self.tracer.span("streaming.sink", trace_id=batch_id):
            table = df.toArrow()
        now = time.perf_counter()
        ids = table.column("event_id").to_numpy()
        with self.lock:
            self.sink_ms.append((now - t0) * 1000)
            self.tables.append(table)
            for e in ids[ids >= 0].tolist():
                self.emitted_at[e] = now

    def count_in(self, ids) -> int:
        with self.lock:
            return sum(1 for e in ids if e in self.emitted_at)


class LiveFeed(threading.Thread):
    """Open-loop generator: file i is written at t0 + (i + 1) * tick
    whatever the query is doing."""

    def __init__(self, ticks: list[Events], src: str, t0: float, tracer):
        super().__init__(daemon=True)
        self.ticks, self.src, self.t0, self.tracer = ticks, src, t0, tracer
        self.written = 0
        self.late_ms: list[float] = []

    def run(self):
        for i, ev in enumerate(self.ticks):
            due = self.t0 + (i + 1) * TICK_S
            time.sleep(max(0.0, due - time.perf_counter()))
            with self.tracer.span("sources.write_file", trace_id=i):
                _publish(ev, self.src, f"l_{i:05d}.parquet")
            self.late_ms.append((time.perf_counter() - due) * 1000)
            self.written += len(ev)


def _wait(cond, timeout_s: float) -> bool:
    deadline = time.perf_counter() + timeout_s
    while not cond():
        if time.perf_counter() > deadline:
            return False
        time.sleep(0.02)
    return True


def run(ctx: Ctx) -> dict:
    def setup(i: int):
        gen = Generator(ctx.seed, ctx.size)
        src = ctx.fresh_dir(f"src{i}")
        h = gen.history
        day = (h.ts_us - h.ts_us[0]) // DAY_US
        for d in np.unique(day):
            m = day == d
            Events(h.event_id[m], h.ts_us[m], h.user_id[m], h.event_type[m], h.value[m]).write(
                os.path.join(src, f"h_{int(d):04d}.parquet")
            )
        return gen, src, _query(ctx, src)

    setup_reps, (gen, src, query_df) = timed_reps(setup)
    hist = gen.history
    n_hist = len(hist)
    p1 = _ms_floor(gen.end_us) + 1000
    rate = ctx.size.events * RATE_PER_EVENT
    ticks = gen.live_tail(p1 + 1000, rate, ctx.seconds, TICK_S)
    live_ids = np.concatenate([t.event_id for t in ticks])
    live_ts = np.concatenate([t.ts_us for t in ticks])

    feed = None
    listener = _progress_listener(lambda: feed.written if feed else 0)
    ctx.spark.streams.addListener(listener)
    sink = Sink(ctx.tracer)
    query = None
    try:
        # catch-up: all history in batch 0, then punctuation in a later batch
        t_start = time.perf_counter()
        with ctx.tracer.span("streaming.query_start"):
            query = (
                query_df.writeStream.foreachBatch(sink)
                .option("checkpointLocation", os.path.join(ctx.scratch, "ckpt"))
                .trigger(processingTime=TRIGGER)
                .start()
            )
        caught_up = _wait(lambda: listener.rows_in() >= n_hist, CATCHUP_TIMEOUT_S)
        _publish(_punctuation(p1), src, "p_0001.parquet")
        target_ids = hist.event_id[hist.ts_us <= _ms_floor(gen.end_us)]
        caught_up = caught_up and _wait(
            lambda: sink.count_in(target_ids) >= len(target_ids), CATCHUP_TIMEOUT_S
        )
        t_caught = max((sink.emitted_at.get(int(e), 0.0) for e in target_ids), default=0.0)
        catchup_eps = len(target_ids) / max(t_caught - t_start, 1e-9)
        log(f"caught up in {t_caught - t_start:.2f}s")

        # live: open loop at a fixed rate
        live_t0 = time.perf_counter() + TICK_S
        feed = LiveFeed(ticks, src, live_t0, ctx.tracer)
        feed.start()
        feed.join()
        live_end = time.perf_counter()
        log("live phase done")
        # flush: the first round advances the watermark past every live
        # event once read, the second then reaches every state bucket
        p2 = _ms_floor(int(live_ts.max())) + 1000
        _publish(_punctuation(p2), src, "p_0002.parquet")
        all_in = n_hist + len(live_ids) + 2 * PUNCT_KEYS
        _wait(lambda: listener.rows_in() >= all_in, GRACE_S)
        _publish(_punctuation(p2 + 1000), src, "p_0003.parquet")
        _wait(lambda: sink.count_in(live_ids) >= len(live_ids), GRACE_S)
        log(f"flushed: {sink.count_in(live_ids)}/{len(live_ids)} live events emitted")
    finally:
        if query is not None:
            query.stop()
        ctx.spark.streams.removeListener(listener)
    measurement_done(ctx)

    due = live_t0 + (live_ts - (p1 + 1000)) / 1e6
    lat = [sink.emitted_at[int(e)] - d for e, d in zip(live_ids, due) if int(e) in sink.emitted_at]

    emitted = pd.concat([t.to_pandas() for t in sink.tables], ignore_index=True)
    emitted = emitted[emitted["event_id"] >= 0]
    expected = oracle.features(
        [os.path.join(src, "h_*.parquet"), os.path.join(src, "l_*.parquet")],
        oracle.WINDOWS_STREAM,
    )
    bad, notes = oracle.compare_features(emitted, expected)
    if not caught_up:
        notes.append("catch-up did not finish")
    log(f"checked: {bad} bad rows")
    ctx.notes.extend(notes)

    out = {
        "attempted": len(expected),
        "failed": bad + (0 if caught_up else 1),
        "e2e": e2e(ctx, setup_reps, catchup_eps, lat),
        "inputs": {**gen.describe(), "live_rate_per_s": rate, "live_events": len(live_ids)},
        "samples": len(lat),
    }
    if ctx.tracer.enabled:
        out["layers"] = _layers(ctx, listener.log, sink, feed, n_hist, live_t0, live_end)
    return out


def _layers(ctx, progress, sink, feed, n_hist, live_t0, live_end) -> dict:
    """Per-layer figures of the live phase, from the progress events that
    arrived during it."""
    live = [(t, p, gen) for t, p, gen in progress if live_t0 <= t <= live_end]
    dur = lambda k: [float((p.get("durationMs") or {}).get(k) or 0.0) for _, p, _ in live]
    # live rows consumed = all input rows minus the history and the first
    # punctuation round; input lag = live rows generated but not yet read
    consumed = sum(int(p.get("numInputRows") or 0) for t, p, _ in progress if t < live_t0)
    consumed -= n_hist + PUNCT_KEYS
    lags = []
    for _, p, generated in live:
        consumed += int(p.get("numInputRows") or 0)
        lags.append(max(generated - consumed, 0))
    last_state = next(
        (p["stateOperators"][0] for _, p, _ in reversed(progress) if p.get("stateOperators")),
        {},
    )
    state_commit = [
        float(p["stateOperators"][0].get("commitTimeMs") or 0.0)
        for _, p, _ in live if p.get("stateOperators")
    ]
    spill = os.path.join(ctx.scratch, "spill")
    spill_bytes = sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(spill) for f in fs
    )
    wall_ms = max((live_end - live_t0) * 1000, 1e-9)
    return {
        "sources.gen_late_ms_max": max(feed.late_ms, default=0.0),
        "sources.input_lag_events_p90": pct(lags, 90),
        "streaming.batches": len(live),
        "streaming.rows_per_batch_p50": median([int(p.get("numInputRows") or 0) for _, p, _ in live]),
        "streaming.trigger_ms_p50": median(dur("triggerExecution")),
        "streaming.trigger_ms_p90": pct(dur("triggerExecution"), 90),
        "streaming.add_batch_ms_p50": median(dur("addBatch")),
        "streaming.wal_commit_ms_p50": median(dur("walCommit")),
        "streaming.query_planning_ms_p50": median(dur("queryPlanning")),
        "streaming.latest_offset_ms_p50": median(dur("latestOffset")),
        "streaming.busy_ratio": min(sum(dur("triggerExecution")) / wall_ms, 1.0),
        "streaming.state_rows": float(last_state.get("numRowsTotal") or 0),
        "streaming.state_bytes": float(last_state.get("memoryUsedBytes") or 0),
        "streaming.state_commit_ms_p50": median(state_commit),
        "streaming.spill_bytes": float(spill_bytes),
        "streaming.sink_ms_p50": median(sink.sink_ms),
    }
