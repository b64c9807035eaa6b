"""``serve`` workload: request mode (point-in-time lookups over HTTP).

``auto_feature_service(history, 7-day frame)`` behind
``api.serving.FeatureServer`` on localhost. A closed loop of callers (2,
at most the core count) each sends its next 10-point request as soon as
the previous reply arrives; latency is the client round trip. Building the
service and its first pin (the first lookup, which caches the state) are
set-up. Every reply is kept and, after the timed phase, checked against
DuckDB answers for the same points; an error, a timeout or a wrong value
is a failed request.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import threading
import time
import urllib.error
import urllib.request

import oracle
from gen import Generator
from harness import Ctx, e2e, log, measurement_done, median, pct, timed_reps

POINTS = 10
CALLERS = 2
REQUESTS = 600  # the request list; callers stop at the time limit first
TIMEOUT_S = 30.0
FEATURES = ("cnt", "sum_value", "min_value", "max_value")


def _iso(ts_us: int) -> str:
    return (dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=ts_us)).isoformat()


def _points(req: list[tuple]) -> list[tuple]:
    return [(i, k, dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=t)) for i, k, t in req]


class Callers:
    """Closed-loop clients sharing one request list. Replies are kept and
    checked after the timed phase, so checking takes no time from it."""

    def __init__(self, url: str, requests, tracer):
        self.url = url
        self.requests, self.tracer = requests, tracer
        self.lock = threading.Lock()
        self.next = 0
        self.done: list[tuple[list, bytes | None, str | None, float]] = []

    def _take(self):
        with self.lock:
            if self.next >= len(self.requests):
                return None
            self.next += 1
            return self.requests[self.next - 1]

    def loop(self, t_end: float) -> None:
        while time.perf_counter() < t_end:
            req = self._take()
            if req is None:
                return
            body = json.dumps({"requests": [
                {"request_id": i, "user_id": k, "ts": _iso(t)} for i, k, t in req
            ]}).encode()
            reply, error = None, None
            t0 = time.perf_counter()
            try:
                with self.tracer.span("api.serving.request", trace_id=req[0][0]):
                    with urllib.request.urlopen(
                        urllib.request.Request(
                            self.url, data=body, headers={"Content-Type": "application/json"}
                        ),
                        timeout=TIMEOUT_S,
                    ) as resp:
                        reply = resp.read()
            except (urllib.error.URLError, OSError) as ex:
                error = repr(ex)
            rtt = time.perf_counter() - t0
            with self.lock:
                self.done.append((req, reply, error, rtt))


def _problem(req, reply: bytes | None, error: str | None, expected) -> str | None:
    """Why a request failed, or None: an HTTP error or timeout, a missing
    point, or any feature value unlike DuckDB's."""
    if error is not None:
        return f"request {req[0][0]}: {error}"
    try:
        rows = {r["request_id"]: r for r in json.loads(reply)["features"]}
    except (ValueError, KeyError, TypeError) as ex:
        return f"request {req[0][0]}: bad reply {ex!r}"
    for rid, _, _ in req:
        got = rows.get(rid)
        if got is None:
            return f"request point {rid}: no row"
        have, want = tuple(got.get(f) for f in FEATURES), expected[rid]
        if have != want:
            return f"request point {rid}: got {have} want {want}"
    return None


def _trace_service(ctx: Ctx, svc) -> None:
    """Spans around the live service's calls (traced runs only): the
    request's own get_features (trace id = its first point's id),
    createDataFrame, lookup, and the Arrow collect inside lookup."""
    tracer = ctx.tracer
    tracer.wrap(
        svc, "get_features", "operators.request.get_features",
        trace_of=lambda spark, points: points[0][0],
    )
    tracer.wrap(ctx.spark, "createDataFrame", "operators.request.create_df")
    tracer.wrap(svc, "lookup", "operators.request.lookup")
    tracer.wrap(type(ctx.spark.range(1)), "toArrow", "operators.request.collect")


def run(ctx: Ctx) -> dict:
    from volga_spark.api.serving import FeatureServer
    from volga_spark.operators.tiles import auto_feature_service
    from volga_spark.operators.window import range_frame

    services = []
    pin_s = []

    def setup(i: int):
        for old in services:
            old.close()
        gen = Generator(ctx.seed, ctx.size)
        path = os.path.join(ctx.fresh_dir(f"in{i}"), "events.parquet")
        gen.history.write(path)
        reqs = gen.requests(REQUESTS + 1, POINTS)
        events = ctx.spark.read.parquet(path)
        svc = auto_feature_service(events, "user_id", "ts", "value", range_frame("7 days"))
        services.append(svc)
        t0 = time.perf_counter()
        svc.get_features(ctx.spark, _points(reqs[0]))
        pin_s.append(time.perf_counter() - t0)
        return gen, path, reqs, svc

    setup_reps, (gen, path, reqs, svc) = timed_reps(setup)
    timed_reqs = reqs[1:]
    _trace_service(ctx, svc)
    tracker = ctx.spark.sparkContext.statusTracker()
    jobs_before = set(tracker.getJobIdsForGroup())
    server = FeatureServer(ctx.spark, svc).start()
    try:
        url = f"http://127.0.0.1:{server.port}/features"
        callers = Callers(url, timed_reqs, ctx.tracer)
        n_callers = max(1, min(CALLERS, ctx.cpus))
        t0 = time.perf_counter()
        threads = [
            threading.Thread(target=callers.loop, args=(t0 + ctx.seconds,))
            for _ in range(n_callers)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        elapsed = time.perf_counter() - t0
    finally:
        server.stop()
        ctx.tracer.restore()
        svc.close()
    measurement_done(ctx)
    n_jobs = len(set(tracker.getJobIdsForGroup()) - jobs_before)
    done = len(callers.done)
    log(f"{done} requests in {elapsed:.2f}s")

    sent = [p for req, _, _, _ in callers.done for p in req]
    expected = oracle.serve_answers(path, sent)
    problems = [_problem(req, reply, err, expected) for req, reply, err, _ in callers.done]
    problems = [p for p in problems if p]
    ctx.notes.extend(problems[:5])
    rtt = [r for _, _, _, r in callers.done]

    out = {
        "attempted": done,
        "failed": len(problems),
        "e2e": e2e(ctx, setup_reps, done / elapsed, rtt),
        "inputs": {
            **gen.describe(),
            "service_plan": getattr(svc, "chosen", "?"),
            "callers": n_callers,
            "points_per_request": POINTS,
        },
        "samples": done,
    }
    if ctx.tracer.enabled:
        out["layers"] = _layers(ctx, callers, done, n_jobs, pin_s)
    return out


def _layers(ctx: Ctx, callers: Callers, done: int, n_jobs: int, pin_s: list[float]) -> dict:
    tracer = ctx.tracer
    spans = {s["id"]: s for s in tracer.spans}
    gf = [s for s in spans.values() if s["name"] == "operators.request.get_features"]
    gf_by_req = {s["trace"]: s["end"] - s["start"] for s in gf}
    overhead = [
        (rtt - gf_by_req[req[0][0]]) * 1000
        for req, _, _, rtt in callers.done
        if req[0][0] in gf_by_req
    ]
    # lookup's own time excludes the Arrow collect it runs inside
    collect_in = {}
    for s in spans.values():
        if s["name"] == "operators.request.collect" and s["parent"] is not None:
            collect_in[s["parent"]] = collect_in.get(s["parent"], 0.0) + s["end"] - s["start"]
    lookup_self = [
        (s["end"] - s["start"] - collect_in.get(s["id"], 0.0)) * 1000
        for s in spans.values()
        if s["name"] == "operators.request.lookup"
    ]
    ms = lambda name: [d * 1000 for d in tracer.durations(name)]
    return {
        "api.serving.http_overhead_ms_p50": median(overhead),
        "operators.request.get_features_ms_p50": median(ms("operators.request.get_features")),
        "operators.request.get_features_ms_p90": pct(ms("operators.request.get_features"), 90),
        "operators.request.create_df_ms_p50": median(ms("operators.request.create_df")),
        "operators.request.lookup_ms_p50": median(lookup_self),
        "operators.request.collect_ms_p50": median(ms("operators.request.collect")),
        "operators.request.spark_jobs_per_request": n_jobs / max(done, 1),
        "operators.request.state_pin_s": median(pin_s),
    }
