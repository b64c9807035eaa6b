"""Shared pieces of the workload runs: the run context, the session
lifecycle and the statistics every workload reports."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass, field

import numpy as np

from gen import Size
from spans import Tracer

# Set-up is repeated this many times per run; setup_s reports the median.
SETUP_REPS = 3

_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr (standard output carries only the result)."""
    print(f"[perfbench +{time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


SIZES = {
    # 10k events keep a run (session start, set-up, measurement, DuckDB
    # check) near 40 s even when the host is slow; see README.md, Sizing
    "full": Size(events=10_000, keys=500),
    "tiny": Size(events=1_500, keys=60),
}


@dataclass
class Ctx:
    seed: int
    size: Size
    seconds: float
    tracer: Tracer
    scratch: str
    cpus: int
    spark: object = None
    session_start_s: float = 0.0
    notes: list[str] = field(default_factory=list)

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.scratch, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path


def measurement_done(ctx: Ctx) -> None:
    """Tell run.py the measured part of the run is over: it stops sampling
    memory, so the DuckDB checks, the layer probes and shutdown that follow
    are not counted as the program's."""
    with open(os.path.join(ctx.scratch, "phase"), "w") as f:
        f.write("done")


def start_session(ctx: Ctx) -> None:
    """Start the program's own session factory with every local, spill and
    temp directory inside the run's scratch area."""
    from volga_spark.session import get_spark

    for d in ("local", "warehouse", "tmp"):
        os.makedirs(os.path.join(ctx.scratch, d), exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(ctx.scratch, "local"),
        "spark.sql.warehouse.dir": os.path.join(ctx.scratch, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={ctx.scratch}/tmp "
            f"-Dderby.system.home={ctx.scratch}/tmp"
        ),
    }
    t0 = time.perf_counter()
    with ctx.tracer.span("session.start"):
        ctx.spark = get_spark(app_name="perfbench", cpus=ctx.cpus, extra_conf=conf)
    ctx.session_start_s = time.perf_counter() - t0
    log(f"session started in {ctx.session_start_s:.2f}s")


def stop_session(ctx: Ctx) -> None:
    """Stop the session and wait for the JVM to exit (its Python workers
    exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if ctx.spark is not None:
        ctx.spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def pct(values, q: float) -> float:
    """Linear-interpolated percentile (numpy's default)."""
    return float(np.percentile(np.asarray(values, dtype=float), q)) if len(values) else 0.0


def median(values) -> float:
    return pct(values, 50)


def timed_reps(fn, reps: int = SETUP_REPS) -> tuple[list[float], object]:
    """Run ``fn(i)`` ``reps`` times; return the wall seconds of each and the
    last return value."""
    times, out = [], None
    for i in range(reps):
        t0 = time.perf_counter()
        out = fn(i)
        times.append(time.perf_counter() - t0)
        log(f"{getattr(fn, '__name__', 'rep')} {i}: {times[-1]:.2f}s")
    return times, out


def e2e(ctx: Ctx, setup_reps: list[float], throughput: float, latencies_s: list[float]) -> dict:
    """The end-to-end metrics every workload reports (peak_rss_mb is added
    by the parent process, which samples the whole process tree)."""
    return {
        "setup_s": (ctx.session_start_s + median(setup_reps), "s"),
        "throughput_per_s": (throughput, "1/s"),
        "latency_p50_ms": (pct(latencies_s, 50) * 1000.0, "ms"),
        "latency_p90_ms": (pct(latencies_s, 90) * 1000.0, "ms"),
    }
