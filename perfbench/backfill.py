"""``backfill`` workload: batch mode (the training-set path).

``PipelineSpec(SQL, sources=[parquet]).build(spark)`` over the whole
history, fully materialized, as many times as fit in the run. Each timed
iteration compiles the spec and runs it to a no-op sink; the untimed
warm-up iteration collects every output row, checked against DuckDB once
the timed iterations are over.
"""

from __future__ import annotations

import os
import time

import oracle
from gen import Generator
from harness import Ctx, e2e, log, measurement_done, median, timed_reps

SQL = """
SELECT event_id, user_id, ts,
  count(*) OVER w1h AS cnt_1h,
  sum(CAST(round(value * 100) AS BIGINT)) OVER w1h AS sum_1h,
  avg(CAST(round(value * 100) AS BIGINT)) OVER w1h AS avg_1h,
  sum_cate(CAST(round(value * 100) AS BIGINT), event_type) OVER w1h AS sum_cate_1h,
  topn_frequency(event_type, 3) OVER w1h AS topf_1h,
  count(*) OVER w7d AS cnt_7d,
  sum(CAST(round(value * 100) AS BIGINT)) OVER w7d AS sum_7d,
  avg(CAST(round(value * 100) AS BIGINT)) OVER w7d AS avg_7d,
  sum_cate(CAST(round(value * 100) AS BIGINT), event_type) OVER w7d AS sum_cate_7d,
  topn_frequency(event_type, 3) OVER w7d AS topf_7d
FROM events
WINDOW w1h AS (PARTITION BY user_id ORDER BY ts
               RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW),
       w7d AS (PARTITION BY user_id ORDER BY ts
               RANGE BETWEEN INTERVAL '7 days' PRECEDING AND CURRENT ROW)
"""
# Per-layer probes re-run each layer alone this many times (median).
PROBE_REPS = 3


def _build(ctx: Ctx, path: str):
    from volga_spark.api.pipeline import PipelineSpec, SourceSpec

    with ctx.tracer.span("api.pipeline.build"):
        return PipelineSpec(SQL, sources=[SourceSpec("events", parquet=path)]).build(ctx.spark)


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run(ctx: Ctx) -> dict:
    def setup(i: int):
        gen = Generator(ctx.seed, ctx.size)
        path = os.path.join(ctx.fresh_dir(f"in{i}"), "events.parquet")
        gen.history.write(path)
        return gen, path, _build(ctx, path)

    setup_reps, (gen, path, df) = timed_reps(setup)
    n = len(gen.history)

    got = df.toPandas()  # the cold warm-up run; checked after the timed runs

    times = []
    t_end = time.perf_counter() + ctx.seconds
    while time.perf_counter() < t_end or len(times) < 2:
        t0 = time.perf_counter()
        with ctx.tracer.span("backfill.iteration", trace_id=len(times)):
            _materialize(_build(ctx, path))
        times.append(time.perf_counter() - t0)
        log(f"iteration {len(times) - 1}: {times[-1]:.2f}s")
    measurement_done(ctx)

    bad, notes = oracle.compare_features(got, oracle.features(path, oracle.WINDOWS_BACKFILL))
    ctx.notes.extend(notes)
    log(f"warm-up run checked: {bad} bad rows")
    out = {
        "attempted": n,
        "failed": bad,
        "e2e": e2e(ctx, setup_reps, n / median(times), times),
        "inputs": gen.describe(),
        "samples": len(times),
    }
    if ctx.tracer.enabled:
        out["layers"] = _layers(ctx, path, n)
    return out


def _layers(ctx: Ctx, path: str, n_rows: int) -> dict:
    """Each backfill layer run alone, from the benchmark's side of its
    public functions."""
    from pyspark.sql import functions as F

    from volga_spark import tables
    from volga_spark.functions.cate_top import sum_cate, topn_frequency
    from volga_spark.functions.sliding import apply_sliding_aggs
    from volga_spark.operators.window import cents, event_window, range_frame

    spark = ctx.spark
    src_dir = os.path.dirname(path)
    tracer = ctx.tracer

    def scan(_):
        with tracer.span("tables.scan"):
            _materialize(tables.load_table(spark, src_dir, "events"))

    scan_s, _ = timed_reps(scan, PROBE_REPS)
    events = tables.load_table(spark, src_dir, "events").withColumn("vc", cents("value"))
    n_keys = events.select("user_id").distinct().count()

    def native(_):
        cols = []
        for sfx, length in (("1h", "1 hour"), ("7d", "7 days")):
            w = event_window("user_id", "ts", range_frame(length))
            cols += [
                F.count(F.lit(1)).over(w).alias(f"cnt_{sfx}"),
                F.sum("vc").over(w).alias(f"sum_{sfx}"),
                F.avg("vc").over(w).alias(f"avg_{sfx}"),
            ]
        with tracer.span("operators.window.native"):
            _materialize(events.select("event_id", "user_id", "ts", *cols))

    native_s, _ = timed_reps(native, PROBE_REPS)

    def sweep(_):
        df = events
        for sfx, length in (("1h", "1 hour"), ("7d", "7 days")):
            df = apply_sliding_aggs(
                df,
                partition_by="user_id",
                order_by="ts",
                frame=range_frame(length),
                specs=[
                    sum_cate(f"sum_cate_{sfx}", "vc", "event_type"),
                    topn_frequency(f"topf_{sfx}", "event_type", 3),
                ],
                passthrough=list(df.columns),
            )
        with tracer.span("functions.sliding.sweep"):
            _materialize(df)

    sweep_s, _ = timed_reps(sweep, PROBE_REPS)
    sweep_med = median(sweep_s)
    build_ms = [d * 1000 for d in tracer.durations("api.pipeline.build")]
    return {
        "tables.scan_s": median(scan_s),
        "api.pipeline.build_ms": median(build_ms),
        "operators.window.native_s": median(native_s),
        "functions.sliding.sweep_s": sweep_med,
        "functions.sliding.sweep_us_per_key": sweep_med / max(n_keys, 1) * 1e6,
        "functions.sliding.sweep_us_per_row": sweep_med / max(n_rows, 1) * 1e6,
    }
