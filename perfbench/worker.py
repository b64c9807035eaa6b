"""One measurement, in a fresh process: ``run.py`` starts this with the
run's scratch directory and a result path, and samples its process tree.

    python3 perfbench/worker.py --workload W --seed N --seconds S --trace 0|1
        --size full|tiny --scratch DIR --result FILE

Writes a JSON result: attempted/failed counts, end-to-end metrics, the
per-layer metrics (traced runs) and the input description.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))  # the checkout root: volga_spark

# name → unit of every per-layer metric; a workload that does not run a
# layer reports it as 0 (the layer did no work in that workload)
LAYER_UNITS = {
    "session.start_s": "s",
    "tables.scan_s": "s",
    "api.pipeline.build_ms": "ms",
    "operators.window.native_s": "s",
    "functions.sliding.sweep_s": "s",
    "functions.sliding.sweep_us_per_key": "us",
    "functions.sliding.sweep_us_per_row": "us",
    "sources.gen_late_ms_max": "ms",
    "sources.input_lag_events_p90": "count",
    "streaming.batches": "count",
    "streaming.rows_per_batch_p50": "count",
    "streaming.trigger_ms_p50": "ms",
    "streaming.trigger_ms_p90": "ms",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.wal_commit_ms_p50": "ms",
    "streaming.query_planning_ms_p50": "ms",
    "streaming.latest_offset_ms_p50": "ms",
    "streaming.busy_ratio": "ratio",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.state_commit_ms_p50": "ms",
    "streaming.spill_bytes": "bytes",
    "streaming.sink_ms_p50": "ms",
    "api.serving.http_overhead_ms_p50": "ms",
    "operators.request.get_features_ms_p50": "ms",
    "operators.request.get_features_ms_p90": "ms",
    "operators.request.create_df_ms_p50": "ms",
    "operators.request.lookup_ms_p50": "ms",
    "operators.request.collect_ms_p50": "ms",
    "operators.request.spark_jobs_per_request": "count",
    "operators.request.state_pin_s": "s",
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["backfill", "stream", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", default="full")
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--spans", default=None, help="write the traced run's spans here")
    args = ap.parse_args()

    import harness
    from spans import Tracer

    ctx = harness.Ctx(
        seed=args.seed,
        size=harness.SIZES[args.size],
        seconds=args.seconds,
        tracer=Tracer(bool(args.trace)),
        scratch=args.scratch,
        cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "1")),
    )
    wl = importlib.import_module(args.workload)  # backfill.py, stream.py, serve.py

    harness.start_session(ctx)
    try:
        out = wl.run(ctx)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        ctx.tracer.restore()
        harness.stop_session(ctx)

    layers = {name: 0.0 for name in LAYER_UNITS}
    layers["session.start_s"] = ctx.session_start_s
    layers.update(out.pop("layers", {}))
    out["layers"] = {k: (float(v), LAYER_UNITS[k]) for k, v in layers.items()}
    out["e2e"] = {k: (float(v), u) for k, (v, u) in out["e2e"].items()}
    out["notes"] = ctx.notes
    if ctx.tracer.enabled:
        out["self_time_s"] = {k: round(v, 4) for k, v in ctx.tracer.self_times().items()}
        if args.spans:
            ctx.tracer.dump(args.spans)
    with open(args.result, "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
