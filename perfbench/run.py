"""Feature-engine benchmark: one run of one workload.

    python3 perfbench/run.py --workload backfill|stream|serve --seed N
        --seconds S --trace 0|1 [--size full|tiny] [--spans FILE]

Run from the root of a checkout. The measurement itself runs in a fresh
child process (``worker.py``) whose Spark JVM and Python workers this
process samples for peak memory and waits for at exit. Every local,
checkpoint, spill and temp directory lives under ``perfbench/_scratch``
and is removed after the run. The last line of standard output is the
result: ``{"correct", "attempted", "failed", "metrics"}`` with the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
Exits non-zero when a correctness check fails or the run cannot be made.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 165.0  # the child is killed past this; a run must end in 180 s
STRAY_WAIT_S = 30.0
SPARK_MAIN = b"org.apache.spark.deploy.SparkSubmit"


def _pids() -> list[int]:
    return [int(p) for p in os.listdir("/proc") if p.isdigit()]


def _read(path: str) -> bytes:
    try:
        with open(path, "rb") as f:
            return f.read()
    except OSError:  # the process exited between listing and reading
        return b""


def spark_jvms() -> list[int]:
    """Spark JVMs alive on this host (any origin)."""
    return [p for p in _pids() if SPARK_MAIN in _read(f"/proc/{p}/cmdline")]


def session_members(sid: int) -> list[int]:
    out = []
    for p in _pids():
        stat = _read(f"/proc/{p}/stat")
        fields = stat[stat.rfind(b")") + 2 :].split()
        if len(fields) > 3 and int(fields[3]) == sid:
            out.append(p)
    return out


def rss_mb(pids: list[int]) -> float:
    """Resident memory of ``pids`` with shared pages split among the
    processes sharing them (PSS), so the JVM's short-lived fork+exec
    children and the forked Python workers are not counted twice."""
    total_kb = 0
    for p in pids:
        for line in _read(f"/proc/{p}/smaps_rollup").splitlines():
            if line.startswith(b"Pss:"):
                total_kb += int(line.split()[1])
                break
    return total_kb / 1024.0


def host_env(scratch: str) -> dict:
    """Fit Spark to the host and the inputs: all usable cores, a 1 GiB
    driver heap, and every temp path inside the scratch area."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(cpus),
        # the inputs need far less; a bigger heap lets the collector grow it
        # at different moments per run, which spread peak memory 19-25%
        SPARK_DRIVER_MEMORY="1g",
        SPARK_LOCAL_DIRS=os.path.join(scratch, "local"),
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")])),
        PYTHONWARNINGS="ignore::FutureWarning",
        # no JVM perf-data files in the system temp directory
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
    )
    return env


def wait_gone(pids_fn, timeout_s: float) -> list[int]:
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        left = pids_fn()
        if not left:
            return []
        time.sleep(0.2)
    return pids_fn()


def run_child(args, scratch: str, result: str) -> tuple[int, float]:
    """Run worker.py in its own session; return (exit code, peak RSS MiB of
    the session's processes). Every process of the session has ended when
    this returns."""
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--size", args.size, "--scratch", scratch, "--result", result,
    ]
    if args.spans:
        cmd += ["--spans", os.path.abspath(args.spans)]
    proc = subprocess.Popen(
        cmd, cwd=ROOT, env=host_env(scratch), stdout=sys.stderr, stderr=sys.stderr,
        start_new_session=True,
    )
    peak = [0.0]
    done = threading.Event()

    phase = os.path.join(scratch, "phase")  # harness.measurement_done

    def sample() -> None:
        while not done.is_set() and _read(phase) != b"done":
            peak[0] = max(peak[0], rss_mb(session_members(proc.pid)))
            done.wait(0.2)

    sampler = threading.Thread(target=sample, daemon=True)
    sampler.start()
    try:
        rc = proc.wait(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        print(f"run exceeded {DEADLINE_S:.0f}s; killing it", file=sys.stderr)
        os.killpg(proc.pid, signal.SIGKILL)
        rc = proc.wait()
    finally:
        done.set()
        sampler.join()
    left = wait_gone(lambda: session_members(proc.pid), 20.0)
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    if wait_gone(lambda: session_members(proc.pid), 10.0):
        print("processes of the run survived SIGKILL", file=sys.stderr)
        rc = rc or 1
    return rc, peak[0]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["backfill", "stream", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    ap.add_argument("--spans", help="traced runs: write the spans to this JSON file")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "volga_spark", "__init__.py")):
        print(f"no volga_spark package under {ROOT}: nothing to measure", file=sys.stderr)
        return 2
    stray = wait_gone(spark_jvms, STRAY_WAIT_S)
    if stray:
        print(f"refusing to time: Spark JVM(s) {stray} still running", file=sys.stderr)
        return 3

    scratch = os.path.join(HERE, "_scratch", f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    result_path = os.path.join(scratch, "result.json")
    try:
        rc, peak = run_child(args, scratch, result_path)
        res = None
        if rc == 0 and os.path.isfile(result_path):
            with open(result_path) as f:
                res = json.load(f)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    if res is None:
        print(f"workload {args.workload} failed (exit {rc})", file=sys.stderr)
        return 1

    print("inputs: " + json.dumps(res["inputs"]))
    print(f"samples: {res['samples']}")
    for note in res["notes"]:
        print("check: " + note)
    e2e = dict(res["e2e"], peak_rss_mb=(peak, "MB"))
    if args.trace:
        print("self_time_s: " + json.dumps(res["self_time_s"]))
        print("traced_end_to_end: " + json.dumps({k: v for k, (v, _) in e2e.items()}))
    chosen = res["layers"] if args.trace else e2e
    correct = res["failed"] == 0
    print(json.dumps({
        "correct": correct,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
