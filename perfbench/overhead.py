"""Tracing overhead of one workload: the traced minus the untraced
end-to-end values, from two back-to-back runs with the same seed. Prints
the traced run's output first.

    python3 perfbench/overhead.py --workload W --seed N --seconds S
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(args, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)],
        cwd=os.path.dirname(HERE), capture_output=True, text=True,
    )
    if p.returncode != 0:
        sys.exit(f"trace={trace} run failed:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    if trace:
        print(p.stdout, end="")
        line = next(x for x in lines if x.startswith("traced_end_to_end: "))
        return json.loads(line.split(": ", 1)[1])
    return {k: v["value"] for k, v in json.loads(lines[-1])["metrics"].items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    plain, traced = _run(args, 0), _run(args, 1)
    print(json.dumps({
        k: {"untraced": plain[k], "traced": traced[k], "overhead": traced[k] - plain[k],
            "overhead_share": (traced[k] - plain[k]) / plain[k] if plain[k] else None}
        for k in plain
    }, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
