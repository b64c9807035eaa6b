"""Smoke tests of the benchmark itself, at tiny size.

    python3 -m pytest perfbench/smoke_test.py -q     (or: python3 perfbench/smoke_test.py)

Each workload runs untraced and traced through ``run.py``; its checks must
pass and the printed metric names and units must equal ``BENCHMARK.json``.
The checks' own mismatch detection and the generator's determinism are
tested without Spark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "3", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_runs_checks_and_names(workload, trace):
    out = _run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    declared = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
    assert all(isinstance(v["value"], float) for v in out["metrics"].values())


def test_generator_is_deterministic_per_seed():
    from gen import Generator, Size

    size = Size(events=500, keys=40)
    a, b, c = Generator(3, size), Generator(3, size), Generator(4, size)
    assert a.history.table().equals(b.history.table())
    assert not a.history.table().equals(c.history.table())
    assert a.requests(5, 10) == b.requests(5, 10)
    ta, tb = a.live_tail(a.end_us + 1, 40, 1.0, 0.25), b.live_tail(b.end_us + 1, 40, 1.0, 0.25)
    assert all(x.table().equals(y.table()) for x, y in zip(ta, tb))
    assert (np.diff(a.history.ts_us) > 0).all()


def test_compare_features_counts_wrong_missing_and_extra_rows():
    from oracle import compare_features

    exp = pd.DataFrame({"event_id": [1, 2, 3], "ts": [0, 0, 0], "cnt_1h": [1, 2, 3],
                        "topf_1h": ["a", "b", None]})
    assert compare_features(exp.copy(), exp)[0] == 0
    wrong = exp.copy()
    wrong.loc[1, "cnt_1h"] = 9
    assert compare_features(wrong, exp)[0] == 1
    assert compare_features(exp.iloc[:2], exp)[0] == 1
    extra = pd.concat([exp, exp.iloc[:1]], ignore_index=True)
    assert compare_features(extra, exp)[0] == 1


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
