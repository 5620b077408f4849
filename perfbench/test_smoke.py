"""Smoke test of the benchmark itself: every workload at a tiny size, once
untraced and once traced. Asserts that each metric BENCHMARK.json names is
printed with its unit and that no unit or check failed, and keeps a
known program defect visible (see the last test).

    python3 -m pytest perfbench/test_smoke.py      # or: python3 perfbench/test_smoke.py
"""
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload, trace, *extra):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny", *extra],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600,
        check=True)
    return json.loads(out.stdout.strip().splitlines()[-1]), out.stderr


def check(workload):
    b = spec()
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        res, _ = run(workload, trace)
        assert sorted(res) == ["attempted", "correct", "failed", "metrics"], res.keys()
        assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1, res
        want = {m["name"]: m["unit"] for m in b[key]}
        assert sorted(res["metrics"]) == sorted(want), set(res["metrics"]) ^ set(want)
        for name, m in res["metrics"].items():
            assert m["unit"] == want[name], (name, m)
            assert isinstance(m["value"], (int, float)), (name, m)


def test_daily_backfill():
    check("daily_backfill")


def test_cf_retrain():
    check("cf_retrain")


def test_corpus_index():
    check("corpus_index")


# Known program defect: when a retrain window is too sparse for any
# recommendation, ModelRegistry.trainEvalRegister stores precision 0.0
# where the registry's oracle SQL gives NULL. A 2% first window at the
# tiny size recommends to no user, so the benchmark's registry check
# fails on it. The mark turns into a failure once the program is fixed.
@pytest.mark.xfail(strict=True, raises=AssertionError,
                   reason="ModelRegistry stores precision 0.0 for a model without recommendations")
def test_cf_retrain_window_without_recommendations():
    res, err = run("cf_retrain", 0, "--cutoffs", "0.02,0.1")
    assert "check registry.v1.metrics FAILED" not in err, err[-2000:]
    assert res["correct"] is True and res["failed"] == 0, res


if __name__ == "__main__":
    for w in [w["name"] for w in spec()["workloads"]]:
        check(w)
        print("ok", w)
