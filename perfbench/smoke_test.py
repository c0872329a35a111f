"""Smoke test of the benchmark itself: each workload runs one iteration at
the smallest fixture size and must pass its output checks, untraced and
traced, and the benchmark must refuse to run without the engine beside it.

    python3 perfbench/smoke_test.py        # or: python3 -m pytest perfbench/smoke_test.py
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [ROOT, BENCH_DIR]

from workloads import WORKLOADS  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "0",
         "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_workloads_match_spec():
    assert sorted(w["name"] for w in _spec()["workloads"]) == sorted(WORKLOADS)


def test_each_workload_untraced_and_traced():
    spec = _spec()
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        want = {m["name"]: m["unit"] for m in spec[key]}
        for name in WORKLOADS:
            res = _result(_run(name, trace))
            assert res["correct"] and res["failed"] == 0, (name, trace, res)
            assert res["attempted"] >= 1
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, (name, trace, set(got) ^ set(want))


def test_refuses_without_engine():
    bare = os.path.join(BENCH_DIR, ".cache", "bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(BENCH_DIR, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".cache",
                                                      "__pycache__"))
        proc = _run("suite_small", 0, cwd=bare)
        assert proc.returncode != 0
        assert '"correct"' not in proc.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    for fn in (test_workloads_match_spec, test_refuses_without_engine,
               test_each_workload_untraced_and_traced):
        fn()
        print(f"ok {fn.__name__}")
