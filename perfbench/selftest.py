"""Self-test of the benchmark itself (not of the engine).

    python3 perfbench/selftest.py

Checks, with one-second runs:

1. every workload, untraced and traced, exits 0 and prints as its last
   line exactly ``correct/attempted/failed/metrics``, with every metric
   of ``BENCHMARK.json`` under its name and unit;
2. a corrupted expected output is caught: in a scratch checkout whose
   ``perfbench/expected/`` has one wrong row count, the run reports
   ``correct: false``, a failed operation and a non-zero ``fail_ratio``;
3. in a directory holding only ``BENCHMARK.json`` and ``perfbench/``
   (no engine), the benchmark exits non-zero without printing a result.

Takes about five minutes on four cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".perfbench_run", "selftest")
PACKAGE = "ccxt_ohlcv_fetcher_spark"


def _run(cwd: str, workload: str, trace: int, *extra: str) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(p: subprocess.CompletedProcess) -> dict:
    if p.returncode != 0:
        raise AssertionError(f"exit {p.returncode}: {p.stderr[-1500:]}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise AssertionError(f"result keys {sorted(result)}")
    return result


def check_metrics(bench: dict) -> None:
    for w in bench["workloads"]:
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            result = _result(_run(ROOT, w["name"], trace))
            want = {m["name"]: m["unit"] for m in bench[section]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != want:
                raise AssertionError(f"{w['name']} trace {trace}: metrics {got} != {want}")
            if not result["correct"] or result["failed"]:
                raise AssertionError(f"{w['name']} trace {trace}: failed ops {result}")
            print(f"ok  {w['name']} trace={trace}: {len(got)} metrics with units")


def _checkout(name: str) -> str:
    """A scratch checkout holding ``BENCHMARK.json`` and a copy of
    ``perfbench/``, nothing else."""
    root = os.path.join(SCRATCH, name)
    os.makedirs(root)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), root)
    shutil.copytree(HERE, os.path.join(root, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    return root


def check_corrupted_expected() -> None:
    root = _checkout("corrupted")
    os.symlink(os.path.join(ROOT, PACKAGE), os.path.join(root, PACKAGE))
    path = os.path.join(root, "perfbench", "expected", "pipeline_sweep.json")
    with open(path) as fh:
        exp = json.load(fh)
    name = sorted(exp["queries"])[0]
    exp["queries"][name]["rows"] += 1
    with open(path, "w") as fh:
        json.dump(exp, fh)
    result = _result(_run(root, "pipeline_sweep", 1))
    ratio = result["metrics"]["fail_ratio"]["value"]
    if result["correct"] or result["failed"] != 1 or not ratio > 0:
        raise AssertionError(f"corrupted expected output for {name} not counted: {result}")
    print(f"ok  corrupted expected output of {name}: failed=1, fail_ratio={ratio:.3f}")


def check_bare_directory() -> None:
    p = _run(_checkout("bare"), "pipeline_sweep", 0)
    if p.returncode == 0 or '"metrics"' in p.stdout:
        raise AssertionError(f"bare directory: exit {p.returncode}, stdout {p.stdout[-300:]}")
    print(f"ok  bare directory: exit {p.returncode}, no result printed")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    shutil.rmtree(SCRATCH, ignore_errors=True)
    os.makedirs(SCRATCH)
    try:
        check_bare_directory()
        check_corrupted_expected()
        check_metrics(bench)
    finally:
        shutil.rmtree(SCRATCH, ignore_errors=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
