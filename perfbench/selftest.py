#!/usr/bin/env python3
"""Self-test of the benchmark (about six minutes on 4 cores).

    python3 perfbench/selftest.py

1. A short untraced run of every workload prints every end-to-end
   metric of ``BENCHMARK.json`` with its unit, and is correct.
2. The same run with a deliberately wrong expected output for one query
   is reported incorrect, with the failure counted.
3. A short traced run prints every per-layer metric with its unit.
4. Run where the engine package is missing, the benchmark exits non-zero
   without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def run(*args: str, cwd: str = REPO) -> tuple[int, dict | None]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--seed", "0", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    if proc.returncode == 0 and result is None:
        raise AssertionError(f"run.py {args} printed no result:\n{proc.stderr[-3000:]}")
    return proc.returncode, result


def check_metrics(result: dict, spec: list[dict], what: str) -> None:
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        raise AssertionError(f"{what}: metrics {got} != BENCHMARK.json {want}")
    for k, v in result["metrics"].items():
        if not isinstance(v["value"], (int, float)):
            raise AssertionError(f"{what}: {k} is not a number: {v}")


def main() -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]

    for w in workloads:
        rc, res = run("--workload", w, "--seconds", "0", "--trace", "0")
        if rc != 0 or not res["correct"] or res["failed"]:
            raise AssertionError(f"{w}: expected a correct run, got rc={rc} {res}")
        check_metrics(res, bench["end_to_end"], w)
        print(f"ok  {w}: end-to-end metrics and outputs", flush=True)

    w = workloads[0]
    rc, res = run("--workload", w, "--seconds", "0", "--trace", "0",
                  "--wrong-oracle", "wc")
    if rc != 0 or res["correct"] or res["failed"] < 1:
        raise AssertionError(f"wrong expected output not caught: rc={rc} {res}")
    print(f"ok  {w}: wrong expected output counted "
          f"({res['failed']}/{res['attempted']} failed)", flush=True)

    w = workloads[-1]
    rc, res = run("--workload", w, "--seconds", "0", "--trace", "1")
    if rc != 0 or not res["correct"]:
        raise AssertionError(f"{w} traced: rc={rc} {res}")
    check_metrics(res, bench["per_layer"], f"{w} traced")
    print(f"ok  {w}: per-layer metrics", flush=True)

    with tempfile.TemporaryDirectory(dir=os.path.join(REPO, ".perfbench_work")) as bare:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(REPO, "BENCHMARK.json"), bare)
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", w, "--seed", "0",
             "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180,
        )
        if proc.returncode == 0 or proc.stdout.strip():
            raise AssertionError(f"bare checkout: rc={proc.returncode} {proc.stdout!r}")
    print("ok  without the engine: non-zero exit, no result", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
