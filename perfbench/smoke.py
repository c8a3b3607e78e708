"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py

Runs every workload at the tiny scale, untraced and traced, with its
output checks on, and fails unless each run is correct and reports
exactly the metrics BENCHMARK.json names. It then copies the
benchmark alone (BENCHMARK.json and perfbench/) into a scratch
directory and fails unless a run there exits non-zero without
printing a result. Exits 0 when everything holds.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=180,
    )


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    expect = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    problems = []
    for w in (w["name"] for w in bench["workloads"]):
        for trace in (0, 1):
            proc = run(ROOT, w, trace)
            if proc.returncode != 0:
                problems.append(f"{w} trace={trace}: exit {proc.returncode}: {proc.stderr[-800:]}")
                continue
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{w} trace={trace}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{w} trace={trace}: {res['attempted']} attempted, {res['failed']} failed")
            if got != expect[trace]:
                problems.append(f"{w} trace={trace}: metrics {got} != {expect[trace]}")
            if not all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()):
                problems.append(f"{w} trace={trace}: non-numeric metric value")
            print(f"{w} trace={trace}: {res['attempted']} attempted, {res['failed']} failed", flush=True)

    bare = os.path.join(ROOT, ".perfbench", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        proc = run(bare, bench["workloads"][0]["name"], 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if proc.returncode == 0 or proc.stdout.strip():
        problems.append("benchmark without the library did not fail cleanly")
    print(f"benchmark alone: exit {proc.returncode}")

    for p in problems:
        print("FAIL", p)
    print("smoke: ok" if not problems else f"smoke: {len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
