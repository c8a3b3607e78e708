"""Steadiness report: run the benchmark in sets of runs and show how
much each end-to-end metric spreads.

    python3 perfbench/steady.py [--runs 10] [--sets 2] [--workloads eda corpus]

Every run gets its own seed. Runs of different workloads interleave,
so a burst of load on the box lands on all of them. For each
workload, set and metric the report prints the median, the first and
third quartiles (``statistics.quantiles(values, n=4)``), the spread
(quartile distance over median) against the metric's bound in
BENCHMARK.json, and each later set's median change against the first
set. It exits 1 unless every spread, setup_s's included, and every
median change is within the metric's bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    result["diagnostics"] = json.loads(lines[-2])["diagnostics"]
    return result


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None}


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--sets", type=int, default=2)
    p.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    args = p.parse_args(argv)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    values = {w: [{} for _ in range(args.sets)] for w in args.workloads}
    failures = {w: 0 for w in args.workloads}
    seed = 1000
    for s in range(args.sets):
        for r in range(args.runs):
            for w in args.workloads:
                res = run_once(w, seed, bench["run_seconds"])
                seed += 1
                failures[w] += res["failed"]
                for k, v in res["metrics"].items():
                    values[w][s].setdefault(k, []).append(v["value"])
                diag = res["diagnostics"]
                bad = [c for c in diag["checks"] if not c["ok"]]
                spin = statistics.median(diag["canary_before"]["spin_ms"] + diag["canary_after"]["spin_ms"])
                print(f"set {s} run {r} {w} seed {seed - 1}: " + ", ".join(
                    f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                ) + f", failed={res['failed']}, spin_ms={spin}"
                    + f", op_s={[round(x, 2) for x in diag['op_latencies_s']]}"
                    + (f", failed checks={bad}" if bad else ""),
                    file=sys.stderr, flush=True)

    report = {}
    ok = True
    for w in args.workloads:
        report[w] = {"failed_ops": failures[w], "metrics": {}}
        print(f"\n{w} (failed ops: {failures[w]})")
        print(f"  {'metric':<14}{'set':>4}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>7}{'vs set 0':>10}")
        for k in bounds:
            rows = []
            for s in range(args.sets):
                st = summarize(values[w][s][k])
                base = rows[0]["median"] if rows else st["median"]
                st["change_vs_first"] = st["median"] / base - 1 if base else None
                rows.append(st)
                worse = st["change_vs_first"] if bench_lower(bench, k) else -st["change_vs_first"]
                ok &= st["spread"] <= bounds[k] and worse <= bounds[k]
                print(f"  {k:<14}{s:>4}{st['median']:>12.4f}{st['q1']:>12.4f}{st['q3']:>12.4f}"
                      f"{st['spread']:>9.3f}{bounds[k]:>7.2f}{st['change_vs_first']:>+10.3f}")
            report[w]["metrics"][k] = rows
    print(f"\nall spreads and median shifts within bounds: {ok}")
    return 0 if ok else 1


def bench_lower(bench: dict, metric: str) -> bool:
    return next(m for m in bench["end_to_end"] if m["name"] == metric)["better"] == "lower"


if __name__ == "__main__":
    sys.exit(main())
