"""dataframe_spark benchmark: one closed-loop client on local[nproc].

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The run makes its inputs from the seed,
starts a session with the library's defaults (of the library's
settings it sets only SPARK_GRAFT_CPUS and SPARK_LOCAL_DIRS; TMPDIR and
the JVMs' tmpdir point into the checkout), runs one untimed warm-up
pass of the timed operations (on corpus, over the first shards), then
runs whole passes until ``--seconds`` have been measured, checks the
latest output of every operation and prints one JSON object as its
last line of output.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on
spans and the Spark event log and reports the per-layer metrics plus
the tracing overhead against the untraced run of the same workload,
scale and seed: one that ended in this checkout within the last
``BASELINE_MAX_AGE_S``, or else one it runs first as a child process.
Scratch files go under ``.perfbench/`` in the checkout and are
removed at exit, except the trace files and the untraced results.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np

from spans import Tracer, aggregate_event_log, event_log_args, spark_totals
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

_MB = 1024 * 1024

# an untraced run older than this is not a back-to-back baseline for
# the traced run's overhead: the VM's speed drifts over tens of minutes
BASELINE_MAX_AGE_S = 600


def canary(samples: int = 3) -> dict:
    """bench.py's fixed-work spin and loadavg: a diagnostic for
    box-steal bursts, reported beside the metrics, not as one."""
    spins = []
    for _ in range(samples):
        t0 = time.perf_counter()
        x = 0
        for i in range(2_000_000):
            x += i
        spins.append(round((time.perf_counter() - t0) * 1000, 1))
    with open("/proc/loadavg") as f:
        load = float(f.read().split()[0])
    return {"spin_ms": spins, "loadavg": load}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def peak_rss_mb(jvm_pid: int) -> dict[str, float]:
    """VmHWM of this process, the driver JVM and every live process
    under the JVM (the Python daemon and its workers; a worker that
    has already exited is not counted)."""
    kids = _children()
    workers, todo = [], list(kids.get(jvm_pid, []))
    while todo:
        p = todo.pop()
        workers.append(p)
        todo.extend(kids.get(p, []))
    out = {
        "driver": _hwm_mb(os.getpid()),
        "jvm": _hwm_mb(jvm_pid),
        "python_workers": sum(_hwm_mb(p) for p in workers),
        "n_python_workers": len(workers),
    }
    out["total"] = out["driver"] + out["jvm"] + out["python_workers"]
    return out


def cache_state(spark) -> tuple[int, float]:
    """(persisted RDDs, MB of storage memory they hold)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(i.memSize() for i in infos) / _MB


def stop_session(spark) -> None:
    """Stop Spark, close the gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _baseline_path(args) -> str:
    name = f"{args.workload}-{args.scale}-{args.seed}-{args.seconds:g}s.json"
    return os.path.join(STATE, "untraced", name)


def untraced_baseline(args) -> dict:
    """The result of the untraced run of this workload, scale, seed and
    window: the one that ended here within BASELINE_MAX_AGE_S, if any,
    else one run now as a child process."""
    try:
        with open(_baseline_path(args)) as f:
            base = json.load(f)
        if time.time() - base["ended"] < BASELINE_MAX_AGE_S:
            return base
    except (OSError, ValueError, KeyError):
        pass
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
           "--scale", args.scale]
    # its own process group, so a timeout also stops its JVM
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.DEVNULL,
                            stderr=subprocess.DEVNULL, start_new_session=True)
    try:
        proc.wait(timeout=150)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    if proc.returncode != 0:
        raise RuntimeError(f"untraced run exited {proc.returncode}")
    with open(_baseline_path(args)) as f:
        return json.load(f)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "dataframe_spark")):
        print(f"perfbench: no dataframe_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    units = {
        trace: {m["name"]: m["unit"] for m in bench[key]}
        for trace, key in ((0, "end_to_end"), (1, "per_layer"))
    }
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    untraced = untraced_baseline(args) if args.trace else None
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(STATE, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(os.path.join(work, "local"))
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # keep every scratch file inside the checkout: Python and DuckDB
    # follow TMPDIR; the launcher and driver JVMs need their tmpdir set
    # and their perf-data file under /tmp turned off
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    event_dir = os.path.join(work, "events")
    submit = f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
    if args.trace:
        os.makedirs(event_dir)
        submit += event_log_args(event_dir)
    os.environ["PYSPARK_SUBMIT_ARGS"] = submit + "pyspark-shell"
    try:
        return _run(args, cpus, work, event_dir, units[args.trace], untraced)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, cpus, work, event_dir, units, untraced) -> int:
    diag = {
        "workload": args.workload,
        "seed": args.seed,
        "scale": args.scale,
        "cpus": cpus,
        "env": {k: v for k, v in sorted(os.environ.items()) if k.startswith("SPARK_GRAFT_")},
        "canary_before": canary(),
    }
    tracer = Tracer(bool(args.trace))
    wl = WORKLOADS[args.workload](os.path.join(work, "data"), args.seed, args.scale, tracer)
    t0 = time.perf_counter()
    wl.prepare()
    diag["gen_s"] = time.perf_counter() - t0
    # input generation is the benchmark's memory, not the library's:
    # reset this process's VmHWM before the session starts
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")

    setup0 = time.perf_counter()
    with tracer.span("session.start"):
        from dataframe_spark.session import get_spark

        spark = get_spark("perfbench", master=f"local[{cpus}]")
        spark.sparkContext.setLogLevel("ERROR")
    tracer.bind(spark.sparkContext)
    from pyspark import SparkContext

    jvm_pid = SparkContext._gateway.proc.pid
    attempted = failed = 0
    checks: list = []
    lat: list[float] = []  # every timed operation's wall, failed ones too
    cache_max = (0, 0.0)
    op_seq = 0
    try:
        wl.load(spark)
        rng = np.random.default_rng([args.seed, 5])
        tracer.phase = "warmup"
        with tracer.span("warmup.pass"):
            for name, fn in wl.ops(rng):
                fn(f"w{op_seq}:{name}")
                op_seq += 1
                spark.catalog.clearCache()
        setup_s = time.perf_counter() - setup0

        tracer.phase = "timed"
        measured = 0.0
        while measured < args.seconds:
            for name, fn in wl.ops(rng):
                op_id = f"t{op_seq}:{name}"
                op_seq += 1
                attempted += 1
                t = time.perf_counter()
                try:
                    fn(op_id)
                except Exception as exc:  # a failed op is counted, not fatal
                    print(f"perfbench: {op_id} failed: {exc!r}", file=sys.stderr)
                    failed += 1
                dt = time.perf_counter() - t
                measured += dt
                lat.append(dt)
                cache_max = max(cache_max, cache_state(spark))
                spark.catalog.clearCache()
        diag["peak_rss_mb"] = peak_rss_mb(jvm_pid)

        tracer.phase = "check"
        if wl.last:
            with tracer.span("check"):
                checks = wl.check()
        else:
            checks = [("outputs_present", False, "every timed op failed")]
    finally:
        stop_session(spark)
    n_ok = attempted - failed
    attempted += len(checks)
    failed += sum(1 for _, ok, _ in checks if not ok)
    diag["checks"] = [{"name": n, "ok": ok, "detail": d} for n, ok, d in checks]
    diag["workload_info"] = wl.info
    diag["op_latencies_s"] = lat
    diag["canary_after"] = canary()

    # geometric mean over whole passes: every kind of operation weighs
    # the same in every run, and one operation slowed by a burst of
    # load on the box moves it less than it moves the arithmetic mean
    op_geomean = statistics.geometric_mean(lat)
    if args.trace:
        metrics = _layer_metrics(wl, tracer, event_dir, cache_max, n_ok, op_geomean,
                                 args, diag, untraced)
    else:
        metrics = {"setup_s": setup_s, "op_geomean_s": op_geomean}
        os.makedirs(os.path.dirname(_baseline_path(args)), exist_ok=True)
        with open(_baseline_path(args), "w") as f:
            json.dump({"op_geomean_s": op_geomean, "ended": time.time()}, f)
    print(json.dumps({"diagnostics": diag}, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


def _layer_metrics(wl, tracer, event_dir, cache_max, n_ops, op_geomean, args,
                   diag, untraced) -> dict:
    by_desc = aggregate_event_log(event_dir)
    m = {}
    m["timed.ops"] = n_ops
    m["session.start_s"] = tracer.total("session.start", "setup")
    m["warmup.pass_s"] = tracer.total("warmup.pass", "warmup")
    for layer in ("queries.build", "queries.action", "dedup.call", "dedup.action",
                  "similarity.call", "similarity.action"):
        m[f"{layer}_s"] = tracer.total(layer, "timed")
    m.update(wl.layer_counts())
    m["cache.persisted_rdds"], m["cache.held_mb"] = cache_max
    m["plans.input_plan_mb"] = wl.plan_bytes / _MB
    m["process.peak_rss_mb"] = diag["peak_rss_mb"]["total"]
    m.update(spark_totals(by_desc, "timed"))
    # overhead against the untraced run of the same seed, run just
    # before this one
    m["trace.overhead_pct"] = (op_geomean / untraced["op_geomean_s"] - 1.0) * 100.0
    diag["untraced_op_geomean_s"] = untraced["op_geomean_s"]
    diag["untraced_ended_s_before"] = time.time() - untraced["ended"]
    diag["traced_op_geomean_s"] = op_geomean
    os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
    path = os.path.join(STATE, "traces", f"{args.workload}-{args.scale}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump({
            "spans": tracer.spans,
            "spark_by_job_description": by_desc,
            "workload_info": wl.info,
        }, f, default=str)
    diag["trace_file"] = os.path.relpath(path, ROOT)
    return m


if __name__ == "__main__":
    sys.exit(main())
