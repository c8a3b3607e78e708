"""Outside-in tracing for the benchmark's traced run.

Spans are recorded around the benchmark's own calls into the
library's public functions (nothing inside the library is touched):
each span has a name, start, end, parent span and the id of the
operation it belongs to. They stay in memory and are written out once,
when the run ends.

The Spark layer comes from the event log, which the traced run turns
on through the launch configuration only. Every call and action the
benchmark makes runs under a job description ``perfbench|<phase>|<op
id>|<span name>``; ``aggregate_event_log`` sums task metrics per
description, so executor time, shuffle bytes and spill land on the
benchmark operation that caused them.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time

TAG = "perfbench"

# task-metric fields summed per job description, by output name and
# the event-log path that holds each
SPARK_FIELDS = (
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.gc_s",
    "spark.input_mb",
    "spark.shuffle_read_mb",
    "spark.shuffle_write_mb",
    "spark.spill_mb",
)
SPARK_COUNTS = ("spark.jobs", "spark.stages", "spark.tasks")

_MB = 1024 * 1024


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None
        self.phase = "setup"  # setup | warmup | timed | check, set by the run

    def bind(self, spark_context) -> None:
        """Tag the Spark jobs of every later span with its description."""
        self._sc = spark_context

    @contextlib.contextmanager
    def span(self, name: str, op: str = ""):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "op": op,
            "phase": self.phase,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        if self._sc is not None:
            self._sc.setJobDescription(f"{TAG}|{self.phase}|{op}|{name}")
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._sc is not None:
                outer = self.spans[self._stack[-1]] if self._stack else None
                self._sc.setJobDescription(
                    f"{TAG}|{outer['phase']}|{outer['op']}|{outer['name']}"
                    if outer
                    else None
                )

    def total(self, name: str, phase: str) -> float:
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["phase"] == phase and s["end"] is not None
        )


def event_log_args(event_dir: str) -> str:
    """spark-submit options that turn the event log on at launch."""
    return (
        "--conf spark.eventLog.enabled=true "
        f"--conf spark.eventLog.dir=file://{event_dir} "
        "--conf spark.eventLog.compress=false "
    )


def _task_values(tm: dict) -> dict[str, float]:
    sr = tm.get("Shuffle Read Metrics", {})
    sw = tm.get("Shuffle Write Metrics", {})
    return {
        "spark.executor_run_s": tm.get("Executor Run Time", 0) / 1e3,
        "spark.executor_cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "spark.gc_s": tm.get("JVM GC Time", 0) / 1e3,
        "spark.input_mb": tm.get("Input Metrics", {}).get("Bytes Read", 0) / _MB,
        "spark.shuffle_read_mb": (
            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        ) / _MB,
        "spark.shuffle_write_mb": sw.get("Shuffle Bytes Written", 0) / _MB,
        "spark.spill_mb": (
            tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        ) / _MB,
    }


def aggregate_event_log(event_dir: str) -> dict[str, dict[str, float]]:
    """{job description: {metric: sum}} over every event-log file in
    ``event_dir``. Only jobs tagged by this benchmark are kept."""
    stage_desc: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def bucket(desc):
        return out.setdefault(
            desc, {k: 0.0 for k in SPARK_COUNTS + SPARK_FIELDS}
        )

    # Spark 4 writes rolling logs: <dir>/eventlog_v2_<app>/events_<n>_<app>
    paths = sorted(
        glob.glob(os.path.join(event_dir, "**", "events_*"), recursive=True),
        key=lambda p: (os.path.dirname(p), int(os.path.basename(p).split("_")[1])),
    )
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description")
                    if not desc or not desc.startswith(TAG + "|"):
                        continue
                    bucket(desc)["spark.jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_desc[sid] = desc
                elif kind == "SparkListenerStageCompleted":
                    desc = stage_desc.get(ev["Stage Info"]["Stage ID"])
                    if desc:
                        bucket(desc)["spark.stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    desc = stage_desc.get(ev.get("Stage ID"))
                    if not desc:
                        continue
                    b = bucket(desc)
                    b["spark.tasks"] += 1
                    for k, v in _task_values(ev.get("Task Metrics") or {}).items():
                        b[k] += v
    return out


def spark_totals(by_desc: dict[str, dict[str, float]], phase: str) -> dict[str, float]:
    """Sum the per-description counters over one phase."""
    tot = {k: 0.0 for k in SPARK_COUNTS + SPARK_FIELDS}
    for desc, vals in by_desc.items():
        if desc.split("|")[1] == phase:
            for k, v in vals.items():
                tot[k] += v
    return tot
