"""Spans around the public calls a workload makes, and the per-span
numbers the Spark event log gives for them.

A span is opened by the benchmark's own code, never inside the program.
Opening one sets the Spark job group to ``<span>#<pass>`` so the jobs it
starts can be attributed; jobs whose group is not a span (a streaming
query sets its own) are attributed by submission time instead, which is
exact here because one caller runs spans one after another.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

SPAN_METRICS = ("wall_s", "driver_s", "exec_cpu_s", "shuffle_mb", "spill_mb", "task_skew")
SPAN_UNITS = {
    "wall_s": "s",
    "driver_s": "s",
    "exec_cpu_s": "s",
    "shuffle_mb": "MiB",
    "spill_mb": "MiB",
    "task_skew": "ratio",
}

_MIB = float(1 << 20)


class CallFailed(Exception):
    """An operator call raised; the pass stops at it."""


class Pass:
    """One timed pass: the spans it opened, the calls that raised and
    its wall time."""

    def __init__(self, index: int, spark=None):
        self.index = index
        self.spark = spark
        self.wall_s = 0.0
        self.spans: list[tuple[str, float, float]] = []
        self.attempted: list[str] = []
        self.raised: list[str] = []

    @contextmanager
    def span(self, name: str):
        self.attempted.append(name)
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(f"{name}#{self.index}", name)
        t0 = time.time()
        try:
            yield
        except Exception as e:  # an operator failure is a measured outcome
            self.raised.append(name)
            raise CallFailed(f"{name}: {type(e).__name__}: {e}") from e
        finally:
            self.spans.append((name, t0, time.time()))
            if self.spark is not None:
                self.spark.sparkContext.setJobGroup("perfbench", "perfbench")


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def read_event_log(log_dir: str) -> dict:
    """Jobs and tasks from the one uncompressed event log in ``log_dir``:
    {"jobs": [(group, submit_ms, end_ms, stage_ids)],
     "tasks": [(stage, dur_ms, cpu_ns, shuffle_bytes, spill_bytes)]}."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    jobs: dict[int, list] = {}
    tasks = []
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                jobs[ev["Job ID"]] = [group, ev["Submission Time"], None, ev.get("Stage IDs", [])]
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]][2] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                tasks.append(
                    (
                        ev["Stage ID"],
                        ti["Finish Time"] - ti["Launch Time"],
                        tm.get("Executor CPU Time", 0),
                        sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0)
                        + sw.get("Shuffle Bytes Written", 0),
                        tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                    )
                )
    return {
        "jobs": [(g, s, e if e is not None else s, st) for g, s, e, st in jobs.values()],
        "tasks": tasks,
    }


def span_metrics(passes: list[Pass], log: dict) -> dict[str, dict[str, float]]:
    """Per-span metrics, each the median over ``passes``.

    driver_s is the span's wall minus the union of its jobs' intervals;
    task_skew is max over median task time in the span's longest stage
    (1.0 when the span ran no task)."""
    walls = {f"{name}#{p.index}": (t0, t1) for p in passes for name, t0, t1 in p.spans}

    def owner(group: str | None, submit_ms: float) -> str | None:
        if group in walls:
            return group
        for key, (t0, t1) in walls.items():
            if t0 * 1000.0 <= submit_ms <= t1 * 1000.0:
                return key
        return None

    acc = {key: {"jobs": [], "cpu_ns": 0, "shuffle": 0, "spill": 0, "stages": {}} for key in walls}
    stage_owner: dict[int, str] = {}
    for group, submit, end, stage_ids in log["jobs"]:
        key = owner(group, submit)
        if key is None:
            continue
        acc[key]["jobs"].append((submit, end))
        for sid in stage_ids:
            stage_owner.setdefault(sid, key)
    for sid, dur, cpu, shuf, spill in log["tasks"]:
        key = stage_owner.get(sid)
        if key is None:
            continue
        a = acc[key]
        a["cpu_ns"] += cpu
        a["shuffle"] += shuf
        a["spill"] += spill
        a["stages"].setdefault(sid, []).append(dur)
    rows: dict[str, dict[str, list[float]]] = {}
    for key, (t0, t1) in walls.items():
        a = acc[key]
        wall = t1 - t0
        worst = max(a["stages"].values(), key=sum, default=[])
        mid = statistics.median(worst) if worst else 0
        row = rows.setdefault(key.rsplit("#", 1)[0], {m: [] for m in SPAN_METRICS})
        row["wall_s"].append(wall)
        row["driver_s"].append(max(wall - _union_ms(a["jobs"]) / 1000.0, 0.0))
        row["exec_cpu_s"].append(a["cpu_ns"] / 1e9)
        row["shuffle_mb"].append(a["shuffle"] / _MIB)
        row["spill_mb"].append(a["spill"] / _MIB)
        row["task_skew"].append(max(worst) / mid if mid > 0 else 1.0)
    return {name: {m: statistics.median(v) for m, v in row.items()} for name, row in rows.items()}
