"""Parser for Spark's uncompressed JSON event log.

Turns the events of one application into per-operation counters for
the layers beneath the program: scheduler (jobs, stages, tasks),
executor (run, CPU and GC time), scan, shuffle, spill and the Python
workers. A job belongs to the operation whose wall-clock window holds
its submission time; the benchmark is a closed loop with one client,
so windows never overlap. Tasks follow their stage's job, and driver
side SQL metrics (files read) follow their SQL execution's start time.
"""

from __future__ import annotations

import glob
import json
import os
from bisect import bisect_right
from collections import defaultdict

COUNTERS = (
    "scheduler.jobs",
    "scheduler.stages",
    "scheduler.tasks",
    "executor.run_s",
    "executor.cpu_s",
    "executor.gc_s",
    "scan.bytes",
    "scan.rows",
    "scan.files",
    "shuffle.write_bytes",
    "shuffle.read_bytes",
    "shuffle.fetch_wait_s",
    "spill.bytes",
    "python.run_s",
    "python.boot_s",
    "python.init_s",
    "python.bytes_sent",
    "python.bytes_returned",
)

# SQL metric name (as Spark labels it) -> counter it feeds.
_TASK_SQL_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}
_DRIVER_SQL_METRICS = {"number of files read": "scan.files"}


def log_files(log_dir: str) -> list[str]:
    """The finished single-file event logs under `log_dir`."""
    return sorted(
        p for p in glob.glob(os.path.join(log_dir, "*"))
        if os.path.isfile(p) and not p.endswith(".inprogress")
    )


def _metric_types(plan: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = (m["name"], m["metricType"])
    for child in plan.get("children", []):
        _metric_types(child, out)


def _scaled(value: float, metric_type: str) -> float:
    if metric_type == "nsTiming":
        return value / 1e9
    if metric_type == "timing":
        return value / 1e3
    return float(value)


class _Windows:
    """Maps an epoch-millisecond time to the operation window holding it."""

    def __init__(self, windows: list[tuple[str, float, float]]):
        self._w = sorted(windows, key=lambda w: w[1])
        self._starts = [w[1] for w in self._w]

    def find(self, t_ms: float) -> str | None:
        i = bisect_right(self._starts, t_ms) - 1
        if i >= 0 and t_ms <= self._w[i][2]:
            return self._w[i][0]
        return None


def parse(paths: list[str], windows: list[tuple[str, float, float]]) -> dict:
    """Per-operation counters from the event files `paths`.

    `windows` lists (op_id, start_ms, end_ms) in epoch milliseconds.
    Returns {op_id: {counter: value}}; every op_id in `windows` is
    present, with zeros where no work was attributed to it."""
    ops = _Windows(windows)
    out = {w[0]: dict.fromkeys(COUNTERS, 0.0) for w in windows}
    stage_op: dict[int, str] = {}
    seen_stages: set[int] = set()
    accum_types: dict[int, tuple[str, str]] = {}
    exec_op: dict[int, str | None] = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    op = ops.find(e["Submission Time"])
                    if op is None:
                        continue
                    out[op]["scheduler.jobs"] += 1
                    for sid in e["Stage IDs"]:
                        stage_op.setdefault(sid, op)
                elif kind == "SparkListenerStageSubmitted":
                    sid = e["Stage Info"]["Stage ID"]
                    op = stage_op.get(sid)
                    if op is not None and sid not in seen_stages:
                        seen_stages.add(sid)
                        out[op]["scheduler.stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    op = stage_op.get(e["Stage ID"])
                    if op is not None:
                        _add_task(out[op], e, accum_types)
                elif kind.endswith("SQLExecutionStart"):
                    exec_op[e["executionId"]] = ops.find(e["time"])
                    _metric_types(e["sparkPlanInfo"], accum_types)
                elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                    _metric_types(e["sparkPlanInfo"], accum_types)
                elif kind.endswith("DriverAccumUpdates"):
                    op = exec_op.get(e["executionId"])
                    if op is None:
                        continue
                    for acc_id, value in e["accumUpdates"]:
                        name, _ = accum_types.get(acc_id, ("", ""))
                        counter = _DRIVER_SQL_METRICS.get(name)
                        if counter:
                            out[op][counter] += value
    return out


def _add_task(c: dict, e: dict, accum_types: dict) -> None:
    c["scheduler.tasks"] += 1
    m = e.get("Task Metrics")
    if m:
        c["executor.run_s"] += m["Executor Run Time"] / 1e3
        c["executor.cpu_s"] += m["Executor CPU Time"] / 1e9
        c["executor.gc_s"] += m["JVM GC Time"] / 1e3
        c["scan.bytes"] += m["Input Metrics"]["Bytes Read"]
        c["scan.rows"] += m["Input Metrics"]["Records Read"]
        sr = m["Shuffle Read Metrics"]
        c["shuffle.read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
        c["shuffle.fetch_wait_s"] += sr["Fetch Wait Time"] / 1e3
        c["shuffle.write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
        c["spill.bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
    for acc in e["Task Info"].get("Accumulables", []):
        counter = _TASK_SQL_METRICS.get(acc.get("Name"))
        if counter and "Update" in acc:
            _, mtype = accum_types.get(acc["ID"], ("", "sum"))
            c[counter] += _scaled(float(acc["Update"]), mtype)


def totals(per_op: dict) -> dict[str, float]:
    """Sum of every counter over all operations."""
    tot: dict[str, float] = defaultdict(float)
    for counters in per_op.values():
        for k, v in counters.items():
            tot[k] += v
    return {k: tot.get(k, 0.0) for k in COUNTERS}
