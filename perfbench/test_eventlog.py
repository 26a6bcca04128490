"""Pins the event-log parser and the span arithmetic on a tiny query.

    python3 -m pytest perfbench/test_eventlog.py -q
"""

from __future__ import annotations

import os
import shutil
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402
from run import WORK, catalyst_phases  # noqa: E402
from spans import Tracer, self_times  # noqa: E402

N_ROWS = 1000
N_FILES = 3


@pytest.fixture(scope="module")
def traced_op():
    from pyspark.sql import SparkSession

    base = WORK / "test_eventlog"
    logs, data = base / "logs", base / "data"
    shutil.rmtree(base, ignore_errors=True)
    logs.mkdir(parents=True)
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-eventlog-test")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{logs}")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    if spark.conf.get("spark.eventLog.dir", "") != f"file://{logs}":
        pytest.skip("a Spark session without this event log is already running")
    sc = spark.sparkContext
    spark.range(N_ROWS).repartition(N_FILES).write.mode("overwrite").parquet(str(data))

    tracer = Tracer(True)
    sc.setJobGroup("test_op", "test_op")
    start_ms = time.time() * 1000
    with tracer.span("op", group="test_op") as op:
        with tracer.span("queries.build"):
            df = spark.read.parquet(str(data)).selectExpr("id % 7 AS k").groupBy("k").count()
        with tracer.span("queries.action") as act:
            rows = df.collect()
        phases = catalyst_phases(df)
        for phase, seconds in phases.items():
            tracer.add(f"catalyst.{phase}", act, seconds)
    end_ms = time.time() * 1000
    st = sc.statusTracker()
    job_ids = list(st.getJobIdsForGroup("test_op"))
    stage_ids = {s for j in job_ids for s in st.getJobInfo(j).stageIds}
    spark.stop()  # flushes the event log
    per_op = eventlog.parse(eventlog.log_files(str(logs)), [("test_op", start_ms, end_ms)])
    yield {"rows": rows, "phases": phases, "tracer": tracer, "op": op,
           "jobs": job_ids, "stages": stage_ids, "counters": per_op["test_op"]}


def test_result(traced_op):
    assert sum(r["count"] for r in traced_op["rows"]) == N_ROWS


def test_jobs_stages_tasks(traced_op):
    c = traced_op["counters"]
    assert c["scheduler.jobs"] == len(traced_op["jobs"]) >= 1
    # a stage that a later job reuses is skipped, not run again
    assert 2 <= c["scheduler.stages"] <= len(traced_op["stages"])
    assert c["scheduler.tasks"] >= c["scheduler.stages"]


def test_scan_and_shuffle(traced_op):
    c = traced_op["counters"]
    assert c["scan.rows"] == N_ROWS
    assert c["scan.files"] == N_FILES
    assert c["scan.bytes"] > 0
    assert c["shuffle.write_bytes"] > 0
    assert c["shuffle.read_bytes"] == c["shuffle.write_bytes"]
    assert c["spill.bytes"] == 0
    assert c["executor.run_s"] > 0


def test_catalyst_phases_present(traced_op):
    assert set(traced_op["phases"]) == {"analysis", "optimization", "planning"}
    names = {s["name"] for s in traced_op["tracer"].spans}
    assert {"catalyst.analysis", "catalyst.optimization", "catalyst.planning"} <= names


def test_self_times_account_for_wall(traced_op):
    spans = traced_op["tracer"].spans
    op = traced_op["op"]
    wall = op["end"] - op["start"]
    selfs = self_times(spans)
    # layers plus the op's own residual add up to the op's wall time
    assert sum(selfs.values()) == pytest.approx(wall, rel=1e-9)
    assert selfs["op"] / wall < 0.5
    assert selfs["queries.action"] >= 0


def test_windows_outside_ops_are_ignored(traced_op):
    logs = WORK / "test_eventlog" / "logs"
    per_op = eventlog.parse(eventlog.log_files(str(logs)), [("none", 0.0, 1.0)])
    assert set(per_op["none"].values()) == {0.0}
