#!/usr/bin/env python3
"""Benchmark of the opusdb_spark engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload mix --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout. The workload's inputs are
generated from --seed inside the checkout (under .perfbench/), the
engine runs on local[<cores>] in this process, every output is checked,
and the last line of stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 turns on spans and
Spark's event log and reports the per-layer metrics instead. A run
record (seed, host, versions, inputs, floor probes, samples) is written
to .perfbench/records/. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import random
import shlex
import shutil
import statistics
import struct
import subprocess
import sys
import time
import traceback
from pathlib import Path

T_START = time.perf_counter()

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
sys.path.insert(0, str(HERE))

from spans import Tracer, self_times  # noqa: E402

WORKLOADS = ("mix", "bank_mvcc")
SETUP_REPS = 3
# Nominal seconds of one block of each workload on a 4-core host. A run
# measures round(--seconds / BLOCK_S) whole blocks, and at least one, so
# two runs with the same --seconds measure the same operations however
# fast the code is.
BLOCK_S = {"mix": 12.0, "bank_mvcc": 5.0}
DRIVER_HEAP = "2g"
END_TO_END = {
    "op_p50_ms": "ms",
    "ops_per_s": "1/s",
    "setup_s": "s",
    "driver_mem_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "registry.load_s": "s",
    "setup.inputs_s": "s",
    "warmup.s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.action_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "scheduler.floor_ms": "ms",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "scan.bytes": "B",
    "scan.rows": "count",
    "scan.files": "count",
    "shuffle.write_bytes": "B",
    "shuffle.read_bytes": "B",
    "shuffle.fetch_wait_s": "s",
    "spill.bytes": "B",
    "python.run_s": "s",
    "python.boot_s": "s",
    "python.init_s": "s",
    "python.bytes_sent": "B",
    "python.bytes_returned": "B",
    "mvcc.latest_s": "s",
    "mvcc.merge_s": "s",
    "mvcc.snapshot_s": "s",
    "mvcc.retain_s": "s",
    "mvcc.conservation_s": "s",
    "mvcc.versions_rows": "count",
    "mvcc.versions_files": "count",
    "mvcc.write_bytes": "B",
    "log.append_s": "s",
    "log.scan_s": "s",
    "log.bytes": "B",
    "sources.store_build_s": "s",
    "sources.store_bytes": "B",
    "sources.store_files": "count",
    "trace.residual_share": "1",
}
# Per-layer numbers gathered over the timed window, reported per timed
# operation so that runs of different lengths compare directly.
PER_OP = {
    k for k in PER_LAYER
    if k.split(".")[0] in ("queries", "catalyst", "scheduler", "executor", "scan",
                           "shuffle", "spill", "python")
} - {"scheduler.floor_ms"} | {
    "mvcc.latest_s", "mvcc.merge_s", "mvcc.snapshot_s", "mvcc.retain_s",
    "mvcc.write_bytes", "log.append_s",
}


class CheckFailed(Exception):
    """An output of the program did not match its expectation."""


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def dir_stats(path: Path) -> tuple[int, int]:
    """(bytes, data files) under `path`, skipping Spark's marker and
    checksum files."""
    n_bytes = n_files = 0
    if path.is_file():
        return path.stat().st_size, 1
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            n_bytes += os.path.getsize(os.path.join(root, f))
            n_files += 1
    return n_bytes, n_files


def cpu_ticks(jvm_pid: int) -> dict[str, int]:
    """Host CPU ticks (all, steal) from /proc/stat, and the CPU ticks of
    this process, the JVM and the JVM's descendants (the Python
    workers), with their reaped children's."""
    with open("/proc/stat") as f:
        host = [int(x) for x in f.readline().split()[1:]]
    own = 0
    for pid in [os.getpid(), jvm_pid] + descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # ended since it was listed
            continue
        own += sum(int(x) for x in fields[11:15])
    return {"all": sum(host[:8]), "steal": host[7], "own": own}


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def descendants(pid: int) -> list[int]:
    """Live descendant pids of `pid`, read from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def wait_gone(pids: list[int], timeout: float) -> None:
    deadline = time.monotonic() + timeout
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)
    for p in pids:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


class Bench:
    """One benchmark run: session, workload set-up, timed loop, checks."""

    def __init__(self, args):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.rng = random.Random(args.seed)
        self.tracer = Tracer(self.traced)
        self.prefix = f"pb_{self.workload}_s{self.seed}_p{os.getpid()}"
        self.runs = WORK / "runs"
        self.logs = WORK / "eventlog" / self.prefix
        self.ops: list[dict] = []
        self.checks: list[dict] = []
        self.layer: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
        self.record: dict = {"workload": self.workload, "seed": self.seed,
                             "trace": int(self.traced), "seconds": self.seconds}
        self.spark = None
        self._seq = 0
        self._jvm = None

    # ---------------------------------------------------------- plumbing
    def launch_env(self) -> None:
        cpus = nproc()
        tmp = WORK / "tmp"
        local = WORK / "spark-local"
        for d in (tmp, local, self.runs):
            d.mkdir(parents=True, exist_ok=True)
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_HEAP
        os.environ["SPARK_LOCAL_DIRS"] = str(local)
        os.environ["TMPDIR"] = str(tmp)
        java_opts = f"-Djava.io.tmpdir={tmp}"
        submit = [f"--driver-java-options {shlex.quote(java_opts)}",
                  "--conf spark.ui.showConsoleProgress=false"]
        if self.traced:
            self.logs.mkdir(parents=True, exist_ok=True)
            submit += [
                "--conf spark.eventLog.enabled=true",
                f"--conf spark.eventLog.dir=file://{self.logs}",
                "--conf spark.eventLog.compress=false",
                # one plain file per application, the format eventlog.py reads
                "--conf spark.eventLog.rolling.enabled=false",
            ]
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])

    def start_session(self) -> None:
        with self.tracer.span("session.start"):
            t0 = time.perf_counter()
            sys.path.insert(0, str(ROOT))
            from opusdb_spark.session import get_spark

            self.spark = get_spark(app_name=self.prefix)
            self.sc = self.spark.sparkContext
            self._jvm = self.sc._gateway.proc
            self.sc.setLogLevel("ERROR")
            self.layer["session.start_s"] = time.perf_counter() - t0

    def load_registry(self) -> None:
        if self.traced:
            self._wrap_store_builds()
        with self.tracer.span("registry.load"):
            t0 = time.perf_counter()
            from opusdb_spark.registry import registry

            self.registry = registry()
            self.layer["registry.load_s"] = time.perf_counter() - t0

    def _wrap_store_builds(self) -> None:
        """Time the program's ingest-once store builds (traced run only).
        Installed before the query modules import the function."""
        from opusdb_spark.sources import formats

        inner = formats.ensure_written
        tracer = self.tracer

        def ensure_written(path, fingerprint, write_fn):
            def timed_write(p):
                with tracer.span("sources.store_build", path=str(p)):
                    write_fn(p)

            return inner(path, fingerprint, timed_write)

        formats.ensure_written = ensure_written

    def group(self, tag: str) -> str:
        self._seq += 1
        g = f"{self.prefix}_{self._seq}_{tag}"
        self.sc.setJobGroup(g, g)
        return g

    def jobs_in(self, group: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(group))

    def op(self, kind: str, name: str, fn) -> dict:
        """Run one timed operation `fn(rec)` in its own job group; a
        raised exception or a CheckFailed marks the operation failed."""
        rec = {"kind": kind, "name": name, "ok": True}
        with self.tracer.span("op", kind=kind, query=name) as sp:
            rec["group"] = self.group("op")
            rec["start_ms"] = time.time() * 1000
            t0 = time.perf_counter()
            try:
                fn(rec)
            except Exception as exc:  # one failed op must not end the run
                rec["ok"] = False
                rec["error"] = "".join(traceback.format_exception_only(exc)).strip()
                print(f"# FAILED {kind} {name}: {rec['error']}", file=sys.stderr)
            rec["latency_s"] = time.perf_counter() - t0
            rec["end_ms"] = time.time() * 1000
            if sp is not None:
                sp["group"] = rec["group"]
        self.sc.setJobGroup("perfbench_idle", "perfbench_idle")
        self.ops.append(rec)
        return rec

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        self.checks.append({"what": what, "ok": bool(ok), "detail": detail})
        if not ok:
            print(f"# CHECK FAILED {what}: {detail}", file=sys.stderr)

    def check_rows(self, expected: dict[str, int]) -> None:
        """Mark failed every operation whose row count differs from the
        verified count for its name, or that has no verified count."""
        for o in self.ops:
            if o["ok"] and "rows" in o and o["rows"] != expected.get(o["name"]):
                o["ok"] = False
                o["error"] = f"{o['rows']} rows, expected {expected.get(o['name'])}"
                print(f"# FAILED {o['kind']} {o['name']}: {o['error']}", file=sys.stderr)

    def timed_loop(self, block) -> None:
        """Run the workload's fixed number of whole blocks. The JVM keeps
        warming up through the window, so a run with one block more
        would measure a warmer state; a count that depends only on
        --seconds keeps parent and change measuring the same blocks."""
        n = max(1, round(self.seconds / BLOCK_S[self.workload]))
        t0 = time.perf_counter()
        for _ in range(n):
            block()
        self.timed_wall = time.perf_counter() - t0
        self.record["blocks"] = n
        if not self.seconds / 2 <= self.timed_wall <= self.seconds * 2:
            print(f"# {n} blocks took {self.timed_wall:.1f}s for --seconds {self.seconds}",
                  file=sys.stderr)

    # ---------------------------------------------------------- the run
    def run(self) -> dict:
        wl = {"mix": MixWorkload, "bank_mvcc": BankWorkload}[self.workload](self)
        self.launch_env()
        self.start_session()
        self.load_registry()
        reps = []
        for i in range(SETUP_REPS):
            with self.tracer.span("setup.inputs"):
                t0 = time.perf_counter()
                wl.setup_inputs(self.runs / f"{self.prefix}_r{i}", last=i == SETUP_REPS - 1)
                reps.append(time.perf_counter() - t0)
        self.layer["setup.inputs_s"] = statistics.median(reps)
        with self.tracer.span("warmup"):
            t0 = time.perf_counter()
            wl.warmup()
            self.layer["warmup.s"] = time.perf_counter() - t0
        # the benchmark's own oracle work during warm-up is not set-up
        setup_s = (time.perf_counter() - T_START - sum(reps) + statistics.median(reps)
                   - wl.oracle_s)
        self.record["setup_reps_s"] = reps
        self.record["setup_parts_s"] = {k: self.layer[k] for k in (
            "session.start_s", "registry.load_s", "setup.inputs_s", "warmup.s")}

        import bench

        floor_start = bench.measure_floor_ms(self.spark, jobs=7)
        ref_start = self.reference_ms()
        first_op = len(self.ops)
        for k in PER_OP:
            self.layer[k] = 0.0
        ticks0 = cpu_ticks(self._jvm.pid)
        self.timed_loop(wl.block)
        ticks1 = cpu_ticks(self._jvm.pid)
        timed = self.ops[first_op:]
        ref_end = self.reference_ms()
        floor_end = bench.measure_floor_ms(self.spark, jobs=7)
        self.layer["scheduler.floor_ms"] = (floor_start + floor_end) / 2
        wl.final_check()
        self.layer["sources.store_bytes"], self.layer["sources.store_files"] = wl.store_stats()

        latencies = wl.latencies(timed)
        medians = {k: statistics.median(v) for k, v in latencies.items()}
        n_samples = sum(len(v) for v in latencies.values())
        mem = {"python_peak_rss": vm_hwm_mb("self"), "jvm_peak_rss": vm_hwm_mb(self._jvm.pid)}
        mem.update(self.jvm_memory())
        cpu_s = (ticks1["own"] - ticks0["own"]) / os.sysconf("SC_CLK_TCK")
        metrics_e2e = {
            "op_p50_ms": statistics.geometric_mean(medians.values()) * 1000,
            "ops_per_s": n_samples / self.timed_wall,
            "setup_s": setup_s,
            "driver_mem_mb": mem["python_peak_rss"] + mem["jvm_heap_live"] + mem["jvm_non_heap"],
        }
        self.record["host"] = self.host_info()
        if self.traced:  # stops Spark to flush the event log
            self.layer.update(self.trace_layers(timed))
            for k in PER_OP:
                self.layer[k] /= len(timed)
            self.record["per_layer"] = self.layer
        failed_ops = sum(1 for o in self.ops if not o["ok"])
        failed_checks = sum(1 for c in self.checks if not c["ok"])
        attempted = len(self.ops) + len(self.checks)
        failed = failed_ops + failed_checks
        self.record.update({
            "floor_ms": {"start": floor_start, "end": floor_end},
            "reference_ms": {"start": ref_start, "end": ref_end},
            "memory_mb": mem,
            "timed_cpu_ms_per_op": cpu_s / n_samples * 1000,
            "timed_host_steal_share": (ticks1["steal"] - ticks0["steal"])
            / max(1, ticks1["all"] - ticks0["all"]),
            "timed_wall_s": self.timed_wall,
            "n_samples": n_samples,
            "latency_by_kind": {k: {"n": len(latencies[k]), "p50_s": medians[k]}
                                for k in latencies},
            "checks": self.checks,
            "ops": [{k: o[k] for k in ("kind", "name", "ok", "latency_s", "rows")
                     if k in o}
                    for o in self.ops],
            "end_to_end": metrics_e2e,
            "failed_ratio": failed / attempted,
        })
        if self.traced:
            metrics = {k: {"value": self.layer[k], "unit": u} for k, u in PER_LAYER.items()}
        else:
            metrics = {k: {"value": metrics_e2e[k], "unit": u} for k, u in END_TO_END.items()}
        self.write_record()
        return {"correct": failed == 0, "attempted": attempted,
                "failed": failed, "metrics": metrics}

    def trace_layers(self, timed: list[dict]) -> dict[str, float]:
        """Per-layer numbers over the timed operations: span self times,
        Spark's event log, and the residual the layers leave unexplained."""
        import eventlog

        out: dict[str, float] = {}
        op_ids = {o["group"] for o in timed}
        timed_spans = _subtrees(self.tracer.spans, lambda s: s.get("group") in op_ids)
        selfs = self_times(timed_spans)
        for name in ("queries.build", "queries.action", "catalyst.analysis",
                     "catalyst.optimization", "catalyst.planning", "mvcc.latest",
                     "mvcc.merge", "mvcc.snapshot", "mvcc.retain",
                     "log.append"):
            out[name + "_s"] = selfs.get(name, 0.0)
        out["sources.store_build_s"] = self_times(self.tracer.spans).get("sources.store_build", 0.0)
        wall = sum(o["latency_s"] for o in timed)
        out["trace.residual_share"] = selfs.get("op", 0.0) / wall
        self.record["layers_self_s"] = selfs
        self.record["op_wall_s"] = wall
        self.spark.stop()  # flushes the event log
        self.spark = None
        windows = [(o["group"], o["start_ms"], o["end_ms"]) for o in timed]
        per_op = eventlog.parse(eventlog.log_files(str(self.logs)), windows)
        self.record["per_op_counters"] = per_op
        out.update(eventlog.totals(per_op))
        self.check("event log", out["scheduler.jobs"] > 0,
                   f"{out['scheduler.jobs']:.0f} jobs attributed to the timed operations")
        (WORK / "records").mkdir(parents=True, exist_ok=True)
        with open(WORK / "records" / f"{self.workload}_s{self.seed}_spans.json", "w") as f:
            json.dump(self.tracer.spans, f)
        return out

    def reference_ms(self, reps: int = 3) -> dict[str, float]:
        """Median time of fixed computations that run no program code: a
        sort of 2M ints in the JVM and of 250k ints in numpy (small, so
        that it leaves the Python process's peak memory alone). Unlike
        the scheduling floor, they tell a slow host window from a slow
        Spark."""
        import numpy as np

        jvm = self.sc._jvm
        n = 2_000_000
        src = jvm.java.util.Random(1).ints(n).toArray()
        vals = np.random.default_rng(1).integers(0, 2**31, 250_000)
        out = {"jvm_sort": [], "numpy_sort": []}
        for _ in range(reps):
            a = jvm.java.util.Arrays.copyOf(src, n)
            t0 = time.perf_counter()
            jvm.java.util.Arrays.sort(a)
            out["jvm_sort"].append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            np.sort(vals)
            out["numpy_sort"].append(time.perf_counter() - t0)
        return {k: statistics.median(v) * 1000 for k, v in out.items()}

    def jvm_memory(self) -> dict[str, float]:
        """The JVM's memory in MB: the sum of the heap pools' peaks, the
        heap in use after two full collections, and the non-heap in use."""
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        peak = sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
                   if p.getType().name() == "HEAP")
        bean = mf.getMemoryMXBean()
        gc.collect()  # drops Python proxies that pin JVM objects
        # the second collection frees what the first one's reference
        # processing (Spark's ContextCleaner) released
        bean.gc()
        time.sleep(0.5)
        bean.gc()
        return {"jvm_heap_peak": peak / 2**20,
                "jvm_heap_live": bean.getHeapMemoryUsage().getUsed() / 2**20,
                "jvm_non_heap": bean.getNonHeapMemoryUsage().getUsed() / 2**20}

    def host_info(self) -> dict:
        import pyspark

        commit = "unknown"  # the checkout may not be a git repository
        try:
            out = subprocess.run(
                ["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                capture_output=True, text=True, timeout=10,
            ).stdout.split()
            if len(out) == 2 and Path(out[0]).resolve() == ROOT:
                commit = out[1]
        except (OSError, subprocess.SubprocessError):
            pass
        return {
            "nproc": nproc(),
            "pyspark": pyspark.__version__,
            "java": self.sc._jvm.System.getProperty("java.version"),
            "python": sys.version.split()[0],
            "git_commit": commit,
            "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
        }

    def write_record(self) -> None:
        """Write the run record. If the same workload and seed has a record
        from the other trace mode, report the tracing overhead."""
        d = WORK / "records"
        d.mkdir(parents=True, exist_ok=True)
        other = d / f"{self.workload}_s{self.seed}_t{1 - int(self.traced)}.json"
        if other.exists():
            with open(other) as f:
                base = json.load(f)["end_to_end"]
            mine = self.record["end_to_end"]
            untraced, traced = (base, mine) if self.traced else (mine, base)
            overhead = traced["op_p50_ms"] / untraced["op_p50_ms"] - 1
            self.record["tracing_overhead_op_p50"] = overhead
            print(f"# tracing overhead on op_p50_ms: {overhead:+.1%}", file=sys.stderr)
        path = d / f"{self.workload}_s{self.seed}_t{int(self.traced)}.json"
        with open(path, "w") as f:
            json.dump(self.record, f, indent=1, default=str)
        print(f"# run record: {path}", file=sys.stderr)

    def close(self) -> None:
        """Stop Spark and the JVM, wait for every process it started, and
        remove this run's inputs and the program stores built on them."""
        jvm = self._jvm
        kids = descendants(jvm.pid) if jvm is not None else []
        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception as exc:  # the JVM is stopped below regardless
                print(f"# spark.stop failed: {exc!r}", file=sys.stderr)
        if jvm is not None:
            try:
                jvm.stdin.close()  # the gateway JVM exits when its stdin closes
                jvm.wait(timeout=60)
            except (OSError, subprocess.TimeoutExpired):
                jvm.kill()
                jvm.wait()
            wait_gone(kids, timeout=30)
        for base in (self.runs, ROOT / ".scratch"):
            if base.is_dir():
                for p in base.iterdir():
                    if self.prefix in p.name:
                        shutil.rmtree(p, ignore_errors=True)
        shutil.rmtree(self.logs, ignore_errors=True)


def catalyst_phases(df) -> dict[str, float]:
    """Seconds spent in each Catalyst phase (analysis, optimization,
    planning) of the plan `df` last executed, from its QueryExecution
    tracker."""
    out = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs() / 1000
    return out


def _subtrees(spans: list[dict], is_root) -> list[dict]:
    keep = {s["id"] for s in spans if is_root(s)}
    out = []
    for s in spans:
        if s["id"] in keep or s["parent"] in keep:
            keep.add(s["id"])
            out.append(s)
    return out


def _duck(data_dir: Path):
    import duckdb

    from opusdb_spark.tables import TABLE_NAMES

    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{data_dir}/{name}.parquet')")
    return con


# ------------------------------------------------------------------ mix
# The mix runs the bench.py headline queries and every registered TPC-H
# query. Each query's row count obeys a law on the generated inputs:
# ("eq", n) a fixed count, ("ratio", table, lo, hi) a share of a table's
# rows, ("range", lo, hi) a bounded count. A count outside its law means
# the workload degenerated (for example an output of 0 rows). A query
# without a law of its own must return at least one row.
MIX_SCALE = 0.01
NONZERO = ("range", 1, math.inf)
MIX_LAWS = {
    "agg_q1": ("eq", 6),
    "scan_filter_pushdown": ("ratio", "lineitem", 0.5, 0.62),
    "filter_range": ("ratio", "lineitem", 0.012, 0.025),
    "join_multiway": ("range", 1, 5),
    "join_sort_merge": ("ratio", "orders", 0.28, 0.38),
    "join_asof": ("ratio", "events", 1.0, 1.0),
    "win_topk_group": ("ratio", "lineitem", 0.06, 0.09),
    "win_latest_version": ("eq", 150),
    "agg_count_distinct": ("eq", 5),
    "sub_correlated": ("ratio", "lineitem", 0.07, 0.11),
    "topk_global": ("eq", 10),
    "llm_dedup_exact": ("ratio", "documents", 0.95, 1.0),
    "llm_wordcount": ("eq", 20),
    "llm_similarity_topk": ("eq", 10),
    "llm_dedup_fuzzy": ("ratio", "documents", 0.01, 0.1),
    "llm_dedup_cluster": ("ratio", "documents", 0.01, 0.1),
    "llm_simsearch_ivf": ("eq", 10),
    "join_salted_skew": ("eq", 5),
    "mvcc_conservation": ("ratio", "events", 1.0, 1.0),
    "stream_session": ("ratio", "events", 0.85, 1.0),
    "tpch_q3": ("eq", 10),
    "tpch_q4": ("eq", 5),
    "tpch_q6": ("eq", 1),
    "tpch_q8": ("eq", 2),
    "tpch_q9": ("range", 150, 175),
    "tpch_q10": ("eq", 20),
    "tpch_q12": ("eq", 2),
    "tpch_q14": ("eq", 1),
    "tpch_q18": ("eq", 100),
    "tpch_q19": ("eq", 1),
    # 0-6 suppliers qualify at this scale (30 seeds tried)
    "tpch_q20": ("range", 0, 100),
    "tpch_q21": ("eq", 100),
}


def law_holds(law: tuple, rows: int, table_rows: dict[str, int]) -> bool:
    if law[0] == "eq":
        return rows == law[1]
    if law[0] == "range":
        return law[1] <= rows <= law[2]
    _, table, lo, hi = law
    return lo <= rows / table_rows[table] <= hi


class MixWorkload:
    """Short interactive queries over small tables, whose latency is mostly
    plan construction, Catalyst and per-job scheduling."""

    def __init__(self, b: Bench):
        self.b = b
        self.expected: dict[str, int] = {}
        self.oracle_s = 0.0

    def setup_inputs(self, out: Path, last: bool) -> None:
        import bench
        import datagen

        sizes = datagen.write_tables(str(out), self.b.seed, MIX_SCALE)
        if last:
            self.data = out
            self.names = list(bench.HEADLINE) + sorted(
                n for n in self.b.registry if n.startswith("tpch_"))
            self.b.record["inputs"] = {"scale": MIX_SCALE, "bytes": sizes,
                                       "rows": datagen.table_rows(MIX_SCALE),
                                       "queries": self.names}
            os.environ["OPUSDB_PARITY_SF_DIR"] = str(out)

    def warmup(self) -> None:
        """Untimed: each query once, its full result checked against its
        DuckDB oracle and its row count against its law. This also warms
        the JIT and builds the ingest-once stores. The verified row count
        is what every timed execution of the query must return."""
        import datagen

        self.table_rows = datagen.table_rows(MIX_SCALE)
        self.con = _duck(self.data)
        for name in self.names:
            self.b.op("verify", name, lambda rec, name=name: self.verify(rec, name))
        self.con.close()

    def verify(self, rec: dict, name: str) -> None:
        from parity import compare, spark_to_pandas

        b = self.b
        q = b.registry[name]
        pdf = spark_to_pandas(q.fn(b.spark, str(self.data)))
        t0 = time.perf_counter()
        if q.oracle is not None:
            res = compare(pdf, self.con.execute(q.oracle).df())
            b.check(f"oracle {name}", res.ok and res.exact, res.detail)
        self.oracle_s += time.perf_counter() - t0
        law = MIX_LAWS.get(name, NONZERO)
        b.check(f"law {name}", law_holds(law, len(pdf), self.table_rows),
                f"{len(pdf)} rows vs {law}")
        self.expected[name] = len(pdf)

    def block(self) -> None:
        names = list(self.names)
        self.b.rng.shuffle(names)
        for name in names:
            self.b.op("query", name, lambda rec, name=name: self.query(rec, name))

    def query(self, rec: dict, name: str) -> None:
        b = self.b
        with b.tracer.span("queries.build"):
            g = b.group("build") if b.traced else None
            df = b.registry[name].fn(b.spark, str(self.data))
        with b.tracer.span("queries.action") as act:
            if b.traced:
                b.group("action")
            cdf = df.groupBy().count()
            rec["rows"] = cdf.collect()[0][0]
        if b.traced:
            b.layer["queries.build_jobs"] += b.jobs_in(g)
            for phase, seconds in catalyst_phases(cdf).items():
                b.tracer.add(f"catalyst.{phase}", act, seconds)

    def final_check(self) -> None:
        self.b.check_rows(self.expected)

    def latencies(self, timed: list[dict]) -> dict[str, list[float]]:
        return _by_key(timed, "name")

    def store_stats(self) -> tuple[int, int]:
        return _scratch_stats(self.b.prefix)


def _by_key(timed: list[dict], key: str) -> dict[str, list[float]]:
    """Latencies of the timed operations, grouped by `key`."""
    out: dict[str, list[float]] = {}
    for o in timed:
        out.setdefault(o[key], []).append(o["latency_s"])
    return out


def _scratch_stats(prefix: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    scratch = ROOT / ".scratch"
    if scratch.is_dir():
        for p in scratch.iterdir():
            if prefix in p.name:
                nb, nf = dir_stats(p)
                n_bytes += nb
                n_files += nf
    return n_bytes, n_files


# ------------------------------------------------------------------ bank
# The reference's bank benchmark as versioned-table analytics: accounts
# hold balances in a versions store; a commit nets a batch of random
# transfers, logs the change-set, and appends new balances as one write
# point; a read sums a snapshot at a past write point. Transfers only
# move money, so every snapshot's total is ACCOUNTS * INITIAL.
BANK_ACCOUNTS = 20_000
BANK_INITIAL = 1_000
BANK_TRANSFERS = 1_000
# One block: 20 % commits and 80 % reads, then a compaction. The first
# read after a commit finds the store changed under its memoized handle
# (read_miss); the others reuse it (read_hit).
BANK_BLOCK = ("commit", "read_miss", "read_hit", "read_hit", "read_hit") * 2 + ("retain",)
LOG_BLOCK_SIZE = 32_768


class BankWorkload:
    """Commits and snapshot reads on a parquet versions store with an
    opusdb log: the only workload that writes through the program."""

    def __init__(self, b: Bench):
        self.b = b
        self.wp = 0
        self.commits = 0
        self.oracle_s = 0.0

    @property
    def total(self) -> int:
        return BANK_ACCOUNTS * BANK_INITIAL

    def setup_inputs(self, out: Path, last: bool) -> None:
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        from opusdb_spark.sources import opusdb_log

        store, log = out / "versions", out / "bank.log"
        store.mkdir(parents=True)
        pq.write_table(pa.table({
            "ref_id": np.arange(BANK_ACCOUNTS, dtype=np.int64),
            "write_point": np.zeros(BANK_ACCOUNTS, dtype=np.int64),
            "value": np.full(BANK_ACCOUNTS, BANK_INITIAL, dtype=np.int64),
        }), store / "part-00000.parquet")
        opusdb_log.write_log(str(log), [], LOG_BLOCK_SIZE)
        if last:
            self.store, self.log = store, log
            self.input_bytes = dir_stats(store)[0]
            self.b.record["inputs"] = {"accounts": BANK_ACCOUNTS, "initial": BANK_INITIAL,
                                       "transfers_per_commit": BANK_TRANSFERS,
                                       "bytes": self.input_bytes}

    def warmup(self) -> None:
        self.block()  # untimed: JIT and caches reach their steady state

    def block(self) -> None:
        for name in BANK_BLOCK:
            kind = name.split("_")[0]
            self.b.op(kind, name, getattr(self, kind))

    def versions(self):
        from opusdb_spark.sources.formats import read_store

        return read_store(self.b.spark, str(self.store))

    def commit(self, rec: dict) -> None:
        import numpy as np
        import pandas as pd
        from pyspark.sql import functions as F

        from opusdb_spark import mvcc
        from opusdb_spark.sources import opusdb_log

        b = self.b
        wp = self.wp + 1
        rng = np.random.default_rng([b.seed, wp])
        src = rng.integers(0, BANK_ACCOUNTS, BANK_TRANSFERS)
        dst = rng.integers(0, BANK_ACCOUNTS, BANK_TRANSFERS)
        amt = rng.integers(1, 11, BANK_TRANSFERS)
        delta = np.zeros(BANK_ACCOUNTS, dtype=np.int64)
        np.add.at(delta, src, -amt)
        np.add.at(delta, dst, amt)
        keys = np.flatnonzero(delta)
        payload = struct.pack(">qi", wp, len(keys)) + np.stack(
            [keys, delta[keys]], axis=1).astype(">i4").tobytes()
        with b.tracer.span("log.append"):
            opusdb_log.append_log(str(self.log), [payload], LOG_BLOCK_SIZE)
        with b.tracer.span("mvcc.latest"):
            versions = self.versions()
            current = mvcc.latest(versions)
        changes = b.spark.createDataFrame(pd.DataFrame({"ref_id": keys, "delta": delta[keys]}))
        updates = current.join(changes, "ref_id").select(
            "ref_id", (F.col("value") + F.col("delta")).alias("value"))
        before = dir_stats(self.store)[0]
        with b.tracer.span("mvcc.merge"):
            new = mvcc.append_versions(versions, updates)
            new.filter(F.col("write_point") > self.wp).write.mode("append").parquet(str(self.store))
        b.layer["mvcc.write_bytes"] += dir_stats(self.store)[0] - before
        self.wp = wp
        self.commits += 1

    def read(self, rec: dict) -> None:
        from pyspark.sql import functions as F

        from opusdb_spark import mvcc

        b = self.b
        point = b.rng.randint(0, self.wp)
        with b.tracer.span("mvcc.snapshot"):
            total = mvcc.snapshot(self.versions(), point).agg(F.sum("value")).collect()[0][0]
        if total != self.total:
            raise CheckFailed(f"snapshot at {point} sums to {total}, expected {self.total}")

    def retain(self, rec: dict) -> None:
        from opusdb_spark import mvcc

        b = self.b
        nxt = self.store.with_name("versions_next")
        with b.tracer.span("mvcc.retain"):
            mvcc.retain(self.versions()).coalesce(1).write.parquet(str(nxt))
        old = self.store.with_name("versions_old")
        os.rename(self.store, old)
        os.rename(nxt, self.store)
        shutil.rmtree(old)

    def final_check(self) -> None:
        """Untimed: conservation over every write point, the live total,
        and a recovery scan of the log."""
        from pyspark.sql import functions as F

        from opusdb_spark import mvcc
        from opusdb_spark.sources import opusdb_log

        b = self.b
        versions = self.versions()
        with b.tracer.span("mvcc.conservation"):
            t0 = time.perf_counter()
            totals = mvcc.conservation(versions, bounds=(0, self.wp)).collect()
            b.layer["mvcc.conservation_s"] = time.perf_counter() - t0
        bad = [r for r in totals if r["total"] != self.total]
        b.check("conservation", len(totals) == self.wp + 1 and not bad,
                f"{len(totals)} write points, {len(bad)} with a total other than {self.total}")
        live = mvcc.latest(versions).agg(F.sum("value")).collect()[0][0]
        b.check("latest total", live == self.total, f"{live}")
        with b.tracer.span("log.scan"):
            t0 = time.perf_counter()
            data = self.log.read_bytes()
            recs = [rec for i in range(0, len(data), LOG_BLOCK_SIZE)
                    for _, rec in opusdb_log.read_block(data[i:i + LOG_BLOCK_SIZE],
                                                        LOG_BLOCK_SIZE)]
            b.layer["log.scan_s"] = time.perf_counter() - t0
        wps = sorted(struct.unpack(">q", rec[:8])[0] for rec in recs)
        b.check("log recovery", wps == list(range(1, self.commits + 1)),
                f"{len(wps)} records for {self.commits} commits")
        b.layer["mvcc.versions_rows"] = versions.count()
        b.layer["mvcc.versions_files"] = dir_stats(self.store)[1]
        b.layer["log.bytes"] = self.log.stat().st_size
        b.record["commits"] = self.commits
        b.record["stored_bytes_per_input_byte"] = (
            dir_stats(self.store)[0] + self.log.stat().st_size) / self.input_bytes

    def latencies(self, timed: list[dict]) -> dict[str, list[float]]:
        """Commit and read latencies; compaction counts only in wall time."""
        return _by_key([o for o in timed if o["kind"] != "retain"], "kind")

    def store_stats(self) -> tuple[int, int]:
        nb, nf = dir_stats(self.store)
        return nb + self.log.stat().st_size, nf + 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "opusdb_spark" / "registry.py").is_file() or not (ROOT / "bench.py").is_file():
        print(f"perfbench: no program sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT / "tests"))
    b = Bench(args)
    try:
        result = b.run()
    finally:
        b.close()
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
