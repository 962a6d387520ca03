"""Timed and traced passes over one workload in a fresh Spark session.

A pass runs every query of the workload once, in the run's order, as a closed
loop with one client: build the DataFrame, then materialize it on the driver
with ``toPandas``. A plain pass only times the calls. A traced pass wraps each
call in spans (pass -> query -> build / plan / collect) and reads counters
through public interfaces only: a job group per call,
``queryExecution().tracker().phases()``, deltas of
``statusStore().executorList(true)`` and a ``StreamingQueryListener``.
"""

from __future__ import annotations

import math
import os
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

_MB = 1024.0 * 1024.0
#: executor-summary getters whose deltas over a traced pass are reported
_EXEC_FIELDS = (
    "totalDuration", "totalGCTime", "totalShuffleRead",
    "totalShuffleWrite", "completedTasks", "failedTasks",
)
#: streaming durationMs phases summed per pass
_PHASES = {
    "triggerExecution": "streaming.trigger_s",
    "addBatch": "streaming.add_batch_s",
    "queryPlanning": "streaming.query_planning_s",
    "walCommit": "streaming.wal_commit_s",
    "commitOffsets": "streaming.commit_offsets_s",
}


def proc_tree(root: int | None = None) -> list[int]:
    """Pids of ``root`` (default: this process) and all its descendants."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                rest = fh.read().rsplit(")", 1)[-1].split()
        except OSError:
            continue
        parent[int(d)] = int(rest[1])
    tree, frontier = [], [root or os.getpid()]
    while frontier:
        pid = frontier.pop()
        tree.append(pid)
        frontier.extend(c for c, p in parent.items() if p == pid)
    return tree


def tree_cpu_s() -> float:
    """utime+stime (own and reaped children) summed over the process tree:
    the Python driver, the JVM and the Python workers."""
    ticks = 0
    for pid in proc_tree():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                rest = fh.read().rsplit(")", 1)[-1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in rest[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """Cumulative time the hypervisor ran other guests on this machine's CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def jvm_jit_gc_s(spark) -> tuple[float, float]:
    """Cumulative JIT compilation time and GC time the JVM reports."""
    mgmt = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    jit = mgmt.getCompilationMXBean().getTotalCompilationTime()
    gc = sum(b.getCollectionTime() for b in mgmt.getGarbageCollectorMXBeans())
    return jit / 1000.0, gc / 1000.0


def tree_peak_rss_mb() -> float:
    """Sum of each live process's peak resident set (VmHWM)."""
    kb = 0
    for pid in proc_tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


class ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch progress record seen while registered."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        rec = {
            "id": str(p.id),
            "duration_ms": dict(p.durationMs),
            "input_rows": int(p.numInputRows),
            "state_rows": sum(int(s.numRowsTotal) for s in p.stateOperators),
            "state_commit_ms": sum(int(s.commitTimeMs) for s in p.stateOperators),
        }
        with self._lock:
            self.batches.append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def drain_listener_bus(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def executor_totals(spark) -> dict[str, float]:
    """Summed executor counters after the listener bus has drained."""
    drain_listener_bus(spark)
    seq = spark.sparkContext._jsc.sc().statusStore().executorList(True)
    tot = dict.fromkeys(_EXEC_FIELDS + ("rddBlocks", "memoryUsed", "diskUsed"), 0.0)
    for i in range(seq.size()):
        ex = seq.apply(i)
        for k in tot:
            tot[k] += float(getattr(ex, k)())
    return tot


@dataclass
class Spans:
    """In-memory span log: (id, parent, name, start, end), written at run end."""

    t0: float = field(default_factory=time.perf_counter)
    rows: list[dict] = field(default_factory=list)

    def add(self, name: str, parent: int | None, start: float, end: float) -> int:
        self.rows.append({
            "id": len(self.rows), "parent": parent, "name": name,
            "start_s": round(start - self.t0, 6), "end_s": round(end - self.t0, 6),
        })
        return len(self.rows) - 1


@dataclass(eq=False)  # compared by identity: it holds pandas frames
class PassResult:
    wall_s: float
    cpu_s: float
    frames: dict  # query -> pandas frame, or the exception it raised
    query_s: dict[str, float]
    layers: dict[str, float] = field(default_factory=dict)
    batch_s: list[float] = field(default_factory=list)
    env: dict[str, float] = field(default_factory=dict)


def plain_pass(spark, plan: list[tuple[str, object, str]]) -> PassResult:
    frames: dict = {}
    query_s: dict[str, float] = {}
    c0, t0 = tree_cpu_s(), time.perf_counter()
    for name, fn, sf_dir in plan:
        q0 = time.perf_counter()
        try:
            frames[name] = fn(spark, sf_dir).toPandas()
        except Exception as ex:  # a failing query is counted, not fatal
            frames[name] = ex
        query_s[name] = time.perf_counter() - q0
    return PassResult(time.perf_counter() - t0, tree_cpu_s() - c0, frames, query_s)


def traced_pass(spark, plan, spans: Spans, tag: str) -> PassResult:
    sc = spark.sparkContext
    listener = ProgressListener()
    spark.streams.addListener(listener)
    before = executor_totals(spark)
    lay = dict.fromkeys((
        "queries.build_s", "queries.build_jobs", "catalyst.plan_s",
        "catalyst.analysis_ms", "catalyst.optimization_ms",
        "catalyst.planning_ms", "exec.collect_s", "exec.jobs",
        "exec.result_rows",
    ), 0.0)
    frames: dict = {}
    query_s: dict[str, float] = {}
    c0, t0 = tree_cpu_s(), time.perf_counter()
    pass_id = spans.add(f"pass:{tag}", None, t0, t0)
    for name, fn, sf_dir in plan:
        q0 = time.perf_counter()
        q_id = spans.add(f"query:{name}", pass_id, q0, q0)
        try:
            sc.setJobGroup(f"build:{tag}:{name}", name)
            df = fn(spark, sf_dir)
            t_build = time.perf_counter()
            sc.setJobGroup(f"collect:{tag}:{name}", name)
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            t_plan = time.perf_counter()
            frames[name] = df.toPandas()
            t_end = time.perf_counter()
        except Exception as ex:  # a failing query is counted, not fatal
            frames[name] = ex
            query_s[name] = time.perf_counter() - q0
            spans.rows[q_id]["end_s"] = round(q0 + query_s[name] - spans.t0, 6)
            continue
        query_s[name] = t_end - q0
        spans.add("build", q_id, q0, t_build)
        spans.add("plan", q_id, t_build, t_plan)
        spans.add("collect", q_id, t_plan, t_end)
        spans.rows[q_id]["end_s"] = round(t_end - spans.t0, 6)
        lay["queries.build_s"] += t_build - q0
        lay["catalyst.plan_s"] += t_plan - t_build
        lay["exec.collect_s"] += t_end - t_plan
        lay["exec.result_rows"] += len(frames[name])
        status = sc.statusTracker()
        lay["queries.build_jobs"] += len(status.getJobIdsForGroup(f"build:{tag}:{name}"))
        lay["exec.jobs"] += len(status.getJobIdsForGroup(f"collect:{tag}:{name}"))
        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            summary = phases.get(phase)
            if summary.isDefined():
                lay[f"catalyst.{phase}_ms"] += float(summary.get().durationMs())
    t1 = time.perf_counter()
    cpu = tree_cpu_s() - c0
    sc.setJobGroup("perfbench", "between passes")
    spans.rows[pass_id]["end_s"] = round(t1 - spans.t0, 6)
    after = executor_totals(spark)
    spark.streams.removeListener(listener)
    d = {k: after[k] - before[k] for k in _EXEC_FIELDS}
    lay["exec.task_s"] = d["totalDuration"] / 1000.0
    lay["exec.gc_s"] = d["totalGCTime"] / 1000.0
    lay["exec.shuffle_read_mb"] = d["totalShuffleRead"] / _MB
    lay["exec.shuffle_write_mb"] = d["totalShuffleWrite"] / _MB
    lay["exec.tasks"] = d["completedTasks"] + d["failedTasks"]
    batches = listener.batches
    lay["streaming.batches"] = float(len(batches))
    lay["streaming.input_rows"] = float(sum(b["input_rows"] for b in batches))
    for phase, metric in _PHASES.items():
        lay[metric] = sum(b["duration_ms"].get(phase, 0) for b in batches) / 1000.0
    lay["streaming.overhead_s"] = lay["streaming.trigger_s"] - lay["streaming.add_batch_s"]
    last_state = {b["id"]: b["state_rows"] for b in batches}  # last batch per query
    lay["streaming.state_rows"] = float(sum(last_state.values()))
    lay["streaming.state_commit_s"] = sum(b["state_commit_ms"] for b in batches) / 1000.0
    lay["trace.wall_s"] = t1 - t0
    res = PassResult(t1 - t0, cpu, frames, query_s, lay)
    res.batch_s = [b["duration_ms"].get("triggerExecution", 0) / 1000.0 for b in batches]
    return res


def percentile(samples: list[float], pct: float) -> float:
    """Nearest-rank percentile; 0 without samples."""
    s = sorted(samples)
    if not s:
        return 0.0
    return s[max(0, math.ceil(len(s) * pct / 100.0) - 1)]


def run_passes(spark, plan, n: int, trace: bool, spans: Spans) -> list[PassResult]:
    """``n`` passes in a closed loop. With tracing, plain and traced passes
    alternate so the traced run also measures its own overhead. Each pass
    also records the JVM's JIT and GC time and the hypervisor's steal time,
    the usual sources of run-to-run spread."""
    passes = []
    for i in range(n):
        st0, (jit0, gc0) = steal_s(), jvm_jit_gc_s(spark)
        if trace and i % 2 == 1:
            p = traced_pass(spark, plan, spans, str(i))
        else:
            p = plain_pass(spark, plan)
        jit1, gc1 = jvm_jit_gc_s(spark)
        p.env = {"steal_s": steal_s() - st0, "jit_s": jit1 - jit0, "gc_s": gc1 - gc0}
        if p.layers:
            p.layers["jvm.jit_s"] = p.env["jit_s"]
        passes.append(p)
    return passes
