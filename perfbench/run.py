"""Benchmark of the spark-graft engine: one workload per run, one JSON result.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The input is the engine's own sf0.1 test fixture (``catalog.DEFAULT_SF_DIR``,
read, never written). Each run builds the 10x fixture and the DuckDB answers
once per checkout (under ``.perfbench/``, before anything is timed), then
starts a fresh engine session as shipped (``get_spark()``: ``local[nproc]``,
default confs, one process), warms it up with the workload's untimed passes,
and runs a number of timed passes fixed by ``--seconds`` in a closed loop. The seed permutes the query
order. Every result is checked against its oracle answer after the timed
passes. The last line of stdout is
``{"correct", "attempted", "failed", "metrics"}``; the line before it is the
run record (environment, per-query times, every metric).
See README.md in this directory for the workloads and the metrics.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import math
import os
import pickle
import platform
import random
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA = ROOT / ".perfbench"
sys.path.insert(0, str(ROOT))

import measure  # noqa: E402

#: relative float tolerance of the fallback oracle comparison: one unit in
#: the 6th significant digit covers last-digit flips of values the queries
#: round themselves (e.g. a cent on a 10-digit sum)
REL_TOL = 1e-6
#: a run (after the one-off fixture build) is aborted past this many seconds
RUN_DEADLINE_S = 170
#: a timed pass counts towards wall_s only if the hypervisor stole at most
#: this share of the machine's CPU time during it (other guests on the host
#: slowed it, not the engine); if no pass qualifies, the least-stolen one
#: counts. Stolen time is not charged to the process, so cpu_s counts every
#: plain pass.
STEAL_MAX = 0.05

#: TPC-H-style scans, joins and aggregates from the frozen bench.py headline
HEADLINE_SF1 = [
    "tpch_q1_pricing_summary",
    "tpch_q6_forecast_revenue",
    "tpch_q10_returned_items",
    "over_frames",
    "topn_per_group",
]
#: micro-batch replays of the events table: one keeps its keyed state in
#: foreachBatch parquet files, one in Spark's aggregation state store
STREAM_REPLAY = [
    "streaming_running_agg_replay",
    "streaming_complete_agg_replay",
]

#: workload -> (queries, fixture timed, fixtures of the warm-up passes,
#: nominal seconds of one timed pass). A run makes
#: max(2, round(seconds / nominal)) timed passes, a count fixed by --seconds
#: alone, so every run of a workload measures the same stretch of the
#: session's life.
WORKLOADS = {
    "headline_sf1": (HEADLINE_SF1, "sf1", ("sf0.1",) * 3 + ("sf1",), 4.7),
    "stream_replay": (STREAM_REPLAY, "sf0.1", ("sf0.1",) * 2, 6.8),
}


def _step(args: list[str], env: dict, timeout: float) -> None:
    """Run one fixture step in its own process; raise if it fails."""
    subprocess.run(
        [sys.executable, str(HERE / "prepare.py"), *args],
        env=env, cwd=ROOT, timeout=timeout, check=True,
        stdout=sys.stderr, stderr=sys.stderr,
    )


def ensure_fixtures(env: dict) -> dict[str, Path]:
    """Fixture directories by name: the engine's sf0.1 fixture as it is, and
    the 10x fixture built from it. The 10x fixture and the oracle answers of
    every workload are built once per checkout so that no run's setup time
    carries them."""
    from flink_ci_flink_spark.catalog import DEFAULT_SF_DIR

    dirs = {"sf0.1": Path(DEFAULT_SF_DIR), "sf1": DATA / "sf1"}
    if not (dirs["sf0.1"] / "lineitem.parquet").exists():
        raise SystemExit(f"perfbench: no sf0.1 fixture at {dirs['sf0.1']} "
                         "(set SPARK_GRAFT_SF_DIR)")
    DATA.mkdir(exist_ok=True)
    with open(DATA / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not (dirs["sf1"] / "_FIXTURE_READY").exists():  # benchscale's marker
            _step(["scale", str(dirs["sf0.1"]), str(dirs["sf1"])], env, 600)
        per_fixture: dict[str, set] = {}
        for queries, timed, _, _ in WORKLOADS.values():
            per_fixture.setdefault(timed, set()).update(queries)
        for fx, names in per_fixture.items():
            out = DATA / "oracle" / fx
            missing = sorted(n for n in names if not (out / f"{n}.pkl").exists())
            if missing:
                _step(["oracle", str(dirs[fx]), str(out), *missing], env, 300)
    return dirs


def environment(seed: int) -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "seed": seed,
        "nproc": os.cpu_count(),
        "ram_gb": round(mem_kb / 1024 / 1024, 1),
        "load_before": [round(x, 2) for x in os.getloadavg()],
        "python": platform.python_version(),
    }


def _coarse(v):
    return float(f"{v:.4g}") if isinstance(v, float) else v


def check(frame, expected) -> str:
    """'ok', 'close' (equal only within REL_TOL) or a failure message."""
    from tests.compare import assert_frames_match, canonical_rows

    if isinstance(frame, Exception):
        return f"raised {type(frame).__name__}: {str(frame)[:300]}"
    try:
        assert_frames_match(frame, expected)
        return "ok"
    except AssertionError as ex:
        exact_failure = str(ex)[:300]
    if sorted(frame.columns) != sorted(expected.columns) or len(frame) != len(expected):
        return exact_failure
    key = lambda row: repr(tuple(_coarse(v) for v in row))  # noqa: E731
    for a, b in zip(sorted(canonical_rows(frame), key=key),
                    sorted(canonical_rows(expected), key=key)):
        for x, y in zip(a, b):
            same = (math.isclose(x, y, rel_tol=REL_TOL)
                    if isinstance(x, float) and isinstance(y, float) else x == y)
            if not same:
                return exact_failure
    return "close"


def digest(frame) -> int:
    """Order-insensitive content hash of a result frame."""
    import pandas as pd

    cols = sorted(frame.columns)
    return int(pd.util.hash_pandas_object(frame[cols], index=False).sum())


def check_all(passes, oracle_dir: Path) -> tuple[int, list[str], list[str]]:
    """(attempted, failures, exact mismatches) over every result of every
    timed pass; the lists name one query per bad result. Identical results
    are compared with the oracle once."""
    attempted = 0
    failures: list[str] = []
    close: list[str] = []
    for name in passes[0].frames:
        with open(oracle_dir / f"{name}.pkl", "rb") as fh:
            expected = pickle.load(fh)
        seen: dict = {}
        for p in passes:
            frame = p.frames[name]
            attempted += 1
            key = "error" if isinstance(frame, Exception) else digest(frame)
            if key == "error" or key not in seen:
                seen[key] = check(frame, expected)
            if seen[key] == "close":
                close.append(name)
            elif seen[key] != "ok":
                failures.append(f"{name}: {seen[key]}")
    return attempted, failures, close


def watchdog(seconds: float) -> None:
    """Kill the process tree and exit non-zero if the run outlives ``seconds``
    (a hung query must not hold the benchmark past its time limit)."""
    import threading

    def expire() -> None:
        print(f"perfbench: run exceeded {seconds:.0f} s, aborting", file=sys.stderr)
        for pid in measure.proc_tree()[1:]:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        os._exit(3)

    timer = threading.Timer(seconds, expire)
    timer.daemon = True
    timer.start()


def shutdown_engine(spark) -> None:
    """Stop the session, end the JVM and wait for every child process."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
    deadline = time.monotonic() + 20
    while (left := measure.proc_tree()[1:]) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def measure_run(workload: str, seed: int, seconds: float, trace: bool,
                dirs: dict[str, Path], record: dict) -> tuple[list, dict]:
    """Fresh session, warm-up, timed passes. Returns (passes, metrics)."""
    t_setup = time.perf_counter()
    from flink_ci_flink_spark.catalog import load_tables
    from flink_ci_flink_spark.queries import QUERIES
    from flink_ci_flink_spark.session import get_spark

    spark = get_spark()
    t_started = time.perf_counter()
    try:
        queries, timed_fx, warm_fxs, nominal = WORKLOADS[workload]
        order = list(queries)
        random.Random(seed).shuffle(order)
        record["order"] = order
        jvm = spark.sparkContext._jvm.java.lang
        record["spark"] = spark.version
        record["java"] = str(jvm.System.getProperty("java.version"))
        record["heap"] = {
            "spark.driver.memory": spark.conf.get("spark.driver.memory", None),
            "jvm_max_mb": round(jvm.Runtime.getRuntime().maxMemory() / 2**20),
        }
        for fx in warm_fxs:
            measure.plain_pass(spark, [(n, QUERIES[n].fn, str(dirs[fx])) for n in order])
        load_tables(spark, str(dirs[timed_fx]))
        plan = [(n, QUERIES[n].fn, str(dirs[timed_fx])) for n in order]
        t_timed = time.perf_counter()
        spans = measure.Spans()
        n_passes = max(2, round(seconds / nominal))
        passes = measure.run_passes(spark, plan, n_passes, trace, spans)
        plain = [p for p in passes if not p.layers]
        counted = undisturbed(plain)
        m = {
            "wall_s": statistics.median([p.wall_s for p in counted]),
            "cpu_s": statistics.median([p.cpu_s for p in plain]),
            "setup_s": t_timed - t_setup,
        }
        record["passes"] = [
            {"wall_s": round(p.wall_s, 4), "cpu_s": round(p.cpu_s, 4), "traced": bool(p.layers),
             "counted": p in counted,
             **{k: round(v, 3) for k, v in p.env.items()},
             "query_s": {k: round(v, 4) for k, v in p.query_s.items()}}
            for p in passes
        ]
        if trace:
            m.update(layer_metrics(spark, passes, counted))
            m["session.start_s"] = t_started - t_setup
            m["session.warmup_s"] = t_timed - t_started
            (DATA / "traces").mkdir(exist_ok=True)
            with open(DATA / "traces" / f"{workload}-seed{seed}.json", "w") as fh:
                json.dump({"record": record, "spans": spans.rows}, fh)
    finally:
        shutdown_engine(spark)
    return passes, m


def undisturbed(passes: list) -> list:
    """The passes the hypervisor's steal time left within STEAL_MAX."""
    cpus = os.cpu_count() or 1
    quiet = [p for p in passes if p.env["steal_s"] <= STEAL_MAX * cpus * p.wall_s]
    return quiet or [min(passes, key=lambda p: p.env["steal_s"])]


def layer_metrics(spark, passes, counted) -> dict[str, float]:
    traced = [p for p in passes if p.layers]
    out = {k: statistics.median([p.layers[k] for p in traced]) for k in traced[0].layers}
    samples = [s for p in traced for s in p.batch_s]
    out["streaming.batch_p50_s"] = measure.percentile(samples, 50)
    out["streaming.batch_p70_s"] = measure.percentile(samples, 70)
    out["streaming.batch_samples"] = float(len(samples))
    plain_wall = statistics.median([p.wall_s for p in counted])
    out["check.tracing_overhead_pct"] = 100.0 * (out["trace.wall_s"] / plain_wall - 1.0)
    cover = out["queries.build_s"] + out["catalyst.plan_s"] + out["exec.collect_s"]
    out["trace.layer_cover_pct"] = 100.0 * cover / out["trace.wall_s"]
    tot = measure.executor_totals(spark)
    out["session.rdd_blocks"] = tot["rddBlocks"]
    out["session.pinned_mb"] = (tot["memoryUsed"] + tot["diskUsed"]) / 2**20
    out["session.peak_rss_mb"] = measure.tree_peak_rss_mb()
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # run the cleanup in ``finally`` blocks when the run is terminated
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        import flink_ci_flink_spark.session  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: the engine package is missing here: {ex}", file=sys.stderr)
        return 2

    work = DATA / "work" / f"{args.workload}-{os.getpid()}"
    tmp, local = work / "tmp", work / "local"
    for d in (tmp, local):
        d.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    # -XX:-UsePerfData keeps the JVMs from writing /tmp/hsperfdata_<user>
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = None
    try:
        dirs = ensure_fixtures(dict(os.environ))
        watchdog(RUN_DEADLINE_S)
        record = environment(args.seed)
        record.update(workload=args.workload, seconds=args.seconds, trace=args.trace)
        passes, m = measure_run(args.workload, args.seed, args.seconds,
                                bool(args.trace), dirs, record)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record["load_after"] = [round(x, 2) for x in os.getloadavg()]

    oracle_dir = DATA / "oracle" / WORKLOADS[args.workload][1]
    attempted, failures, close = check_all(passes, oracle_dir)
    failed = len(failures)
    m["check.oracle_mismatch"] = float(len(close))
    m["failed_frac"] = failed / attempted
    record["failures"] = failures
    record["oracle_mismatch"] = sorted(set(close))
    record["query_s"] = {
        n: round(statistics.median(p.query_s[n] for p in passes), 4)
        for n in passes[0].query_s
    }
    with open(ROOT / "BENCHMARK.json") as fh:
        spec = json.load(fh)
    units = {d["name"]: d["unit"] for d in spec["end_to_end"] + spec["per_layer"]}
    units["failed_frac"] = "fraction"
    record["metrics"] = {k: {"value": round(v, 6), "unit": units[k]} for k, v in m.items()}
    declared = spec["per_layer" if args.trace else "end_to_end"]
    metrics = {d["name"]: {"value": m[d["name"]], "unit": d["unit"]} for d in declared}
    for line in failures:
        print(f"# FAILED {line}", file=sys.stderr)
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
