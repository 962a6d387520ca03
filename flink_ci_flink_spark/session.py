"""SparkSession bootstrap tuned for the engine.

Reference analog: TableEnvironment / StreamExecutionEnvironment creation
(`flink-table-api-java/.../TableEnvironmentImpl.java`,
`flink-streaming-java/.../StreamExecutionEnvironment.java`). In Spark the
environment IS the SparkSession; all optimizer phases (SURVEY.md §4) are
Catalyst's, so "engine bootstrap" reduces to configuration:

- AQE on (runtime re-planning = Flink's adaptive batch scheduler + skew join).
- Shuffle partitions sized to cores locally; at cluster scale this would be
  ~2-3x total executor cores and AQE coalesces down.
- UTC session timezone so results are oracle-comparable (DuckDB is UTC-naive).
- Arrow on for every pandas-UDF-backed custom operator.
"""

from __future__ import annotations

import os
import warnings

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

#: Runtime confs every query entrypoint (driver-owned session included)
#: should have. These are all runtime-settable — safe to apply to a live
#: session we did not create.
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # A join side whose estimated size is under this threshold is broadcast
    # instead of shuffled. Without table statistics the estimate is the
    # scan's file size (a join's is the product of its inputs), so at the
    # fixtures a filtered fact scan can fall under it too; the TPC-H
    # queries keep facts off the build side by join order (queries/tpch.py),
    # not by this conf. It stays at 256 MB because the joins it does
    # broadcast pay: 10 MB made the 22-query sf0.1 bench.py headline 11%
    # slower (21.4 -> 23.7 s, summed per-query medians, 4 vCPUs).
    "spark.sql.autoBroadcastJoinThreshold": str(256 * 1024 * 1024),
    # events.parquet stores TIMESTAMP(NANOS); Spark has no nanos timestamp
    # type, so read as long and convert in the catalog (micros precision,
    # matching DuckDB's TIMESTAMP truncation).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Parquet written with isAdjustedToUTC=false otherwise reads back as
    # TIMESTAMP_NTZ, which (a) forbids CAST(ts AS DOUBLE) and (b) makes
    # unix_timestamp() session-timezone-dependent. Reading as TIMESTAMP
    # (stored micros taken as UTC instants) keeps epoch math timezone-free
    # and equal to DuckDB's EPOCH(naive_ts), and keeps parquet filter
    # pushdown intact (no per-column cast wrappers).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (idempotent).

    A managed cluster may lock some of them down; setting a locked conf
    raises ``AnalysisException``, which is reported as a warning naming the
    conf, and the rest are still applied."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except AnalysisException as ex:
            warnings.warn(f"runtime conf {k}={v} not applied: {ex}", stacklevel=2)
    return spark


def get_spark(app_name: str = "flink_ci_flink_spark", cpus: int | None = None) -> SparkSession:
    """Create (or get) the tuned local session.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores. In local mode the
    driver is the only JVM, so driver memory is the sole memory knob.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    # transformWithState's state-protocol workers inherit the PYTHONPATH the
    # JVM captures at launch — expose the vendored protobuf shim now, while
    # we may still be pre-JVM (no-op when the real wheel is installed).
    from flink_ci_flink_spark.streaming.tws import enable_protoshim

    enable_protoshim()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return apply_runtime_confs(spark)
