"""Structured Streaming core: sources, watermarks, windows, sinks.

Reference parity (SURVEY.md §2.1, §2.5, §2.10):
- `WATERMARK FOR c AS c - INTERVAL ...` DDL (`SqlWatermark`,
  `WatermarkGeneratorCodeGenerator.scala:38`, bounded-out-of-orderness
  assigner `BoundedOutOfOrdernessTimestampExtractor.java:32`)
  → `with_watermark` (delay = the out-of-orderness bound).
- File/monitored-directory source (`ContinuousFileMonitoringFunction.java`)
  → `file_stream` (`readStream` on a directory; `maxFilesPerTrigger` is the
  micro-batch dial).
- Rate/sequence source (`StatefulSequenceSource.java`) → `rate_stream`.
- Group window aggs (`WindowOperator.java:98`) → the same `F.window` /
  `F.session_window` expressions as the batch operators — one code path,
  two execution modes.
- Sinks: memory/console/foreachBatch (`PrintSinkFunction.java`,
  `StreamingFileSink.java:98` — Spark's file sink is manifest-transactional,
  the 2PC equivalent).

Streaming semantics notes vs the reference (documented limitations):
- Watermarks are per-query global min, not per-key; punctuated watermark
  generation is not expressible.
- Late rows: Spark's built-in windowed aggs drop rows behind the
  watermark; `streaming/late.py` provides the exact `sideOutputLateData` +
  `allowedLateness` routing (foreachBatch splitter with Flink's watermark
  definition). Window RE-FIRE on late arrivals (allowedLateness refiring a
  closed window's agg) remains unsupported.
- Changelog (retract) emission: Spark update/complete modes emit latest
  state, not UPDATE_BEFORE/AFTER pairs; final states match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def with_watermark(df: DataFrame, ts_col: str, delay: str) -> DataFrame:
    """Attach an event-time watermark (WATERMARK FOR ts AS ts - delay)."""
    return df.withWatermark(ts_col, delay)


def file_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Monitored-directory streaming source."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def stage_ordered_replay(
    df: DataFrame, order_cols: list[str], n_batches: int = 3
) -> str:
    """Stage a DataFrame as ``n_batches`` parquet files ``001.parquet`` ...
    in a fresh temp dir, ordered by ``order_cols`` within and across files —
    the deterministic micro-batch replay fixture every ``*_replay`` driver
    query and streaming parity test feeds to `file_stream`. One pass over
    ``df``: a global ``ntile`` numbers each row's batch and one partitioned
    write emits every batch file from the window's single sorted partition. A
    batch with no rows (fewer rows than batches) is staged as an empty
    file, so there are always ``n_batches`` files. Returns the directory
    (caller owns cleanup; /tmp otherwise reaps it)."""
    import glob
    import os
    import shutil
    import tempfile

    from pyspark.sql.window import Window

    tmp = tempfile.mkdtemp(prefix="replay_stage_")
    staged = f"{tmp}/_staged"
    (
        df.withColumn("__b", F.ntile(n_batches).over(Window.orderBy(*order_cols)))
        .sortWithinPartitions("__b", *order_cols)
        .write.partitionBy("__b")
        .parquet(staged)
    )
    empty = None
    for b in range(1, n_batches + 1):
        dst = f"{tmp}/{b:03d}.parquet"
        parts = glob.glob(f"{staged}/__b={b}/part-*.parquet")
        if parts:
            (part,) = parts
            os.rename(part, dst)
            continue
        if empty is None:
            df.limit(0).coalesce(1).write.parquet(f"{staged}/empty")
            (empty,) = glob.glob(f"{staged}/empty/part-*.parquet")
        shutil.copyfile(empty, dst)
    shutil.rmtree(staged)
    return tmp


def rate_stream(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """Monotonic (timestamp, value) generator source."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )


def socket_stream(spark: SparkSession, host: str, port: int) -> DataFrame:
    """Line-by-line TCP source (SocketTextStreamFunction analog)."""
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )


def run_to_completion(df: DataFrame, query_name: str, output_mode: str = "append"):
    """Drive a bounded streaming query to completion against a memory sink;
    returns the finished StreamingQuery (the result is
    `spark.table(query_name)`).

    ``spark.sql.shuffle.partitions`` is scoped to the session's
    ``defaultParallelism`` for the query and restored afterwards. A stateful
    query pins its state-store partition count from that conf when it
    starts (AQE never applies to streaming stages), and every state
    partition commits on every micro-batch: an untuned session would run
    200 of them per batch, pure task overhead at replay scale. Sized to the
    cluster, not defaulted — the Flink-parallelism analog."""
    spark = df.sparkSession
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    try:
        q = (
            df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(query_name)
            .start()
        )
        q.processAllAvailable()
        q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    return q


def foreach_batch_upsert(df: DataFrame, merge_fn, checkpoint: str):
    """CDC-style sink: per-micro-batch exactly-once-ish merge via
    foreachBatch (the TwoPhaseCommitSinkFunction analog — Spark's epoch id +
    idempotent merge gives the same guarantee)."""
    return (
        df.writeStream.foreachBatch(merge_fn)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def persist_static_side(df: DataFrame) -> DataFrame:
    """Persist the STATIC side of a stream-static join (a model or index
    artifact every micro-batch probes) spill-safe, so triggers after the
    first hit the cached copy instead of re-scanning the parquet artifact
    per trigger — on a cluster that re-scan is the dominant per-trigger
    cost once the artifact outgrows the batch (a corpus LSH index is GBs;
    a micro-batch is MBs). MEMORY_AND_DISK: an index bigger than executor
    memory degrades to local-disk reads, never OOM. Pair with
    `stop_and_unpersist` (or wrap the query in `UnpersistOnStop`) so the
    cache is released with the stream that owns it."""
    from pyspark import StorageLevel

    return df.persist(StorageLevel.MEMORY_AND_DISK)


class UnpersistOnStop:
    """StreamingQuery proxy that releases persisted static sides when the
    stream that probes them stops. Everything else forwards to the real
    query; ``stop()`` is idempotent (unpersist on an unpersisted frame is
    a no-op)."""

    def __init__(self, query, *static_sides: DataFrame) -> None:
        self._query = query
        self._static_sides = static_sides

    def __getattr__(self, name: str):
        return getattr(self._query, name)

    def stop(self) -> None:
        try:
            self._query.stop()
        finally:
            for side in self._static_sides:
                side.unpersist()


def side_output(df: DataFrame, condition):
    """OutputTag analog (`ProcessFunction.Context#output`,
    `OutputTag.java`): split one DataFrame into (main, side) by a boolean
    condition — two filtered views of ONE lazy plan. Catalyst shares the
    upstream; each branch applies its own filter. The canonical late-data
    use: ``main, late = side_output(df, F.col("ts") < frontier)``."""
    cond = F.expr(condition) if isinstance(condition, str) else condition
    return df.filter(~cond), df.filter(cond)


def foreach_batch_split_sink(
    df: DataFrame,
    condition,
    main_sink,
    side_sink,
    checkpoint: str,
):
    """Streaming side output: one query, two sinks. Structured Streaming
    allows one sink per query, so the reference's multi-collector shape is
    expressed in foreachBatch — each micro-batch is split by `condition`
    and handed to both sink callables (`main_sink(df, batch_id)` /
    `side_sink(df, batch_id)`). Exactly-once to the degree the sinks are
    idempotent on batch_id, same as the reference's 2PC sinks."""
    cond = F.expr(condition) if isinstance(condition, str) else condition

    def handle(batch_df, batch_id):
        batch_df.persist()
        try:
            main_sink(batch_df.filter(~cond), batch_id)
            side_sink(batch_df.filter(cond), batch_id)
        finally:
            batch_df.unpersist()

    return (
        df.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def broadcast_connect(
    stream: DataFrame,
    rules_for_batch,
    join_fn,
    out_dir: str,
    checkpoint: str,
    query_name: str = "broadcast_connect",
):
    """Broadcast-state connect (`KeyedBroadcastProcessFunction` /
    `BroadcastConnectedStream` — flink-streaming-java broadcast state):
    a data stream evaluated per micro-batch against the CURRENT contents
    of an evolving control/rules side, which every task sees in full.

    Spark form: ``rules_for_batch(batch_id)`` returns the (small) control
    DataFrame as of that batch — the broadcast-state snapshot;
    ``join_fn(batch_df, rules_df)`` produces the batch's output rows,
    which append epoch-stamped to ``out_dir`` (at-least-once replays
    collapse at read time via dropDuplicates on the natural key). The
    control side is broadcast per batch, so rule updates take effect at
    the next micro-batch — the reference's processBroadcastElement
    ordering guarantee at batch granularity. Returns the started query.
    """
    from pyspark.sql import functions as F

    def merge(batch_df: DataFrame, epoch_id: int) -> None:
        rules = rules_for_batch(int(epoch_id))
        out = join_fn(batch_df, F.broadcast(rules))
        if out.take(1):
            out.withColumn("__epoch", F.lit(int(epoch_id))).write.mode(
                "append"
            ).parquet(out_dir)

    return foreach_batch_upsert(stream, merge, checkpoint)


def manifest_sink(
    stream: DataFrame,
    out_dir: str,
    checkpoint: str,
    query_name: str = "manifest_sink",
):
    """Exactly-once file sink via manifest commit (the reference's
    `StreamingFileSink` bulk-format/OnCheckpointRollingPolicy contract:
    in-progress files are invisible until the checkpoint commits them):
    each micro-batch writes its data files under ``data/batch=<id>/``,
    then atomically publishes ``manifest/<id>.json`` naming exactly those
    files (tmp-write + ``os.replace`` — readers never observe a partial
    manifest). A replayed batch OVERWRITES its own data directory and
    manifest entry, so at-least-once foreachBatch redelivery is
    idempotent; orphaned data files from a crashed attempt are never
    listed and stay invisible. Read the committed view back with
    `read_manifest`. Returns the started query."""
    import glob
    import json
    import os

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        path = f"{out_dir}/data/batch={int(batch_id)}"
        batch_df.write.mode("overwrite").parquet(path)
        files = sorted(glob.glob(f"{path}/part-*.parquet"))
        os.makedirs(f"{out_dir}/manifest", exist_ok=True)
        tmp = f"{out_dir}/manifest/.{int(batch_id)}.json.tmp"
        with open(tmp, "w") as fh:
            json.dump({"batch": int(batch_id), "files": files}, fh)
        os.replace(tmp, f"{out_dir}/manifest/{int(batch_id)}.json")

    return foreach_batch_upsert(stream, merge, checkpoint)


def read_manifest(spark, out_dir: str) -> DataFrame:
    """The committed view of a `manifest_sink` directory: the union of
    exactly the manifest-listed files — uncommitted or orphaned data
    files are invisible by construction."""
    import glob
    import json

    files: list[str] = []
    for m in sorted(glob.glob(f"{out_dir}/manifest/*.json")):
        with open(m) as fh:
            files.extend(json.load(fh)["files"])
    return spark.read.parquet(*files)
