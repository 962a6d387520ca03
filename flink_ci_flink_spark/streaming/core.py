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

import atexit
import glob
import json
import os
import re
import shutil
import tempfile
import time
import uuid
from contextlib import contextmanager

import pyarrow.parquet as pq
from pyspark.errors import AnalysisException
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


_scratch_root: str | None = None


def scratch_dir(prefix: str) -> str:
    """A fresh directory for a replay's staged files, fold state, epoch
    store or checkpoint. Every one sits under one per-process root, made
    on first use under the ``TMPDIR`` in effect then and removed at
    interpreter exit. Never sooner: a query returns a lazy DataFrame that
    still reads its state and epoch stores after the query function
    returns."""
    global _scratch_root
    if _scratch_root is None:
        _scratch_root = tempfile.mkdtemp(prefix="spark_graft_")
        atexit.register(shutil.rmtree, _scratch_root, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_scratch_root)


def stage_batches(tables) -> str:
    """Write each Arrow table as one parquet file ``001.parquet``, ... in a
    fresh `scratch_dir` and return it. The file source takes files in
    modification-time order, ties in (unsorted) directory order, so the
    files get one-second-apart past times: with ``maxFilesPerTrigger=1``
    each table is one micro-batch, in order, before any file added later."""
    tmp = scratch_dir("replay_stage_")
    t0 = time.time() - len(tables)
    for i, table in enumerate(tables, 1):
        path = f"{tmp}/{i:03d}.parquet"
        pq.write_table(table, path)
        os.utime(path, (t0 + i, t0 + i))
    return tmp


def stage_ordered_replay(
    df: DataFrame, order_cols: list[str], n_batches: int = 3
) -> str:
    """Stage ``df`` as ``n_batches`` `stage_batches` files ordered by
    ``order_cols`` within and across files, the micro-batch replay fixture
    of every ``*_replay`` query and streaming parity test. One Spark job
    sorts ``df`` in a single partition and collects it as Arrow, so every
    row passes through one task and driver memory; the driver cuts it into
    ``ntile`` sizes (the first ``rows % n_batches`` batches hold one row
    more, ties may straddle a cut, a batch past the last row is an empty
    file). Returns the directory; it goes with the scratch root at exit."""
    table = df.coalesce(1).sortWithinPartitions(*order_cols).toArrow()
    size, extra = divmod(table.num_rows, n_batches)
    cuts = [b * size + min(b, extra) for b in range(n_batches + 1)]
    return stage_batches([table.slice(a, b - a) for a, b in zip(cuts, cuts[1:])])


def replay_stream(
    df: DataFrame, order_cols: list[str], n_batches: int = 3
) -> DataFrame:
    """``df`` as a bounded stream of ``n_batches`` micro-batches, one
    `stage_ordered_replay` file per trigger."""
    tmp = stage_ordered_replay(df, order_cols, n_batches)
    return file_stream(df.sparkSession, tmp, df.schema, max_files_per_trigger=1)


def redeliver_first_batch(stage_dir: str) -> None:
    """Copy the first batch file of a `stage_ordered_replay` dir to
    ``001_redelivered.parquet`` beside it: the file source then
    delivers those rows again in a later micro-batch, the at-least-once
    redelivery an epoch-store replay must collapse."""
    shutil.copyfile(f"{stage_dir}/001.parquet", f"{stage_dir}/001_redelivered.parquet")


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


def run_to_completion(df: DataFrame, output_mode: str = "append") -> DataFrame:
    """Drive a bounded streaming query to completion against a memory sink
    and return its result. The sink's temp view is dropped before
    returning: the DataFrame stays bound to the sink's rows, and the
    session keeps no view per replay.

    ``spark.sql.shuffle.partitions`` is scoped to the session's
    ``defaultParallelism`` for the query and restored afterwards. A stateful
    query pins its state-store partition count from that conf when it
    starts (AQE never applies to streaming stages), and every state
    partition commits on every micro-batch: an untuned session would run
    200 of them per batch, pure task overhead at replay scale. Sized to the
    cluster, not defaulted — the Flink-parallelism analog."""
    spark = df.sparkSession
    name = f"run_to_completion_{uuid.uuid4().hex}"
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    try:
        _drain(
            df.writeStream.outputMode(output_mode).format("memory").queryName(name)
        )
        return spark.table(name)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        spark.catalog.dropTempView(name)


def drain_foreach_batch(
    stream: DataFrame, merge, checkpoint: str | None = None
) -> None:
    """Run a bounded stream through ``merge(batch_df, batch_id)`` to
    completion: start, process everything available, stop. With a
    ``checkpoint`` the query commits its source offsets there, so a second
    drain on the same checkpoint resumes after the last committed batch.
    foreachBatch plus Spark's epoch id and an idempotent ``merge`` is the
    TwoPhaseCommitSinkFunction analog: every foreachBatch sink drains
    here."""
    writer = stream.writeStream.foreachBatch(merge)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    _drain(writer)


def _drain(writer) -> None:
    """Start ``writer``'s query, process everything available and stop it,
    also when a batch raises."""
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()


# foreachBatch is at-least-once: a batch may be delivered again, under the
# same id or (after a restart) a new one. The helpers below keep such a
# batch from counting twice: epoch stores for appended rows, batch-id
# versions for fold state.


def append_epoch(
    df: DataFrame, store_dir: str, epoch_id: int, partition_by=None
) -> None:
    """Append one micro-batch's rows to an epoch store, stamped with its
    batch id in ``__epoch``. A redelivered batch appends its rows again;
    `read_epochs` collapses them on the store's natural key. No emptiness
    probe (a Spark job per batch): an empty batch appends one zero-row
    file that carries the schema, or nothing under ``partition_by``."""
    df.withColumn("__epoch", F.lit(int(epoch_id))).write.parquet(
        store_dir, mode="append", partitionBy=partition_by
    )


def read_epochs(
    spark: SparkSession, store_dir: str, key=None, schema=None
) -> DataFrame:
    """An `append_epoch` store without its ``__epoch`` stamp: with ``key``
    one row per key (every store's rows are deterministic per key, so that
    is exact replay idempotence), without it every row. A store that holds
    no schema — nothing ever appended, or a partitioned store that only
    saw empty batches — reads as zero rows of ``schema``; with no
    ``schema``, Spark's PATH_NOT_FOUND / UNABLE_TO_INFER_SCHEMA stands."""
    try:
        df = spark.read.parquet(store_dir)
    except AnalysisException as ex:
        if schema is None or ex.getCondition() not in (
            "PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"
        ):
            raise
        df = spark.createDataFrame([], schema)
    df = df.drop("__epoch")
    return df.dropDuplicates(key) if key else df


class VersionedState:
    """Batch-id-versioned parquet state for a foreachBatch fold: batch N
    reads its predecessor and writes ``<prefix>N`` under ``state_dir`` for
    each of ``prefixes``. The predecessor is the highest on-disk version
    below N under the first prefix — read from disk, not a driver-memory
    pointer, so a batch redelivered under the same id (or after a restart)
    regenerates its versions from the same inputs instead of merging its
    own output twice. After each batch only its versions and its
    predecessor's are kept. Pruning is local-filesystem best effort; on an
    object store a lifecycle rule does it (old versions are never read
    again, so it never affects results). ``state_dir=None`` is a fresh
    `scratch_dir`. Each version's schema is remembered at write, so a read
    fires no schema-inference job; pruning forgets it, and a fresh instance
    on an existing directory (a restart) infers. Build one per fold, not
    one per batch."""

    def __init__(self, spark: SparkSession, state_dir: str | None, *prefixes: str):
        self.spark, self.prefixes = spark, prefixes
        self.dir = scratch_dir("state_") if state_dir is None else state_dir
        self._schemas: dict[str, StructType] = {}

    def _versions(self, prefix: str) -> list[int]:
        try:
            entries = os.listdir(self.dir)
        except FileNotFoundError:
            return []
        pat = re.compile(re.escape(prefix) + r"(\d+)")
        return [int(m.group(1)) for m in map(pat.fullmatch, entries) if m]

    @contextmanager
    def batch(self, batch_id: int):
        """Scope one micro-batch: yields its predecessor's version (None on
        the first batch) and prunes once the body has returned."""
        below = [v for v in self._versions(self.prefixes[0]) if v < batch_id]
        prev = max(below, default=None)
        yield prev
        for prefix in self.prefixes:
            for v in set(self._versions(prefix)) - {batch_id, prev}:
                self._schemas.pop(f"{prefix}{v}", None)
                shutil.rmtree(f"{self.dir}/{prefix}{v}", ignore_errors=True)

    def read(self, prefix: str, version: int | None) -> DataFrame | None:
        """Version ``version`` under ``prefix``; None for no version."""
        if version is None:
            return None
        schema = self._schemas.get(f"{prefix}{version}")
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(f"{self.dir}/{prefix}{version}")

    def write(self, df: DataFrame, prefix: str, version: int) -> None:
        df.write.mode("overwrite").parquet(f"{self.dir}/{prefix}{version}")
        self._schemas[f"{prefix}{version}"] = df.schema


@contextmanager
def persist_static_side(df: DataFrame):
    """Persist the STATIC side of a stream-static join (a model or index
    artifact every micro-batch probes) spill-safe for the ``with`` block
    that drains the stream, and unpersist it when the block exits, also
    when a batch raises. Triggers after the first hit the cached copy
    instead of re-scanning the parquet artifact per trigger — on a cluster
    that re-scan is the dominant per-trigger cost once the artifact
    outgrows the batch (a corpus LSH index is GBs; a micro-batch is MBs).
    MEMORY_AND_DISK: an index bigger than executor memory degrades to
    local-disk reads, never OOM."""
    from pyspark import StorageLevel

    side = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        yield side
    finally:
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
) -> None:
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

    drain_foreach_batch(df, handle, checkpoint)


def broadcast_connect(
    stream: DataFrame,
    rules_for_batch,
    join_fn,
    out_dir: str,
    checkpoint: str,
) -> None:
    """Broadcast-state connect (`KeyedBroadcastProcessFunction` /
    `BroadcastConnectedStream` — flink-streaming-java broadcast state):
    a data stream evaluated per micro-batch against the CURRENT contents
    of an evolving control/rules side, which every task sees in full.

    Spark form: ``rules_for_batch(batch_id)`` returns the (small) control
    DataFrame as of that batch — the broadcast-state snapshot;
    ``join_fn(batch_df, rules_df)`` produces the batch's output rows,
    which `append_epoch` to ``out_dir`` (at-least-once replays collapse
    when `read_epochs` reads it on the natural key). The
    control side is broadcast per batch, so rule updates take effect at
    the next micro-batch — the reference's processBroadcastElement
    ordering guarantee at batch granularity.
    """

    def merge(batch_df: DataFrame, epoch_id: int) -> None:
        rules = rules_for_batch(int(epoch_id))
        append_epoch(join_fn(batch_df, F.broadcast(rules)), out_dir, epoch_id)

    drain_foreach_batch(stream, merge, checkpoint)


def manifest_sink(
    stream: DataFrame,
    out_dir: str,
    checkpoint: str,
) -> None:
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
    `read_manifest`."""

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        path = f"{out_dir}/data/batch={int(batch_id)}"
        batch_df.write.mode("overwrite").parquet(path)
        files = sorted(glob.glob(f"{path}/part-*.parquet"))
        os.makedirs(f"{out_dir}/manifest", exist_ok=True)
        tmp = f"{out_dir}/manifest/.{int(batch_id)}.json.tmp"
        with open(tmp, "w") as fh:
            json.dump({"batch": int(batch_id), "files": files}, fh)
        os.replace(tmp, f"{out_dir}/manifest/{int(batch_id)}.json")

    drain_foreach_batch(stream, merge, checkpoint)


def read_manifest(spark, out_dir: str) -> DataFrame:
    """The committed view of a `manifest_sink` directory: the union of
    exactly the manifest-listed files — uncommitted or orphaned data
    files are invisible by construction."""
    files: list[str] = []
    for m in sorted(glob.glob(f"{out_dir}/manifest/*.json")):
        with open(m) as fh:
            files.extend(json.load(fh)["files"])
    return spark.read.parquet(*files)
