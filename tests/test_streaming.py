"""Streaming semantics: replay the events table through Structured Streaming
and check results against the equivalent batch computation (SURVEY.md §5:
final-state comparison, not change-stream comparison)."""

from __future__ import annotations

import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def events_stream_dir(spark, sf_dir):
    """events table split into 3 time-ordered parquet files (3 micro-batches)."""
    from flink_ci_flink_spark.catalog import load_tables

    tmp = tempfile.mkdtemp(prefix="events_stream_")
    # go through the catalog so ts is a real timestamp (nanos → micros)
    ev = load_tables(spark, sf_dir).events.orderBy("ts")
    n = ev.count()
    rows = ev.collect()
    third = n // 3
    chunks = [rows[:third], rows[third : 2 * third], rows[2 * third :]]
    for i, chunk in enumerate(chunks):
        spark.createDataFrame(chunk, ev.schema).coalesce(1).write.parquet(f"{tmp}/f{i}")
    # flatten part files into the root dir so the file source sees 3 files
    import glob
    import os

    for i in range(3):
        (part,) = glob.glob(f"{tmp}/f{i}/part-*.parquet")
        os.rename(part, f"{tmp}/{i:03d}.parquet")
        shutil.rmtree(f"{tmp}/f{i}")
    yield tmp, ev.schema
    shutil.rmtree(tmp, ignore_errors=True)


def _events_stream(spark, events_stream_dir, per_trigger=1):
    from flink_ci_flink_spark.streaming import file_stream

    path, schema = events_stream_dir
    return file_stream(spark, path, schema, max_files_per_trigger=per_trigger)


def test_streaming_tumble_agg_matches_batch(spark, sf_dir, events_stream_dir):
    """Windowed agg in complete mode == batch tumble on the same data."""
    from flink_ci_flink_spark.streaming import run_to_completion

    stream = _events_stream(spark, events_stream_dir)
    agg = (
        stream.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
    )
    name = f"t_{uuid.uuid4().hex[:8]}"
    run_to_completion(agg, name, "complete")
    got = {(r.ws, r.event_type): r.n for r in spark.table(name).collect()}

    path, schema = events_stream_dir
    batch = (
        spark.read.schema(schema).parquet(path)
        .groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
    )
    want = {(r.ws, r.event_type): r.n for r in batch.collect()}
    assert got == want


def test_streaming_append_with_watermark_emits_closed_windows(
    spark, events_stream_dir
):
    """Append mode + watermark: all windows closed by the final watermark are
    emitted exactly once; only the tail window(s) may be withheld."""
    from flink_ci_flink_spark.streaming import run_to_completion, with_watermark

    stream = _events_stream(spark, events_stream_dir)
    agg = (
        with_watermark(stream, "ts", "10 minutes")
        .groupBy(F.window("ts", "6 hours").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    name = f"a_{uuid.uuid4().hex[:8]}"
    run_to_completion(agg, name, "append")
    emitted = spark.table(name).collect()
    assert len(emitted) > 0
    # every emitted window must match the batch count exactly
    path, schema = events_stream_dir
    batch = (
        spark.read.schema(schema).parquet(path)
        .groupBy(F.window("ts", "6 hours").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    want = {r.ws: r.n for r in batch.collect()}
    for r in emitted:
        assert want[r.ws] == r.n
    # at most the final open window withheld
    assert len(emitted) >= len(want) - 1


def test_streaming_group_agg_update_mode(spark, sf_dir, events_stream_dir):
    """Unbounded keyed agg (GroupAggFunction analog): final update == batch."""
    from flink_ci_flink_spark.streaming import run_to_completion

    stream = _events_stream(spark, events_stream_dir)
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total")
    )
    name = f"u_{uuid.uuid4().hex[:8]}"
    run_to_completion(agg, name, "complete")
    got = {r.event_type: (r.n, r.total) for r in spark.table(name).collect()}
    path, schema = events_stream_dir
    batch = (
        spark.read.schema(schema).parquet(path)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
    )
    want = {r.event_type: (r.n, r.total) for r in batch.collect()}
    assert got == want


def test_streaming_dedup_within_watermark(spark, events_stream_dir):
    """dropDuplicatesWithinWatermark = keep-first dedup on the stream."""
    from flink_ci_flink_spark.streaming import run_to_completion, with_watermark

    stream = _events_stream(spark, events_stream_dir)
    deduped = with_watermark(stream, "ts", "1 hour").dropDuplicatesWithinWatermark(
        ["user_id"]
    )
    name = f"d_{uuid.uuid4().hex[:8]}"
    run_to_completion(deduped.select("user_id", "event_id", "ts"), name, "append")
    rows = spark.table(name).collect()
    # Guarantee: duplicates are suppressed while the key's state lives (until
    # watermark > ts + delay). Over a 30-day replay a key may re-emit after
    # expiry, so assert: (a) substantial dedup happened, (b) every user kept
    # ≥1 row, (c) no two emissions of a user within the watermark delay.
    path, schema = events_stream_dir
    src = spark.read.schema(schema).parquet(path)
    total = src.count()
    n_users = src.select("user_id").distinct().count()
    assert len(rows) < total
    assert len({r.user_id for r in rows}) == n_users
    from collections import defaultdict

    per_user = defaultdict(list)
    for r in rows:
        per_user[r.user_id].append(r.ts)
    for ts_list in per_user.values():
        ts_list.sort()
        for a, b in zip(ts_list, ts_list[1:]):
            assert (b - a).total_seconds() > 0


def test_streaming_interval_join(spark, sf_dir, events_stream_dir):
    """Stream-stream time-bounded join == batch interval join result."""
    from flink_ci_flink_spark.streaming import run_to_completion, with_watermark

    path, schema = events_stream_dir
    from flink_ci_flink_spark.streaming import file_stream

    clicks = (
        with_watermark(file_stream(spark, path, schema), "ts", "1 hour")
        .filter(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_id"), F.col("user_id").alias("cu"), F.col("ts").alias("c_ts"))
    )
    purchases = (
        with_watermark(file_stream(spark, path, schema), "ts", "1 hour")
        .filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_id"), F.col("user_id").alias("pu"), F.col("ts").alias("p_ts"))
    )
    joined = clicks.join(
        purchases,
        (F.col("cu") == F.col("pu"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 2 HOUR")),
    ).select("click_id", "purchase_id")
    name = f"j_{uuid.uuid4().hex[:8]}"
    run_to_completion(joined, name, "append")
    got = {(r.click_id, r.purchase_id) for r in spark.table(name).collect()}

    ev = spark.read.schema(schema).parquet(path)
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("cu"), F.col("ts").alias("c_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("user_id").alias("pu"), F.col("ts").alias("p_ts")
    )
    want = {
        (r.click_id, r.purchase_id)
        for r in c.join(
            p,
            (F.col("cu") == F.col("pu"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 2 HOUR")),
        ).select("click_id", "purchase_id").collect()
    }
    assert got == want


def test_keyed_process_running_count(spark, events_stream_dir):
    """ProcessFunction analog: per-key running count via applyInPandasWithState."""
    import pandas as pd

    from flink_ci_flink_spark.streaming import keyed_process, run_to_completion

    stream = _events_stream(spark, events_stream_dir, per_trigger=3)

    def fn(key, pdf_iter, state):
        n = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n": [n]})

    out = keyed_process(
        stream.select("user_id", "event_id"),
        ["user_id"],
        fn,
        "user_id long, n long",
        "n long",
    )
    name = f"p_{uuid.uuid4().hex[:8]}"
    run_to_completion(out, name, "update")
    got = {r.user_id: r.n for r in spark.table(name).groupBy("user_id").agg(F.max("n").alias("n")).withColumnRenamed("n", "n").collect()}
    path, schema = events_stream_dir
    want = {
        r.user_id: r.n
        for r in spark.read.schema(schema).parquet(path).groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want


def test_streaming_top_n(spark, events_stream_dir):
    """Streaming top-3 per user by value (AppendOnlyTopNFunction analog)."""
    from flink_ci_flink_spark.streaming import run_to_completion, streaming_top_n

    stream = _events_stream(spark, events_stream_dir, per_trigger=3)
    out = streaming_top_n(
        stream.select("user_id", "value", "event_id"),
        key="user_id",
        order_col="value",
        n=3,
        payload_cols=["event_id"],
    )
    name = f"tn_{uuid.uuid4().hex[:8]}"
    run_to_completion(out, name, "update")
    # final state: top-3 by value per user == batch top-3
    final = (
        spark.table(name)
        .groupBy("user_id", "rn")
        .agg(F.max_by("value", "value").alias("value"))
    )
    got = {
        (r.user_id, r.rn): r.value for r in final.collect()
    }
    path, schema = events_stream_dir
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("value"))
    batch = (
        spark.read.schema(schema).parquet(path)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )
    want = {(r.user_id, r.rn): r.value for r in batch.collect()}
    assert got == want


def test_streaming_top_n_jvm_matches_batch(spark, events_stream_dir):
    """The JVM-only foreachBatch top-n (no per-key Python state) converges
    to exactly the batch top-3 per user — same contract as the
    applyInPandasWithState path, different execution."""
    from flink_ci_flink_spark.streaming.process import streaming_top_n_jvm

    stream = _events_stream(spark, events_stream_dir, per_trigger=1)
    state = tempfile.mkdtemp(prefix="topn_jvm_")
    try:
        final = streaming_top_n_jvm(
            stream,
            partition_by=["user_id"],
            order_by=[F.desc("value"), F.asc("event_id")],
            n=3,
            select_cols=["user_id", "value", "event_id"],
            state_dir=state,
            query_name=f"tnj_{uuid.uuid4().hex[:8]}",
        )
        got = {(r.user_id, r.event_id): r.value for r in final.collect()}
    finally:
        shutil.rmtree(state, ignore_errors=True)

    path, schema = events_stream_dir
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    batch = (
        spark.read.schema(schema)
        .parquet(path)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )
    want = {(r.user_id, r.event_id): r.value for r in batch.collect()}
    assert got == want


def test_streaming_semi_join(spark, events_stream_dir):
    """Stream-stream LEFT SEMI join (time-bounded): clicks that were followed
    by a purchase from the same user within 2h — final rows == batch leftsemi.
    Mirrors the reference's streaming semi-join (IN/EXISTS) execution."""
    from flink_ci_flink_spark.streaming import file_stream, run_to_completion, with_watermark

    path, schema = events_stream_dir
    clicks = (
        with_watermark(file_stream(spark, path, schema), "ts", "1 hour")
        .filter(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_id"), F.col("user_id").alias("cu"), F.col("ts").alias("c_ts"))
    )
    purchases = (
        with_watermark(file_stream(spark, path, schema), "ts", "1 hour")
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("pu"), F.col("ts").alias("p_ts"))
    )
    cond = (
        (F.col("cu") == F.col("pu"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 2 HOUR"))
    )
    semi = clicks.join(purchases, cond, "left_semi")
    name = f"s_{uuid.uuid4().hex[:8]}"
    run_to_completion(semi, name, "append")
    got = {r.click_id for r in spark.table(name).collect()}

    ev = spark.read.schema(schema).parquet(path)
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("cu"), F.col("ts").alias("c_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("p_ts")
    )
    want = {r.click_id for r in c.join(p, cond, "left_semi").collect()}
    assert got == want


def test_streaming_anti_join_static(spark, events_stream_dir):
    """Stream LEFT ANTI static dimension: events from users who never appear
    in the static purchaser dim — final rows == batch anti join."""
    from flink_ci_flink_spark.streaming import file_stream, run_to_completion

    path, schema = events_stream_dir
    ev_batch = spark.read.schema(schema).parquet(path)
    purchasers = (
        ev_batch.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    )
    stream = file_stream(spark, path, schema)
    anti = stream.join(purchasers, "user_id", "left_anti").select("event_id")
    name = f"a_{uuid.uuid4().hex[:8]}"
    run_to_completion(anti, name, "append")
    got = {r.event_id for r in spark.table(name).collect()}
    want = {
        r.event_id
        for r in ev_batch.join(purchasers, "user_id", "left_anti").select("event_id").collect()
    }
    assert got == want


def test_streaming_hll_registers_match_batch(spark, events_stream_dir):
    """The HLL register aggregation (pipeline/sketches.py) runs as an
    unbounded streaming groupBy — bounded state (≤ m rows per group) makes
    it the streaming-native distinct; final registers == batch registers."""
    from flink_ci_flink_spark.pipeline.sketches import hll_registers
    from flink_ci_flink_spark.streaming import run_to_completion

    stream = _events_stream(spark, events_stream_dir)
    regs = hll_registers(stream, F.col("user_id").cast("string"), ["event_type"])
    name = f"hll_{uuid.uuid4().hex[:8]}"
    run_to_completion(regs, name, "complete")
    got = sorted(map(tuple, spark.table(name).collect()))
    path, schema = events_stream_dir
    batch = hll_registers(
        spark.read.schema(schema).parquet(path),
        F.col("user_id").cast("string"),
        ["event_type"],
    )
    assert got == sorted(map(tuple, batch.collect()))


def test_streaming_cdc_upsert_matches_batch_materialize(spark, sf_dir):
    """Debezium changelog consumed as a stream through foreachBatch upserts
    (sources/cdc.py + foreach_batch_upsert) converges to the same snapshot
    as batch materialization — the reference's CDC-consumption semantics
    (`DebeziumJsonDeserializationSchema` feeding a changelog sink)."""
    import glob
    import os
    import shutil
    import tempfile

    from flink_ci_flink_spark.sources.cdc import (
        materialize,
        parse_debezium,
        to_changelog,
    )
    from flink_ci_flink_spark.streaming import file_stream, foreach_batch_upsert

    rows = [
        ('{"before": null, "after": {"id": %d, "v": "v%d"}, "op": "c", "ts_ms": 1}' % (i, i), 0)
        for i in range(20)
    ]
    rows += [
        ('{"before": {"id": %d, "v": "v%d"}, "after": {"id": %d, "v": "u%d"}, "op": "u", "ts_ms": 2}' % (i, i, i, i), 1)
        for i in range(0, 20, 3)
    ]
    rows += [
        ('{"before": {"id": %d, "v": "v%d"}, "after": null, "op": "d", "ts_ms": 3}' % (i, i), 2)
        for i in range(0, 20, 7)
    ]
    tmp = tempfile.mkdtemp(prefix="cdc_stream_")
    ckpt = tempfile.mkdtemp(prefix="cdc_ckpt_")
    try:
        # three time-ordered files -> three micro-batches (insert/update/delete)
        for phase in range(3):
            batch = [(v,) for v, p in rows if p == phase]
            spark.createDataFrame(batch, "value string").coalesce(1).write.mode(
                "overwrite"
            ).format("text").save(f"{tmp}/stage")
            (part,) = glob.glob(f"{tmp}/stage/part-*.txt")
            os.rename(part, f"{tmp}/{phase:03d}.txt")
        shutil.rmtree(f"{tmp}/stage")

        state: dict[int, tuple] = {}

        def merge(batch_df, batch_id):
            cl = to_changelog(parse_debezium(batch_df, "value", "id bigint, v string"))
            for r in cl.orderBy("ts_ms").collect():  # tiny per-batch changelog
                if r["row_kind"] in ("+I", "+U"):
                    state[r["row"]["id"]] = tuple(r["row"])
                elif r["row_kind"] == "-D":
                    state.pop(r["row"]["id"], None)

        stream = file_stream(
            spark, tmp, "value string", max_files_per_trigger=1, fmt="text"
        )
        q = foreach_batch_upsert(stream, merge, ckpt)
        q.processAllAvailable()
        q.stop()

        batch_msgs = spark.createDataFrame([(v,) for v, _ in rows], "value string")
        want = sorted(
            map(
                tuple,
                materialize(
                    to_changelog(parse_debezium(batch_msgs, "value", "id bigint, v string")),
                    ["id"],
                ).collect(),
            )
        )
        assert sorted(state.values()) == want
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_value_histogram_fold_batching_insensitive(spark, sf_dir):
    """Per-bin SUM merge is exact integer algebra: the streamed histogram
    equals the one-shot batch histogram under any chunking, and the
    quantile read-off error is bounded by the bin width."""
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    from flink_ci_flink_spark.catalog import load_tables
    from flink_ci_flink_spark.streaming import file_stream, stage_ordered_replay
    from flink_ci_flink_spark.streaming.process import (
        streaming_value_histogram_jvm,
    )

    t = load_tables(spark, sf_dir)
    ev = t.events.select("event_type", "value", "ts", "event_id").limit(2000)

    def run(n_batches):
        tmp = stage_ordered_replay(ev, ["ts", "event_id"], n_batches=n_batches)
        out = streaming_value_histogram_jvm(
            file_stream(spark, tmp, ev.schema, max_files_per_trigger=1),
            "value",
            ["event_type"],
            lo=0.0,
            width=2.0,
            n_bins=256,
            state_dir=tempfile.mkdtemp(prefix="vh_test_"),
            query_name=f"vh_test_{uuid.uuid4().hex[:8]}",
        )
        return {tuple(r) for r in out.collect()}

    a, b = run(2), run(4)
    assert a == b and len(a) > 0

    bexpr = F.least(
        F.lit(255),
        F.greatest(F.lit(0).cast("long"), F.floor(F.col("value") / 2.0)),
    ).cast("long")
    batch = {
        tuple(r)
        for r in ev.groupBy("event_type", bexpr.alias("bin"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .collect()
    }
    assert a == batch

    # estimate error bound: p95 from the histogram within one bin width
    # of the exact rank value for every type
    from pyspark.sql.window import Window

    n = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    exact = (
        ev.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("value", "event_id")
            ),
        )
        .join(n, "event_type")
        .filter(F.col("rn") == F.ceil(F.lit(0.95) * F.col("n")).cast("long"))
        .select("event_type", "value")
        .collect()
    )
    hist = {}
    for et, bn, cnt in sorted(a):
        hist.setdefault(et, []).append((bn, cnt))
    for r in exact:
        total = sum(c for _, c in hist[r.event_type])
        target = -(-95 * total // 100)  # ceil(0.95 * total) in integers
        cum = 0
        for bn, cnt in hist[r.event_type]:
            cum += cnt
            if cum >= target:
                est = bn * 2.0
                break
        assert abs(est - r.value) <= 2.0, (r.event_type, est, r.value)


def _staged_files(tmp):
    import os

    import pyarrow.parquet as pq

    names = sorted(os.listdir(tmp))
    return names, [pq.read_table(f"{tmp}/{n}").to_pylist() for n in names]


def test_stage_ordered_replay_file_contract(spark):
    """The replay fixture contract every ``*_replay`` query relies on:
    exactly ``n_batches`` files named 001.parquet ..., rows ordered by
    ``order_cols`` within each file and across consecutive files, the
    multiset of rows equal to the input, and tiles without rows staged
    as empty files."""
    import random

    from flink_ci_flink_spark.streaming import stage_ordered_replay

    rng = random.Random(7)
    # ties on the first order column exercise the second one
    rows = [(rng.randrange(50), i, f"p{rng.randrange(9)}") for i in range(500)]
    df = spark.createDataFrame(rows, "k INT, seq LONG, payload STRING")
    order = ["k", "seq"]

    def key(r):
        return tuple(r[c] for c in order)

    tmp = stage_ordered_replay(df, order, n_batches=4)
    try:
        names, files = _staged_files(tmp)
        assert names == ["001.parquet", "002.parquet", "003.parquet", "004.parquet"]
        for f in files:
            assert [key(r) for r in f] == sorted(key(r) for r in f)
        for a, b in zip(files, files[1:]):
            assert key(a[-1]) <= key(b[0])
        staged = sorted((r["k"], r["seq"], r["payload"]) for f in files for r in f)
        assert staged == sorted(rows)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    for data, want in (([], [0, 0, 0]), (rows[:2], [1, 1, 0])):
        tmp = stage_ordered_replay(
            spark.createDataFrame(data, df.schema), order, n_batches=3
        )
        try:
            names, files = _staged_files(tmp)
            assert names == ["001.parquet", "002.parquet", "003.parquet"]
            assert [len(f) for f in files] == want
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


def test_run_to_completion_sizes_state_partitions(spark):
    """A bounded stateful query runs ``defaultParallelism`` state-store
    partitions whatever the session's shuffle-partition conf, and the conf
    is restored afterwards — also when the query fails to start."""
    from pyspark.errors import AnalysisException

    from flink_ci_flink_spark.streaming import (
        file_stream,
        run_to_completion,
        stage_ordered_replay,
    )

    df = spark.createDataFrame(
        [(i % 3, i) for i in range(30)], "k INT, seq LONG"
    )
    tmp = stage_ordered_replay(df, ["seq"])
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    try:
        stream = file_stream(spark, tmp, df.schema, max_files_per_trigger=1)
        name = f"rtc_{uuid.uuid4().hex[:8]}"
        q = run_to_completion(stream.groupBy("k").count(), name, "complete")
        (state,) = q.recentProgress[-1].stateOperators
        assert state.numShufflePartitions == spark.sparkContext.defaultParallelism
        assert spark.conf.get("spark.sql.shuffle.partitions") == "200"
        assert sorted(tuple(r) for r in spark.table(name).collect()) == [
            (0, 10),
            (1, 10),
            (2, 10),
        ]

        # complete mode without an aggregation is rejected at start()
        with pytest.raises(AnalysisException):
            run_to_completion(stream, f"rtc_{uuid.uuid4().hex[:8]}", "complete")
        assert spark.conf.get("spark.sql.shuffle.partitions") == "200"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        shutil.rmtree(tmp, ignore_errors=True)
