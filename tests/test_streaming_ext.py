"""Count windows, streaming over-window, broadcast-state enrich, skew utils."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.replay import stage_chunks
from tests.test_streaming import events_stream_dir, _events_stream  # noqa: F401


def test_count_tumbling_window(spark, events_stream_dir):  # noqa: F811
    """Count-window totals == chunking each key's event-time-ordered series."""
    from flink_ci_flink_spark.streaming import run_to_completion
    from flink_ci_flink_spark.streaming.windows_ext import count_tumbling_window

    stream = _events_stream(spark, events_stream_dir, per_trigger=3)
    out = count_tumbling_window(
        stream.select("user_id", "ts", "value"), "user_id", "ts", "value", size=10
    )
    result = run_to_completion(out)
    got = {
        (r.user_id, r.win): (r.n, round(r.total, 6))
        for r in result.collect()
    }
    path, schema = events_stream_dir
    ev = spark.read.schema(schema).parquet(path).orderBy("ts").collect()
    per_user = {}
    for r in ev:
        per_user.setdefault(r.user_id, []).append(r.value)
    want = {}
    for u, vals in per_user.items():
        for w in range(len(vals) // 10):
            chunk = vals[w * 10 : (w + 1) * 10]
            want[(u, w)] = (10, round(sum(chunk), 6))
    assert got == want


def test_streaming_running_agg(spark, events_stream_dir):  # noqa: F811
    """Streaming over-window running sums == batch window function result."""
    from pyspark.sql.window import Window

    from flink_ci_flink_spark.streaming import run_to_completion
    from flink_ci_flink_spark.streaming.windows_ext import streaming_running_agg

    stream = _events_stream(spark, events_stream_dir, per_trigger=3)
    out = streaming_running_agg(
        stream.select("user_id", "ts", "value"), "user_id", "ts", "value"
    )
    result = run_to_completion(out)
    got = {
        (r.user_id, round(r.ts_s, 6)): (round(r.running_sum, 6), r.running_n)
        for r in result.collect()
    }
    path, schema = events_stream_dir
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    batch = (
        spark.read.schema(schema).parquet(path)
        .select(
            "user_id",
            F.col("ts").cast("double").alias("ts_s"),
            F.sum("value").over(w).alias("rs"),
            F.count(F.lit(1)).over(w).alias("rn"),
        )
        .collect()
    )
    want = {(r.user_id, round(r.ts_s, 6)): (round(r.rs, 6), r.rn) for r in batch}
    assert got == want


def test_broadcast_state_enrich(spark, events_stream_dir):  # noqa: F811
    """Broadcast-state connect analog: stream enriched by a small control
    table via stream-static broadcast join (KeyedBroadcastProcessFunction)."""
    from flink_ci_flink_spark.streaming import run_to_completion

    control = spark.createDataFrame(
        [("click", 2.0), ("purchase", 10.0)], "event_type string, weight double"
    )
    stream = _events_stream(spark, events_stream_dir, per_trigger=3)
    enriched = stream.join(F.broadcast(control), "event_type", "inner").select(
        "event_id", (F.col("value") * F.col("weight")).alias("weighted")
    )
    result = run_to_completion(enriched)
    n = result.count()
    path, schema = events_stream_dir
    want = (
        spark.read.schema(schema).parquet(path)
        .filter(F.col("event_type").isin("click", "purchase"))
        .count()
    )
    assert n == want


def test_salted_agg_matches_plain(spark, sf_dir):
    from flink_ci_flink_spark.catalog import load_tables
    from flink_ci_flink_spark.operators.skew import salted_agg

    li = load_tables(spark, sf_dir).lineitem
    got = {
        r.l_returnflag: (round(r.qty, 6), r.n, round(r.mx, 6))
        for r in salted_agg(
            li,
            ["l_returnflag"],
            {
                "qty": ("sum", "l_quantity"),
                "n": ("count", "l_orderkey"),
                "mx": ("max", "l_extendedprice"),
            },
            salt_source="l_orderkey",
        ).collect()
    }
    want = {
        r.l_returnflag: (round(r.qty, 6), r.n, round(r.mx, 6))
        for r in li.groupBy("l_returnflag")
        .agg(
            F.sum("l_quantity").alias("qty"),
            F.count("l_orderkey").alias("n"),
            F.max("l_extendedprice").alias("mx"),
        )
        .collect()
    }
    assert got == want


def test_salted_broadcast_join_matches_plain(spark, sf_dir):
    from flink_ci_flink_spark.catalog import load_tables
    from flink_ci_flink_spark.operators.skew import salted_broadcast_left

    t = load_tables(spark, sf_dir)
    big = t.lineitem.select(F.col("l_partkey").alias("k"), "l_quantity")
    small = t.part.select(F.col("p_partkey").alias("k"), "p_brand")
    got = salted_broadcast_left(big, small, "k").count()
    want = big.join(small, "k").count()
    assert got == want


def test_asof_join_null_column_whole_row(spark):
    """A right row with NULL in one value column must attach as-is (whole-row
    version semantics, ref TemporalRowTimeJoinOperator.java:50-69) — not mix
    values forward-filled from an older version; inner keeps rows whose
    matched version has NULLs."""
    from flink_ci_flink_spark.operators import asof_join

    left = spark.createDataFrame(
        [(1, 10.0, "a"), (1, 20.0, "b")], "k long, t double, payload string"
    )
    right = spark.createDataFrame(
        [(1, 5.0, "v1", 100), (1, 15.0, None, 200)],
        "k long, rt double, val string, num int",
    )
    out = asof_join(left, right, "k", "t", "rt").orderBy("t").collect()
    assert [(r.val, r.num) for r in out] == [("v1", 100), (None, 200)]
    inner = asof_join(left, right, "k", "t", "rt", how="inner").orderBy("t").collect()
    # both left rows matched a version; the NULL val row must survive inner
    assert len(inner) == 2 and inner[1].val is None and inner[1].num == 200


def test_streaming_bounded_over_rows(spark, events_stream_dir):  # noqa: F811
    """ROWS BETWEEN N PRECEDING streaming over-window == batch
    Window.rowsBetween on the same (ordered-replay) data."""
    from pyspark.sql.window import Window

    from flink_ci_flink_spark.streaming import run_to_completion
    from flink_ci_flink_spark.streaming.windows_ext import streaming_bounded_over

    stream = _events_stream(spark, events_stream_dir, per_trigger=1)
    out = streaming_bounded_over(
        stream.select("user_id", "ts", "value"), "user_id", "ts", "value",
        rows_preceding=4,
    )
    result = run_to_completion(out)
    got = {
        (r.user_id, round(r.ts_s, 6)): (round(r.w_sum, 6), r.w_n)
        for r in result.collect()
    }
    path, schema = events_stream_dir
    w = (
        Window.partitionBy("user_id").orderBy("ts").rowsBetween(-4, Window.currentRow)
    )
    batch = (
        spark.read.schema(schema).parquet(path)
        .select(
            "user_id",
            F.col("ts").cast("double").alias("ts_s"),
            F.sum("value").over(w).alias("w_sum"),
            F.count(F.lit(1)).over(w).alias("w_n"),
        )
        .collect()
    )
    want = {
        (r.user_id, round(r.ts_s, 6)): (round(r.w_sum, 6), r.w_n) for r in batch
    }
    assert got == want


def test_streaming_bounded_over_range(spark, events_stream_dir):  # noqa: F811
    """RANGE BETWEEN T PRECEDING streaming over-window == batch
    Window.rangeBetween on epoch seconds."""
    from pyspark.sql.window import Window

    from flink_ci_flink_spark.streaming import run_to_completion
    from flink_ci_flink_spark.streaming.windows_ext import streaming_bounded_over

    horizon = 86400.0 * 2
    stream = _events_stream(spark, events_stream_dir, per_trigger=1)
    out = streaming_bounded_over(
        stream.select("user_id", "ts", "value"), "user_id", "ts", "value",
        range_preceding=horizon,
    )
    result = run_to_completion(out)
    got = {
        (r.user_id, round(r.ts_s, 6)): (round(r.w_sum, 6), r.w_n)
        for r in result.collect()
    }
    path, schema = events_stream_dir
    rows = (
        spark.read.schema(schema).parquet(path)
        .select("user_id", F.col("ts").cast("double").alias("ts_s"), "value")
        .orderBy("ts_s")
        .collect()
    )
    per_user: dict = {}
    for r in rows:
        per_user.setdefault(r.user_id, []).append((r.ts_s, r.value))
    want = {}
    for u, series in per_user.items():
        for i, (t, _v) in enumerate(series):
            in_win = [v for (t2, v) in series[: i + 1] if t2 >= t - horizon]
            want[(u, round(t, 6))] = (round(sum(in_win), 6), len(in_win))
    assert got == want


def test_count_sliding_window(spark, events_stream_dir):  # noqa: F811
    """Sliding count-window == chunking each key's ordered series with
    (size, slide)."""
    from flink_ci_flink_spark.streaming import run_to_completion
    from flink_ci_flink_spark.streaming.windows_ext import count_sliding_window

    size, slide = 10, 5
    stream = _events_stream(spark, events_stream_dir, per_trigger=2)
    out = count_sliding_window(
        stream.select("user_id", "ts", "value"), "user_id", "ts", "value",
        size=size, slide=slide,
    )
    result = run_to_completion(out)
    got = {
        (r.user_id, r.win): (r.n, round(r.total, 6))
        for r in result.collect()
    }
    path, schema = events_stream_dir
    ev = spark.read.schema(schema).parquet(path).orderBy("ts").collect()
    per_user = {}
    for r in ev:
        per_user.setdefault(r.user_id, []).append(r.value)
    want = {}
    for u, vals in per_user.items():
        w = 0
        for end in range(size, len(vals) + 1, slide):
            want[(u, w)] = (size, round(sum(vals[end - size : end]), 6))
            w += 1
    assert got == want


def test_streaming_top_n_retractable(spark):
    """An update lowering a current top-n member's value must evict it
    (RetractableTopNFunction semantics) — final emitted top-n reflects the
    latest values, not the running maxima."""
    from flink_ci_flink_spark.streaming import file_stream, run_to_completion
    from flink_ci_flink_spark.streaming.process import streaming_top_n_retractable

    schema = "k long, item long, score double"
    batches = [
        [(1, 10, 5.0), (1, 11, 4.0), (1, 12, 3.0)],   # top2 = {10, 11}
        [(1, 10, 1.0), (1, 13, 3.5)],                  # 10 demoted; top2 = {11, 13}
    ]
    tmp = stage_chunks(spark, batches, schema)
    stream = file_stream(
        spark, tmp, spark.createDataFrame([], schema).schema, max_files_per_trigger=1
    )
    out = streaming_top_n_retractable(stream, "k", "item", "score", n=2)
    result = run_to_completion(out, "update")
    # update-mode memory sink keeps the latest row per output key; collect
    # the final rn:1/rn:2 assignment
    final = {
        r.rn: (r.item, r.score)
        for r in result.orderBy("rn").collect()
    }
    assert final == {1: (11, 4.0), 2: (13, 3.5)}


def test_streaming_event_time_sort(spark):
    """Out-of-order input emits in event-time order; rows behind the emitted
    frontier are dropped as late (RowTimeSortOperator semantics)."""
    from flink_ci_flink_spark.streaming import file_stream, run_to_completion
    from flink_ci_flink_spark.streaming.process import streaming_event_time_sort

    schema = "k long, ts double, v string"
    batches = [
        [(1, 3.0, "c"), (1, 1.0, "a"), (1, 2.0, "b")],   # frontier -> 3
        [(1, 2.5, "late"), (1, 5.0, "e"), (1, 4.0, "d")],  # 2.5 < 3: dropped
    ]
    tmp = stage_chunks(spark, batches, schema)
    stream = file_stream(
        spark, tmp, spark.createDataFrame([], schema).schema, max_files_per_trigger=1
    )
    out = streaming_event_time_sort(stream, "k", "ts", ["v"], delay_seconds=0.0)
    result = run_to_completion(out)
    got = [r.v for r in result.orderBy("ts_s").collect()]
    # emitted in order, late row 2.5 absent
    assert got == ["a", "b", "c", "d", "e"]
    ts = [r.ts_s for r in result.orderBy("ts_s").collect()]
    assert ts == sorted(ts) and 2.5 not in ts


def test_with_idle_ttl_wrapper():
    """TTL wrapper: timed-out keys drop state and emit nothing; live keys
    re-arm the processing-time timer."""
    from flink_ci_flink_spark.streaming.process import with_idle_ttl

    class FakeState:
        def __init__(self, timed_out):
            self.hasTimedOut = timed_out
            self.removed = False
            self.timeout_ms = None

        def remove(self):
            self.removed = True

        def setTimeoutDuration(self, ms):
            self.timeout_ms = ms

    def fn(key, it, state):
        yield "row"

    wrapped = with_idle_ttl(fn, 30.0)
    dead = FakeState(True)
    assert list(wrapped((1,), iter(()), dead)) == []
    assert dead.removed and dead.timeout_ms is None
    live = FakeState(False)
    assert list(wrapped((1,), iter(()), live)) == ["row"]
    assert live.timeout_ms == 30000 and not live.removed


def test_session_dynamic_gap(spark):
    """Dynamic-gap sessions: per-event gap column drives merge behavior
    (DynamicGapSession analog on native session_window)."""
    from flink_ci_flink_spark.operators.windows import session_dynamic

    rows = [
        # key 1: purchases extend the session by 30s, views by 5s
        (1, 0.0, "view"),      # [0, 5)
        (1, 4.0, "purchase"),  # [4, 34)  merges -> [0, 34)
        (1, 20.0, "view"),     # [20, 25) merges -> [0, 34)
        (1, 60.0, "view"),     # new session [60, 65)
    ]
    df = spark.createDataFrame(rows, "k long, tsec double, et string").select(
        "k", F.timestamp_seconds("tsec").alias("ts"), "et"
    )
    gap = F.when(F.col("et") == "purchase", F.lit("30 seconds")).otherwise(
        F.lit("5 seconds")
    )
    out = session_dynamic(
        df, "ts", gap, ["k"], [F.count(F.lit(1)).alias("n")]
    ).orderBy("window_start").collect()
    assert [(r.n, r.window_start.second if hasattr(r.window_start, "second") else None) for r in out] == [
        (3, 0), (1, 0)
    ]
    assert out[0].window_end.second == 34
    assert out[1].window_start.minute == 1


def test_keyed_states_facade(spark):
    """ValueState/ListState/MapState views over the applyInPandasWithState
    tuple, committed with one flush() (reference state-primitive API shape)."""
    from flink_ci_flink_spark.streaming import file_stream, run_to_completion
    from flink_ci_flink_spark.streaming.process import KeyedStates, keyed_process

    schema = "k long, et string, v double"
    batches = [
        [(1, "a", 1.0), (1, "b", 2.0), (2, "a", 5.0)],
        [(1, "a", 3.0), (2, "b", 1.0)],
    ]
    tmp = stage_chunks(spark, batches, schema)

    def fn(key_tuple, pdf_iter, state):
        import pandas as pd

        states = KeyedStates(state, ["total", "recent", "per_type"])
        total = states.value("total")
        recent = states.list("recent")
        per_type = states.map("per_type")
        for pdf in pdf_iter:
            for et, v in zip(pdf["et"], pdf["v"]):
                total.update((total.get or 0.0) + float(v))
                recent.add(float(v))
                recent.update(recent.get()[-3:])
                per_type.put(str(et), per_type.get(str(et), 0) + 1)
        states.flush()
        yield pd.DataFrame(
            {
                "k": [key_tuple[0]],
                "total": [total.get],
                "n_recent": [len(recent.get())],
                "n_a": [per_type.get("a", 0)],
                "n_b": [per_type.get("b", 0)],
            }
        )

    stream = file_stream(
        spark, tmp, spark.createDataFrame([], schema).schema, max_files_per_trigger=1
    )
    out = keyed_process(
        stream,
        ["k"],
        fn,
        "k long, total double, n_recent long, n_a long, n_b long",
        "total double, recent array<double>, per_type map<string,long>",
        output_mode="update",
    )
    result = run_to_completion(out, "update")
    final = {r.k: (r.total, r.n_recent, r.n_a, r.n_b) for r in result.collect()}
    assert final[1] == (6.0, 3, 2, 1)
    assert final[2] == (6.0, 2, 1, 1)


def test_async_lookup(spark):
    """Async-I/O enrichment: thread-pooled batched lookups, ordered output
    (AsyncWaitOperator ordered-wait analog)."""
    from flink_ci_flink_spark.operators.joins import async_lookup

    df = spark.createDataFrame([(i,) for i in range(100)], "k long").repartition(2)

    def fake_service(key_batch):
        # deterministic "remote" enrichment
        return [{"doubled": kt[0] * 2, "tag": f"t{kt[0] % 3}"} for kt in key_batch]

    out = async_lookup(
        df, fake_service, ["k"], "k long, doubled long, tag string", batch_size=16
    )
    got = {r.k: (r.doubled, r.tag) for r in out.collect()}
    assert len(got) == 100
    assert all(got[k] == (k * 2, f"t{k % 3}") for k in got)


def test_side_output_split_sinks(spark, tmp_path):
    """Side output on a stream: one query, two sinks via foreachBatch
    (OutputTag analog); batch side_output splits one plan."""
    from pyspark.sql import functions as F2

    from flink_ci_flink_spark.streaming import file_stream
    from flink_ci_flink_spark.streaming.core import (
        foreach_batch_split_sink,
        side_output,
    )

    # batch split
    df = spark.createDataFrame([(i,) for i in range(10)], "v long")
    main, side = side_output(df, F2.col("v") >= 7)
    assert main.count() == 7 and side.count() == 3

    schema = "v long"
    got_main, got_side = [], []
    tmp = stage_chunks(spark, [[(1,), (9,)], [(3,), (8,)]], schema)
    stream = file_stream(
        spark, tmp, spark.createDataFrame([], schema).schema, max_files_per_trigger=1
    )
    foreach_batch_split_sink(
        stream,
        F2.col("v") >= 7,
        lambda b, _id: got_main.extend(r.v for r in b.collect()),
        lambda b, _id: got_side.extend(r.v for r in b.collect()),
        str(tmp_path),
    )
    assert sorted(got_main) == [1, 3] and sorted(got_side) == [8, 9]


def test_changelog_group_agg_retract_stream(spark, events_stream_dir):  # noqa: F811
    """changelog_group_agg emits a well-formed retract stream (+I then
    -U/+U pairs per key, seq-ordered, each -U carrying the previous value)
    whose fold-back (`changelog_to_table`) equals the batch aggregate."""
    from flink_ci_flink_spark.streaming import (
        changelog_group_agg,
        changelog_to_table,
        run_to_completion,
    )

    stream = _events_stream(spark, events_stream_dir, per_trigger=1)
    out = changelog_group_agg(
        stream.select("user_id", "value"),
        ["user_id"],
        {"total": ("sum", "value"), "n": ("count", "value")},
    )
    result = run_to_completion(out, "update")
    log = result
    # within a seq the -U precedes the +U ('-' > '+' in ASCII, so desc)
    rows = log.orderBy("user_id", "seq", F.desc("row_kind")).collect()

    # per-key kind protocol: seq 1 is a single +I; each later seq is a
    # (-U, +U) pair whose -U equals the previous round's +I/+U values
    per_key = {}
    for r in rows:
        per_key.setdefault(r.user_id, []).append(r)
    assert per_key, "changelog is empty"
    for u, rs in per_key.items():
        assert (rs[0].row_kind, rs[0].seq) == ("+I", 1)
        last = (rs[0].total, rs[0].n)
        i = 1
        while i < len(rs):
            before, after = rs[i], rs[i + 1]
            assert (before.row_kind, after.row_kind) == ("-U", "+U")
            assert before.seq == after.seq == rs[i - 1].seq + 1
            assert (before.total, before.n) == last, "retraction != previous value"
            last = (after.total, after.n)
            i += 2

    # folding the changelog reproduces the batch aggregate
    got = {
        (r.user_id): (round(r.total, 6), int(r.n))
        for r in changelog_to_table(log, ["user_id"]).collect()
    }
    path, schema = events_stream_dir
    want = {
        r.user_id: (round(r.total, 6), int(r.n))
        for r in spark.read.schema(schema)
        .parquet(path)
        .groupBy("user_id")
        .agg(F.sum("value").alias("total"), F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_transform_with_state_running_agg(spark, events_stream_dir):  # noqa: F811
    """Native split-state path (transformWithStateInPandas + ValueState):
    last emission per key == batch aggregate. The state-server protocol
    needs google.protobuf — absent from the test image, so the vendored
    wire-format shim (flink_ci_flink_spark/protoshim) is activated; this
    test IS the shim's round-trip proof against the JVM's real protobuf
    parser."""
    from flink_ci_flink_spark.streaming import run_to_completion
    from flink_ci_flink_spark.streaming.tws import (
        enable_protoshim,
        streaming_running_agg_tws,
        use_rocksdb_state,
    )

    enable_protoshim(spark)

    prev = use_rocksdb_state(spark)
    try:
        stream = _events_stream(spark, events_stream_dir, per_trigger=1)
        out = streaming_running_agg_tws(
            stream.select("user_id", "value"), "user_id", "value"
        )
        result = run_to_completion(out, "update")
        # last emission per key = the row with the highest running_n
        rows = result.collect()
        final = {}
        for r in rows:
            if r.user_id not in final or r.running_n > final[r.user_id].running_n:
                final[r.user_id] = r
        got = {
            u: (round(r.running_sum, 6), r.running_n) for u, r in final.items()
        }
        path, schema = events_stream_dir
        want = {
            r.user_id: (round(r.total, 6), r.n)
            for r in spark.read.schema(schema)
            .parquet(path)
            .groupBy("user_id")
            .agg(F.sum("value").alias("total"), F.count("*").alias("n"))
            .collect()
        }
        assert got == want
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_bloom_screen_no_false_negatives_and_prunes(spark, sf_dir):
    """Screen keeps every true match (no false negatives), prunes most
    non-matches, and the composed semi join is exactly the plain semi join.
    The k probe joins must be broadcast (map-only on the big side)."""
    from pyspark.sql import functions as F

    from flink_ci_flink_spark.catalog import load_tables
    from flink_ci_flink_spark.operators.bloom import (
        bloom_build,
        bloom_screen,
        bloom_semi_join,
    )

    t = load_tables(spark, sf_dir)
    urgent = t.orders.filter(F.col("o_orderpriority") == "1-URGENT")
    keys = urgent.select(F.col("o_orderkey").alias("l_orderkey"))
    bitmap = bloom_build(keys, "l_orderkey")
    screened = bloom_screen(t.lineitem, "l_orderkey", bitmap)

    exact = t.lineitem.join(keys.distinct(), "l_orderkey", "left_semi")
    n_exact, n_screen, n_big = exact.count(), screened.count(), t.lineitem.count()
    assert n_screen >= n_exact  # zero false negatives
    # urgent is ~1/5 of orders; with m=2^16 the FP rate is tiny at this SF
    assert n_screen < 0.5 * n_big
    got = sorted(
        map(tuple, bloom_semi_join(
            t.lineitem, urgent, on="l_orderkey", small_key="o_orderkey"
        ).collect())
    )
    assert got == sorted(map(tuple, exact.collect()))
    plan = screened._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_split_distinct_agg_matches_plain(spark, sf_dir):
    """Two-level distinct split == plain COUNT(DISTINCT), including under
    a different input partitioning (bucket disjointness is the invariant)."""
    from flink_ci_flink_spark.operators.skew import split_distinct_agg
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    plain = {
        r.event_type: r.d
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("d"))
        .collect()
    }
    for frame in (ev, ev.repartition(7, "user_id")):
        got = {
            r.event_type: r.distinct_users
            for r in split_distinct_agg(
                frame, ["event_type"], "user_id", n_buckets=5,
                out_name="distinct_users",
            ).collect()
        }
        assert got == plain


# -- JVM foreachBatch-merge family (round 5): beyond top-n -------------------


def test_streaming_dedup_keep_last_jvm_matches_batch(spark, events_stream_dir):  # noqa: F811
    """JVM keep-last dedup (foreachBatch merge, no per-key Python) ==
    batch latest-row-per-key over the replayed corpus, and == the
    Python applyInPandasWithState path's final state."""
    from pyspark.sql.window import Window

    from flink_ci_flink_spark.streaming.process import (
        streaming_dedup_keep_last_jvm,
    )

    path, schema = events_stream_dir
    stream = _events_stream(spark, events_stream_dir, per_trigger=1)
    got_df = streaming_dedup_keep_last_jvm(
        stream,
        keys=["user_id"],
        ts_col="ts",
        select_cols=["user_id", "ts", "event_id", "event_type"],
    )
    got = {(r.user_id): (r.ts, r.event_id, r.event_type) for r in got_df.collect()}
    ev = spark.read.schema(schema).parquet(path)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").asc())
    want_rows = (
        ev.withColumn("__rn", F.row_number().over(w)).filter("__rn = 1").collect()
    )
    want = {r.user_id: (r.ts, r.event_id, r.event_type) for r in want_rows}
    # ties on (user_id, ts) would make the batch tie-break differ from
    # arrival order; the events fixture has unique max-ts rows per user
    assert got == want and len(got) > 0


def test_streaming_running_agg_jvm_matches_batch(spark, events_stream_dir):  # noqa: F811
    """JVM running aggregate (foreachBatch partial-merge) == one batch
    groupBy over the full corpus for every decomposable aggregate."""
    from flink_ci_flink_spark.streaming.process import streaming_running_agg_jvm

    path, schema = events_stream_dir
    stream = _events_stream(spark, events_stream_dir, per_trigger=1)
    got_df = streaming_running_agg_jvm(
        stream,
        keys=["user_id"],
        agg_specs={
            "n": ("count", ""),
            "total": ("sum", "value"),
            "vmin": ("min", "value"),
            "vmax": ("max", "value"),
        },
    )
    got = {
        r.user_id: (r.n, round(r.total, 6), round(r.vmin, 6), round(r.vmax, 6))
        for r in got_df.collect()
    }
    ev = spark.read.schema(schema).parquet(path)
    want = {
        r.user_id: (r.n, round(r.total, 6), round(r.vmin, 6), round(r.vmax, 6))
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("total"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
        )
        .collect()
    }
    assert got == want and len(got) > 0


def _batch_sessions(spark, path, schema, gap_seconds):
    from pyspark.sql import functions as F

    from flink_ci_flink_spark.operators.windows import sessionize

    ev = spark.read.schema(schema).parquet(path)
    s = sessionize(ev, "ts", gap_seconds, ["user_id"], tiebreak=["event_id"])
    return {
        (r.user_id, r.sess_start, r.sess_end, r.n_events, round(r.sum_value, 6))
        for r in s.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("sess_start"),
            F.max("ts").alias("sess_end"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("value").cast("double")).alias("sum_value"),
        )
        .collect()
    }


def test_streaming_sessionize_jvm_matches_batch(spark, events_stream_dir):  # noqa: F811
    """JVM session windows (foreachBatch gap-merge, no per-key Python) ==
    batch sessionization over the replayed corpus — exact mode (no
    close frontier) and state-bounded mode (closed sessions emitted to
    the append store) both."""
    from flink_ci_flink_spark.streaming.process import streaming_sessionize_jvm

    path, schema = events_stream_dir
    gap = 4 * 3600
    want = _batch_sessions(spark, path, schema, gap)
    assert len(want) > 15  # the fixture must actually produce multi-sessions

    for lateness in (None, 0):
        stream = _events_stream(spark, events_stream_dir, per_trigger=1)
        got_df = streaming_sessionize_jvm(
            stream,
            keys=["user_id"],
            ts_col="ts",
            gap_seconds=gap,
            value_col="value",
            close_lateness_seconds=lateness,
        )
        got = {
            (r.user_id, r.sess_start, r.sess_end, r.n_events,
             round(r.sum_value, 6))
            for r in got_df.collect()
        }
        assert got == want


def test_streaming_sessionize_jvm_bridges_out_of_order(spark):
    """An out-of-order event arriving in a later micro-batch that lands
    BETWEEN two previously separate sessions must merge them into one —
    the window-merge case (`SessionWindowAssigner` merging semantics)."""
    import datetime as dt

    from flink_ci_flink_spark.streaming import file_stream
    from flink_ci_flink_spark.streaming.process import streaming_sessionize_jvm

    t0 = dt.datetime(2024, 1, 1)

    def ts(sec):
        return t0 + dt.timedelta(seconds=sec)

    schema = "user_id BIGINT, ts TIMESTAMP, value DOUBLE"
    batch1 = [(1, ts(0), 1.0), (1, ts(100), 2.0)]   # gap 60 -> two sessions
    batch2 = [(1, ts(55), 4.0)]                      # bridges both
    tmp = stage_chunks(spark, [batch1, batch2], schema)
    stream = file_stream(
        spark, tmp, spark.createDataFrame([], schema).schema,
        max_files_per_trigger=1,
    )
    out = streaming_sessionize_jvm(
        stream,
        keys=["user_id"],
        ts_col="ts",
        gap_seconds=60,
        value_col="value",
    ).collect()
    assert len(out) == 1
    (r,) = out
    assert (r.sess_start, r.sess_end, r.n_events, r.sum_value) == (
        ts(0), ts(100), 3, 7.0,
    )


def test_streaming_count_window_jvm_matches_python_and_batch(
    spark, events_stream_dir
):  # noqa: F811
    """The jvm_keyed_fold count-window operator == the
    applyInPandasWithState `count_tumbling_window` == chunking each key's
    event-time-ordered series; state never holds more than one partial
    window per key (the close() split bounds it)."""
    from flink_ci_flink_spark.streaming.process import streaming_count_window_jvm
    from tests.test_streaming import _events_stream

    path, schema = events_stream_dir
    got_df = streaming_count_window_jvm(
        _events_stream(spark, (path, schema), per_trigger=1).select(
            "user_id", "ts", "value"
        ),
        key="user_id",
        ts_col="ts",
        value_col="value",
        size=10,
    )
    got = {
        (r.user_id, r.win): (r.n, round(r.total, 6)) for r in got_df.collect()
    }

    ev = spark.read.schema(schema).parquet(path).orderBy("ts").collect()
    per_user = {}
    for r in ev:
        per_user.setdefault(r.user_id, []).append(r.value)
    want = {}
    for u, vals in per_user.items():
        for w in range(len(vals) // 10):
            chunk = vals[w * 10 : (w + 1) * 10]
            want[(u, w)] = (10, round(sum(chunk), 6))
    assert got == want


def test_streaming_bounded_over_jvm_matches_python(spark, events_stream_dir):  # noqa: F811
    """The jvm_keyed_fold bounded over-window (ROWS N PRECEDING) == the
    applyInPandasWithState `streaming_bounded_over` on the same ts-ordered
    replay — every input row emitted exactly once with identical
    (w_sum, w_n)."""
    from flink_ci_flink_spark.streaming import run_to_completion
    from flink_ci_flink_spark.streaming.process import streaming_bounded_over_jvm
    from flink_ci_flink_spark.streaming.windows_ext import streaming_bounded_over
    from tests.test_streaming import _events_stream

    path, schema = events_stream_dir
    out_py = streaming_bounded_over(
        _events_stream(spark, (path, schema), per_trigger=1).select(
            "user_id", "ts", "value"
        ),
        "user_id",
        "ts",
        "value",
        rows_preceding=4,
    )
    result = run_to_completion(out_py)
    want = {
        (r.user_id, round(r.ts_s, 6)): (round(r.w_sum, 6), r.w_n)
        for r in result.collect()
    }

    got_df = streaming_bounded_over_jvm(
        _events_stream(spark, (path, schema), per_trigger=1).select(
            "user_id", "ts", "value"
        ),
        key="user_id",
        ts_col="ts",
        value_col="value",
        rows_preceding=4,
    )
    got = {
        (r.user_id, round(r.ts_s, 6)): (round(r.w_sum, 6), r.w_n)
        for r in got_df.collect()
    }
    assert got == want


def test_keyed_fold_same_batch_id_replay_idempotent(spark, tmp_path):
    """The at-least-once contract of jvm_keyed_fold: redelivering a batch
    under the SAME batch_id regenerates the state version from the on-disk
    predecessor instead of double-merging its own output, and re-appended
    closed rows collapse on the natural key."""
    from pyspark.sql import functions as F

    from flink_ci_flink_spark.streaming.core import VersionedState
    from flink_ci_flink_spark.streaming.process import _keyed_fold_step

    def prepare(b):
        return b.groupBy("k").agg(
            F.sum("v").alias("s"), F.count(F.lit(1)).cast("long").alias("n")
        )

    def fold(prev, part):
        if prev is not None:
            part = prev.unionByName(part)
        return part.groupBy("k").agg(
            F.sum("s").alias("s"), F.sum("n").cast("long").alias("n")
        )

    def close(state):
        return state.filter(F.col("n") < 3), state.filter(F.col("n") >= 3)

    b0 = spark.createDataFrame([(1, 1.0), (1, 2.0), (2, 5.0)], "k long, v double")
    b1 = spark.createDataFrame([(1, 3.0), (2, 7.0)], "k long, v double")

    def run(dirname, replay):
        d = str(tmp_path / dirname)
        versions = VersionedState(spark, d, "v")
        last = {"v": None, "closed": False}
        _keyed_fold_step(versions, prepare, fold, close, b0, 0, last)
        _keyed_fold_step(versions, prepare, fold, close, b1, 1, last)
        if replay:
            _keyed_fold_step(versions, prepare, fold, close, b1, 1, last)
        state = {
            tuple(r) for r in spark.read.parquet(f"{d}/v{last['v']}").collect()
        }
        closed = {
            tuple(r)
            for r in spark.read.parquet(f"{d}/closed")
            .dropDuplicates(["k"])
            .drop("__epoch")
            .collect()
        }
        return state, closed

    clean = run("clean", replay=False)
    replayed = run("replayed", replay=True)
    assert replayed == clean
    # key 1 saw 3 rows -> closed exactly once with the full sum
    assert (1, 6.0, 3) in clean[1]


def test_streaming_count_sliding_window_jvm_matches_python(
    spark, events_stream_dir
):  # noqa: F811
    """The jvm_keyed_fold sliding count window == the
    applyInPandasWithState `count_sliding_window` on the same replay, for
    overlapping (slide < size) windows; the gap case (slide > size) —
    where window partials alone cannot recover per-key progress and the
    marker row carries it — matches a direct brute force."""
    from flink_ci_flink_spark.streaming import run_to_completion
    from flink_ci_flink_spark.streaming.process import (
        streaming_count_sliding_window_jvm,
    )
    from flink_ci_flink_spark.streaming.windows_ext import count_sliding_window
    from tests.test_streaming import _events_stream

    path, schema = events_stream_dir

    def run_jvm(size, slide):
        got_df = streaming_count_sliding_window_jvm(
            _events_stream(spark, (path, schema), per_trigger=1).select(
                "user_id", "ts", "value"
            ),
            key="user_id",
            ts_col="ts",
            value_col="value",
            size=size,
            slide=slide,
        )
        return {
            (r.user_id, r.win): (r.n, round(r.total, 6))
            for r in got_df.collect()
        }

    # overlapping windows: parity with the Python state operator
    out_py = count_sliding_window(
        _events_stream(spark, (path, schema), per_trigger=1).select(
            "user_id", "ts", "value"
        ),
        "user_id", "ts", "value", size=10, slide=4,
    )
    result = run_to_completion(out_py)
    want = {
        (r.user_id, r.win): (r.n, round(r.total, 6))
        for r in result.collect()
    }
    assert run_jvm(10, 4) == want and want

    # gap case (slide > size): brute force over the ordered series
    ev = spark.read.schema(schema).parquet(path).orderBy("ts").collect()
    per_user = {}
    for r in ev:
        per_user.setdefault(r.user_id, []).append(r.value)
    want_gap = {}
    for u, vals in per_user.items():
        w = 0
        while w * 7 + 5 <= len(vals):
            chunk = vals[w * 7 : w * 7 + 5]
            want_gap[(u, w)] = (5, round(sum(chunk), 6))
            w += 1
    assert run_jvm(5, 7) == want_gap


def test_count_window_fold_random_batching_property(spark):
    """Hypothesis: driving the count-window fold step with ARBITRARY
    batch splits of an event sequence yields exactly the brute-force
    chunking — the batching-insensitivity the incremental ordinal-offset
    merge claims, including empty batches and batches smaller/larger than
    the window."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from flink_ci_flink_spark.streaming import scratch_dir
    from flink_ci_flink_spark.streaming.core import VersionedState
    from flink_ci_flink_spark.streaming.process import _keyed_fold_step

    size = 3

    def prepare(batch):
        wk = Window.partitionBy("k").orderBy("t")
        return (
            batch.withColumn("__rn", F.row_number().over(wk) - 1)
            .select("k", F.col("__rn").cast("long").alias("__rn"),
                    F.col("v").cast("double").alias("__v"))
        )

    def fold(prev, cand):
        if prev is not None:
            offs = (
                prev.groupBy("k")
                .agg(F.max(F.struct("win", "n")).alias("__m"))
                .select(
                    "k",
                    (F.col("__m.win") * size + F.col("__m.n"))
                    .cast("long").alias("__off"),
                )
            )
            cand = cand.join(offs, "k", "left").na.fill({"__off": 0})
        else:
            cand = cand.withColumn("__off", F.lit(0).cast("long"))
        part = (
            cand.withColumn("win", F.expr(f"(__rn + __off) div {size}"))
            .groupBy("k", "win")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum("__v").alias("total"))
        )
        if prev is not None:
            part = prev.unionByName(part)
        return part.groupBy("k", "win").agg(
            F.sum("n").cast("long").alias("n"), F.sum("total").alias("total")
        )

    def close(state):
        maxwin = F.max("win").over(Window.partitionBy("k"))
        flagged = state.withColumn("__done", F.col("win") < maxwin)
        return (flagged.filter(~F.col("__done")).drop("__done"),
                flagged.filter("__done").drop("__done"))

    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(
        vals=st.lists(st.integers(-5, 5), min_size=0, max_size=12),
        cuts=st.lists(st.integers(0, 12), max_size=3),
    )
    def check(vals, cuts):
        # split vals at the (sorted, clamped) cut points -> batches,
        # possibly empty
        pts = sorted({min(c, len(vals)) for c in cuts})
        batches, lo = [], 0
        for p in pts + [len(vals)]:
            batches.append(vals[lo:p])
            lo = p
        d = scratch_dir("cwprop_")
        versions = VersionedState(spark, d, "v")
        last = {"v": None, "closed": False}
        t0 = 0
        for bid, chunk in enumerate(batches):
            rows = [(1, t0 + i, float(v)) for i, v in enumerate(chunk)]
            t0 += len(chunk)
            bdf = spark.createDataFrame(rows, "k long, t long, v double")
            _keyed_fold_step(versions, prepare, fold, close, bdf, bid, last)
        got = {}
        if last["v"] is not None:
            state = spark.read.parquet(f"{d}/v{last['v']}")
            rows = state.filter(F.col("n") >= size).collect()
            if last["closed"]:
                rows += (
                    spark.read.parquet(f"{d}/closed")
                    .dropDuplicates(["k", "win"]).drop("__epoch").collect()
                )
            got = {r.win: (r.n, r.total) for r in rows if r.n >= size}
        want = {
            w: (size, float(sum(vals[w * size:(w + 1) * size])))
            for w in range(len(vals) // size)
        }
        assert got == want

    check()


def test_streaming_top_n_retractable_jvm_matches_batch(spark, events_stream_dir):  # noqa: F811
    """Update-stream top-n on the fold primitive: (user, event_id%25) rows
    update each other as the replay advances (implicit retractions); the
    final per-key top-3 equals the batch keep-latest + rank over the whole
    input."""
    from pyspark.sql.window import Window

    from flink_ci_flink_spark.streaming.process import (
        streaming_top_n_retractable_jvm,
    )
    from tests.test_streaming import _events_stream

    path, schema = events_stream_dir
    st = _events_stream(spark, (path, schema), per_trigger=1).select(
        "user_id",
        (F.col("event_id") % 25).alias("slot"),
        "value",
        "ts",
    )
    got_df = streaming_top_n_retractable_jvm(
        st.drop("ts"),
        key="user_id",
        row_key="slot",
        order_col="value",
        n=3,
    )
    got = {
        (r.user_id, r.slot, round(r.value, 6), r.rn)
        for r in got_df.collect()
    }

    ev = spark.read.schema(schema).parquet(path).select(
        "user_id", (F.col("event_id") % 25).alias("slot"), "value", "ts"
    )
    wlatest = Window.partitionBy("user_id", "slot").orderBy(F.desc("ts"))
    latest = (
        ev.withColumn("__r", F.row_number().over(wlatest))
        .filter("__r = 1")
        .drop("__r", "ts")
    )
    wtop = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("slot"))
    want = {
        (r.user_id, r.slot, round(r.value, 6), r.rn)
        for r in latest.withColumn("rn", F.row_number().over(wtop))
        .filter("rn <= 3")
        .collect()
    }
    assert got == want and want


def test_streaming_changelog_agg_retracts_to_zero(spark):
    """Retract-stream incremental aggregate: a group whose rows are all
    deleted drops out of the emitted state; surviving groups equal the
    brute-force aggregate of surviving rows, regardless of chunking."""
    from flink_ci_flink_spark.streaming import replay_stream
    from flink_ci_flink_spark.streaming.process import streaming_changelog_agg_jvm

    rows = []
    seq = 0
    # group 'a': two inserts, one updated; group 'b': insert then delete
    for kind, g, v in [
        ("+I", "a", 10), ("+I", "b", 5), ("+I", "a", 7),
        ("-U", "a", 10), ("+U", "a", 12), ("-D", "b", 5),
    ]:
        seq += 1
        rows.append((kind, g, v, seq))
    df = spark.createDataFrame(
        rows, "row_kind string, g string, v long, seq long"
    )
    out = streaming_changelog_agg_jvm(
        replay_stream(df, ["seq"]),
        keys=["g"],
        value_cols=["v"],
    )
    got = {(r.g, r.n_rows, r.sum_v) for r in out.collect()}
    assert got == {("a", 2, 19)}  # b retracted to zero and dropped


def test_manifest_sink_idempotent_replay_and_orphan_invisible(spark, tmp_path):
    """The manifest-committed sink: redelivering a batch (same id)
    overwrites its own data dir + manifest entry (no duplication), and a
    data file no manifest lists stays invisible to the committed view."""
    import json
    import os

    from flink_ci_flink_spark.streaming import replay_stream
    from flink_ci_flink_spark.streaming.core import manifest_sink, read_manifest

    df = spark.createDataFrame(
        [(i, i % 3) for i in range(90)], "id long, g long"
    )
    base = str(tmp_path / "sink")
    manifest_sink(
        replay_stream(df, ["id"]),
        out_dir=base,
        checkpoint=f"{base}/ckpt",
    )
    before = sorted(map(tuple, read_manifest(spark, base).collect()))
    assert len(before) == 90

    # redelivery of batch 0: rewrite its data dir and re-publish manifest 0
    with open(f"{base}/manifest/0.json") as fh:
        entry = json.load(fh)
    rows = spark.read.parquet(*entry["files"]).collect()  # materialize:
    # a lazy self-overwrite would delete its own input files mid-read
    batch0 = spark.createDataFrame(rows, df.schema)
    batch0.write.mode("overwrite").parquet(f"{base}/data/batch=0")
    import glob as _g

    files = sorted(_g.glob(f"{base}/data/batch=0/part-*.parquet"))
    tmpf = f"{base}/manifest/.0.json.tmp"
    with open(tmpf, "w") as fh:
        json.dump({"batch": 0, "files": files}, fh)
    os.replace(tmpf, f"{base}/manifest/0.json")

    # orphan: data never committed by any manifest
    df.limit(10).write.mode("overwrite").parquet(f"{base}/data/batch=77")

    after = sorted(map(tuple, read_manifest(spark, base).collect()))
    assert after == before


def test_tws_list_state_topn(spark, events_stream_dir):  # noqa: F811
    """Native ListState top-n: final per-key top-3 == batch top-3.
    Exercises ListStateGet/ListStatePut on the state protocol (through the
    vendored protobuf shim when the real wheel is absent)."""
    from flink_ci_flink_spark.streaming import run_to_completion
    from flink_ci_flink_spark.streaming.tws import (
        enable_protoshim,
        streaming_topn_tws,
        use_rocksdb_state,
    )

    enable_protoshim(spark)
    prev = use_rocksdb_state(spark)
    try:
        stream = _events_stream(spark, events_stream_dir, per_trigger=1)
        out = streaming_topn_tws(
            stream.select("user_id", "value"), "user_id", "value", n=3
        )
        result = run_to_completion(out, "update")
        rows = result.collect()
        # last emission per key: rebuild from the final batch per key is not
        # directly tagged, so recompute: for each key keep the emission set
        # with the HIGHEST top value count / max values — equivalently the
        # batch answer must appear as some emission and dominate. Simpler:
        # group by key and take, per rank, the last-written value using the
        # fact that later emissions only improve (top-n is monotone).
        final: dict = {}
        for r in rows:
            final.setdefault(r.user_id, {})
            cur = final[r.user_id].get(r.rank)
            if cur is None or r.v >= cur:
                final[r.user_id][r.rank] = r.v
        path, schema = events_stream_dir
        batch = (
            spark.read.schema(schema)
            .parquet(path)
            .groupBy("user_id")
            .agg(F.slice(F.sort_array(F.collect_list("value"), False), 1, 3).alias("top"))
            .collect()
        )
        want = {r.user_id: {i + 1: v for i, v in enumerate(r.top)} for r in batch}
        got = {
            u: {k: round(v, 6) for k, v in d.items()} for u, d in final.items()
        }
        want = {
            u: {k: round(v, 6) for k, v in d.items()} for u, d in want.items()
        }
        assert got == want
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_tws_map_state_type_counts(spark, events_stream_dir):  # noqa: F811
    """Native MapState per-(key, category) running counts: final emission
    per key == batch counts. Exercises GetValue/ContainsKey/UpdateValue/
    Iterator on the state protocol."""
    from flink_ci_flink_spark.streaming import run_to_completion
    from flink_ci_flink_spark.streaming.tws import (
        enable_protoshim,
        streaming_type_counts_tws,
        use_rocksdb_state,
    )

    enable_protoshim(spark)
    prev = use_rocksdb_state(spark)
    try:
        stream = _events_stream(spark, events_stream_dir, per_trigger=1)
        out = streaming_type_counts_tws(
            stream.select("user_id", "event_type"), "user_id", "event_type"
        )
        result = run_to_completion(out, "update")
        rows = result.collect()
        # counts only grow; the max per (key, type) is the final state
        final: dict = {}
        for r in rows:
            k = (r.user_id, r.t)
            final[k] = max(final.get(k, 0), r.n)
        path, schema = events_stream_dir
        want = {
            (r.user_id, r.event_type): r.n
            for r in spark.read.schema(schema)
            .parquet(path)
            .groupBy("user_id", "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert final == want
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_tws_event_time_timers_sessionize(spark, events_stream_dir):  # noqa: F811
    """Native per-key EVENT-TIME timers (RegisterTimer / DeleteTimer /
    handleExpiredTimer through the state protocol): timer-driven sessions
    equal batch sessionization, except each key's TAIL session is emitted
    only if the final watermark passed its expiry — exactly the unbounded-
    stream semantics. Gap-closed and timer-closed sessions are tagged."""
    from flink_ci_flink_spark.streaming import run_to_completion
    from flink_ci_flink_spark.streaming.tws import (
        enable_protoshim,
        streaming_session_timers_tws,
        use_rocksdb_state,
    )

    GAP = 4 * 3600
    DELAY = "1 hour"
    enable_protoshim(spark)
    prev = use_rocksdb_state(spark)
    try:
        stream = _events_stream(spark, events_stream_dir, per_trigger=1)
        out = streaming_session_timers_tws(
            stream.select("user_id", "ts").withWatermark("ts", DELAY),
            "user_id",
            "ts",
            gap_seconds=GAP,
        )
        result = run_to_completion(out)
        got = {
            (r.user_id, r.start_s, r.end_s, r.n) for r in result.collect()
        }
        by_how = {}
        for r in result.collect():
            by_how.setdefault(r.closed_by, 0)
            by_how[r.closed_by] += 1
        # batch truth: walk each key's ordered timestamps
        path, schema = events_stream_dir
        rows = (
            spark.read.schema(schema)
            .parquet(path)
            .select("user_id", F.unix_timestamp("ts").alias("s"))
            .orderBy("user_id", "s")
            .collect()
        )
        per_key = {}
        max_s = 0
        for r in rows:
            per_key.setdefault(r.user_id, []).append(r.s)
            max_s = max(max_s, r.s)
        final_wm = max_s - 3600  # watermark = max event time - delay
        want = set()
        n_open_tails = 0
        for u, ss in per_key.items():
            sessions = []
            start = end = None
            n = 0
            for s in ss:
                if n > 0 and s - end > GAP:
                    sessions.append((start, end, n))
                    n = 0
                if n == 0:
                    start = s
                end = s
                n += 1
            tail = (start, end, n)
            for st, en, cnt in sessions:
                want.add((u, st, en, cnt))
            # the tail closes only if the final watermark passed its expiry
            if final_wm * 1000 >= (tail[1] + GAP) * 1000:
                want.add((u, tail[0], tail[1], tail[2]))
            else:
                n_open_tails += 1
        assert got == want
        assert by_how.get("gap", 0) > 0  # in-batch splits happened
        # every key has exactly one tail; none of them can have expired
        # (watermark stops 1h after the last event, gap is 4h), so the
        # timer path closes only earlier tails that crossed batches
        assert n_open_tails == len(per_key) or by_how.get("timer", 0) > 0
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_persist_static_side_released_on_exit(spark, monkeypatch, tmp_path):
    """The static side of a stream-static probe is read once, cached
    across micro-batches, and released when its ``with`` block exits,
    also when a ``merge`` raises or the drain is interrupted — the
    contract `streaming_delta_dedup_ingest` and the curation-v5 replay
    rely on (a per-trigger re-read of a GB-scale index artifact is the
    cost the persist removes). No query outlives its drain."""
    from pyspark import StorageLevel
    from pyspark.errors import StreamingQueryException
    from pyspark.sql.streaming.query import StreamingQuery

    from flink_ci_flink_spark.streaming import file_stream
    from flink_ci_flink_spark.streaming.core import (
        drain_foreach_batch,
        persist_static_side,
    )

    base = str(tmp_path)
    spark.createDataFrame(
        [(i, f"dim{i}") for i in range(10)], "k bigint, v string"
    ).write.parquet(f"{base}/index")
    chunks = [[(b * 5 + i,) for i in range(5)] for b in range(2)]
    src = stage_chunks(spark, chunks, "k bigint")
    stream = file_stream(spark, src, "k bigint", max_files_per_trigger=1)
    seen: list[tuple[int, bool]] = []

    with persist_static_side(spark.read.parquet(f"{base}/index")) as static:

        def merge(batch_df, epoch_id):
            probe = batch_df.join(static, "k")
            plan = probe._jdf.queryExecution().optimizedPlan().toString()
            seen.append((probe.count(), "InMemoryRelation" in plan))

        drain_foreach_batch(stream, merge, f"{base}/ckpt")
        assert static.storageLevel == StorageLevel.MEMORY_AND_DISK
    assert seen == [(5, True), (5, True)]  # both batches probed the cache
    assert static.storageLevel == StorageLevel.NONE  # released on exit

    def failing(batch_df, epoch_id):
        raise RuntimeError("merge failed")

    with pytest.raises(StreamingQueryException), persist_static_side(
        spark.read.parquet(f"{base}/index")
    ) as static:
        drain_foreach_batch(stream, failing, f"{base}/ckpt_failing")
    assert static.storageLevel == StorageLevel.NONE
    assert spark.streams.active == []

    # A driver-side interrupt (Ctrl-C) leaves the query running unless the
    # drain stops it: Spark deregisters only a query whose batch failed.
    def interrupt(query):
        raise KeyboardInterrupt

    monkeypatch.setattr(StreamingQuery, "processAllAvailable", interrupt)
    with pytest.raises(KeyboardInterrupt), persist_static_side(
        spark.read.parquet(f"{base}/index")
    ) as static:
        drain_foreach_batch(stream, merge, f"{base}/ckpt_interrupted")
    assert static.storageLevel == StorageLevel.NONE
    assert spark.streams.active == []
