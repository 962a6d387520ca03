"""Custom window triggers + evictors (`windowing/triggers/`, `evictors/`).

Semantic anchors:
- `DataStream.countWindow(n)` == GlobalWindows + PurgingTrigger(CountTrigger)
  — asserted equal to the dedicated `count_tumbling_window` operator.
- `countWindow(size, slide)` == GlobalWindows + CountTrigger(slide) +
  CountEvictor(size) — asserted on a hand fixture (incl. the early partial
  windows the reference emits).
- Delta trigger / evictors / continuous event-time trigger on hand fixtures.
"""

from __future__ import annotations

from tests.replay import stage_chunks
from tests.test_streaming import events_stream_dir, _events_stream  # noqa: F401


def _replay_fixture(spark, rows, schema, n_files=3):
    """Write rows (already ordered) into n time-ordered parquet files."""
    per = max(1, (len(rows) + n_files - 1) // n_files)
    chunks = [rows[i : i + per] for i in range(0, len(rows), per)]
    return stage_chunks(spark, chunks, schema)


def _run(spark, out):
    from flink_ci_flink_spark.streaming import run_to_completion

    return run_to_completion(out).collect()


def test_count_trigger_purging_equals_count_window(spark, events_stream_dir):  # noqa: F811
    """GlobalWindows + PurgingTrigger(CountTrigger(10)) reproduces the
    dedicated count_tumbling_window operator (the reference's own
    countWindow(n) composition)."""
    from flink_ci_flink_spark.streaming.triggers import (
        CountTrigger,
        PurgingTrigger,
        triggered_window,
    )
    from flink_ci_flink_spark.streaming.windows_ext import count_tumbling_window

    stream = _events_stream(spark, events_stream_dir, per_trigger=3)
    out = triggered_window(
        stream.select("user_id", "ts", "value"),
        "user_id",
        "ts",
        "value",
        trigger=PurgingTrigger(CountTrigger(10)),
    )
    got = {
        (r.user_id, r.fire_seq): (r.n, round(r.total, 6)) for r in _run(spark, out)
    }

    stream2 = _events_stream(spark, events_stream_dir, per_trigger=3)
    ref = count_tumbling_window(
        stream2.select("user_id", "ts", "value"), "user_id", "ts", "value", size=10
    )
    want = {
        (r.user_id, r.win): (r.n, round(r.total, 6)) for r in _run(spark, ref)
    }
    assert got == want and got


def test_count_trigger_with_count_evictor_sliding(spark):
    """countWindow(size=4, slide=2) == CountTrigger(2) + CountEvictor(4):
    fires every 2 elements over the last <=4 (early partials included,
    reference semantics)."""
    from flink_ci_flink_spark.streaming.triggers import (
        CountEvictor,
        CountTrigger,
        triggered_window,
    )

    rows = [(1, float(t), float(v)) for t, v in enumerate([1, 2, 3, 4, 5, 6, 7, 8], 1)]
    schema = "user_id long, ts double, value double"
    tmp = _replay_fixture(spark, rows, schema)
    from flink_ci_flink_spark.streaming import file_stream

    st = file_stream(
        spark,
        tmp,
        spark.createDataFrame([], schema).schema,
        max_files_per_trigger=1,
    )
    out = triggered_window(
        st, "user_id", "ts", "value",
        trigger=CountTrigger(2), evictor=CountEvictor(4),
    )
    got = [(r.fire_seq, r.n, r.total) for r in
           sorted(_run(spark, out), key=lambda r: r.fire_seq)]
    # fires after elements 2,4,6,8 over last <=4: [1,2], [1..4], [3..6], [5..8]
    assert got == [(0, 2, 3.0), (1, 4, 10.0), (2, 4, 18.0), (3, 4, 26.0)]


def test_delta_trigger(spark):
    """DeltaTrigger fires when the value moves > threshold from the last
    firing baseline (first element seeds the baseline)."""
    from flink_ci_flink_spark.streaming.triggers import (
        DeltaTrigger,
        PurgingTrigger,
        triggered_window,
    )

    vals = [10.0, 11.0, 14.0, 13.0, 20.0, 19.0]  # fires at 14 (|14-10|>3) and 20
    rows = [(1, float(t), v) for t, v in enumerate(vals, 1)]
    schema = "user_id long, ts double, value double"
    tmp = _replay_fixture(spark, rows, schema)
    from flink_ci_flink_spark.streaming import file_stream

    st = file_stream(
        spark, tmp, spark.createDataFrame([], schema).schema,
        max_files_per_trigger=1,
    )
    out = triggered_window(
        st, "user_id", "ts", "value",
        trigger=PurgingTrigger(DeltaTrigger(3.0)),
    )
    got = [(r.fire_seq, r.n, r.total) for r in
           sorted(_run(spark, out), key=lambda r: r.fire_seq)]
    # fire 1: buffer [10,11,14]; fire 2 (purged in between): [13,20]
    assert got == [(0, 3, 35.0), (1, 2, 33.0)]


def test_continuous_event_time_trigger(spark):
    """ContinuousEventTimeTrigger fires early at interval boundaries as the
    frontier advances, then fire-and-purges at the tumbling window end."""
    from flink_ci_flink_spark.streaming.triggers import (
        ContinuousEventTimeTrigger,
        triggered_window,
    )

    # one 30s window [0,30), elements at t=1..24; 3 micro-batches by 10s
    rows = [(1, float(t), 1.0) for t in (1, 4, 9, 12, 14, 21, 24)] + [
        (1, 31.0, 100.0)  # next window; advances frontier past 30
    ]
    schema = "user_id long, ts double, value double"
    tmp = _replay_fixture(spark, rows, schema, n_files=4)
    from flink_ci_flink_spark.streaming import file_stream

    st = file_stream(
        spark, tmp, spark.createDataFrame([], schema).schema,
        max_files_per_trigger=1,
    )
    out = triggered_window(
        st, "user_id", "ts", "value",
        trigger=ContinuousEventTimeTrigger(10.0),
        window_seconds=30.0,
    )
    got = [(r.win, r.fire_seq, r.n, r.total) for r in
           sorted(_run(spark, out), key=lambda r: (r.win, r.fire_seq))]
    # batches hold 2 rows each: frontier after b1=4 (no boundary), b2=12
    # (crossed 10 -> early fire over [1,4,9,12]), b3=24 (crossed 20 ->
    # early fire over 6 elems), b4=31 (window end -> final fire, 7 elems)
    assert got == [
        (0, 0, 4, 4.0),
        (0, 1, 6, 6.0),
        (0, 2, 7, 7.0),
    ]


def test_time_and_delta_evictors(spark):
    """TimeEvictor keeps the trailing T seconds; DeltaEvictor drops elements
    far from the window's last element. Both EVICT FROM STATE (evictBefore)."""
    from flink_ci_flink_spark.streaming.triggers import (
        CountTrigger,
        DeltaEvictor,
        TimeEvictor,
        triggered_window,
    )

    schema = "user_id long, ts double, value double"
    # TimeEvictor(5s): fire every 3 elements; elements 10s apart except a
    # tight cluster at the end
    rows = [(1, 0.0, 1.0), (1, 10.0, 2.0), (1, 12.0, 3.0),
            (1, 13.0, 4.0), (1, 14.0, 5.0), (1, 15.0, 6.0)]
    tmp = _replay_fixture(spark, rows, schema)
    from flink_ci_flink_spark.streaming import file_stream

    st = file_stream(
        spark, tmp, spark.createDataFrame([], schema).schema,
        max_files_per_trigger=1,
    )
    out = triggered_window(
        st, "user_id", "ts", "value",
        trigger=CountTrigger(3), evictor=TimeEvictor(5.0),
    )
    got = [(r.fire_seq, r.n, r.total) for r in
           sorted(_run(spark, out), key=lambda r: r.fire_seq)]
    # fire1 over [0,10,12]: keep ts>7 -> [10,12] sum 5; state now [10,12]
    # fire2 over [10,12,13,14,15]: keep ts>10 -> [12..15] sum 18
    assert got == [(0, 2, 5.0), (1, 4, 18.0)]

    rows2 = [(1, float(t), v) for t, v in
             enumerate([1.0, 9.0, 4.0, 5.0, 8.0, 6.0], 1)]
    tmp2 = _replay_fixture(spark, rows2, schema)
    from flink_ci_flink_spark.streaming import file_stream

    st2 = file_stream(
        spark, tmp2, spark.createDataFrame([], schema).schema,
        max_files_per_trigger=1,
    )
    out2 = triggered_window(
        st2, "user_id", "ts", "value",
        trigger=CountTrigger(3), evictor=DeltaEvictor(3.0),
    )
    got2 = [(r.fire_seq, r.n, r.total) for r in
            sorted(_run(spark, out2), key=lambda r: r.fire_seq)]
    # fire1 over [1,9,4]: |v-4|<3 keeps [4] (1 and 9 evicted) -> (1, 4.0)
    # fire2 over [4,5,8,6]: |v-6|<3 keeps [4,5,8,6] -> (4, 23.0)
    assert got2 == [(0, 1, 4.0), (1, 4, 23.0)]


def test_event_time_trigger_default(spark):
    """EventTimeTrigger: tumbling windows fire once when the frontier passes
    the window end (the default trigger), then their state is purged."""
    from flink_ci_flink_spark.streaming.triggers import (
        EventTimeTrigger,
        triggered_window,
    )

    schema = "user_id long, ts double, value double"
    rows = [(1, 1.0, 1.0), (1, 5.0, 2.0), (1, 11.0, 3.0), (1, 25.0, 4.0)]
    tmp = _replay_fixture(spark, rows, schema, n_files=2)
    from flink_ci_flink_spark.streaming import file_stream

    st = file_stream(
        spark, tmp, spark.createDataFrame([], schema).schema,
        max_files_per_trigger=1,
    )
    out = triggered_window(
        st, "user_id", "ts", "value",
        trigger=EventTimeTrigger(), window_seconds=10.0,
    )
    got = {(r.win, r.n, r.total) for r in _run(spark, out)}
    # window [0,10) fires when frontier hits 11; [10,20) when 25;
    # [20,30) never closes (frontier stops at 25)
    assert got == {(0, 2, 3.0), (10, 1, 3.0)}


def test_late_element_after_window_gc_dropped(spark):
    """An element arriving after its window fired and was GC'd is DROPPED
    (reference: WindowOperator drops late elements when allowedLateness=0) —
    it must not recreate the window and re-fire with fire_seq reset to 0,
    which would emit duplicate (win, fire_seq) keys downstream."""
    from flink_ci_flink_spark.streaming.triggers import (
        EventTimeTrigger,
        triggered_window,
    )

    schema = "user_id long, ts double, value double"
    # batch1 closes window [0,10) (frontier 11); batch2 brings ts=2.0 — late,
    # its window state is gone — plus ts=25 closing [10,20).
    b1 = [(1, 1.0, 1.0), (1, 11.0, 3.0)]
    b2 = [(1, 2.0, 100.0), (1, 25.0, 4.0)]
    tmp = _replay_fixture(spark, b1 + b2, schema, n_files=2)
    from flink_ci_flink_spark.streaming import file_stream

    st = file_stream(
        spark, tmp, spark.createDataFrame([], schema).schema,
        max_files_per_trigger=1,
    )
    out = triggered_window(
        st, "user_id", "ts", "value",
        trigger=EventTimeTrigger(), window_seconds=10.0,
    )
    rows = _run(spark, out)
    got = {(r.win, r.fire_seq, r.n, r.total) for r in rows}
    # late 2.0 contributes nothing; no duplicate (win=0, fire_seq=0) row
    assert got == {(0, 0, 1, 1.0), (10, 0, 1, 3.0)}


def test_datastream_allowed_lateness_chain(spark):
    """The fluent facade's .allowed_lateness() routes to the re-firing
    triggered_window (WindowedStream.allowedLateness analog)."""
    from flink_ci_flink_spark.streaming import file_stream
    from flink_ci_flink_spark.streaming.datastream import DataStream

    schema = "user_id long, ts double, value double"
    b1 = [(1, 1.0, 1.0), (1, 11.0, 3.0)]
    b2 = [(1, 2.0, 5.0), (1, 25.0, 4.0)]
    tmp = _replay_fixture(spark, b1 + b2, schema, n_files=2)
    st = file_stream(
        spark, tmp, spark.createDataFrame([], schema).schema,
        max_files_per_trigger=1,
    )
    out = (
        DataStream(st)
        .key_by("user_id")
        .window("ts", "value", 10.0)
        .allowed_lateness(10.0)
        .sum()
    )
    got = {(r.win, r.fire_seq, r.n, r.total) for r in _run(spark, out)}
    assert got == {(0, 0, 1, 1.0), (0, 1, 2, 6.0), (10, 0, 1, 3.0)}


def test_allowed_lateness_refires_closed_window(spark):
    """A late element within allowedLateness RE-FIRES the already-fired
    window with the corrected aggregate (next fire_seq, update-mode
    re-emission — `WindowOperator.java:349,388,420`); an element beyond
    win_end + allowedLateness is dropped."""
    from flink_ci_flink_spark.streaming.triggers import (
        EventTimeTrigger,
        triggered_window,
    )

    schema = "user_id long, ts double, value double"
    # b1: frontier 11 fires [0,10) (n=1, total=1); lateness 10 keeps state.
    # b2: ts=2 is late-but-allowed (10 <= 11 < 20) -> re-fire (n=2, total=6);
    #     ts=25 then closes [10,20) and expires [0,10)'s lateness.
    # b3: ts=3 is beyond lateness (20 <= 25) -> dropped.
    rows = [
        (1, 1.0, 1.0), (1, 11.0, 3.0),
        (1, 2.0, 5.0), (1, 25.0, 4.0),
        (1, 3.0, 99.0),
    ]
    tmp = _replay_fixture(spark, rows, schema, n_files=3)
    from flink_ci_flink_spark.streaming import file_stream

    st = file_stream(
        spark, tmp, spark.createDataFrame([], schema).schema,
        max_files_per_trigger=1,
    )
    out = triggered_window(
        st, "user_id", "ts", "value",
        trigger=EventTimeTrigger(), window_seconds=10.0,
        allowed_lateness=10.0,
    )
    got = {(r.win, r.fire_seq, r.n, r.total) for r in _run(spark, out)}
    assert got == {(0, 0, 1, 1.0), (0, 1, 2, 6.0), (10, 0, 1, 3.0)}
    # update-mode consumers keep the max fire_seq per (key, win):
    latest = {}
    for win, seq, n, total in sorted(got):
        latest[win] = (n, total)
    assert latest == {0: (2, 6.0), 10: (1, 3.0)}


def test_late_data_side_output(spark, tmp_path):
    """Late rows land in the late sink; the main path receives exactly what
    a watermarked window agg would keep (`sideOutputLateData` +
    `allowedLateness` semantics, window-level lateness)."""
    from flink_ci_flink_spark.streaming import file_stream
    from flink_ci_flink_spark.streaming.late import side_output_late_data

    schema = "user_id long, ts double, value double"
    # batch1: on-time rows up to t=20 -> wm after batch1 = 20-5 = 15
    # batch2: t=2 (window [0,10) end 10 <= 15 -> LATE)
    #         t=13 (window [10,20) end 20 > 15 -> on time despite ts < wm)
    #         t=27 (on time)
    b1 = [(1, 1.0, 1.0), (1, 8.0, 2.0), (1, 12.0, 3.0), (1, 20.0, 4.0)]
    b2 = [(1, 2.0, 100.0), (1, 13.0, 5.0), (1, 27.0, 6.0)]
    tmp = _replay_fixture(spark, b1 + b2, schema, n_files=2)
    got_main, got_late = [], []
    st = file_stream(
        spark, tmp, spark.createDataFrame([], schema).schema,
        max_files_per_trigger=1,
    )
    side_output_late_data(
        st, "ts", 5.0,
        lambda df, bid: got_main.extend(
            (r.user_id, r.ts, r.value) for r in df.collect()),
        lambda df, bid: got_late.extend(
            (r.user_id, r.ts, r.value) for r in df.collect()),
        checkpoint=str(tmp_path / "ck"),
        window_seconds=10.0,
    )
    assert sorted(got_late) == [(1, 2.0, 100.0)]
    assert sorted(got_main) == sorted(
        (u, t, v) for u, t, v in b1 + b2 if not (u, t, v) == (1, 2.0, 100.0)
    )
    # allowed_lateness widens acceptance: rerun with lateness 10 ->
    # window end 10 + 10 > 15, the t=2 row is no longer late
    got_main2, got_late2 = [], []
    st2 = file_stream(
        spark, tmp, spark.createDataFrame([], schema).schema,
        max_files_per_trigger=1,
    )
    side_output_late_data(
        st2, "ts", 5.0,
        lambda df, bid: got_main2.extend(
            (r.user_id, r.ts, r.value) for r in df.collect()),
        lambda df, bid: got_late2.extend(
            (r.user_id, r.ts, r.value) for r in df.collect()),
        checkpoint=str(tmp_path / "ck2"),
        window_seconds=10.0,
        allowed_lateness=10.0,
    )
    assert got_late2 == []
    assert len(got_main2) == len(b1 + b2)


def test_late_row_level_split(spark, tmp_path):
    """Row-level lateness (ProcessFunction side-output convention):
    ts <= watermark routes to the late sink."""
    from flink_ci_flink_spark.streaming import file_stream
    from flink_ci_flink_spark.streaming.late import side_output_late_data

    schema = "user_id long, ts double, value double"
    b1 = [(1, 10.0, 1.0), (1, 30.0, 2.0)]  # wm -> 25
    b2 = [(1, 20.0, 3.0), (1, 26.0, 4.0)]  # 20 late, 26 on time
    tmp = _replay_fixture(spark, b1 + b2, schema, n_files=2)
    got_main, got_late = [], []
    st = file_stream(
        spark, tmp, spark.createDataFrame([], schema).schema,
        max_files_per_trigger=1,
    )
    side_output_late_data(
        st, "ts", 5.0,
        lambda df, bid: got_main.extend(r.ts for r in df.collect()),
        lambda df, bid: got_late.extend(r.ts for r in df.collect()),
        checkpoint=str(tmp_path),
    )
    assert sorted(got_late) == [20.0]
    assert sorted(got_main) == [10.0, 26.0, 30.0]


def test_datastream_facade(spark, events_stream_dir):  # noqa: F811
    """Fluent DataStream facade delegates faithfully: keyBy().countWindow()
    == the dedicated operator; keyBy().window().trigger().evictor().sum()
    == triggered_window; filter/map/watermark chain composes."""
    from flink_ci_flink_spark.streaming.datastream import (
        DataStream,
        count_window_composition,
    )
    from flink_ci_flink_spark.streaming.windows_ext import count_tumbling_window

    stream = _events_stream(spark, events_stream_dir, per_trigger=3)
    ds_out = (
        DataStream(stream)
        .map("user_id", "ts", "value")
        .key_by("user_id")
        .count_window("ts", "value", 10)
    )
    got = {(r.user_id, r.win): (r.n, round(r.total, 6)) for r in _run(spark, ds_out)}

    stream2 = _events_stream(spark, events_stream_dir, per_trigger=3)
    ref = count_tumbling_window(
        stream2.select("user_id", "ts", "value"), "user_id", "ts", "value", size=10
    )
    want = {(r.user_id, r.win): (r.n, round(r.total, 6)) for r in _run(spark, ref)}
    assert got == want and got

    # windowed trigger/evictor chain == direct triggered_window call
    trig, ev = count_window_composition(4, 2)
    rows = [(1, float(t), float(v)) for t, v in enumerate([1, 2, 3, 4, 5, 6, 7, 8], 1)]
    schema = "user_id long, ts double, value double"
    tmp = _replay_fixture(spark, rows, schema)
    from flink_ci_flink_spark.streaming import file_stream

    st = file_stream(
        spark, tmp, spark.createDataFrame([], schema).schema,
        max_files_per_trigger=1,
    )
    out = (
        DataStream(st)
        .key_by("user_id")
        .global_window("ts", "value")
        .trigger(trig)
        .evictor(ev)
        .sum()
    )
    got2 = [(r.fire_seq, r.n, r.total) for r in
            sorted(_run(spark, out), key=lambda r: r.fire_seq)]
    assert got2 == [(0, 2, 3.0), (1, 4, 10.0), (2, 4, 18.0), (3, 4, 26.0)]


def test_window_aggregate_library(spark):
    """WindowedStream.aggregate analog: named aggregate columns (min/max/
    avg/first/last) computed over the evictor-retained firing buffer."""
    from flink_ci_flink_spark.streaming.datastream import DataStream
    from flink_ci_flink_spark.streaming.triggers import CountTrigger, PurgingTrigger

    rows = [(1, float(t), v) for t, v in enumerate([4.0, 9.0, 2.0, 7.0, 5.0, 3.0], 1)]
    schema = "user_id long, ts double, value double"
    tmp = _replay_fixture(spark, rows, schema)
    from flink_ci_flink_spark.streaming import file_stream

    st = file_stream(
        spark, tmp, spark.createDataFrame([], schema).schema,
        max_files_per_trigger=1,
    )
    out = (
        DataStream(st)
        .key_by("user_id")
        .global_window("ts", "value")
        .trigger(PurgingTrigger(CountTrigger(3)))
        .aggregate({"low": "min", "high": "max", "mean": "avg",
                    "opening": "first", "closing": "last"})
    )
    got = [
        (r.fire_seq, r.n, r.total, r.low, r.high, r.mean, r.opening, r.closing)
        for r in sorted(_run(spark, out), key=lambda r: r.fire_seq)
    ]
    assert got == [
        (0, 3, 15.0, 2.0, 9.0, 5.0, 4.0, 2.0),
        (1, 3, 15.0, 3.0, 7.0, 5.0, 7.0, 3.0),
    ]
