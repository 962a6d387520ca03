"""Keyed process-function kit: per-key state + timeouts on a stream.

Reference parity: `KeyedProcessFunction` (+ keyed state `ValueState`/
`MapState`... `flink-core/.../api/common/state/`, timers
`TimerService.java`) → `applyInPandasWithState`: one state object per key,
processing-/event-time timeouts, Arrow-batched user code. Derived operator
below: streaming top-n (`AppendOnlyTopNFunction.java:46`); keep-last dedup
(`DeduplicateKeepLastRowFunction.java:36`) runs on the JVM fold as
`streaming_dedup_keep_last_jvm`.

Scale: state lives in the Spark state store (RocksDB provider in prod),
partitioned by key — identical distribution story to the reference's keyed
state backend.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from flink_ci_flink_spark.streaming.core import (
    VersionedState,
    append_epoch,
    drain_foreach_batch,
    read_epochs,
)
from flink_ci_flink_spark.streaming.declarative import FoldSpec, declarative_keyed_fold


def keyed_process(
    df: DataFrame,
    keys: list[str],
    fn: Callable[[Any, Iterable[pd.DataFrame], GroupState], Iterable[pd.DataFrame]],
    output_schema: str,
    state_schema: str,
    output_mode: str = "update",
    timeout: str = "NoTimeout",
    idle_ttl_seconds: float | None = None,
) -> DataFrame:
    """ProcessFunction analog: ``fn(key, batch_iter, state) -> pdf iter``.

    ``timeout``: NoTimeout | ProcessingTimeTimeout | EventTimeTimeout
    (EventTimeTimeout requires a watermark on ``df``).
    ``idle_ttl_seconds``: drop a key's state after this much processing-time
    idleness (StateTtlConfig / idle-state retention analog) — wraps ``fn``
    with `with_idle_ttl` and forces ProcessingTimeTimeout."""
    if idle_ttl_seconds is not None:
        fn = with_idle_ttl(fn, idle_ttl_seconds)
        timeout = "ProcessingTimeTimeout"
    return df.groupBy(*keys).applyInPandasWithState(
        fn, output_schema, state_schema, output_mode, getattr(GroupStateTimeout, timeout)
    )


def streaming_top_n(
    df: DataFrame,
    key: str,
    order_col: str,
    n: int,
    payload_cols: list[str],
    output_mode: str = "update",
) -> DataFrame:
    """Keep the running top-n rows per key (descending by order_col),
    re-emitting the current top-n on every update — the AppendOnlyTopN
    behavior (inserts only, no retractions needed upstream). The key keeps
    its input type; payloads ride as strings (state-serializable)."""
    key_type = df.schema[key].dataType.simpleString()
    schema_out = ", ".join(
        [f"{key} {key_type}", f"{order_col} double", "rn integer"]
        + [f"{c} string" for c in payload_cols]
    )
    state_schema = (
        f"vals array<double>, payloads array<string>"
    )

    def fn(key_tuple, pdf_iter, state: GroupState):
        if state.exists:
            vals, payloads = state.get
            vals = list(vals)
            payloads = [list(p) for p in payloads]
        else:
            vals, payloads = [], []
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            # vectorized per-batch extraction (no per-row iterrows)
            vals.extend(pdf[order_col].astype(float).tolist())
            payloads.extend(pdf[payload_cols].astype(str).to_numpy().tolist())
        order = sorted(range(len(vals)), key=lambda i: (-vals[i], payloads[i]))[:n]
        vals = [vals[i] for i in order]
        payloads = [payloads[i] for i in order]
        state.update((vals, payloads))
        out = {
            key: [key_tuple[0]] * len(vals),
            order_col: vals,
            "rn": list(range(1, len(vals) + 1)),
        }
        for ci, c in enumerate(payload_cols):
            out[c] = [p[ci] for p in payloads]
        yield pd.DataFrame(out)

    return keyed_process(df, [key], fn, schema_out, state_schema, output_mode)


def streaming_top_n_retractable(
    df: DataFrame,
    key: str,
    row_key: str,
    order_col: str,
    n: int,
) -> DataFrame:
    """Top-n over an UPDATE stream: each (key, row_key) carries a latest
    value; a new value for an existing row_key replaces the old one (an
    implicit retraction), which can evict it from — or promote it into —
    the current top-n. Re-emits the full current top-n per key on every
    batch that touches the key.

    Reference: `RetractableTopNFunction.java:54` / `UpdatableTopNFunction.java`
    (operators/rank/) — the update-stream ranking operators whose state maps
    row key → latest record + a sorted rank view. State here is exactly that
    map (row_key, value arrays); the rank view is recomputed per batch
    (vectorized argsort), which is the right trade at Arrow batch
    granularity.

    Output: (key, row_key, order_col, rn), update mode.
    """
    schema_out = f"{key} long, {row_key} long, {order_col} double, rn integer"
    state_schema = "row_keys array<long>, vals array<double>"

    def fn(key_tuple, pdf_iter, state: GroupState):
        if state.exists:
            row_keys, vals = state.get
            latest = dict(zip(row_keys, vals))
        else:
            latest = {}
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            # last occurrence per row_key within the batch wins (arrival order)
            dedup = pdf.drop_duplicates(subset=[row_key], keep="last")
            latest.update(
                zip(dedup[row_key].astype(int), dedup[order_col].astype(float))
            )
        state.update((list(latest.keys()), list(latest.values())))
        top = sorted(latest.items(), key=lambda kv: (-kv[1], kv[0]))[:n]
        if top:
            yield pd.DataFrame(
                {
                    key: [key_tuple[0]] * len(top),
                    row_key: [k for k, _ in top],
                    order_col: [v for _, v in top],
                    "rn": list(range(1, len(top) + 1)),
                }
            )

    return keyed_process(df, [key], fn, schema_out, state_schema, "update")


def with_idle_ttl(fn, ttl_seconds: float):
    """Wrap a keyed_process fn with idle-state TTL (StateTtlConfig /
    idle-state retention `TableConfig:285` analog): if a key receives no
    data for ttl_seconds of processing time, its state is dropped. Use with
    ``keyed_process(..., timeout="ProcessingTimeTimeout")`` (or pass
    ``idle_ttl_seconds`` to keyed_process, which wires both)."""

    def wrapped(key_tuple, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        yield from fn(key_tuple, pdf_iter, state)
        state.setTimeoutDuration(int(ttl_seconds * 1000))

    return wrapped


def streaming_event_time_sort(
    df: DataFrame,
    key: str,
    ts_col: str,
    payload_cols: list[str],
    delay_seconds: float = 0.0,
) -> DataFrame:
    """Watermark-delayed ordered emit (`RowTimeSortOperator` /
    `StreamExecTemporalSort.scala`): buffer out-of-order events per key and
    release them in event-time order once the per-key frontier
    (max event time seen − delay) passes them. Rows arriving behind the
    already-emitted frontier are late and dropped, exactly like the
    reference's row-time sort under watermark.

    Output: (key, ts_s, payloads...) in event-time order per key (append)."""
    import json

    schema_out = ", ".join(
        [f"{key} long", "ts_s double"] + [f"{c} string" for c in payload_cols]
    )
    state_schema = "ts array<double>, payload array<string>, frontier double"

    def fn(key_tuple, pdf_iter, state: GroupState):
        if state.exists:
            buf_ts, buf_pl, frontier = state.get
            buf_ts = list(buf_ts)
            buf_pl = list(buf_pl)
        else:
            buf_ts, buf_pl, frontier = [], [], float("-inf")
        max_seen = frontier + delay_seconds if buf_ts or frontier > float("-inf") else float("-inf")
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            s = pdf[ts_col]
            tsv = (
                s.astype("int64") / 1e9
                if pd.api.types.is_datetime64_any_dtype(s)
                else s.astype(float)
            )
            recs = pdf[payload_cols].astype(str).to_dict("records")
            for t, r in zip(tsv, recs):
                t = float(t)
                max_seen = max(max_seen, t)
                if t <= frontier:
                    continue  # late: the sort already emitted past this time
                buf_ts.append(t)
                buf_pl.append(json.dumps(r))
        new_frontier = max(frontier, max_seen - delay_seconds)
        order = sorted(range(len(buf_ts)), key=lambda i: buf_ts[i])
        emit = [i for i in order if buf_ts[i] <= new_frontier]
        keep = [i for i in order if buf_ts[i] > new_frontier]
        if emit:
            out = {key: [key_tuple[0]] * len(emit), "ts_s": [buf_ts[i] for i in emit]}
            payloads = [json.loads(buf_pl[i]) for i in emit]
            for c in payload_cols:
                out[c] = [p[c] for p in payloads]
            yield pd.DataFrame(out)
        state.update(
            ([buf_ts[i] for i in keep], [buf_pl[i] for i in keep], new_frontier)
        )

    return keyed_process(df, [key], fn, schema_out, state_schema, "append")


class KeyedStates:
    """Named ValueState/ListState/MapState views over the single
    applyInPandasWithState state tuple.

    Reference: `flink-core/.../api/common/state/ValueState.java`,
    `ListState.java`, `MapState.java` — the reference splits keyed state
    into named primitives registered against descriptors; Spark's
    applyInPandasWithState gives ONE typed tuple per key. This facade maps
    each tuple field to a named primitive with the reference's API shape:

        states = KeyedStates(state, ["cnt", "recent", "per_type"])
        cnt = states.value("cnt")            # ValueState: .get/.update/.clear
        recent = states.list("recent")       # ListState: .get/.add/.update
        per_type = states.map("per_type")    # MapState: .get/.put/.remove/.items
        ... states.flush()                   # one state.update at the end

    Use array<...> schema fields for list states and map<...> fields for
    map states. `flush()` commits all views in one state.update (call it
    once per batch — the single-merge discipline the vectorized operators
    follow)."""

    def __init__(self, state: GroupState, field_names: list[str]):
        self._state = state
        self._names = list(field_names)
        self._vals = (
            list(state.get) if state.exists else [None] * len(self._names)
        )

    def _idx(self, name: str) -> int:
        return self._names.index(name)

    def value(self, name: str) -> "ValueStateView":
        return ValueStateView(self, self._idx(name))

    def list(self, name: str) -> "ListStateView":
        return ListStateView(self, self._idx(name))

    def map(self, name: str) -> "MapStateView":
        return MapStateView(self, self._idx(name))

    def flush(self) -> None:
        self._state.update(tuple(self._vals))

    def clear_all(self) -> None:
        self._state.remove()


class ValueStateView:
    def __init__(self, bag: KeyedStates, i: int):
        self._bag, self._i = bag, i

    @property
    def get(self):
        return self._bag._vals[self._i]

    def update(self, value) -> None:
        self._bag._vals[self._i] = value

    def clear(self) -> None:
        self._bag._vals[self._i] = None


class ListStateView:
    def __init__(self, bag: KeyedStates, i: int):
        self._bag, self._i = bag, i

    def get(self) -> list:
        v = self._bag._vals[self._i]
        return list(v) if v is not None else []

    def add(self, value) -> None:
        self._bag._vals[self._i] = self.get() + [value]

    def add_all(self, values) -> None:
        self._bag._vals[self._i] = self.get() + list(values)

    def update(self, values) -> None:
        self._bag._vals[self._i] = list(values)

    def clear(self) -> None:
        self._bag._vals[self._i] = []


class MapStateView:
    def __init__(self, bag: KeyedStates, i: int):
        self._bag, self._i = bag, i
        if self._bag._vals[i] is None:
            self._bag._vals[i] = {}
        elif not isinstance(self._bag._vals[i], dict):
            self._bag._vals[i] = dict(self._bag._vals[i])

    def get(self, key, default=None):
        return self._bag._vals[self._i].get(key, default)

    def put(self, key, value) -> None:
        self._bag._vals[self._i][key] = value

    def remove(self, key) -> None:
        self._bag._vals[self._i].pop(key, None)

    def contains(self, key) -> bool:
        return key in self._bag._vals[self._i]

    def items(self):
        return self._bag._vals[self._i].items()

    def clear(self) -> None:
        self._bag._vals[self._i] = {}


def _keyed_fold_step(
    versions: VersionedState, prepare, fold, close, batch_df: DataFrame,
    batch_id: int, last: dict,
) -> None:
    """One micro-batch of the keyed-fold merge loop over the fold's state
    (prefix ``v``) — exposed so tests can drive same-batch-id replays
    directly (the at-least-once contract)."""
    with versions.batch(batch_id) as prev_id:
        new = fold(versions.read("v", prev_id), prepare(batch_df))
        if close is not None:
            new, closed_rows = close(new)
            append_epoch(closed_rows, f"{versions.dir}/closed", batch_id)
            last["closed"] = True
        versions.write(new, "v", batch_id)
    last["v"] = batch_id


def jvm_keyed_fold(
    stream: DataFrame,
    prepare,
    fold,
    state_dir: str | None = None,
    close=None,
    closed_natural_key: list[str] | None = None,
    emit=None,
) -> DataFrame:
    """The generic JVM keyed-fold primitive — the shared batch_id-versioned
    parquet-state merge under the whole foreachBatch stateful family
    (top-n, keep-last dedup, running aggregates, sessionize, count
    windows). Any operator whose state is a DECOMPOSABLE ACCUMULATOR — a
    per-key frame that a pure Catalyst plan can canonicalize from a union
    of partial states — gets the no-per-key-Python path by supplying three
    plan builders; Python runs only as per-BATCH driver orchestration.
    A `streaming/declarative.py::FoldSpec` generates all three from a
    merge declaration (`declarative_keyed_fold`); six shapes below are
    such declarations, the others write their folds by hand.

    Contract (all arguments are DataFrame -> DataFrame plan builders):

    - ``prepare(batch_df)`` — batch rows -> state-shaped rows (map-only or
      one keyed partial aggregation).
    - ``fold(prev_state, prepared)`` — canonical state for ``prev_state ∪
      prepared`` (``prev_state`` is None on the first batch). Must be
      idempotent on canonical states and batching-insensitive:
      ``fold(fold(None,a), b) == fold(None, a∪b)`` — that associativity is
      what makes incremental per-micro-batch merging equal the
      batch-over-everything answer. When ``prepare`` is already canonical
      (one keyed aggregation), ``fold(None, prepared)`` may return
      ``prepared`` unchanged: a stream with no batches finalizes to
      ``fold(None, prepare(empty))``.
    - ``close(state)`` — optional ``(open_state, closed_rows)`` split for
      bounding state: closed rows leave the versioned state and append to
      ``{state_dir}/closed`` stamped with the writing batch id; at
      finalize they are deduplicated on ``closed_natural_key`` so an
      at-least-once replayed batch cannot double-emit.
    - ``emit(state, closed)`` — final output (default: state, unioned
      with the deduplicated closed store when one exists).

    State versions by batch_id (`streaming.core.VersionedState`) — each
    batch writes ``v{batch_id}`` after reading its on-disk predecessor, so
    a replayed batch regenerates its merge idempotently rather than
    double-merging; only the current and previous versions are retained.
    Closed rows go to an `append_epoch` store. ``state_dir=None`` (every
    operator below passes it through) is a fresh `scratch_dir`. Runs the
    bounded stream to completion and returns the final output as a batch
    DataFrame. Ref: the state contract of `GroupAggFunction.java` /
    `AppendOnlyTopNFunction.java` — accumulate-merge-emit, JVM execution.
    """
    spark = stream.sparkSession
    versions = VersionedState(spark, state_dir, "v")
    last = {"v": None, "closed": False}

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        _keyed_fold_step(versions, prepare, fold, close, batch_df, batch_id, last)

    drain_foreach_batch(stream, merge)
    state = versions.read("v", last["v"])
    if state is None:
        state = fold(None, prepare(spark.createDataFrame([], stream.schema)))
    closed = None
    if last["closed"]:
        closed = read_epochs(spark, f"{versions.dir}/closed", closed_natural_key)
    if emit is not None:
        return emit(state, closed)
    return state.unionByName(closed) if closed is not None else state


def streaming_top_n_jvm(
    stream: DataFrame,
    partition_by: list[str],
    order_by: list,
    n: int,
    select_cols: list[str],
    state_dir: str | None = None,
) -> DataFrame:
    """Streaming top-n with NO per-key Python path: per micro-batch, the
    batch's per-key top-n (JVM window function) is unioned with the
    persisted top-n state (parquet, ≤ n rows per key) and re-topped — the
    whole operator is Catalyst plans; Python appears only as the per-BATCH
    foreachBatch orchestration on the driver, never per key or per row.

    This is the engineered alternative to `streaming_top_n`
    (applyInPandasWithState): where a hot keyed stream pays Arrow
    serialization per key-batch there, this path pays one bounded parquet
    read+write per micro-batch (state is top-n-per-key, so its size is
    keys × n regardless of input volume). State versions by batch_id —
    each batch writes `v{batch_id}` and reads the previous version, so a
    replayed batch (failure recovery) regenerates its output
    idempotently rather than double-merging.

    Runs the bounded stream to completion and returns the final per-key
    top-n as a batch DataFrame. Ref: `AppendOnlyTopNFunction.java:46` —
    same keep-top-n state contract, JVM execution. Expressed on
    `jvm_keyed_fold`: keep-top-n is a decomposable accumulator (top-n of
    a union of top-n partials is the global top-n)."""
    from flink_ci_flink_spark.operators.topn import top_n

    return jvm_keyed_fold(
        stream,
        prepare=lambda b: b.select(*select_cols),
        fold=lambda prev, cand: top_n(
            prev.unionByName(cand) if prev is not None else cand,
            partition_by,
            order_by,
            n,
            rank_col=None,
        ),
        state_dir=state_dir,
    )


def streaming_dedup_keep_last_jvm(
    stream: DataFrame,
    keys: list[str],
    ts_col: str,
    select_cols: list[str],
    state_dir: str | None = None,
) -> DataFrame:
    """Streaming keep-last dedup with NO per-key Python path, on
    foreachBatch merges
    (`DeduplicateFunctionHelper.processLastRowOnChangelog` semantics):
    per micro-batch, the batch's latest row per key is unioned with the
    persisted one-row-per-key state and re-reduced, entirely as Catalyst
    plans. State is keys x 1 rows regardless of input volume; versions by
    batch_id so a replayed batch regenerates its merge idempotently.

    Ties on ts resolve to the EARLIER arrival (state beats batch, earlier
    batch row beats later): a later row replaces the kept one only with a
    strictly greater ts. Runs the bounded stream to completion and returns
    the final per-key latest rows. Expressed on `jvm_keyed_fold`; the
    state-wins-ties decoration (__arr = -1 on state rows vs the batch's
    arrival ids) lives inside the fold, which drops it again before the
    state is written."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*keys).orderBy(F.col(ts_col).desc(), F.col("__arr").asc())

    def fold(prev: DataFrame | None, cand: DataFrame) -> DataFrame:
        if prev is not None:
            cand = prev.withColumn(
                "__arr", F.lit(-1).cast("long")  # state wins ts ties
            ).unionByName(cand)
        return (
            cand.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(*select_cols)
        )

    return jvm_keyed_fold(
        stream,
        prepare=lambda b: b.select(*select_cols).withColumn(
            "__arr", F.monotonically_increasing_id()
        ),
        fold=fold,
        state_dir=state_dir,
    )


def streaming_running_agg_jvm(
    stream: DataFrame,
    keys: list[str],
    agg_specs: dict[str, tuple[str, str]],
    state_dir: str | None = None,
) -> DataFrame:
    """Streaming per-key running aggregates with NO per-key Python path —
    the foreachBatch-merge analog of a keyed_process running aggregate
    (`GroupAggFunction.java` accumulator semantics, JVM execution).

    ``agg_specs``: out_name -> (fn, col) with fn in count/sum/min/max —
    the decomposable aggregates whose partial states merge by the same
    function (count merges by sum). Per micro-batch: aggregate the batch
    (map-side partials -> one shuffle on the keys), union with the
    persisted keys x 1 state, re-merge. State versions by batch_id for
    idempotent replay. Returns the final aggregate DataFrame. Declared as
    a `FoldSpec`: prepare = the batch's partial aggregation, merge = the
    partial-merge aggregation (count merges by sum)."""
    merge_fn = {"count": "sum", "sum": "sum", "min": "min", "max": "max"}
    prepare, merge = {}, {}
    for out, (fn, col) in agg_specs.items():
        if fn not in merge_fn:
            raise ValueError(f"non-decomposable aggregate {fn!r}")
        prepare[out] = "count(1)" if fn == "count" else f"{fn}(`{col}`)"
        merge[out] = f"{merge_fn[fn]}(`{out}`)"
    return declarative_keyed_fold(stream, FoldSpec(keys, prepare, merge), state_dir)


def streaming_sessionize_jvm(
    stream: DataFrame,
    keys: list[str],
    ts_col: str,
    gap_seconds: int,
    state_dir: str | None = None,
    value_col: str | None = None,
    close_lateness_seconds: int | None = None,
) -> DataFrame:
    """Streaming session windows with NO per-key Python path — the
    foreachBatch-merge analog of `session()` / the reference's merging
    `SessionWindowAssigner` (`WindowOperator.java` merge path), executed
    entirely as Catalyst plans.

    State is the per-key set of merged session intervals
    ``(sess_start, sess_end, n_events[, sum_value])``. Each micro-batch
    unions the batch's events (as point intervals) with the stored
    intervals and re-runs gap-merge per key: order by start, running-max
    of preceding ends, new-session flag when the gap is exceeded,
    re-aggregate. Interval gap-merge is associative and order-insensitive,
    so merging incrementally per batch gives exactly the batch-over-
    everything sessionization — including out-of-order events that BRIDGE
    two previously separate sessions (the hard case for append-only
    sessionizers; the reference handles it via window merging, this
    handles it because bridged intervals re-merge on the next union).

    ``close_lateness_seconds``: when set, sessions whose end is more than
    ``gap + close_lateness`` behind the key's frontier (max end seen) are
    emitted to an append-only closed store and leave the state — bounding
    state size at the open tail per key, the 100 TB deployment mode
    (requires per-key disorder bounded by that lateness, the same
    contract as the watermarking surface). When None, all sessions stay
    in state and the result is exact under arbitrary disorder.

    State versions by batch_id (replay-idempotent); closed rows carry the
    writing batch id and are deduplicated on their natural key at
    finalize, so an at-least-once replayed batch cannot double-emit.
    Returns the final sessions as a batch DataFrame. Expressed on
    `jvm_keyed_fold`: prepare = events-as-point-intervals, fold =
    gap-merge over the union, close = the frontier-horizon split.
    """
    from pyspark.sql.window import Window

    sess_cols = [*keys, "sess_start", "sess_end", "n_events"] + (
        ["sum_value"] if value_col is not None else []
    )

    def to_points(df: DataFrame) -> DataFrame:
        cols = [
            *keys,
            F.col(ts_col).alias("sess_start"),
            F.col(ts_col).alias("sess_end"),
            F.lit(1).cast("long").alias("n_events"),
        ]
        if value_col is not None:
            cols.append(F.col(value_col).cast("double").alias("sum_value"))
        return df.select(*cols)

    def gap_merge(df: DataFrame) -> DataFrame:
        w = Window.partitionBy(*keys).orderBy(
            F.col("sess_start").asc(), F.col("sess_end").asc()
        )
        prev_max_end = F.max("sess_end").over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        )
        is_new = (
            prev_max_end.isNull()
            | (
                F.col("sess_start").cast("double")
                > prev_max_end.cast("double") + F.lit(float(gap_seconds))
            )
        ).cast("long")
        sid = F.sum(is_new).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        aggs = [
            F.min("sess_start").alias("sess_start"),
            F.max("sess_end").alias("sess_end"),
            F.sum("n_events").cast("long").alias("n_events"),
        ]
        if value_col is not None:
            aggs.append(F.sum("sum_value").alias("sum_value"))
        return (
            df.withColumn("__sid", sid)
            .groupBy(*keys, "__sid")
            .agg(*aggs)
            .drop("__sid")
        )

    def split_closed(merged: DataFrame):
        frontier = F.max(F.col("sess_end").cast("double")).over(
            Window.partitionBy(*keys)
        )
        horizon = float(gap_seconds + (close_lateness_seconds or 0))
        flagged = merged.withColumn(
            "__closed", F.col("sess_end").cast("double") + horizon < frontier
        )
        return (
            flagged.filter(~F.col("__closed")).drop("__closed"),
            flagged.filter("__closed").drop("__closed"),
        )

    out = jvm_keyed_fold(
        stream,
        prepare=to_points,
        fold=lambda prev, cand: gap_merge(
            prev.unionByName(cand) if prev is not None else cand
        ),
        state_dir=state_dir,
        close=split_closed if close_lateness_seconds is not None else None,
        closed_natural_key=[*keys, "sess_start"],
    )
    return out.select(*sess_cols)


def streaming_count_window_jvm(
    stream: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    size: int,
    state_dir: str | None = None,
) -> DataFrame:
    """Tumbling COUNT windows with NO per-key Python path — the
    `jvm_keyed_fold` expression of `windows_ext.count_tumbling_window`
    (`CountTumblingWindowAssigner` / purging count trigger semantics):
    emit ``(key, win, n, total)`` for every ``size`` events per key, in
    event-time order of arrival, windows numbered 0.. per key.

    The decomposable-accumulator shape the primitive was built for:

    - prepare: number the batch's rows per key (row_number over (ts,
      arrival) minus 1) — one keyed window, no Python;
    - fold: shift the batch ordinals by the key's persisted event count,
      assign ``win = ordinal div size``, partial-aggregate, merge with
      state on (key, win) — counts and sums merge by sum because ordinals
      are globally consistent across batches. The event count is encoded
      by the key's HIGHEST stored window alone (``win·size + n`` — every
      lower window is full by construction), which is why close() may
      evict the lower ones without losing progress;
    - close: every window below the key's max leaves the state for the
      replay-deduplicated closed store, so state is exactly ONE row per
      key regardless of input volume; a max window that is itself full is
      emitted at finalize.

    Like every count window (reference included), output depends on
    per-key arrival order across batches; within a batch, ties on ts
    resolve by arrival. Returns the closed windows as a batch DataFrame.
    """
    from pyspark.sql.window import Window

    wk = Window.partitionBy(key).orderBy(F.col(ts_col).asc(), F.col("__mono").asc())

    def prepare(batch: DataFrame) -> DataFrame:
        return (
            batch.withColumn("__mono", F.monotonically_increasing_id())
            .withColumn("__rn", F.row_number().over(wk) - 1)
            .select(
                F.col(key),
                F.col("__rn").cast("long").alias("__rn"),
                F.col(value_col).cast("double").alias("__v"),
            )
        )

    def fold(prev: DataFrame | None, cand: DataFrame) -> DataFrame:
        if prev is not None:
            # total events seen per key = max window's win*size + n
            # (all windows below the max are full by construction)
            offs = (
                prev.groupBy(key)
                .agg(F.max(F.struct("win", "n")).alias("__m"))
                .select(
                    key,
                    (F.col("__m.win") * size + F.col("__m.n"))
                    .cast("long")
                    .alias("__off"),
                )
            )
            cand = cand.join(offs, key, "left").na.fill({"__off": 0})
        else:
            cand = cand.withColumn("__off", F.lit(0).cast("long"))
        part = (
            cand.withColumn("__ord", F.col("__rn") + F.col("__off"))
            .withColumn("win", F.expr(f"__ord div {int(size)}"))
            .groupBy(key, "win")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("__v").alias("total"),
            )
        )
        if prev is not None:
            part = prev.unionByName(part)
        return part.groupBy(key, "win").agg(
            F.sum("n").cast("long").alias("n"), F.sum("total").alias("total")
        )

    def close(state: DataFrame):
        from pyspark.sql.window import Window as W

        maxwin = F.max("win").over(W.partitionBy(key))
        flagged = state.withColumn("__done", F.col("win") < maxwin)
        return (
            flagged.filter(~F.col("__done")).drop("__done"),
            flagged.filter("__done").drop("__done"),
        )

    def emit(state: DataFrame, closed: DataFrame | None) -> DataFrame:
        # the max window never passes through close(); include it when full
        full_tail = state.filter(F.col("n") >= size)
        out = (
            closed.unionByName(full_tail) if closed is not None else full_tail
        )
        return out.select(key, "win", "n", "total")

    return jvm_keyed_fold(
        stream,
        prepare=prepare,
        fold=fold,
        state_dir=state_dir,
        close=close,
        closed_natural_key=[key, "win"],
        emit=emit,
    )


def streaming_bounded_over_jvm(
    stream: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    rows_preceding: int,
    state_dir: str | None = None,
) -> DataFrame:
    """Bounded streaming over-window (ROWS BETWEEN N PRECEDING AND CURRENT
    ROW) with NO per-key Python path — the second decomposable shape on
    `jvm_keyed_fold` (`RowTimeRangeBoundedPrecedingFunction.java:60`
    contract: keyed state retains only the in-window suffix).

    Every input row's (w_sum, w_n) over its key's last ``rows_preceding+1``
    rows is computed ONCE, in the fold where the row first arrives: the
    state keeps each key's last ``rows_preceding`` rows WITH their already-
    computed stats, new rows compute theirs from a rows-bounded window over
    state ∪ batch (the suffix guarantee makes that window complete), and
    stored stats win via coalesce — so re-windowing never truncates an old
    row. close() evicts rows behind the suffix to the replay-deduplicated
    closed store; emitted output = closed ∪ final state = every input row
    exactly once. Event-time order within a batch, arrival order across
    batches (the shared proc-time caveat of this module).

    Output: (key, ts_s, value, w_sum, w_n) — one row per input row.
    """
    from pyspark.sql.window import Window

    from flink_ci_flink_spark.functions.scalar import epoch_seconds

    n_prec = int(rows_preceding)

    def prepare(batch: DataFrame) -> DataFrame:
        return batch.select(
            F.col(key),
            epoch_seconds(batch, ts_col).alias("ts_s"),
            F.col(value_col).cast("double").alias("value"),
            F.lit(None).cast("double").alias("w_sum"),
            F.lit(None).cast("long").alias("w_n"),
        )

    wb = (
        Window.partitionBy(key)
        .orderBy(F.asc("ts_s"))
        .rowsBetween(-n_prec, Window.currentRow)
    )

    def fold(prev: DataFrame | None, cand: DataFrame) -> DataFrame:
        u = prev.unionByName(cand) if prev is not None else cand
        return u.select(
            key,
            "ts_s",
            "value",
            F.coalesce("w_sum", F.sum("value").over(wb)).alias("w_sum"),
            F.coalesce("w_n", F.count(F.lit(1)).over(wb)).alias("w_n"),
        )

    def close(state: DataFrame):
        wr = Window.partitionBy(key).orderBy(F.desc("ts_s"))
        flagged = state.withColumn(
            "__evict", F.row_number().over(wr) > n_prec
        )
        return (
            flagged.filter(~F.col("__evict")).drop("__evict"),
            flagged.filter("__evict").drop("__evict"),
        )

    def emit(state: DataFrame, closed: DataFrame | None) -> DataFrame:
        out = closed.unionByName(state) if closed is not None else state
        return out.select(key, "ts_s", "value", "w_sum", "w_n")

    return jvm_keyed_fold(
        stream,
        prepare=prepare,
        fold=fold,
        state_dir=state_dir,
        close=close,
        closed_natural_key=[key, "ts_s"],
        emit=emit,
    )


def streaming_count_sliding_window_jvm(
    stream: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    size: int,
    slide: int,
    state_dir: str | None = None,
) -> DataFrame:
    """Sliding COUNT windows with NO per-key Python path — the third
    decomposable shape on `jvm_keyed_fold`
    (`CountSlidingWindowAssigner` semantics, matching
    `windows_ext.count_sliding_window`): window w covers per-key event
    ordinals [w*slide, w*slide + size); only complete windows emit,
    numbered 0.. per key.

    Each batch row's ordinal lands in at most ceil(size/slide) windows
    (an explode over the window-id range), partials merge with state on
    (key, win). Because slide > size leaves ordinal gaps that belong to NO
    window, per-key progress cannot be recovered from the window partials
    alone — a marker row (win = -1, n = total events seen) rides in the
    state and supplies the ordinal offset for the next batch. close()
    evicts complete windows to the replay-deduplicated closed store, so
    state is the marker plus at most ceil(size/slide) partial windows per
    key. Returns the closed windows as a batch DataFrame.
    """
    from pyspark.sql.window import Window

    wk = Window.partitionBy(key).orderBy(F.col(ts_col).asc(), F.col("__mono").asc())
    z, s = int(size), int(slide)

    def prepare(batch: DataFrame) -> DataFrame:
        return (
            batch.withColumn("__mono", F.monotonically_increasing_id())
            .withColumn("__rn", F.row_number().over(wk) - 1)
            .select(
                F.col(key),
                F.col("__rn").cast("long").alias("__rn"),
                F.col(value_col).cast("double").alias("__v"),
            )
        )

    def fold(prev: DataFrame | None, cand: DataFrame) -> DataFrame:
        if prev is not None:
            marker = prev.filter(F.col("win") == -1)
            offs = marker.select(key, F.col("n").alias("__off"))
            data_prev = prev.filter(F.col("win") >= 0)
            cand = cand.join(offs, key, "left").na.fill({"__off": 0})
        else:
            marker = None
            data_prev = None
            cand = cand.withColumn("__off", F.lit(0).cast("long"))
        cand = cand.withColumn("__ord", F.col("__rn") + F.col("__off"))
        lo = F.greatest(F.lit(0).cast("long"), F.expr(f"(__ord - {z} + {s}) div {s}"))
        hi = F.expr(f"__ord div {s}")
        # slide > size leaves ordinal gaps owned by NO window: lo > hi
        # there, and sequence() would otherwise emit a DESCENDING range
        part = (
            cand.withColumn("__lo", lo)
            .withColumn("__hi", hi)
            .filter(F.col("__lo") <= F.col("__hi"))
            .withColumn("win", F.explode(F.sequence("__lo", "__hi")))
            .groupBy(key, "win")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("__v").alias("total"),
            )
        )
        if data_prev is not None:
            part = data_prev.unionByName(part)
        merged = part.groupBy(key, "win").agg(
            F.sum("n").cast("long").alias("n"), F.sum("total").alias("total")
        )
        batch_counts = cand.groupBy(key).agg(
            F.count(F.lit(1)).cast("long").alias("__bn")
        )
        if marker is not None:
            new_marker = (
                marker.select(key, F.col("n").alias("__off"))
                .join(batch_counts, key, "full")
                .select(
                    key,
                    F.lit(-1).cast("long").alias("win"),
                    (
                        F.coalesce("__off", F.lit(0))
                        + F.coalesce("__bn", F.lit(0))
                    ).cast("long").alias("n"),
                    F.lit(0.0).alias("total"),
                )
            )
        else:
            new_marker = batch_counts.select(
                key,
                F.lit(-1).cast("long").alias("win"),
                F.col("__bn").alias("n"),
                F.lit(0.0).alias("total"),
            )
        return merged.unionByName(new_marker)

    def close(state: DataFrame):
        done = (F.col("win") >= 0) & (F.col("n") >= z)
        return state.filter(~done), state.filter(done)

    return jvm_keyed_fold(
        stream,
        prepare=prepare,
        fold=fold,
        state_dir=state_dir,
        close=close,
        closed_natural_key=[key, "win"],
        emit=lambda state, closed: (
            closed.select(key, "win", "n", "total")
            if closed is not None
            else state.limit(0).select(key, "win", "n", "total")
        ),
    )


def streaming_top_n_retractable_jvm(
    stream: DataFrame,
    key: str,
    row_key: str,
    order_col: str,
    n: int,
    state_dir: str | None = None,
) -> DataFrame:
    """Update-stream top-n with NO per-key Python path — the
    `jvm_keyed_fold` expression of `streaming_top_n_retractable`
    (`RetractableTopNFunction.java:54` / `UpdatableTopNFunction.java`):
    each (key, row_key) carries a LATEST value; a new value replaces the
    old one (implicit retraction), which can evict it from — or promote it
    into — the top-n.

    fold = keep-latest per (key, row_key) (state wins nothing here — the
    BATCH's last arrival wins, the update-stream contract — so batch rows
    get ascending arrival ids and state rows rank oldest); the rank view
    is computed at emit over the final latest-value map. State is one row
    per live (key, row_key) — exactly the reference operator's data-state
    map; like the reference, rows are retained until retracted upstream.

    Returns the final per-key top-n as a batch DataFrame:
    (key, row_key, order_col, rn)."""
    from pyspark.sql.window import Window

    wlast = Window.partitionBy(key, row_key).orderBy(F.desc("__arr"))

    def fold(prev: DataFrame | None, cand: DataFrame) -> DataFrame:
        if prev is not None:
            cand = prev.withColumn(
                "__arr", F.lit(-1).cast("long")  # batch updates beat state
            ).unionByName(cand)
        return (
            cand.withColumn("__rn", F.row_number().over(wlast))
            .filter(F.col("__rn") == 1)
            .select(key, row_key, order_col)
        )

    def emit(state: DataFrame, closed) -> DataFrame:
        wtop = Window.partitionBy(key).orderBy(
            F.desc(order_col), F.asc(row_key)
        )
        return (
            state.withColumn("rn", F.row_number().over(wtop))
            .filter(F.col("rn") <= n)
            .select(key, row_key, order_col, F.col("rn").cast("int").alias("rn"))
        )

    return jvm_keyed_fold(
        stream,
        prepare=lambda b: b.select(
            key, row_key, F.col(order_col).cast("double").alias(order_col)
        ).withColumn("__arr", F.monotonically_increasing_id()),
        fold=fold,
        state_dir=state_dir,
        emit=emit,
    )


def streaming_misra_gries_jvm(
    stream: DataFrame,
    item_col: str,
    k: int,
    state_dir: str | None = None,
) -> DataFrame:
    """Streaming Misra-Gries(k) frequency summary on `jvm_keyed_fold` —
    the bounded-state hot-item monitor: however large the stream, state is
    ≤ k (item, lower-bound count) rows, and every item with true frequency
    ≥ n/k is GUARANTEED present with undercount ≤ n/(k+1) (Misra & Gries
    1982; merge rule per Agarwal et al., Mergeable Summaries, PODS 2012).
    The streaming use: detecting hot keys (for salting/skew handling) or
    hot tokens on an unbounded stream where exact counting state would
    grow with cardinality.

    Per micro-batch, everything is a Catalyst plan: exact batch counts
    (partial-aggregable groupBy), union with the ≤ k-row state, re-sum,
    rank, subtract the (k+1)-th largest count, keep positives. The rank
    window is global-order but runs on ≤ k + batch-distinct rows — the
    bounded state IS the point.

    Contract note: unlike the other fold shapes, the MG fold is
    deliberately NOT batching-insensitive — the summary's exact contents
    depend on micro-batch boundaries (merge order). What IS
    split-invariant is the guarantee (size bound, undercount bound,
    heavy-hitter superset), property-tested under random chunkings; the
    registered replay query pins a deterministic 3-chunk split that its
    oracle replays merge-by-merge. Batch companion:
    `pipeline/sketches.py::heavy_hitters` (exact recount of the
    candidates)."""
    from pyspark.sql.window import Window

    def prepare(batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy(item_col).agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt")
        )

    def fold(prev: DataFrame | None, prepared: DataFrame) -> DataFrame:
        u = prepared if prev is None else prev.unionByName(prepared)
        s = u.groupBy(item_col).agg(
            F.sum("cnt").cast("bigint").alias("cnt")
        )
        w = Window.orderBy(F.col("cnt").desc(), F.col(item_col).asc())
        r = s.withColumn("__rn", F.row_number().over(w))
        spill = r.agg(
            F.coalesce(
                F.max(F.when(F.col("__rn") == k + 1, F.col("cnt"))),
                F.lit(0).cast("bigint"),
            ).alias("__spill")
        )
        return (
            r.crossJoin(F.broadcast(spill))
            .filter(F.col("cnt") - F.col("__spill") > 0)
            .select(
                item_col,
                (F.col("cnt") - F.col("__spill")).cast("bigint").alias("cnt"),
            )
        )

    return jvm_keyed_fold(
        stream,
        prepare,
        fold,
        state_dir,
    )


def streaming_changelog_agg_jvm(
    stream: DataFrame,
    keys: list[str],
    value_cols: list[str],
    state_dir: str | None = None,
) -> DataFrame:
    """Incremental materialized-view maintenance on `jvm_keyed_fold`: a
    retract-stream GROUP aggregate (COUNT + exact BIGINT SUMs) over a
    RowKind changelog — +I/+U rows accumulate, -U/-D rows retract
    (`GroupAggFunction.java` with retraction input /
    `RowKind.java:32-55`), so the state is always the aggregate of the
    SURVIVING rows, never a full-table recomputation. Per micro-batch
    everything is a Catalyst plan: signed per-key partial deltas
    (map-side combinable), then a sum-merge with the one-row-per-group
    state. Deltas are commutative and associative, so the fold is
    batching-insensitive (the primitive's full contract, unlike the
    deliberately split-dependent Misra-Gries shape). Groups whose count
    retracts to zero drop out at emit. Declared as a `FoldSpec`."""
    sign = "CASE WHEN row_kind IN ('+I', '+U') THEN 1 ELSE -1 END"
    prepare = {"n_rows": f"CAST(sum({sign}) AS BIGINT)"}
    for c in value_cols:
        prepare[f"sum_{c}"] = f"CAST(sum({sign} * `{c}`) AS BIGINT)"
    spec = FoldSpec(
        keys,
        prepare,
        merge={n: f"sum(`{n}`)" for n in prepare},
        emit=lambda state: state.filter(F.col("n_rows") > 0),
    )
    return declarative_keyed_fold(stream, spec, state_dir)


def streaming_hll_jvm(
    stream: DataFrame,
    value_col: str,
    group_cols: list[str],
    state_dir: str | None = None,
    b: int = 6,
) -> DataFrame:
    """Streaming COUNT(DISTINCT) with BOUNDED state on `jvm_keyed_fold`:
    per micro-batch the batch's HLL register table (map-side combinable,
    ≤ 2^b rows per group) merges into the persisted registers by
    per-register MAX — associative, commutative, idempotent, so the fold
    is batching-insensitive AND replay-redelivery-proof by algebra alone.
    State is ≤ 2^b rows per group FOREVER, however many distinct values
    stream past — the reference's bounded-state answer to unbounded
    streaming distinct aggregation (SplitAggregateRule's partial/final
    distinct being the exact-state counterpart). Declared as
    `pipeline/sketches.py::hll_spec`, whose merge leg `hll_merge` shares;
    the estimate finishes identically to the batch sketch
    (`hll_estimate_from_registers`)."""
    from flink_ci_flink_spark.pipeline.sketches import hll_spec

    return declarative_keyed_fold(stream, hll_spec(group_cols, value_col, b), state_dir)


def streaming_countmin_jvm(
    stream: DataFrame,
    value_col: str,
    state_dir: str | None = None,
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Streaming count-min frequency sketch on `jvm_keyed_fold`: each
    micro-batch's d×w partial grid (map-side combinable) merges into the
    persisted grid by per-cell SUM — associative and commutative, so the
    fold is batching-insensitive; state is ≤ depth·width rows FOREVER.
    With `streaming_hll_jvm` (distinct) and `streaming_misra_gries_jvm`
    (top items), this completes the streaming corpus-stats sketch trio
    (`CountMinSketch`-style frequency monitoring over unbounded streams;
    reference scope: SplitAggregateRule's bounded-state aggregation
    problem). Declared as `pipeline/sketches.py::countmin_spec`, whose
    merge leg `countmin_merge` shares. Returns the final sketch grid; point
    estimates finish with `pipeline/sketches.py::countmin_estimate`."""
    from flink_ci_flink_spark.pipeline.sketches import countmin_spec

    spec = countmin_spec(value_col, depth, width)
    return declarative_keyed_fold(stream, spec, state_dir)


def streaming_centroid_refresh_jvm(
    stream: DataFrame,
    centroids: list[list[int]],
    state_dir: str | None = None,
    vec_col: str = "embedding",
) -> DataFrame:
    """Streaming centroid refresh on `jvm_keyed_fold`, declared as a
    `FoldSpec` — the production pattern behind periodic ANN-index
    re-training: a pre-trained fixed-point coarse quantizer (integer
    centroids from
    `similarity.ivf_centroids_fp`) assigns arriving vectors map-only
    (`assign_cells_int_expr` — pure Catalyst, zero Python in the batch
    plan), and the state is each cell's per-position (SUM, COUNT) over
    every vector ever seen: integer partial sums are EXACT in any
    accumulation order, so the fold is batching-insensitive by algebra —
    the streamed refresh equals the one-shot batch means bit-for-bit, and
    a SQL oracle replays it. State is ≤ n_cells x dim rows FOREVER.
    Emits the refreshed fixed-point centroids
    `(cell, pos, mx = floor((2*sum + count) / (2*count)), cnt)` — the
    model-update rows a serving layer would swap in.
    Ref: `StreamExecGroupAggregate`-class bounded-state accumulation;
    the refresh schedule mirrors offline-quantizer IVF maintenance
    (`similarity.streaming_ivf_ingest`)."""
    from flink_ci_flink_spark.pipeline.similarity import (
        assign_cells_int_expr,
        quantize_fp,
    )

    def prepare(batch_df: DataFrame) -> DataFrame:
        q = batch_df.select(quantize_fp(vec_col).alias("__q"))
        cell = assign_cells_int_expr(F.col("__q"), centroids)
        return (
            q.select(cell.alias("cell"), F.posexplode("__q").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.sum("x").alias("sx"), F.count(F.lit(1)).alias("cnt"))
        )

    def emit(state: DataFrame) -> DataFrame:
        return state.select(
            "cell",
            "pos",
            F.floor(
                (F.lit(2.0) * F.col("sx").cast("double") + F.col("cnt"))
                / (F.lit(2.0) * F.col("cnt"))
            ).cast("long").alias("mx"),
            "cnt",
        )

    merge = {"sx": "sum(sx)", "cnt": "sum(cnt)"}
    spec = FoldSpec(["cell", "pos"], prepare, merge, emit)
    return declarative_keyed_fold(stream, spec, state_dir)


def streaming_value_histogram_jvm(
    stream: DataFrame,
    value_col: str,
    group_cols: list[str],
    lo: float,
    width: float,
    n_bins: int,
    state_dir: str | None = None,
) -> DataFrame:
    """Streaming quantile/distribution monitor on `jvm_keyed_fold`,
    declared as a `FoldSpec`, completing the bounded-state monitoring
    quartet (frequency = count-min, distinct = HLL, top items =
    Misra-Gries,
    QUANTILES = this): a fixed equi-width histogram whose per-bin counts
    merge by SUM — associative, commutative, EXACT integer algebra, so
    the fold is batching-insensitive and the streamed histogram is
    bit-equal to the one-shot batch histogram. State is ≤ groups x n_bins
    rows FOREVER; quantile estimates read off the cumulative bin counts
    with error bounded by `width`. Pick `width` a power of two so the
    bin computation `floor((v - lo) / width)` is exact double arithmetic
    (deterministic across engines — SQL-oracle-replayable).
    Ref: bounded-state aggregation (`GroupAggFunction.java`); histogram
    quantile read-off mirrors ANALYZE-style equi-width stats."""
    b = F.least(
        F.lit(n_bins - 1),
        F.greatest(
            F.lit(0).cast("long"),
            F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width)),
        ),
    ).cast("long")
    spec = FoldSpec(
        [*group_cols, "bin"],
        prepare=lambda df: df.groupBy(*group_cols, b.alias("bin")).agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt")
        ),
        merge={"cnt": "sum(cnt)"},
    )
    return declarative_keyed_fold(stream, spec, state_dir)
