"""CEP execution operators: batch (applyInPandas) and streaming
(applyInPandasWithState).

Reference: `cep/operator/CepOperator.java:83` — buffers events per key in
keyed state, sorts by event time as the watermark advances, and runs the NFA
over the ordered prefix. Our streaming operator does exactly that shape:
per-key buffer in group state, matches emitted once they are CLOSED (cannot
extend or be invalidated by later in-window events) at or before
(max event time seen − delay), matched-or-expired prefix pruned, emitted
match identities remembered while their events remain buffered. The batch
operator sorts each key group once and evaluates in a single pass (the
bounded-input degenerate case).

SQL MATCH_RECOGNIZE (`StreamExecMatch.scala:68`) compiles to the same NFA in
the reference; here `match_recognize`-style queries are expressed by
building a Pattern and calling cep() — see queries/cep_q.py.

Scale:
- When every stage carries a SQL expr and the pattern is fixed-length
  strictly contiguous, batch cep() compiles to a pure lead() window plan
  (`cep/compiled.py`) — one shuffle, whole-stage codegen, zero Python.
- Otherwise stage predicates with exprs are evaluated JVM-side into boolean
  columns BEFORE the shuffle (vectorized), so the Python NFA reads
  precomputed booleans; and for patterns with no strict contiguity anywhere,
  pattern-irrelevant events are filtered out before the shuffle entirely.
- One shuffle on the key; per-key buffers bounded by the within-window
  (+ delay) in streaming.
"""

from __future__ import annotations

import hashlib
import json
from collections.abc import Callable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_ci_flink_spark.cep.nfa import (
    Match,
    TimedOutPartial,
    find_matches,
    find_matches_and_timeouts,
)
from flink_ci_flink_spark.cep.pattern import NO_SKIP, Pattern
from flink_ci_flink_spark.operators.grouped import order_spec

#: A select function: (key_tuple, match, events) -> dict of output columns.
SelectFn = Callable[[tuple, "Match", list], dict]

#: measure kinds for the declarative select surface (MATCH_RECOGNIZE
#: MEASURES): (variable, kind, field) — kind in
#: first/last/count/sum/avg/min/max.
MEASURE_FNS = {
    "first": lambda events, idxs, field: events[idxs[0]][field],
    "last": lambda events, idxs, field: events[idxs[-1]][field],
    "count": lambda events, idxs, field: len(idxs),
    "sum": lambda events, idxs, field: sum(events[i][field] for i in idxs),
    "avg": lambda events, idxs, field: sum(events[i][field] for i in idxs)
    / len(idxs),
    "min": lambda events, idxs, field: min(events[i][field] for i in idxs),
    "max": lambda events, idxs, field: max(events[i][field] for i in idxs),
}


def measure_select(measures: dict[str, tuple], keys: list[str]) -> SelectFn:
    def select(key_tuple, match, events):
        out = {k: key_tuple[i] for i, k in enumerate(keys)}
        for out_name, (var, kind, field) in measures.items():
            if kind in ("classifier", "classifier_first"):
                # CLASSIFIER(): pattern variable of the match's last (or
                # first) row (SQL MATCH_RECOGNIZE; ref MatchCodeGenerator's
                # CLASSIFIER support in flink-table-planner-blink)
                want = match.end_idx if kind == "classifier" else match.start_idx
                out[out_name] = next(
                    (v for v, idxs in match.groups.items() if want in idxs), None
                )
                continue
            idxs = match.groups.get(var, [])
            out[out_name] = MEASURE_FNS[kind](events, idxs, field) if idxs else None
        return out

    return select


def timeout_measure_select(measures: dict[str, tuple], keys: list[str]) -> SelectFn:
    """measure_select for timed-out partials: variables the partial never
    reached yield NULL; the extra measure kind ``("", "timeout", "")``
    emits the window-expiry timestamp (epoch seconds) —
    `TimedOutPartialMatchHandler.processTimedOutMatch`'s (match, timestamp)
    pair flattened into columns."""
    base = measure_select(
        {k: v for k, v in measures.items() if v[1] != "timeout"}, keys
    )

    def select(key_tuple, tm: TimedOutPartial, events):
        out = base(key_tuple, tm, events)
        for out_name, (_var, kind, _field) in measures.items():
            if kind == "timeout":
                out[out_name] = tm.timeout_ts
        return out

    return select


def _jvm_predicate_columns(df: DataFrame, pattern: Pattern) -> tuple[DataFrame, Pattern]:
    """Evaluate stage exprs JVM-side into __p{i} boolean columns and swap
    stage predicates for plain column reads. Stages without an expr keep
    their Python predicate."""
    if not any(st.expr is not None for st in pattern.stages):
        return df, pattern
    preds = []
    for i, st in enumerate(pattern.stages):
        if st.expr is not None:
            df = df.withColumn(f"__p{i}", F.coalesce(F.expr(st.expr), F.lit(False)))
            # tolerant of the streaming payload's stringify round-trip,
            # where True arrives as the (truthy-either-way) string "True"
            # and False as "False"
            preds.append(lambda e, c=f"__p{i}": e[c] in (True, "True", "true", 1, "1"))
        else:
            preds.append(st.predicate)
    return df, pattern.copy_with_predicates(preds)


def _relevance_prefilter(df: DataFrame, pattern: Pattern) -> DataFrame:
    """Drop pattern-irrelevant events before the shuffle. Sound only when no
    stage (nor loop repeat) uses strict contiguity — intervening events are
    then invisible to the match — and every predicate (incl. until) has a
    JVM expr so relevance is decidable column-side."""
    exprs = []
    for i, st in enumerate(pattern.stages):
        if st.expr is None or st.ctx_predicate is not None:
            return df
        if i > 0 and st.contiguity == "strict":
            return df
        if st.max_times > 1 and (st.inner_contiguity or "relaxed") == "strict":
            return df
        exprs.append(f"({st.expr})")
        if st.until is not None:
            if st.until_expr is None:
                return df
            exprs.append(f"({st.until_expr})")
    return df.filter(F.expr(" OR ".join(exprs)))


def all_rows_select(
    measures: dict[str, tuple], keys: list[str], payload_cols: list[str]
):
    """ALL ROWS PER MATCH flat-select: one output row PER MATCHED EVENT in
    match order, carrying the event's payload columns, the per-row
    CLASSIFIER (the pattern variable that matched it), a per-key
    MATCH_NUMBER (`match_seq`, 1-based in match order), and every measure
    with RUNNING semantics (aggregated over the match's rows up to and
    including the current one — the SQL-standard default for ALL ROWS).

    The reference THROWS on this mode (`StreamExecMatch.scala:192` — "All
    rows per match mode is not supported yet"), so this is a capability
    beyond reference parity, implemented to the SQL standard. Runs on the
    NFA operator (JVM-evaluated predicates + relevance prefilter); a
    lead()-compiled ALL-ROWS plan for fixed-length strict patterns is a
    possible future fast path."""

    def flat(key_tuple, match_no, match, events):
        idx2var: dict[int, str] = {}
        for var, idxs in match.groups.items():
            for i in idxs:
                idx2var[i] = var
        ordered = sorted(idx2var)
        rows = []
        for i in ordered:
            out = {k: key_tuple[j] for j, k in enumerate(keys)}
            ev = events[i]
            for c in payload_cols:
                out[c] = ev.get(c)
            out["classifier"] = idx2var[i]
            out["match_seq"] = match_no
            for out_name, (var, kind, field) in measures.items():
                if kind == "classifier":
                    out[out_name] = idx2var[i]  # running CLASSIFIER()
                    continue
                if kind == "classifier_first":
                    out[out_name] = idx2var[ordered[0]]
                    continue
                run_idxs = [j for j in match.groups.get(var, []) if j <= i]
                if kind == "count":
                    out[out_name] = len(run_idxs)
                else:
                    out[out_name] = (
                        MEASURE_FNS[kind](events, run_idxs, field)
                        if run_idxs
                        else None
                    )
            rows.append(out)
        return rows

    return flat


def cep(
    df: DataFrame,
    pattern: Pattern,
    keys: list[str],
    ts_col: str,
    select: SelectFn | None = None,
    output_schema: str = "",
    measures: dict[str, tuple] | None = None,
    flat_select=None,
) -> DataFrame:
    """Batch CEP: find all pattern matches per key over event-time order.

    `select` maps each match to an output row (dict); alternatively pass
    declarative `measures` ((variable, first|last|count|sum, field)) — which
    also unlocks the compiled lead() path for qualifying patterns. Pass
    `flat_select(key_tuple, match_no, match, events) -> list[dict]` instead
    to emit multiple rows per match (ALL ROWS PER MATCH). Events are passed
    to predicates as plain dicts; ts is converted to epoch seconds under
    the key `__ts`. ``ts_col`` may be a list ``[time_attribute,
    secondary, ...]`` (MATCH_RECOGNIZE ORDER BY with secondary sort
    columns): the per-key buffer sorts by every column in order. Remaining
    ties are broken by original row order (stable sort)."""
    pattern.validate()
    order_cols = [ts_col] if isinstance(ts_col, str) else list(ts_col)
    ts_col, _ts_desc = order_spec(order_cols[0])
    if _ts_desc:
        raise NotImplementedError(
            "the time attribute (first order column) must be ascending"
        )
    if measures is not None and flat_select is None:
        from flink_ci_flink_spark.cep.compiled import try_compile

        compiled = try_compile(df, pattern, keys, order_cols, measures, output_schema)
        if compiled is not None:
            return compiled
        if select is None:
            select = measure_select(measures, keys)
    assert select is not None or flat_select is not None, (
        "cep() needs select=, measures=, or flat_select="
    )

    df = _relevance_prefilter(df, pattern)
    df, pattern = _jvm_predicate_columns(df, pattern)

    def run(key_tuple, pdf: pd.DataFrame):
        events = pdf.to_dict("records")
        for e in events:
            t = e[ts_col]
            e["__ts"] = t.timestamp() if hasattr(t, "timestamp") else float(t)
        matches = find_matches(pattern, events, ts_field="__ts")
        if flat_select is not None:
            out = [
                row
                for mi, m in enumerate(matches, 1)
                for row in flat_select(key_tuple, mi, m, events)
            ]
        else:
            out = [select(key_tuple, m, events) for m in matches]
        return pd.DataFrame(out) if out else None

    from flink_ci_flink_spark.operators.grouped import grouped_apply

    # sorted-partition mapInPandas: many key groups per Arrow batch instead
    # of one round-trip per group (the applyInPandas per-group-overhead cliff)
    return grouped_apply(df, keys, order_cols, run, output_schema)


def cep_timed_out(
    df: DataFrame,
    pattern: Pattern,
    keys: list[str],
    ts_col: str,
    select: SelectFn | None = None,
    output_schema: str = "",
    measures: dict[str, tuple] | None = None,
) -> DataFrame:
    """Batch CEP timeout SIDE OUTPUT: the partial matches that within()
    expiry pruned, instead of silently discarding them.

    Reference: `PatternStream.java:173-189` (select/flatSelect overloads
    taking a `PatternTimeoutFunction` + side-output tag) and
    `TimedOutPartialMatchHandler.java`. Flink tags these onto a side
    output of the main match stream; here — like DataStream side outputs
    elsewhere in this repo — the side output is materialized by a second
    operator over the same input, sharing the scan logic
    (`find_matches_and_timeouts`). Bounded-input semantics: the final
    watermark advances past every window, so every never-completed
    anchored partial times out (timeout_ts = anchor ts + within).

    `select` receives a `TimedOutPartial` (groups hold only the variables
    reached); or pass declarative `measures` — unreached variables emit
    NULL, and kind ``"timeout"`` emits the expiry timestamp."""
    pattern.validate()
    order_cols = [ts_col] if isinstance(ts_col, str) else list(ts_col)
    ts_col, _ts_desc = order_spec(order_cols[0])
    if _ts_desc:
        raise NotImplementedError(
            "the time attribute (first order column) must be ascending"
        )
    if pattern.within_seconds is None:
        raise ValueError("timeout side output requires pattern.within(...)")
    if measures is not None and select is None:
        from flink_ci_flink_spark.cep.compiled import try_compile_timeouts

        compiled = try_compile_timeouts(
            df, pattern, keys, order_cols, measures, output_schema
        )
        if compiled is not None:
            return compiled
    if select is None:
        assert measures is not None, "cep_timed_out needs select= or measures="
        select = timeout_measure_select(measures, keys)

    df = _relevance_prefilter(df, pattern)
    df, pattern = _jvm_predicate_columns(df, pattern)

    def run(key_tuple, pdf: pd.DataFrame):
        events = pdf.to_dict("records")
        for e in events:
            t = e[ts_col]
            e["__ts"] = t.timestamp() if hasattr(t, "timestamp") else float(t)
        _matches, timeouts = find_matches_and_timeouts(pattern, events, ts_field="__ts")
        out = [select(key_tuple, tm, events) for tm in timeouts]
        return pd.DataFrame(out) if out else None

    from flink_ci_flink_spark.operators.grouped import grouped_apply

    return grouped_apply(df, keys, order_cols, run, output_schema)


def _match_closed(pattern: Pattern, m: Match, events: list[dict], emit_upto: float) -> bool:
    """A match may be emitted only when no later in-window event could extend
    or invalidate it (reference NFA defers greedy emission the same way):

    - trailing stages beyond the last consumed one (optional or negative)
      and unsaturated greedy loops on the last consumed stage keep the match
      open until its within-window expires;
    - otherwise it closes as soon as its last event is at/behind the
      frontier."""
    last_ts = events[m.end_idx]["__ts"]
    if last_ts > emit_upto:
        return False
    stage_idx = {st.name: i for i, st in enumerate(pattern.stages)}
    last_si = max(stage_idx[name] for name in m.groups)
    open_ended = last_si < len(pattern.stages) - 1  # trailing optional/negative
    last_st = pattern.stages[last_si]
    if last_st.greedy and len(m.groups[last_st.name]) < last_st.max_times:
        open_ended = True
    if not open_ended:
        return True
    t0 = events[m.start_idx]["__ts"]
    return t0 + pattern.within_seconds <= emit_upto


def _match_identity(m: Match, events: list[dict], payloads: list[str]) -> str:
    """Content-based identity, stable across micro-batches (indices are not:
    the buffer is re-sorted as events arrive)."""
    body = json.dumps(
        sorted(
            (name, [(events[i]["__ts"], payloads[i]) for i in idxs])
            for name, idxs in m.groups.items()
        ),
        default=str,
    )
    return hashlib.md5(body.encode()).hexdigest()


def _jsonable(v):
    """JSON-encodable payload value PRESERVING type: numpy scalars unbox,
    timestamps stringify, numbers stay numbers (a stringified payload would
    silently break numeric predicates and navigation in streaming CEP)."""
    if v is None:
        return None
    if hasattr(v, "item"):  # numpy scalar
        v = v.item()
    if isinstance(v, (bool, int, float, str)):
        return v
    return str(v)


def cep_stream(
    df: DataFrame,
    pattern: Pattern,
    keys: list[str],
    ts_col: str,
    select: SelectFn,
    output_schema: str,
    delay_seconds: float = 0.0,
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """Streaming CEP over a keyed stream (CepOperator analog).

    Buffers events in group state; a match is emitted once it is closed
    (`_match_closed`) relative to (max event time observed for the key −
    delay_seconds) — the per-key watermark proxy. Buffer entries older than
    the emit frontier minus the pattern's within-window are pruned.
    Exactly-once emission via content-based match identities held in state
    while the match's events remain buffered."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    pattern.validate()
    order_cols = [ts_col] if isinstance(ts_col, str) else list(ts_col)
    ts_col, _ts_desc = order_spec(order_cols[0])
    if _ts_desc:
        raise NotImplementedError(
            "the time attribute (first order column) must be ascending"
        )
    extra_order = order_cols[1:]
    # expr-only stages (SQL front end) have predicate=None, which the NFA
    # treats as match-anything — evaluate exprs JVM-side here exactly as the
    # batch operator does; the __p{i} columns ride along in the payload
    df, pattern = _jvm_predicate_columns(df, pattern)
    payload_cols = payload_cols or [c for c in df.columns if c not in keys]
    if pattern.within_seconds is None:
        raise ValueError(
            "cep_stream requires pattern.within(...) — it bounds per-key state"
        )
    within = pattern.within_seconds
    state_schema = "ts array<double>, payload array<string>, emitted array<string>"

    def run(key_tuple, pdf_iter, state):
        if state.exists:
            ts_list, payload, emitted = state.get
            ts_list = list(ts_list)
            payload = list(payload)
            emitted = list(emitted)
        else:
            ts_list, payload, emitted = [], [], []
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            tvals = pdf[ts_col].map(
                lambda t: t.timestamp() if hasattr(t, "timestamp") else float(t)
            )
            recs = [
                {k: _jsonable(v) for k, v in r.items()}
                for r in pdf[payload_cols].to_dict("records")
            ]
            ts_list.extend(float(t) for t in tvals)
            payload.extend(json.dumps(r) for r in recs)
        parsed = [json.loads(pj) for pj in payload]
        # buffer order = (time attribute, *secondary sort cols), arrival
        # order breaking remaining ties (stable sort). Directed secondary
        # specs ("col DESC") sort by stable passes, LAST key first — each
        # pass preserves prior-pass ties, matching Spark's multi-column
        # sort. NULL handling mirrors Spark defaults (asc: NULLS FIRST,
        # desc: NULLS LAST) via a presence flag — a bare None would
        # TypeError against non-null values.
        order = list(range(len(ts_list)))
        for spec in reversed(extra_order):
            name, desc = order_spec(spec)
            order.sort(
                key=lambda i: (
                    parsed[i].get(name) is not None,
                    parsed[i][name] if parsed[i].get(name) is not None else 0,
                ),
                reverse=desc,
            )
        order.sort(key=lambda i: ts_list[i])
        ts_list = [ts_list[i] for i in order]
        payload = [payload[i] for i in order]
        parsed = [parsed[i] for i in order]
        max_ts = ts_list[-1] if ts_list else float("-inf")
        emit_upto = max_ts - delay_seconds

        events = []
        for tsec, e in zip(ts_list, parsed):
            e["__ts"] = tsec
            events.append(e)
        emitted_set = set(emitted)
        out = []
        new_idents: list[tuple[float, str]] = []
        for m in find_matches(pattern, events, ts_field="__ts"):
            if not _match_closed(pattern, m, events, emit_upto):
                continue
            ident = f"{events[m.start_idx]['__ts']}:{_match_identity(m, events, payload)}"
            if ident in emitted_set:
                continue
            emitted_set.add(ident)
            new_idents.append((events[m.start_idx]["__ts"], ident))
            out.append(select(key_tuple, m, events))
        keep_from = emit_upto - within
        kept = [(t, p) for t, p in zip(ts_list, payload) if t >= keep_from]
        # an identity is re-findable only while its anchor event is buffered
        kept_idents = [
            ident
            for ident in emitted
            if float(ident.split(":", 1)[0]) >= keep_from
        ] + [ident for t0, ident in new_idents if t0 >= keep_from]
        state.update(
            ([t for t, _ in kept], [p for _, p in kept], kept_idents)
        )
        yield pd.DataFrame(out) if out else pd.DataFrame(
            {c: [] for c in _schema_cols(output_schema)}
        )

    return df.groupBy(*keys).applyInPandasWithState(
        run, output_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def cep_stream_timed_out(
    df: DataFrame,
    pattern: Pattern,
    keys: list[str],
    ts_col: str,
    select: SelectFn,
    output_schema: str,
    delay_seconds: float = 0.0,
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """Streaming CEP timeout side output (the stream analog of
    `cep_timed_out`; `PatternStream.flatSelect(outputTag, timeoutFn, ...)`).

    Same keyed buffer as `cep_stream`; a timed-out partial becomes FINAL
    once its window provably expired at the per-key frontier
    (timeout_ts <= max event time − delay): with out-of-orderness bounded
    by `delay_seconds`, every event that could still have completed the
    run has already arrived, so the no-match verdict cannot be revised.
    Exactly-once via anchored content identities held while the anchor
    stays buffered (entries at exactly the expiry boundary survive one
    more batch)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    pattern.validate()
    order_cols = [ts_col] if isinstance(ts_col, str) else list(ts_col)
    ts_col, _ts_desc = order_spec(order_cols[0])
    if _ts_desc:
        raise NotImplementedError(
            "the time attribute (first order column) must be ascending"
        )
    extra_order = order_cols[1:]
    if pattern.within_seconds is None:
        raise ValueError("timeout side output requires pattern.within(...)")
    df, pattern = _jvm_predicate_columns(df, pattern)
    payload_cols = payload_cols or [c for c in df.columns if c not in keys]
    within = pattern.within_seconds
    state_schema = "ts array<double>, payload array<string>, emitted array<string>"

    def run(key_tuple, pdf_iter, state):
        if state.exists:
            ts_list, payload, emitted = state.get
            ts_list, payload, emitted = list(ts_list), list(payload), list(emitted)
        else:
            ts_list, payload, emitted = [], [], []
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            tvals = pdf[ts_col].map(
                lambda t: t.timestamp() if hasattr(t, "timestamp") else float(t)
            )
            recs = [
                {k: _jsonable(v) for k, v in r.items()}
                for r in pdf[payload_cols].to_dict("records")
            ]
            ts_list.extend(float(t) for t in tvals)
            payload.extend(json.dumps(r) for r in recs)
        parsed = [json.loads(pj) for pj in payload]
        # buffer order = (time attribute, *secondary sort cols), arrival
        # order breaking remaining ties (stable sort). Directed secondary
        # specs ("col DESC") sort by stable passes, LAST key first — each
        # pass preserves prior-pass ties, matching Spark's multi-column
        # sort. NULL handling mirrors Spark defaults (asc: NULLS FIRST,
        # desc: NULLS LAST) via a presence flag — a bare None would
        # TypeError against non-null values.
        order = list(range(len(ts_list)))
        for spec in reversed(extra_order):
            name, desc = order_spec(spec)
            order.sort(
                key=lambda i: (
                    parsed[i].get(name) is not None,
                    parsed[i][name] if parsed[i].get(name) is not None else 0,
                ),
                reverse=desc,
            )
        order.sort(key=lambda i: ts_list[i])
        ts_list = [ts_list[i] for i in order]
        payload = [payload[i] for i in order]
        parsed = [parsed[i] for i in order]
        max_ts = ts_list[-1] if ts_list else float("-inf")
        emit_upto = max_ts - delay_seconds

        events = []
        for tsec, e in zip(ts_list, parsed):
            e["__ts"] = tsec
            events.append(e)
        _matches, timeouts = find_matches_and_timeouts(pattern, events, ts_field="__ts")
        emitted_set = set(emitted)
        out = []
        new_idents: list[tuple[float, str]] = []
        for tm in timeouts:
            if tm.timeout_ts > emit_upto:
                continue  # window not yet expired at the frontier
            t0 = events[tm.start_idx]["__ts"]
            ident = f"{t0}:{_match_identity(tm, events, payload)}"
            if ident in emitted_set:
                continue
            emitted_set.add(ident)
            new_idents.append((t0, ident))
            out.append(select(key_tuple, tm, events))
        keep_from = emit_upto - within
        kept = [(t, p) for t, p in zip(ts_list, payload) if t >= keep_from]
        kept_idents = [
            ident for ident in emitted if float(ident.split(":", 1)[0]) >= keep_from
        ] + [ident for t0, ident in new_idents if t0 >= keep_from]
        state.update(([t for t, _ in kept], [p for _, p in kept], kept_idents))
        yield pd.DataFrame(out) if out else pd.DataFrame(
            {c: [] for c in _schema_cols(output_schema)}
        )

    return df.groupBy(*keys).applyInPandasWithState(
        run, output_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def _schema_cols(schema: str) -> list[str]:
    return [part.strip().split()[0] for part in schema.split(",")]


def cep_stream_replay(
    stream: DataFrame,
    pattern: Pattern,
    keys: list[str],
    ts_col,
    select: SelectFn | None = None,
    output_schema: str = "",
    state_dir: str | None = None,
    measures: dict[str, tuple] | None = None,
    delay_seconds: float = 0.0,
    prepare=None,
    extra_tail_rows: int = 0,
) -> DataFrame:
    """Streaming CEP by foreachBatch RE-PLAN over a versioned parquet
    buffer — the wrapper that lifts the ENTIRE batch operator surface
    (including plan-side derived columns a per-key state operator cannot
    compute, e.g. PREV physical navigation = lag() over the buffer) onto a
    bounded stream.

    Per micro-batch: buffered suffix ∪ new rows → ``prepare`` (optional
    plan builder, e.g. the MATCH_RECOGNIZE nav lag columns — recomputed
    over the WHOLE buffer each batch, so lag reaches across micro-batch
    boundaries, which is exactly what the ingest-time predicate columns of
    `cep_stream` cannot do) → the batch NFA (`cep`, sorted-partition
    mapInPandas) → emit matches CLOSED at the per-key frontier
    (`_match_closed`, max event time − delay) whose content identity has
    not already been emitted. Identities hash the partition key plus the
    per-variable event-time lists (repo-wide streaming assumption:
    distinct event times per key) and are retained while their
    anchor stays inside the buffer window; buffer pruning keeps each key's
    rows above frontier − within plus ``extra_tail_rows`` older rows (the
    lag context of the kept region). State versions by batch_id
    (`streaming.core.VersionedState`); emitted rows go to an
    `append_epoch` store.

    NOTE on prune-boundary semantics: a retained tail row recomputes any
    ``prepare``-derived lag value over the PRUNED buffer, so a real lag
    value can become NULL mid-stream. Predicates must therefore be
    NULL-REJECTING on lag references (<, >, =, …) — then the spurious NULL
    evaluates false and matches agree with the one-shot batch run; 'IS
    NULL' or negated lag predicates would spuriously match at the prune
    boundary (the MATCH_RECOGNIZE front end rejects those on streams).

    Trade vs the reference's incremental `CepOperator`: recompute per
    micro-batch over a WITHIN-bounded buffer instead of incremental NFA
    state — more work per batch, zero per-row Python on the plan side of
    `prepare`, and the full batch feature surface for free. Requires
    ``pattern.within(...)`` (bounds the buffer). Runs the bounded stream to
    completion and returns the emitted rows as a batch DataFrame."""
    pattern.validate()
    order_cols = [ts_col] if isinstance(ts_col, str) else list(ts_col)
    ts_col, _ts_desc = order_spec(order_cols[0])
    if _ts_desc:
        raise NotImplementedError(
            "the time attribute (first order column) must be ascending"
        )
    if pattern.within_seconds is None:
        raise ValueError(
            "cep_stream_replay requires pattern.within(...) — it bounds "
            "the per-key buffer"
        )
    if pattern.after_match != NO_SKIP:
        # stateful skip strategies (PAST LAST ROW / TO FIRST / TO LAST)
        # thread alignment across matches: pruning the buffer at a time
        # boundary would restart the skip walk mid-stream and admit
        # overlapping matches a one-shot run would suppress. Anchor-local
        # strategies (NO_SKIP, which SKIP TO NEXT ROW maps to — every
        # anchor evaluated independently) are immune.
        raise NotImplementedError(
            "cep_stream_replay supports anchor-local AFTER MATCH "
            "strategies only (no_skip / skip to next row); stateful skip "
            "alignment does not survive the buffer's time-boundary prune"
        )
    if select is None:
        assert measures is not None, "cep_stream_replay needs select= or measures="
        select = measure_select(measures, keys)
    within = float(pattern.within_seconds)
    from flink_ci_flink_spark.functions.scalar import epoch_seconds
    from flink_ci_flink_spark.streaming.core import (
        VersionedState,
        append_epoch,
        drain_foreach_batch,
        read_epochs,
    )

    spark = stream.sparkSession
    cols = list(stream.columns)
    versions = VersionedState(spark, state_dir, "buf_v", "idents_v")
    ext_schema = output_schema + ", __ident string, __t0 double"

    def flat(key_tuple, mi, m, events):
        emit_upto = max(e["__ts"] for e in events) - delay_seconds
        if not _match_closed(pattern, m, events, emit_upto):
            return []
        # identity must include the partition key: dedup downstream is
        # GLOBAL (left_anti on __ident + final dropDuplicates(['__ident'])),
        # so two keys whose matches share identical per-variable timestamps
        # would otherwise collide and one match would be silently dropped
        ident = hashlib.md5(
            json.dumps(
                [
                    list(key_tuple),
                    sorted(
                        (name, [events[i]["__ts"] for i in idxs])
                        for name, idxs in m.groups.items()
                    ),
                ],
                default=str,
            ).encode()
        ).hexdigest()
        row = dict(select(key_tuple, m, events))
        row["__ident"] = ident
        row["__t0"] = float(events[m.start_idx]["__ts"])
        return [row]

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        # a redelivered batch N re-reads its on-disk predecessor and
        # regenerates its buffer/idents instead of double-merging its own
        # output into the buffer (`VersionedState`)
        with versions.batch(batch_id) as prev_id:
            step(batch_df, batch_id, prev_id)

    def step(batch_df: DataFrame, batch_id: int, prev_id: int | None) -> None:
        buf = batch_df.select(*cols)
        if prev_id is not None:
            buf = versions.read("buf_v", prev_id).unionByName(buf)
        buf = buf.localCheckpoint(eager=True)
        work = prepare(buf) if prepare is not None else buf
        res = None
        if measures is not None:
            # fixed-length all-positive patterns run the pure lead() plan
            # per batch (zero Python; closedness + __ident/__t0 computed
            # plan-side) — data-independent gating, so the same path (and
            # the same ident scheme) runs EVERY batch of a query
            from flink_ci_flink_spark.cep.compiled import try_compile

            res = try_compile(
                work, pattern, keys, order_cols, measures, output_schema,
                replay_delay=delay_seconds,
            )
        if res is None:
            res = cep(
                work, pattern, keys, order_cols, flat_select=flat,
                output_schema=ext_schema,
            )
        res = res.localCheckpoint(eager=True)
        prev_idents = versions.read("idents_v", prev_id)
        new = res
        if prev_idents is not None:
            new = res.join(prev_idents.select("__ident"), "__ident", "left_anti")
        append_epoch(new, f"{versions.dir}/out", batch_id)
        # per-key frontier from the buffer; prune idents + buffer to the
        # within-window (+ lag context rows)
        tsec = epoch_seconds(buf, ts_col)
        fr = (
            buf.withColumn("__tsec", tsec)
            .groupBy(*keys)
            .agg(
                (F.max("__tsec") - F.lit(delay_seconds) - F.lit(within)).alias(
                    "__keep_from"
                )
            )
        )
        idents = res.select(*keys, "__ident", "__t0")
        if prev_idents is not None:
            idents = prev_idents.unionByName(idents).dropDuplicates(["__ident"])
        versions.write(
            idents.join(fr, keys)
            .filter(F.col("__t0") >= F.col("__keep_from"))
            .select(*keys, "__ident", "__t0"),
            "idents_v",
            batch_id,
        )
        from pyspark.sql.window import Window as _W

        below_rank = F.row_number().over(
            _W.partitionBy(*keys).orderBy(F.desc("__tsec"))
        )
        pruned = (
            buf.withColumn("__tsec", tsec)
            .join(fr, keys)
            .withColumn(
                "__keep",
                (F.col("__tsec") >= F.col("__keep_from"))
                | (
                    below_rank
                    <= F.lit(int(extra_tail_rows))
                    + F.sum(
                        F.when(
                            F.col("__tsec") >= F.col("__keep_from"), 1
                        ).otherwise(0)
                    ).over(_W.partitionBy(*keys))
                ),
            )
            .filter("__keep")
            .select(*cols)
        )
        versions.write(pruned, "buf_v", batch_id)

    drain_foreach_batch(stream, merge)
    out_cols = [p.strip().split()[0] for p in output_schema.split(",")]
    return read_epochs(
        spark, f"{versions.dir}/out", ["__ident"], ext_schema
    ).select(*out_cols)
