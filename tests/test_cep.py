"""CEP matcher semantics: combinators, skip strategies, streaming parity."""

from __future__ import annotations

from flink_ci_flink_spark.cep import NO_SKIP, SKIP_PAST_LAST, Pattern, find_matches
from tests.replay import stage_chunks


def ev(t, typ):
    return {"__ts": float(t), "type": typ}


def seq(*types):
    return [ev(i, x) for i, x in enumerate(types)]


def typed(name):
    return lambda e, n=name: e["type"] == n


def test_strict_next():
    p = Pattern.begin("a", typed("A")).next("b", typed("B"))
    ms = find_matches(p, seq("A", "B", "A", "C", "A", "B"), "__ts")
    assert [(m.start_idx, m.end_idx) for m in ms] == [(0, 1), (4, 5)]


def test_followed_by_relaxed():
    p = Pattern.begin("a", typed("A")).followed_by("b", typed("B"))
    ms = find_matches(p, seq("A", "C", "C", "B"), "__ts")
    assert [(m.start_idx, m.end_idx) for m in ms] == [(0, 3)]


def test_times_quantifier():
    p = Pattern.begin("a", typed("A")).times(2, 3).next("b", typed("B"))
    # greedy: takes 3 A's from anchor 0; NO_SKIP also matches anchor 1 ([1,2])
    ms = find_matches(p, seq("A", "A", "A", "B"), "__ts")
    assert len(ms) == 2
    assert ms[0].groups["a"] == [0, 1, 2]
    assert ms[1].groups["a"] == [1, 2]
    # SKIP_PAST_LAST consumes the matched events → single match
    p_skip = (
        Pattern.begin("a", typed("A")).times(2, 3).next("b", typed("B"))
        .after_match_skip(SKIP_PAST_LAST)
    )
    assert len(find_matches(p_skip, seq("A", "A", "A", "B"), "__ts")) == 1
    # min 2 still matches
    ms = find_matches(p, seq("A", "A", "B"), "__ts")
    assert len(ms) == 1 and ms[0].groups["a"] == [0, 1]
    # 1 A does not
    assert find_matches(p, seq("A", "B"), "__ts") == []


def test_optional_stage():
    p = Pattern.begin("a", typed("A")).next("b", typed("B")).optional_().next(
        "c", typed("C")
    )
    ms = find_matches(p, seq("A", "C"), "__ts")
    assert len(ms) == 1 and "b" not in ms[0].groups
    ms = find_matches(p, seq("A", "B", "C"), "__ts")
    assert len(ms) == 1 and ms[0].groups["b"] == [1]


def test_within_window():
    p = Pattern.begin("a", typed("A")).followed_by("b", typed("B")).within(2)
    events = [ev(0, "A"), ev(5, "B")]
    assert find_matches(p, events, "__ts") == []
    events = [ev(0, "A"), ev(1.5, "B")]
    assert len(find_matches(p, events, "__ts")) == 1


def test_skip_strategies():
    p = Pattern.begin("a", typed("A")).next("b", typed("A"))
    # A A A: NO_SKIP → (0,1),(1,2); SKIP_PAST_LAST → (0,1) only
    assert len(find_matches(p, seq("A", "A", "A"), "__ts")) == 2
    p2 = Pattern.begin("a", typed("A")).next("b", typed("A")).after_match_skip(
        SKIP_PAST_LAST
    )
    assert len(find_matches(p2, seq("A", "A", "A"), "__ts")) == 1


def test_or_predicate():
    p = Pattern.begin("a", typed("A")).or_(typed("B")).next("c", typed("C"))
    ms = find_matches(p, seq("B", "C", "A", "C"), "__ts")
    assert [(m.start_idx, m.end_idx) for m in ms] == [(0, 1), (2, 3)]


def test_streaming_cep_matches_batch(spark, sf_dir):
    """cep_stream over micro-batch replay == batch cep (delay=0, data ordered)."""
    from pyspark.sql import functions as F

    from flink_ci_flink_spark.catalog import load_tables
    from flink_ci_flink_spark.cep import cep, cep_stream
    from flink_ci_flink_spark.streaming import file_stream, run_to_completion

    t = load_tables(spark, sf_dir)
    ev_df = t.events.select("user_id", "event_id", "ts", "event_type").orderBy("ts")
    rows = ev_df.collect()
    third = len(rows) // 3
    chunks = [rows[:third], rows[third : 2 * third], rows[2 * third :]]
    tmp = stage_chunks(spark, chunks, ev_df.schema)

    pat = (
        Pattern.begin("a", where=lambda e: e["event_type"] == "click")
        .next("b", where=lambda e: e["event_type"] == "purchase")
        .within(259200)
        .after_match_skip(NO_SKIP)
    )

    def select(key, m, events):
        return {
            "user_id": int(key[0]),
            "start_id": int(events[m.groups["a"][0]]["event_id"]),
            "end_id": int(events[m.groups["b"][0]]["event_id"]),
        }

    schema_out = "user_id long, start_id long, end_id long"
    batch = {
        (r.user_id, r.start_id, r.end_id)
        for r in cep(ev_df, pat, ["user_id"], "ts", select, schema_out).collect()
    }

    stream = file_stream(spark, tmp, ev_df.schema, max_files_per_trigger=1)
    out = cep_stream(stream, pat, ["user_id"], "ts", select, schema_out)
    result = run_to_completion(out)
    streamed = {
        (r.user_id, r.start_id, r.end_id) for r in result.collect()
    }
    # delay=0: every match whose last event is <= the key's max seen ts
    # emits; the final batch flushes everything
    assert streamed == batch


# -- new combinators (round 2): negatives, until, any-contiguity, skips ------


def test_not_next():
    """notNext (Pattern.java:304): event directly after the previous stage
    must not match."""
    p = Pattern.begin("a", typed("A")).not_next("nb", typed("B")).followed_by(
        "c", typed("C")
    )
    assert find_matches(p, seq("A", "B", "C"), "__ts") == []
    ms = find_matches(p, seq("A", "D", "C"), "__ts")
    assert [(m.start_idx, m.end_idx) for m in ms] == [(0, 2)]
    # notNext only tests the immediate successor: B later in the gap is fine
    ms = find_matches(p, seq("A", "D", "B", "C"), "__ts")
    assert [(m.start_idx, m.end_idx) for m in ms] == [(0, 3)]


def test_not_followed_by_middle():
    """notFollowedBy (Pattern.java:273): no matching event anywhere in the
    gap before the next positive stage."""
    p = Pattern.begin("a", typed("A")).not_followed_by("nb", typed("B")).followed_by(
        "c", typed("C")
    )
    assert find_matches(p, seq("A", "B", "C"), "__ts") == []
    assert find_matches(p, seq("A", "D", "B", "C"), "__ts") == []
    ms = find_matches(p, seq("A", "D", "C", "B"), "__ts")
    assert [(m.start_idx, m.end_idx) for m in ms] == [(0, 2)]


def test_not_followed_by_trailing_absence():
    """Trailing notFollowedBy = absence detection; requires within() (the
    reference imposes the same constraint)."""
    import pytest

    p_bad = Pattern.begin("a", typed("A")).not_followed_by("nb", typed("B"))
    with pytest.raises(ValueError):
        find_matches(p_bad, seq("A"), "__ts")

    p = Pattern.begin("a", typed("A")).not_followed_by("nb", typed("B")).within(10)
    # B inside the window kills the match
    assert find_matches(p, [ev(0, "A"), ev(5, "B")], "__ts") == []
    # B outside the window does not
    ms = find_matches(p, [ev(0, "A"), ev(20, "B")], "__ts")
    assert len(ms) == 1 and ms[0].groups == {"a": [0]}
    # pure absence matches
    assert len(find_matches(p, [ev(0, "A")], "__ts")) == 1


def test_until_stops_loop():
    """until (Pattern.java:220): events from the first until-match onward are
    not accepted into the loop."""
    p = (
        Pattern.begin("a", typed("A")).one_or_more().until_(typed("X"))
        .followed_by("b", typed("B"))
    )
    ms = find_matches(p, seq("A", "A", "X", "A", "B"), "__ts")
    # greedy loop takes A0, A1 but X blocks A3
    assert ms[0].groups["a"] == [0, 1]


def test_followed_by_any_branches():
    """followedByAny (Pattern.java:322): every later matching event opens a
    branch, not just the first."""
    p = Pattern.begin("a", typed("A")).followed_by_any("b", typed("B"))
    ms = find_matches(p, seq("A", "B", "C", "B"), "__ts")
    assert sorted(m.groups["b"] for m in ms) == [[1], [3]]


def test_consecutive_inner_contiguity():
    """consecutive (Pattern.java:480) applies between loop repeats."""
    p_rel = Pattern.begin("a", typed("A")).times(2).followed_by("b", typed("B"))
    assert len(find_matches(p_rel, seq("A", "C", "A", "B"), "__ts")) == 1
    p_con = (
        Pattern.begin("a", typed("A")).times(2).consecutive_()
        .followed_by("b", typed("B"))
    )
    assert find_matches(p_con, seq("A", "C", "A", "B"), "__ts") == []
    ms = find_matches(p_con, seq("A", "A", "B"), "__ts")
    assert ms[0].groups["a"] == [0, 1]


def test_allow_combinations():
    """allowCombinations (Pattern.java:441): all subsets of loop events, like
    the reference's COMBINATIONS quantifier mode."""
    p = (
        Pattern.begin("a", typed("A")).one_or_more().allow_combinations_()
        .followed_by("b", typed("B"))
    )
    ms = find_matches(p, seq("A", "A", "B"), "__ts")
    assert sorted(m.groups["a"] for m in ms) == [[0], [0, 1], [1]]


def test_skip_to_first_last():
    """SKIP_TO_FIRST / SKIP_TO_LAST (nfa/aftermatch/) on the doc example
    a+ b over A A A B."""
    from flink_ci_flink_spark.cep import SKIP_TO_FIRST, SKIP_TO_LAST

    def mk():
        return Pattern.begin("a", typed("A")).one_or_more().followed_by(
            "b", typed("B")
        )

    assert len(find_matches(mk(), seq("A", "A", "A", "B"), "__ts")) == 3  # NO_SKIP
    assert (
        len(
            find_matches(
                mk().after_match_skip(SKIP_PAST_LAST), seq("A", "A", "A", "B"), "__ts"
            )
        )
        == 1
    )
    ms = find_matches(
        mk().after_match_skip(SKIP_TO_LAST, "a"), seq("A", "A", "A", "B"), "__ts"
    )
    assert [m.groups["a"] for m in ms] == [[0, 1, 2], [2]]
    ms = find_matches(
        mk().after_match_skip(SKIP_TO_FIRST, "a"), seq("A", "A", "A", "B"), "__ts"
    )
    assert [m.groups["a"] for m in ms] == [[0, 1, 2], [1, 2], [2]]


def test_optional_first_stage():
    """A? B matches when the optional head is absent (reference optional()
    semantics — the match anchors on the first consumed event)."""
    p = Pattern.begin("a", typed("A")).optional_().next("b", typed("B"))
    ms = find_matches(p, seq("B"), "__ts")
    assert len(ms) == 1 and ms[0].groups == {"b": [0]}
    ms = find_matches(p, seq("A", "B"), "__ts")
    assert [m.groups for m in ms] == [{"a": [0], "b": [1]}, {"b": [1]}]


def test_subtype_narrowing():
    p = Pattern.begin("a", typed("A")).subtype(lambda e: e["__ts"] >= 1).next(
        "b", typed("B")
    )
    ms = find_matches(p, seq("A", "A", "B"), "__ts")
    assert [(m.start_idx, m.end_idx) for m in ms] == [(1, 2)]


def test_compiled_path_equals_nfa(spark, sf_dir):
    """Fixed-length strict patterns with exprs compile to a lead() window
    plan (cep/compiled.py); results must equal the Python-NFA path."""
    from flink_ci_flink_spark.catalog import load_tables
    from flink_ci_flink_spark.cep import cep, measure_select
    from flink_ci_flink_spark.cep.compiled import try_compile

    t = load_tables(spark, sf_dir)
    ev_df = t.events.select("user_id", "event_id", "ts", "event_type")

    def mk(with_expr: bool):
        kw = (lambda s: {"expr": s}) if with_expr else (lambda s: {})
        return (
            Pattern.begin(
                "a", lambda e: e["event_type"] == "click", **kw("event_type = 'click'")
            )
            .next(
                "b", lambda e: e["event_type"] == "purchase", **kw("event_type = 'purchase'")
            )
            .within(259200)
        )

    measures = {
        "start_id": ("a", "first", "event_id"),
        "end_id": ("b", "last", "event_id"),
    }
    schema = "user_id long, start_id long, end_id long"
    # the expr'd pattern must actually take the compiled path
    assert (
        try_compile(ev_df, mk(True), ["user_id"], "ts", measures, schema) is not None
    )
    compiled = cep(ev_df, mk(True), ["user_id"], "ts", output_schema=schema, measures=measures)
    # no Python evaluation anywhere in the compiled plan
    plan = compiled._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan and "ArrowEvalPython" not in plan
    nfa = cep(
        ev_df,
        mk(False),
        ["user_id"],
        "ts",
        select=measure_select(measures, ["user_id"]),
        output_schema=schema,
    )
    key = lambda r: (r.user_id, r.start_id, r.end_id)  # noqa: E731
    assert sorted(map(key, compiled.collect())) == sorted(map(key, nfa.collect()))


def test_compiled_negative_and_repeat(spark, sf_dir):
    """Compiled path handles times(n).consecutive_() and not_next."""
    from flink_ci_flink_spark.catalog import load_tables
    from flink_ci_flink_spark.cep import cep, measure_select

    t = load_tables(spark, sf_dir)
    ev_df = t.events.select("user_id", "event_id", "ts", "event_type")
    measures = {"first_id": ("a", "first", "event_id"), "n": ("a", "count", None)}
    schema = "user_id long, first_id long, n long"

    def mk(with_expr: bool):
        kw = (lambda s: {"expr": s}) if with_expr else (lambda s: {})
        return (
            Pattern.begin(
                "a", lambda e: e["event_type"] == "view", **kw("event_type = 'view'")
            )
            .times(2)
            .consecutive_()
            .not_next("nb", lambda e: e["event_type"] == "error", **kw("event_type = 'error'"))
            .within(259200)
        )

    compiled = cep(ev_df, mk(True), ["user_id"], "ts", output_schema=schema, measures=measures)
    plan = compiled._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan
    nfa = cep(
        ev_df,
        mk(False),
        ["user_id"],
        "ts",
        select=measure_select(measures, ["user_id"]),
        output_schema=schema,
    )
    key = lambda r: (r.user_id, r.first_id, r.n)  # noqa: E731
    assert sorted(map(key, compiled.collect())) == sorted(map(key, nfa.collect()))


def test_streaming_greedy_defers_until_closed(spark):
    """A greedy one_or_more match must not emit while it could still extend
    (reference NFA defers greedy emission); it emits exactly once, in its
    maximal form, after the within-window expires."""
    from flink_ci_flink_spark.cep import cep_stream
    from flink_ci_flink_spark.streaming import file_stream, run_to_completion

    schema = "user_id long, event_id long, ts double, event_type string"
    rows1 = [(1, 10, 0.0, "A"), (1, 11, 1.0, "B")]
    rows2 = [(1, 12, 2.0, "B")]
    rows3 = [(1, 13, 30.0, "X")]  # pushes the frontier past within=10
    tmp = stage_chunks(spark, [rows1, rows2, rows3], schema)

    pat = (
        Pattern.begin("a", typed2("A"))
        .followed_by("b", typed2("B"))
        .one_or_more(max_times=4)
        .within(10)
    )

    def select(key, m, events):
        return {
            "user_id": int(key[0]),
            "n_b": len(m.groups["b"]),
        }

    stream = file_stream(
        spark,
        tmp,
        spark.createDataFrame([], schema).schema,
        max_files_per_trigger=1,
    )
    out = cep_stream(stream, pat, ["user_id"], "ts", select, "user_id long, n_b long")
    result = run_to_completion(out)
    got = [(r.user_id, r.n_b) for r in result.collect()]
    # exactly one emission, the maximal greedy match (both B's)
    assert got == [(1, 2)]


def typed2(name):
    return lambda e, n=name: e["event_type"] == n


def test_compiled_absence_equals_nfa(spark, sf_dir):
    """Trailing not_followed_by compiles to a next-negative-event window
    check; must equal the NFA path."""
    from flink_ci_flink_spark.catalog import load_tables
    from flink_ci_flink_spark.cep import cep, measure_select
    from flink_ci_flink_spark.cep.compiled import try_compile

    t = load_tables(spark, sf_dir)
    ev_df = t.events.select("user_id", "event_id", "ts", "event_type")

    def mk(with_expr: bool):
        kw = (lambda s: {"expr": s}) if with_expr else (lambda s: {})
        return (
            Pattern.begin(
                "a", lambda e: e["event_type"] == "click", **kw("event_type = 'click'")
            )
            .not_followed_by(
                "np",
                lambda e: e["event_type"] == "purchase",
                **kw("event_type = 'purchase'"),
            )
            .within(86400)
        )

    measures = {"click_id": ("a", "first", "event_id")}
    schema = "user_id long, click_id long"
    assert try_compile(ev_df, mk(True), ["user_id"], "ts", measures, schema) is not None
    compiled = cep(ev_df, mk(True), ["user_id"], "ts", output_schema=schema, measures=measures)
    plan = compiled._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan and "MapInPandas" not in plan
    nfa = cep(
        ev_df,
        mk(False),
        ["user_id"],
        "ts",
        select=measure_select(measures, ["user_id"]),
        output_schema=schema,
    )
    key = lambda r: (r.user_id, r.click_id)  # noqa: E731
    assert sorted(map(key, compiled.collect())) == sorted(map(key, nfa.collect()))


def test_parse_match_recognize_sql():
    """SQL-text clause parses to the exact transform arguments."""
    from flink_ci_flink_spark.cep import parse_match_recognize_sql

    p = parse_match_recognize_sql("""
        SELECT * FROM trades MATCH_RECOGNIZE (
          PARTITION BY sym, venue
          ORDER BY ts
          MEASURES FIRST(A.price) AS p0, SUM(B.qty) AS total_qty,
                   COUNT(B.*) AS n_b, C.price AS last_p
          ONE ROW PER MATCH
          AFTER MATCH SKIP TO LAST B
          PATTERN (A B{2,4} C?) WITHIN INTERVAL '30' MINUTE
          DEFINE A AS A.price > 10, B AS B.price > PREV_COL + 0, C AS C.side = 'sell'
        )
    """)
    assert p["table"] == "trades"
    assert p["partition_by"] == ["sym", "venue"]
    assert p["order_by"] == "ts"
    assert p["measures"] == {
        "p0": ("A", "first", "price"),
        "total_qty": ("B", "sum", "qty"),
        "n_b": ("B", "count", None),
        "last_p": ("C", "first", "price"),
    }
    assert p["after_match"] == "skip_to_last" and p["skip_stage"] == "B"
    assert p["pattern"] == "A B{2,4} C?"
    assert p["within"] == 1800.0
    # V. qualifiers stripped; undefined variables default to true
    assert p["define_expr"]["A"] == "price > 10"
    assert p["define_expr"]["C"] == "side = 'sell'"


def test_parse_match_recognize_sql_rejects_unsupported():
    import pytest as _pytest

    from flink_ci_flink_spark.cep import parse_match_recognize_sql

    base = """FROM t MATCH_RECOGNIZE (PARTITION BY k ORDER BY ts
        MEASURES A.x AS x {extra} PATTERN (A) DEFINE A AS A.x > 0)"""
    # ALL ROWS PER MATCH is now supported (batch): the parser records the
    # mode; streaming execution still rejects loudly (covered in
    # test_match_recognize_all_rows_per_match)
    parsed_all = parse_match_recognize_sql(base.format(extra="ALL ROWS PER MATCH"))
    assert parsed_all["rows_per_match"] == "all"
    assert parse_match_recognize_sql(base.format(extra="ONE ROW PER MATCH"))[
        "rows_per_match"
    ] == "one"
    # navigation DEFINE is now supported: LAST() routes to a ctx predicate,
    # PREV() to a lag-column rewrite
    parsed = parse_match_recognize_sql(
        """FROM t MATCH_RECOGNIZE (PARTITION BY k ORDER BY ts
        MEASURES A.x AS x PATTERN (A B) DEFINE A AS A.x > 0,
        B AS B.x > LAST(A.x))"""
    )
    assert "B" in parsed["define_ctx"] and parsed["define_expr"]["B"] is None
    assert parsed["define_expr"]["A"] == "x > 0"
    parsed2 = parse_match_recognize_sql(
        """FROM t MATCH_RECOGNIZE (PARTITION BY k ORDER BY ts
        MEASURES A.x AS x PATTERN (A B) DEFINE A AS A.x > 0,
        B AS B.x < PREV(B.x))"""
    )
    assert parsed2["nav_specs"] == [("__nav_lag1_x", "lag", "x", 1)]
    assert parsed2["define_expr"]["B"] == "x < __nav_lag1_x"
    # CASE etc. inside a navigated DEFINE still rejects loudly
    with _pytest.raises(NotImplementedError):
        parse_match_recognize_sql(
            """FROM t MATCH_RECOGNIZE (PARTITION BY k ORDER BY ts
            MEASURES A.x AS x PATTERN (A B) DEFINE A AS A.x > 0,
            B AS CASE WHEN B.x > LAST(A.x) THEN TRUE ELSE FALSE END)"""
        )
    # '*' is only valid in COUNT(var.*): SUM(A.*) rejects at parse time
    # with a named error, not a downstream KeyError in schema inference
    with _pytest.raises(ValueError, match="COUNT"):
        parse_match_recognize_sql(base.format(extra="").replace(
            "A.x AS x", "SUM(A.*) AS s"))
    # COUNT(A.*) itself stays supported
    ok = parse_match_recognize_sql(base.format(extra="").replace(
        "A.x AS x", "COUNT(A.*) AS n"))
    assert ok["measures"]["n"] == ("A", "count", None)


def test_match_recognize_sql_matches_api(spark, sf_dir):
    """The SQL front end and the keyword API produce identical matches."""
    from flink_ci_flink_spark.catalog import load_tables
    from flink_ci_flink_spark.cep import match_recognize, match_recognize_sql

    ev_df = load_tables(spark, sf_dir).events.select(
        "user_id", "event_id", "ts", "event_type"
    )

    sql_out = match_recognize_sql(
        ev_df,
        """
        SELECT * FROM __unused MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES FIRST(A.event_id) AS a_id, LAST(B.event_id) AS b_id
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A B)
          DEFINE A AS A.event_type = 'click', B AS B.event_type = 'purchase'
        )
        """,
    )
    api_out = match_recognize(
        ev_df,
        partition_by="user_id",
        order_by="ts",
        pattern="A B",
        define={
            "A": lambda e: e["event_type"] == "click",
            "B": lambda e: e["event_type"] == "purchase",
        },
        measures={"a_id": ("A", "first", "event_id"), "b_id": ("B", "last", "event_id")},
        output_schema="user_id long, a_id long, b_id long",
    )
    key = lambda r: (r.user_id, r.a_id, r.b_id)  # noqa: E731
    assert sorted(map(key, sql_out.collect())) == sorted(map(key, api_out.collect()))


def test_match_recognize_sql_streaming_matches_batch(spark, sf_dir):
    """The SQL-text front end with streaming=True (micro-batch replay) emits
    the same final matches as the batch plan of the same statement."""
    from flink_ci_flink_spark.catalog import load_tables
    from flink_ci_flink_spark.cep import match_recognize_sql
    from flink_ci_flink_spark.streaming import file_stream, run_to_completion

    stmt = """
    SELECT * FROM __t MATCH_RECOGNIZE (
      PARTITION BY user_id
      ORDER BY ts
      MEASURES FIRST(A.event_id) AS a_id, LAST(B.event_id) AS b_id
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A B) WITHIN INTERVAL '72' HOUR
      DEFINE A AS A.event_type = 'click', B AS B.event_type = 'purchase'
    )
    """
    ev_df = load_tables(spark, sf_dir).events.select(
        "user_id", "event_id", "ts", "event_type"
    ).orderBy("ts")
    batch = {
        (r.user_id, r.a_id, r.b_id)
        for r in match_recognize_sql(ev_df, stmt).collect()
    }

    rows = ev_df.collect()
    third = len(rows) // 3
    chunks = [rows[:third], rows[third : 2 * third], rows[2 * third :]]
    tmp = stage_chunks(spark, chunks, ev_df.schema)

    stream = file_stream(spark, tmp, ev_df.schema, max_files_per_trigger=1)
    out = match_recognize_sql(stream, stmt, streaming=True)
    result = run_to_completion(out)
    streamed = {
        (r.user_id, r.a_id, r.b_id) for r in result.collect()
    }
    assert streamed == batch


def test_compiled_equals_nfa_property(spark):
    """Property test: over random event sequences and every compilable
    pattern template, the lead()-compiled plan and the Python NFA produce
    identical match sets."""
    from hypothesis import given, settings, strategies as st

    from flink_ci_flink_spark.cep import cep
    from flink_ci_flink_spark.cep.pattern import Pattern

    def templates(with_exprs: bool):
        def pred(t):
            return (lambda e, t=t: e["event_type"] == t)

        def ex(t):
            return f"event_type = '{t}'" if with_exprs else None

        p1 = Pattern.begin("a", pred("A"), expr=ex("A")).next(
            "b", pred("B"), expr=ex("B")
        )
        p2 = (
            Pattern.begin("a", pred("A"), expr=ex("A"))
            .next("b", pred("B"), expr=ex("B"))
            .next("c", pred("A"), expr=ex("A"))
        )
        p3 = (
            Pattern.begin("a", pred("A"), expr=ex("A"))
            .times(2)
            .consecutive_()
            .next("b", pred("B"), expr=ex("B"))
        )
        p4 = (
            Pattern.begin("a", pred("A"), expr=ex("A"))
            .not_next("x", pred("X"), expr=ex("X"))
            .next("b", pred("B"), expr=ex("B"))
        )
        p5 = Pattern.begin("a", pred("A"), expr=ex("A")).not_followed_by(
            "x", pred("X"), expr=ex("X")
        ).within(5.0)
        # round-5 expansion compiler: bounded quantifiers + optional
        p6 = (
            Pattern.begin("a", pred("A"), expr=ex("A"))
            .times(1, 3)
            .consecutive_()
            .greedy_()
            .next("b", pred("B"), expr=ex("B"))
        )
        p7 = (
            Pattern.begin("a", pred("A"), expr=ex("A"))
            .next("b", pred("B"), expr=ex("B"))
            .optional_()
            .next("c", pred("A"), expr=ex("A"))
        )
        p8 = (
            Pattern.begin("a", pred("A"), expr=ex("A"))
            .times(1, 2)
            .consecutive_()
            .next("b", pred("B"), expr=ex("B"))
            .within(4.0)
        )
        return [p1, p2, p3, p4, p5, p6, p7, p8]

    @settings(max_examples=20, deadline=None)
    @given(
        types=st.lists(st.sampled_from("ABX"), min_size=4, max_size=24),
        ti=st.integers(0, 7),
    )
    def run(types, ti):
        rows = [(1, i, float(i), t) for i, t in enumerate(types)]
        df = spark.createDataFrame(
            rows, "user_id long, event_id long, ts double, event_type string"
        )
        measures = {"a_id": ("a", "first", "event_id"), "n": ("a", "count", None)}
        schema = "user_id long, a_id long, n long"
        compiled = cep(
            df, templates(True)[ti], ["user_id"], "ts",
            output_schema=schema, measures=measures,
        )
        nfa = cep(
            df, templates(False)[ti], ["user_id"], "ts",
            output_schema=schema, measures=measures,
        )
        key = lambda r: (r.user_id, r.a_id, r.n)  # noqa: E731
        assert sorted(map(key, compiled.collect())) == sorted(
            map(key, nfa.collect())
        )

    run()


def test_where_iterative_running_sum():
    """IterativeCondition parity (Pattern.where(IterativeCondition),
    `IterativeCondition.java`): accept b-rows while the running sum of
    accepted b values stays under a cap."""

    def b_cap(e, ctx):
        return sum(x["v"] for x in ctx.events_for("b")) + e["v"] <= 50

    p = (
        Pattern.begin("a", typed("A"))
        .next("b", lambda e: e["type"] == "B")
        .where_iterative(b_cap)
        .times(1, 8)
        .consecutive_()
    )
    events = [
        {"__ts": 0.0, "type": "A", "v": 0},
        {"__ts": 1.0, "type": "B", "v": 20},
        {"__ts": 2.0, "type": "B", "v": 25},
        {"__ts": 3.0, "type": "B", "v": 10},  # 20+25+10 > 50 -> not accepted
    ]
    ms = find_matches(p.after_match_skip(SKIP_PAST_LAST), events, "__ts")
    assert len(ms) == 1
    assert ms[0].groups["b"] == [1, 2]


def test_match_context_navigation_helpers():
    from flink_ci_flink_spark.cep.nfa import MatchContext

    events = [{"v": 10}, {"v": 8}, {"v": 6}, {"v": 9}]
    ctx = MatchContext(events, 2, {"a": [0], "d": [1]}, "d")
    assert ctx.prev_val("v") == 8
    assert ctx.prev_val("v", 2) == 10
    assert ctx.next_val("v") == 9
    assert ctx.next_val("v", 5) is None
    # running semantics: current row counts as mapped to the current var
    assert ctx.last("d", "v") == 6
    assert ctx.last("d", "v", 1) == 8
    assert ctx.first("d", "v") == 8
    assert ctx.agg("sum", "d", "v") == 14
    assert ctx.agg("count", "d") == 2
    assert ctx.agg("avg", "d", "v") == 7
    # accepted-only view (getEventsForPattern) excludes the current row
    assert [e["v"] for e in ctx.events_for("d")] == [8]


def test_price_dip_fixture(spark):
    """Navigated DEFINE + CLASSIFIER on a hand-computed fixture."""
    from flink_ci_flink_spark.cep import match_recognize_sql

    rows = [(1, float(t), v, t) for t, v in enumerate(
        [10.0, 8.0, 6.0, 9.0, 7.0, 11.0], start=1)]
    df = spark.createDataFrame(rows, "user_id long, ts double, value double, event_id long")
    out = match_recognize_sql(df, """
      SELECT * FROM __x MATCH_RECOGNIZE (
        PARTITION BY user_id ORDER BY ts
        MEASURES STRT.event_id AS start_id, STRT.value AS start_value,
                 LAST(DOWN.value) AS bottom_value, COUNT(DOWN.*) AS n_downs,
                 CLASSIFIER() AS last_var
        ONE ROW PER MATCH
        AFTER MATCH SKIP TO NEXT ROW
        PATTERN (STRT DOWN+ UP?)
        DEFINE DOWN AS DOWN.value < PREV(DOWN.value),
               UP AS UP.value > PREV(UP.value)
      )""")
    got = sorted(tuple(r) for r in out.collect())
    assert got == [
        (1, 1, 10.0, 6.0, 2, "UP"),
        (1, 2, 8.0, 6.0, 1, "UP"),
        (1, 4, 9.0, 7.0, 1, "UP"),
    ]
    # trailing unclosed dip -> CLASSIFIER() = 'DOWN'
    df2 = spark.createDataFrame(
        [(1, 1.0, 10.0, 1), (1, 2.0, 8.0, 2), (1, 3.0, 6.0, 3)],
        "user_id long, ts double, value double, event_id long",
    )
    out2 = match_recognize_sql(df2, """
      SELECT * FROM __x MATCH_RECOGNIZE (
        PARTITION BY user_id ORDER BY ts
        MEASURES STRT.event_id AS start_id, COUNT(DOWN.*) AS n_downs,
                 CLASSIFIER() AS last_var, FIRST(CLASSIFIER()) AS first_var
        ONE ROW PER MATCH
        AFTER MATCH SKIP TO NEXT ROW
        PATTERN (STRT DOWN+ UP?)
        DEFINE DOWN AS DOWN.value < PREV(DOWN.value),
               UP AS UP.value > PREV(UP.value)
      )""")
    assert sorted(tuple(r) for r in out2.collect()) == [
        (1, 1, 2, "DOWN", "STRT"),
        (1, 2, 1, "DOWN", "STRT"),
    ]


def test_nav_rewrite_keeps_compiled_plan(spark):
    """A fixed-length pattern whose DEFINE uses only PREV navigation stays
    on the fully-compiled lead() path (no Python in the plan), and the
    compiled result equals the NFA result."""
    from flink_ci_flink_spark.cep import match_recognize_sql
    from flink_ci_flink_spark.cep.match_recognize import (
        compile_pattern,
        parse_match_recognize_sql,
    )
    from flink_ci_flink_spark.cep.operator import cep, measure_select

    rows = [
        (u, float(t), float(v), u * 100 + t)
        for u in (1, 2)
        for t, v in enumerate([5, 3, 7, 4, 9, 2, 8], start=1)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts double, value double, event_id long")
    sql = """
      SELECT * FROM __x MATCH_RECOGNIZE (
        PARTITION BY user_id ORDER BY ts
        MEASURES A.event_id AS drop_id, B.event_id AS rebound_id,
                 CLASSIFIER() AS cls
        ONE ROW PER MATCH
        AFTER MATCH SKIP TO NEXT ROW
        PATTERN (A B)
        DEFINE A AS A.value < PREV(A.value), B AS B.value > PREV(B.value)
      )"""
    out = match_recognize_sql(df, sql)
    # compiled plan: no BatchEvalPython / ArrowEvalPython / mapInPandas
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "InPandas" not in plan
    got = sorted(tuple(r) for r in out.collect())
    # NFA path on the same pattern (expr stripped -> Python predicates)
    parsed = parse_match_recognize_sql(sql)
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("user_id").orderBy("ts")
    ndf = df
    for colname, kind, src, n in parsed["nav_specs"]:
        fn = F.lag if kind == "lag" else F.lead
        ndf = ndf.withColumn(colname, fn(src, n).over(w))
    pat = compile_pattern(
        parsed["pattern"],
        define={
            "A": lambda e: e["__nav_lag1_value"] is not None
            and e["value"] < e["__nav_lag1_value"],
            "B": lambda e: e["__nav_lag1_value"] is not None
            and e["value"] > e["__nav_lag1_value"],
        },
        after_match=parsed["after_match"],
    )
    nfa_out = cep(
        ndf,
        pat,
        ["user_id"],
        "ts",
        measure_select(parsed["measures"], ["user_id"]),
        "user_id long, drop_id long, rebound_id long, cls string",
    )
    assert sorted(tuple(r) for r in nfa_out.collect()) == got
    assert got, "fixture must produce matches"


def test_streaming_mr_aggregate_define(spark):
    """Running-aggregate DEFINE on the STREAMING MATCH_RECOGNIZE operator:
    typed state payloads let ctx predicates evaluate numerically; streaming
    result == batch result on ordered replay."""
    from flink_ci_flink_spark.cep import match_recognize_sql
    from flink_ci_flink_spark.streaming import file_stream, run_to_completion

    schema = "user_id long, ts double, amount double"
    rows = [(1, float(t), a) for t, a in
            enumerate([20.0, 15.0, 20.0, 30.0, 5.0], start=1)]
    rows.append((1, 100.0, 999.0))  # frontier sentinel: closes open matches
    sql = """
      SELECT * FROM __x MATCH_RECOGNIZE (
        PARTITION BY user_id ORDER BY ts
        MEASURES FIRST(B.ts) AS first_ts, COUNT(B.*) AS n_b,
                 SUM(B.amount) AS total
        ONE ROW PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN (B+) WITHIN INTERVAL '10' SECOND
        DEFINE B AS SUM(B.amount) <= 50
      )"""

    df = spark.createDataFrame(rows, schema)
    batch = {tuple(r) for r in match_recognize_sql(df, sql).collect()}
    assert batch == {(1, 1.0, 2, 35.0), (1, 3.0, 2, 50.0), (1, 5.0, 1, 5.0)}

    chunks = [rows[i * 2 : (i + 1) * 2] for i in range(3)]
    tmp = stage_chunks(spark, chunks, schema)
    st = file_stream(
        spark, tmp, spark.createDataFrame([], schema).schema,
        max_files_per_trigger=1,
    )
    out = match_recognize_sql(st, sql, streaming=True)
    result = run_to_completion(out)
    streamed = {tuple(r) for r in result.collect()}
    assert streamed == batch


def test_streak_fast_path_equals_generic_property():
    """Property test: the strict-streak fast path (one forward walk for
    greedy consecutive quantifiers) produces exactly the matches of the
    generic backtracking placements, across random patterns x sequences x
    skip strategies (pure-Python NFA, no Spark)."""
    from hypothesis import given, settings, strategies as st

    from flink_ci_flink_spark.cep import nfa as nfa_mod
    from flink_ci_flink_spark.cep.nfa import find_matches
    from flink_ci_flink_spark.cep.pattern import (
        NO_SKIP,
        SKIP_PAST_LAST,
        Pattern,
    )

    def pat(ti, greedy, skip):
        def pred(t):
            return lambda e, t=t: e["type"] == t

        if ti == 0:  # quantified strict loop + strict tail
            p = (
                Pattern.begin("a", pred("A"))
                .times(1, 4)
                .consecutive_()
                .greedy_(greedy)
                .next("b", pred("B"))
            )
        elif ti == 1:  # optional strict stage inside
            p = (
                Pattern.begin("a", pred("A"))
                .next("o", pred("B"))
                .optional_()
                .next("c", pred("C"))
            )
        elif ti == 2:  # loop with until
            p = (
                Pattern.begin("a", pred("A"))
                .times(1, 6)
                .consecutive_()
                .greedy_(greedy)
                .until_(pred("X"))
            )
        elif ti == 3:  # within-bounded loop + trailing optional
            p = (
                Pattern.begin("a", pred("A"))
                .times(2, 5)
                .consecutive_()
                .greedy_(greedy)
                .next("u", pred("B"))
                .optional_()
                .within(6.0)
            )
        else:  # relaxed head (generic path) + strict quantified tail
            p = (
                Pattern.begin("a", pred("A"))
                .followed_by("b", pred("B"))
                .times(1, 3)
                .consecutive_()
                .greedy_(greedy)
            )
        return p.after_match_skip(skip)

    def matchset(p, events):
        return [
            tuple(sorted((k, tuple(v)) for k, v in m.groups.items()))
            for m in find_matches(p, events, "__ts")
        ]

    @settings(max_examples=60, deadline=None)
    @given(
        types=st.lists(st.sampled_from("ABCX"), min_size=3, max_size=16),
        ti=st.integers(0, 4),
        greedy=st.booleans(),
        skip=st.sampled_from([NO_SKIP, SKIP_PAST_LAST]),
    )
    def run(types, ti, greedy, skip):
        events = [{"__ts": float(i), "type": t} for i, t in enumerate(types)]
        fast = matchset(pat(ti, greedy, skip), events)
        nfa_mod._STREAK_ENABLED = False
        try:
            slow = matchset(pat(ti, greedy, skip), events)
        finally:
            nfa_mod._STREAK_ENABLED = True
        assert fast == slow

    run()


def test_times_or_more():
    """timesOrMore(n): at least n occurrences (Pattern.timesOrMore:420)."""
    p = Pattern.begin("a", typed("A")).times_or_more(2).next("b", typed("B"))
    ms = find_matches(p, seq("A", "A", "A", "B"), "__ts")
    assert ms[0].groups["a"] == [0, 1, 2]  # greedy takes all three
    assert find_matches(
        Pattern.begin("a", typed("A")).times_or_more(2).next("b", typed("B")),
        seq("A", "B"),
        "__ts",
    ) == []


def test_match_recognize_all_rows_per_match(spark):
    """ALL ROWS PER MATCH (beyond reference parity — StreamExecMatch.scala
    :192 throws): per-row payload + CLASSIFIER + match_seq + RUNNING
    measures."""
    from flink_ci_flink_spark.cep.match_recognize import match_recognize_sql

    rows = [
        (1, 1.0, "click", 10.0), (1, 2.0, "click", 20.0),
        (1, 3.0, "purchase", 5.0), (1, 4.0, "click", 7.0),
        (1, 5.0, "purchase", 3.0), (2, 1.0, "click", 1.0),
        (2, 2.0, "view", 9.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts double, event_type string, value double"
    )
    out = match_recognize_sql(
        df,
        """
        SELECT * FROM t MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          MEASURES COUNT(A.*) AS n_clicks, SUM(A.value) AS click_value,
                   LAST(B.value) AS purchase_value
          ALL ROWS PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A A B)
          DEFINE A AS event_type = 'click', B AS event_type = 'purchase'
        )
        """,
    ).orderBy("ts").collect()
    assert [
        (r.ts, r.classifier, r.match_seq, r.n_clicks, r.click_value,
         r.purchase_value)
        for r in out
    ] == [
        (1.0, "A", 1, 1, 10.0, None),
        (2.0, "A", 1, 2, 30.0, None),
        (3.0, "B", 1, 2, 30.0, 5.0),
    ]
    # streaming mode stays a loud, honest gate
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        match_recognize_sql(df, """
        SELECT * FROM t MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          MEASURES COUNT(A.*) AS n
          ALL ROWS PER MATCH
          PATTERN (A B)
          DEFINE A AS event_type = 'click', B AS event_type = 'purchase'
        )
        """, streaming=True)


def test_all_rows_compiled_equals_nfa(spark):
    """Compiled ALL-ROWS (NO_SKIP fixed pattern — lead() unrolling +
    struct-array explode) == the NFA flat path, with zero Python in the
    compiled plan; duplicate variable names (PATTERN (A A B)) merge
    offsets correctly in both paths."""
    from flink_ci_flink_spark.cep.match_recognize import match_recognize_sql

    rows = [
        (1, 1.0, "click", 10.0), (1, 2.0, "click", 20.0),
        (1, 3.0, "purchase", 5.0), (1, 4.0, "click", 7.0),
        (1, 5.0, "purchase", 3.0), (1, 6.0, "click", 2.0),
        (1, 7.0, "click", 4.0), (1, 8.0, "purchase", 1.0),
        (2, 1.0, "click", 1.0), (2, 2.0, "view", 9.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts double, event_type string, value double"
    )
    tpl = """
    SELECT * FROM t MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts
      MEASURES COUNT(A.*) AS n_clicks, SUM(A.value) AS click_value,
               LAST(B.value) AS purchase_value
      ALL ROWS PER MATCH
      AFTER MATCH {skip}
      PATTERN (A A B)
      DEFINE A AS event_type = 'click', B AS event_type = 'purchase'
    )"""
    compiled = match_recognize_sql(df, tpl.format(skip="SKIP TO NEXT ROW"))
    plan = compiled._jdf.queryExecution().executedPlan().toString()
    assert "InPandas" not in plan and "Python" not in plan
    got = sorted(tuple(r) for r in compiled.collect())
    # non-overlapping pattern: SKIP PAST LAST (NFA path) emits the same set
    nfa = match_recognize_sql(df, tpl.format(skip="SKIP PAST LAST ROW"))
    want = sorted(tuple(r) for r in nfa.collect())
    assert got == want
    # two matches for user 1, six emitted rows + none for user 2
    assert len(got) == 6
    assert {r[5] for r in got} == {1, 2}  # match_seq values


# -- timed-out partial matches (round 5): PatternStream.java:173-189, --------
# -- TimedOutPartialMatchHandler.java ----------------------------------------


def _tev(t, ty):
    return {"__ts": float(t), "event_type": ty}


def test_timeout_basic_partial():
    """click ->(relaxed) purchase within 10: anchors that never complete
    emit a timed-out partial with timeout_ts = anchor ts + within."""
    from flink_ci_flink_spark.cep import find_matches_and_timeouts

    p = (
        Pattern.begin("a", where=lambda e: e["event_type"] == "click")
        .followed_by("b", where=lambda e: e["event_type"] == "purchase")
        .within(10)
        .after_match_skip(NO_SKIP)
    )
    events = [_tev(0, "click"), _tev(5, "purchase"), _tev(20, "click")]
    ms, ts = find_matches_and_timeouts(p, events, "__ts")
    assert [(m.start_idx, m.end_idx) for m in ms] == [(0, 1)]
    assert [(t.groups, t.timeout_ts) for t in ts] == [({"a": [2]}, 30.0)]


def test_timeout_multi_stage_partial_carries_prefix():
    from flink_ci_flink_spark.cep import find_matches_and_timeouts

    p = (
        Pattern.begin("a", where=lambda e: e["event_type"] == "A")
        .followed_by("b", where=lambda e: e["event_type"] == "B")
        .followed_by("c", where=lambda e: e["event_type"] == "C")
        .within(10)
        .after_match_skip(NO_SKIP)
    )
    ms, ts = find_matches_and_timeouts(
        p, [_tev(0, "A"), _tev(2, "B"), _tev(30, "X")], "__ts"
    )
    assert ms == []
    assert [(t.groups, t.timeout_ts) for t in ts] == [({"a": [0], "b": [1]}, 10.0)]


def test_timeout_stopped_by_negative_is_silent():
    """A run killed by a matched negative is a STOP state (NFA.java stop
    transitions), not a timeout — no side output for it."""
    from flink_ci_flink_spark.cep import find_matches_and_timeouts

    p = (
        Pattern.begin("a", where=lambda e: e["event_type"] == "A")
        .not_followed_by("nb", where=lambda e: e["event_type"] == "B")
        .followed_by("c", where=lambda e: e["event_type"] == "C")
        .within(10)
        .after_match_skip(NO_SKIP)
    )
    # first A: B arrives in-window -> stopped, silent. second A: times out.
    ms, ts = find_matches_and_timeouts(
        p, [_tev(0, "A"), _tev(1, "B"), _tev(50, "A")], "__ts"
    )
    assert ms == []
    assert [(t.groups, t.timeout_ts) for t in ts] == [({"a": [2]}, 60.0)]


def test_timeout_trailing_absence_is_match_not_timeout():
    """Trailing notFollowedBy + within: window expiry with absence held is
    a MATCH (emitted at expiry), never a timeout; presence is a stop."""
    from flink_ci_flink_spark.cep import find_matches_and_timeouts

    p = (
        Pattern.begin("a", where=lambda e: e["event_type"] == "A")
        .not_followed_by("nb", where=lambda e: e["event_type"] == "B")
        .within(10)
        .after_match_skip(NO_SKIP)
    )
    ms, ts = find_matches_and_timeouts(
        p, [_tev(0, "A"), _tev(1, "B"), _tev(50, "A")], "__ts"
    )
    assert [(m.start_idx, m.end_idx) for m in ms] == [(2, 2)]
    assert ts == []


def test_timeout_partial_loop_consumption():
    """times(3) consecutive that saw only 2: the timed-out partial carries
    both consumed loop events (SharedBuffer extraction semantics)."""
    from flink_ci_flink_spark.cep import find_matches_and_timeouts

    p = (
        Pattern.begin("e", where=lambda ev: ev["event_type"] == "E")
        .times(3)
        .consecutive_()
        .within(10)
        .after_match_skip(NO_SKIP)
    )
    ms, ts = find_matches_and_timeouts(
        p, [_tev(0, "E"), _tev(1, "E"), _tev(5, "X")], "__ts"
    )
    assert ms == []
    assert [(t.groups, t.timeout_ts) for t in ts] == [
        ({"e": [0, 1]}, 10.0),
        ({"e": [1]}, 11.0),
    ]


def test_timeout_skip_region_runs_are_pruned_not_timed_out():
    """Anchors inside an after-match skip region are discarded runs
    (aftermatch/ strategies), producing neither matches nor timeouts."""
    from flink_ci_flink_spark.cep import find_matches_and_timeouts
    from flink_ci_flink_spark.cep.pattern import SKIP_PAST_LAST

    mk = lambda skip: (
        Pattern.begin("a", where=lambda e: e["event_type"] == "A")
        .followed_by("b", where=lambda e: e["event_type"] == "B")
        .within(10)
        .after_match_skip(skip)
    )
    events = [_tev(0, "A"), _tev(1, "A"), _tev(2, "B")]
    ms, ts = find_matches_and_timeouts(mk(SKIP_PAST_LAST), events, "__ts")
    assert [(m.start_idx, m.end_idx) for m in ms] == [(0, 2)]
    assert ts == []  # anchor 1 skipped: pruned run, no timeout
    ms2, ts2 = find_matches_and_timeouts(mk(NO_SKIP), events, "__ts")
    assert len(ms2) == 2 and ts2 == []


def test_timeout_requires_within():
    """No within() -> windows never expire -> no timeouts ever."""
    from flink_ci_flink_spark.cep import find_matches_and_timeouts

    p = Pattern.begin("a", where=lambda e: e["event_type"] == "A").followed_by(
        "b", where=lambda e: e["event_type"] == "B"
    )
    ms, ts = find_matches_and_timeouts(p, [_tev(0, "A"), _tev(1, "X")], "__ts")
    assert ms == [] and ts == []


def test_batch_cep_timed_out_operator(spark):
    """cep_timed_out over a DataFrame: unreached measure vars are NULL,
    'timeout' measure kind carries the expiry epoch."""
    from flink_ci_flink_spark.cep import cep_timed_out

    rows = [
        (1, 10, 0.0, "A"),
        (1, 11, 2.0, "B"),          # a,b partial; c never arrives
        (2, 20, 0.0, "A"),
        (2, 21, 1.0, "B"),
        (2, 22, 3.0, "C"),          # full match -> no timeout
        (3, 30, 5.0, "X"),          # no run at all
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts double, event_type string")
    p = (
        Pattern.begin("a", where=lambda e: e["event_type"] == "A", expr="event_type = 'A'")
        .followed_by("b", where=lambda e: e["event_type"] == "B", expr="event_type = 'B'")
        .followed_by("c", where=lambda e: e["event_type"] == "C", expr="event_type = 'C'")
        .within(10)
        .after_match_skip(NO_SKIP)
    )
    out = cep_timed_out(
        df,
        p,
        keys=["user_id"],
        ts_col="ts",
        measures={
            "a_id": ("a", "first", "event_id"),
            "b_id": ("b", "last", "event_id"),
            "c_id": ("c", "last", "event_id"),
            "timeout_ts": ("", "timeout", ""),
        },
        output_schema="user_id long, a_id long, b_id long, c_id long, timeout_ts double",
    ).collect()
    got = {(r.user_id, r.a_id, r.b_id, r.c_id, r.timeout_ts) for r in out}
    assert got == {(1, 10, 11, None, 10.0)}


def test_streaming_timeout_matches_batch(spark, sf_dir):
    """cep_stream_timed_out over micro-batch replay == batch cep_timed_out
    restricted to windows that expired at the final per-key frontier."""
    from pyspark.sql import functions as F

    from flink_ci_flink_spark.catalog import load_tables
    from flink_ci_flink_spark.cep import cep_timed_out, cep_stream_timed_out
    from flink_ci_flink_spark.streaming import file_stream, run_to_completion

    t = load_tables(spark, sf_dir)
    ev_df = t.events.select("user_id", "event_id", "ts", "event_type").orderBy("ts")
    rows = ev_df.collect()
    third = len(rows) // 3
    chunks = [rows[:third], rows[third : 2 * third], rows[2 * third :]]
    tmp = stage_chunks(spark, chunks, ev_df.schema)

    pat = (
        Pattern.begin("a", where=lambda e: e["event_type"] == "click")
        .followed_by("b", where=lambda e: e["event_type"] == "purchase")
        .within(259200)
        .after_match_skip(NO_SKIP)
    )

    def select(key, tm, events):
        return {
            "user_id": int(key[0]),
            "click_id": int(events[tm.groups["a"][0]]["event_id"]),
            "timeout_ts": float(tm.timeout_ts),
        }

    schema_out = "user_id long, click_id long, timeout_ts double"
    batch_df = cep_timed_out(ev_df, pat, ["user_id"], "ts", select, schema_out)
    # streaming can only finalize windows expired at the key's frontier
    frontier = ev_df.groupBy("user_id").agg(
        F.max(F.col("ts").cast("double")).alias("max_ts")
    )
    batch = {
        (r.user_id, r.click_id, r.timeout_ts)
        for r in batch_df.join(frontier, "user_id")
        .filter(F.col("timeout_ts") <= F.col("max_ts"))
        .collect()
    }

    stream = file_stream(spark, tmp, ev_df.schema, max_files_per_trigger=1)
    out = cep_stream_timed_out(stream, pat, ["user_id"], "ts", select, schema_out)
    result = run_to_completion(out)
    streamed = {
        (r.user_id, r.click_id, r.timeout_ts) for r in result.collect()
    }
    assert streamed == batch
    assert len(streamed) > 0


# -- streaming ALL ROWS PER MATCH, compiled JVM path (round 5) ---------------


def test_stream_all_rows_jvm_matches_batch(spark):
    """stream_all_rows_jvm (foreachBatch re-plan of the compiled
    lead()/explode ALL-ROWS plan over a pruned keyed buffer) == the batch
    compiled plan over the full data, including cross-micro-batch matches
    and continued per-key MATCH_NUMBERs."""
    from flink_ci_flink_spark.cep.compiled import (
        stream_all_rows_jvm,
        try_compile_all_rows,
    )
    from flink_ci_flink_spark.streaming import file_stream

    rows = [
        (1, 1.0, "click", 10.0), (1, 2.0, "click", 20.0),
        (1, 3.0, "purchase", 5.0), (1, 4.0, "click", 7.0),
        (1, 5.0, "purchase", 3.0), (1, 6.0, "click", 2.0),
        (1, 7.0, "click", 4.0), (1, 8.0, "purchase", 1.0),
        (2, 1.0, "click", 1.0), (2, 2.0, "view", 9.0),
        (2, 3.0, "click", 6.0), (2, 4.0, "click", 8.0),
        (2, 5.0, "purchase", 2.0),
    ]
    ddl = "user_id long, ts double, event_type string, value double"
    df = spark.createDataFrame(rows, ddl)
    pat = (
        Pattern.begin("A", where=lambda e: e["event_type"] == "click",
                      expr="event_type = 'click'")
        .times(2)
        .consecutive_()
        .next("B", where=lambda e: e["event_type"] == "purchase",
              expr="event_type = 'purchase'")
        .after_match_skip(NO_SKIP)
    )
    measures = {
        "n_a": ("A", "count", None),
        "sum_a": ("A", "sum", "value"),
        "last_b": ("B", "last", "value"),
    }
    schema_out = (
        "user_id long, ts double, event_type string, value double, "
        "classifier string, match_seq long, n_a long, sum_a double, "
        "last_b double"
    )
    payload = ["ts", "event_type", "value"]
    batch = try_compile_all_rows(
        df, pat, ["user_id"], "ts", measures, payload, schema_out
    )
    want = sorted(tuple(r) for r in batch.collect())
    assert len(want) == 9  # 2 matches user 1 + 1 match user 2, 3 rows each

    # 3 chunks split mid-match: the (6.0,7.0,8.0) match spans chunks
    tmp = stage_chunks(spark, [rows[:4], rows[4:9], rows[9:]], ddl)
    stream = file_stream(
        spark, tmp, df.schema, max_files_per_trigger=1
    )
    out = stream_all_rows_jvm(
        stream, pat, ["user_id"], "ts", measures, payload,
        schema_out, delay_seconds=0.0,
    )
    got = sorted(tuple(r) for r in out.collect())
    assert got == want


def test_timeout_compiled_equals_nfa_and_is_python_free(spark, sf_dir):
    """The abandonment-shape timeout side output compiles to a pure JVM
    plan (min-over-following absence check) identical to the NFA scan."""
    from pyspark.sql import functions as F

    from flink_ci_flink_spark.catalog import load_tables
    from flink_ci_flink_spark.cep import cep_timed_out, timeout_measure_select
    from flink_ci_flink_spark.functions.scalar import epoch_seconds

    t = load_tables(spark, sf_dir)
    ev = t.events.withColumn(
        "ts_s", F.floor(epoch_seconds(t.events, "ts")).cast("long")
    )
    pat = (
        Pattern.begin(
            "a", where=lambda e: e["event_type"] == "click", expr="event_type = 'click'"
        )
        .followed_by(
            "b",
            where=lambda e: e["event_type"] == "purchase",
            expr="event_type = 'purchase'",
        )
        .within(86400)
        .after_match_skip(NO_SKIP)
    )
    measures = {
        "click_id": ("a", "first", "event_id"),
        "click_ts_s": ("a", "first", "ts_s"),
        "purchase_id": ("b", "last", "event_id"),
    }
    schema_out = "user_id long, click_id long, click_ts_s long, purchase_id long"
    compiled = cep_timed_out(ev, pat, ["user_id"], "ts", measures=measures,
                             output_schema=schema_out)
    plan = compiled._jdf.queryExecution().executedPlan().toString()
    assert "InPandas" not in plan and "Python" not in plan
    got = sorted(tuple(r) for r in compiled.collect())
    # NFA path: force by passing an explicit select
    nfa = cep_timed_out(
        ev, pat, ["user_id"], "ts",
        select=timeout_measure_select(measures, ["user_id"]),
        output_schema=schema_out,
    )
    want = sorted(tuple(r) for r in nfa.collect())
    assert got == want and len(got) > 0
    assert all(r[3] is None for r in got)  # unreached variable is NULL


def test_timeout_compiled_equals_nfa_property(spark):
    """Property test: over random event sequences, within bounds, and
    anchor/close type choices, the compiled abandonment-shape timeout
    plan equals the NFA timeout scan (rows and timeout timestamps)."""
    from hypothesis import given, settings, strategies as st

    from flink_ci_flink_spark.cep import (
        cep_timed_out,
        find_matches_and_timeouts,
        timeout_measure_select,
    )

    @settings(max_examples=10, deadline=None)
    @given(
        types=st.lists(st.sampled_from("ABX"), min_size=3, max_size=20),
        within=st.sampled_from([1.0, 3.0, 7.0]),
    )
    def check(types, within):
        events = [
            {"user_id": 1, "ts": float(i), "event_type": t, "event_id": i}
            for i, t in enumerate(types)
        ]
        pat = (
            Pattern.begin(
                "a", where=lambda e: e["event_type"] == "A", expr="event_type = 'A'"
            )
            .followed_by(
                "b", where=lambda e: e["event_type"] == "B", expr="event_type = 'B'"
            )
            .within(within)
            .after_match_skip(NO_SKIP)
        )
        # pure-python reference (no Spark round trip per example)
        for e in events:
            e["__ts"] = e["ts"]
        _m, touts = find_matches_and_timeouts(pat, events, "__ts")
        want = sorted(
            (events[t.groups["a"][0]]["event_id"], t.timeout_ts) for t in touts
        )
        df = spark.createDataFrame(
            [(e["user_id"], e["ts"], e["event_type"], e["event_id"]) for e in events],
            "user_id long, ts double, event_type string, event_id long",
        )
        compiled = cep_timed_out(
            df, pat, ["user_id"], "ts",
            measures={
                "aid": ("a", "first", "event_id"),
                "tts": ("", "timeout", ""),
            },
            output_schema="user_id long, aid long, tts double",
        )
        plan = compiled._jdf.queryExecution().executedPlan().toString()
        assert "InPandas" not in plan and "Python" not in plan
        got = sorted((r.aid, r.tts) for r in compiled.collect())
        assert got == want
    check()


def test_stream_all_rows_jvm_random_chunking_property(spark):
    """Property: for random event sequences and random micro-batch split
    points, streaming compiled ALL-ROWS equals the batch compiled plan.
    Chunk boundaries are the risk surface (buffer pruning, frontier
    emission, MATCH_NUMBER continuation)."""
    from hypothesis import given, settings, strategies as st

    from flink_ci_flink_spark.cep.compiled import (
        stream_all_rows_jvm,
        try_compile_all_rows,
    )
    from flink_ci_flink_spark.streaming import file_stream

    ddl = "user_id long, ts double, event_type string, value double"
    pat = (
        Pattern.begin("A", where=lambda e: e["event_type"] == "A",
                      expr="event_type = 'A'")
        .next("B", where=lambda e: e["event_type"] == "B",
              expr="event_type = 'B'")
        .after_match_skip(NO_SKIP)
    )
    measures = {"sum_v": ("A", "sum", "value")}
    schema_out = (
        "user_id long, ts double, event_type string, value double, "
        "classifier string, match_seq long, sum_v double"
    )
    payload = ["ts", "event_type", "value"]

    @settings(max_examples=5, deadline=None)
    @given(
        types=st.lists(st.sampled_from("ABX"), min_size=4, max_size=14),
        cut1=st.integers(1, 6),
        cut2=st.integers(1, 6),
    )
    def check(types, cut1, cut2):
        rows = [
            (1 + (i % 2), float(i), t, float(i * 10)) for i, t in enumerate(types)
        ]
        df = spark.createDataFrame(rows, ddl)
        want = sorted(
            tuple(r)
            for r in try_compile_all_rows(
                df, pat, ["user_id"], "ts", measures, payload, schema_out
            ).collect()
        )
        a = min(cut1, len(rows) - 1)
        b = min(a + cut2, len(rows))
        chunks = [c for c in (rows[:a], rows[a:b], rows[b:]) if c]
        tmp = stage_chunks(spark, chunks, ddl)
        out = stream_all_rows_jvm(
            file_stream(spark, tmp, df.schema, max_files_per_trigger=1),
            pat, ["user_id"], "ts", measures, payload, schema_out,
            delay_seconds=0.0,
        )
        got = sorted(tuple(r) for r in out.collect())
        assert got == want

    check()


def test_stream_timed_out_random_chunking_property(spark):
    """Property: for random sequences/chunkings, streaming timeout side
    output equals the batch side output restricted to windows expired at
    the final per-key frontier (exactly-once across replays of buffered
    boundary anchors)."""
    from hypothesis import given, settings, strategies as st

    from flink_ci_flink_spark.cep import cep_stream_timed_out, cep_timed_out
    from flink_ci_flink_spark.streaming import file_stream, run_to_completion

    ddl = "user_id long, ts double, event_type string, event_id long"
    pat = (
        Pattern.begin("a", where=lambda e: e["event_type"] == "A")
        .followed_by("b", where=lambda e: e["event_type"] == "B")
        .within(3.0)
        .after_match_skip(NO_SKIP)
    )

    def select(key, tm, events):
        return {
            "user_id": int(key[0]),
            "aid": int(events[tm.groups["a"][0]]["event_id"]),
            "tts": float(tm.timeout_ts),
        }

    schema_out = "user_id long, aid long, tts double"

    @settings(max_examples=5, deadline=None)
    @given(
        types=st.lists(st.sampled_from("ABX"), min_size=4, max_size=14),
        cut1=st.integers(1, 6),
        cut2=st.integers(1, 6),
    )
    def check(types, cut1, cut2):
        rows = [(1 + (i % 2), float(i), t, i) for i, t in enumerate(types)]
        df = spark.createDataFrame(rows, ddl)
        batch = cep_timed_out(df, pat, ["user_id"], "ts", select, schema_out)
        from pyspark.sql import functions as F

        frontier = df.groupBy("user_id").agg(F.max("ts").alias("mx"))
        want = {
            (r.user_id, r.aid, r.tts)
            for r in batch.join(frontier, "user_id")
            .filter(F.col("tts") <= F.col("mx"))
            .collect()
        }
        a = min(cut1, len(rows) - 1)
        b = min(a + cut2, len(rows))
        chunks = [c for c in (rows[:a], rows[a:b], rows[b:]) if c]
        tmp = stage_chunks(spark, chunks, ddl)
        out = cep_stream_timed_out(
            file_stream(spark, tmp, df.schema, max_files_per_trigger=1),
            pat, ["user_id"], "ts", select, schema_out,
        )
        result = run_to_completion(out)
        got = {
            (r.user_id, r.aid, r.tts) for r in result.collect()
        }
        assert got == want

    check()


def test_all_rows_compiled_quantifier_equals_nfa(spark):
    """Round-5 expansion compiler on ALL ROWS PER MATCH: PATTERN (A{1,2} B)
    compiles zero-Python and equals the NFA flat path exactly — greedy
    preference per anchor, NO_SKIP suffix matches, RUNNING measures,
    per-key match numbering."""
    import flink_ci_flink_spark.cep.compiled as C
    from flink_ci_flink_spark.cep.match_recognize import match_recognize_sql

    rows = [
        (1, 1.0, "click", 10.0), (1, 2.0, "click", 20.0),
        (1, 3.0, "purchase", 5.0), (1, 4.0, "click", 7.0),
        (1, 5.0, "purchase", 3.0),
        (2, 1.0, "click", 1.0), (2, 2.0, "view", 9.0),
        (2, 3.0, "click", 6.0), (2, 4.0, "click", 8.0),
        (2, 5.0, "purchase", 2.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts double, event_type string, value double"
    )
    tpl = """
    SELECT * FROM t MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts
      MEASURES COUNT(A.*) AS n_a, SUM(A.value) AS sum_a, LAST(B.value) AS b_val
      ALL ROWS PER MATCH
      AFTER MATCH SKIP TO NEXT ROW
      PATTERN (A{1,2} B)
      DEFINE A AS event_type = 'click', B AS event_type = 'purchase'
    )"""
    out = match_recognize_sql(df, tpl)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InPandas" not in plan and "Python" not in plan
    got = sorted(tuple(r) for r in out.collect())
    cap = C._MAX_EXPANSIONS
    try:
        C._MAX_EXPANSIONS = 1  # force the NFA flat path
        nfa = match_recognize_sql(df, tpl)
        plan2 = nfa._jdf.queryExecution().executedPlan().toString()
        assert "InPandas" in plan2 or "Python" in plan2
        want = sorted(tuple(r) for r in nfa.collect())
    finally:
        C._MAX_EXPANSIONS = cap
    assert got == want and len(got) == 12


def test_mr_secondary_order_columns(spark):
    """MATCH_RECOGNIZE ORDER BY with secondary sort columns
    (`StreamExecMatch.scala:68` sort spec): on a tie-heavy fixture where
    every event shares one timestamp, (ts, id) ordering interleaves
    view/purchase correctly while single-column ordering (stable sort =
    arrival order) would pair them differently. Compiled lead() plan and
    the forced-NFA path must agree row for row."""
    import pyspark.sql.functions as F

    from flink_ci_flink_spark.cep import compile_pattern, match_recognize_sql
    from flink_ci_flink_spark.cep.operator import cep, measure_select

    # arrival order scrambled: single-col (ts-only) stable order would be
    # [2:purchase, 3:view, 1:view, 4:purchase] -> only match (1, 4);
    # (ts, id) order is [1:view, 2:purchase, 3:view, 4:purchase]
    # -> matches (1, 2) and (3, 4)
    rows = [(1, 2, "purchase", 100), (1, 3, "view", 100),
            (1, 1, "view", 100), (1, 4, "purchase", 3700)]
    df = (
        spark.createDataFrame(rows, "k long, id long, et string, sec long")
        .select("k", "id", "et", F.timestamp_seconds("sec").alias("ts"))
    )
    out = match_recognize_sql(
        df,
        """
        SELECT * FROM __ignored MATCH_RECOGNIZE (
          PARTITION BY k
          ORDER BY ts, id
          MEASURES FIRST(A.id) AS view_id, LAST(B.id) AS purchase_id
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A B) WITHIN INTERVAL '2' HOUR
          DEFINE A AS A.et = 'view', B AS B.et = 'purchase'
        )
        """,
    )
    got = {(r.view_id, r.purchase_id) for r in out.collect()}
    assert got == {(1, 2), (3, 4)}

    pat = compile_pattern(
        "A B",
        define={},
        define_expr={"A": "et = 'view'", "B": "et = 'purchase'"},
        within=7200.0,
    )
    measures = {"view_id": ("A", "first", "id"), "purchase_id": ("B", "last", "id")}
    nfa = cep(
        df,
        pat,
        keys=["k"],
        ts_col=["ts", "id"],
        select=measure_select(measures, ["k"]),
        output_schema="k long, view_id long, purchase_id long",
    )
    assert {(r.view_id, r.purchase_id) for r in nfa.collect()} == got


def test_parse_order_by_secondary_and_desc():
    """ORDER BY parses multi-column lists: time attribute first (must be
    ascending — DESC there rejects loudly), secondary columns in either
    direction (DESC encoded as the "col DESC" order_spec convention)."""
    import pytest as _pytest

    from flink_ci_flink_spark.cep import parse_match_recognize_sql

    base = """FROM t MATCH_RECOGNIZE (PARTITION BY k ORDER BY {ob}
        MEASURES A.x AS x PATTERN (A) DEFINE A AS A.x > 0)"""
    assert parse_match_recognize_sql(base.format(ob="ts"))["order_by"] == "ts"
    assert parse_match_recognize_sql(base.format(ob="ts, id"))["order_by"] == [
        "ts",
        "id",
    ]
    assert parse_match_recognize_sql(base.format(ob="ts ASC, id ASC"))[
        "order_by"
    ] == ["ts", "id"]
    assert parse_match_recognize_sql(base.format(ob="ts, id DESC"))[
        "order_by"
    ] == ["ts", "id DESC"]
    with _pytest.raises(NotImplementedError, match="ascending"):
        parse_match_recognize_sql(base.format(ob="ts DESC"))
    with _pytest.raises(NotImplementedError, match="ascending"):
        parse_match_recognize_sql(base.format(ob="ts DESC, id"))


def test_streaming_mr_prev_navigation_replay(spark):
    """PREV physical navigation on STREAMING MATCH_RECOGNIZE via the
    foreachBatch re-plan wrapper (`cep_stream_replay`): the nav lag
    columns are recomputed over the whole buffered suffix each
    micro-batch, so a dip-rebound match whose PREV context CROSSES a
    micro-batch boundary is still found; streamed == batch on ordered
    replay. NEXT still rejects loudly (future-dependent)."""
    from flink_ci_flink_spark.cep import match_recognize_sql
    from flink_ci_flink_spark.streaming import file_stream

    schema = "user_id long, ts double, value double"
    # dips at ts 2->3 (batch boundary!) and 7->8, rebounds right after
    vals = [10.0, 9.0, 8.0, 12.0, 13.0, 11.0, 10.0, 7.0, 9.0, 9.5]
    rows = [(1, float(t + 1), v) for t, v in enumerate(vals)]
    sql = """
      SELECT * FROM __x MATCH_RECOGNIZE (
        PARTITION BY user_id ORDER BY ts
        MEASURES LAST(A.ts) AS dip_ts, LAST(B.ts) AS rebound_ts
        ONE ROW PER MATCH
        AFTER MATCH SKIP TO NEXT ROW
        PATTERN (A B) WITHIN INTERVAL '10' SECOND
        DEFINE A AS A.value < PREV(A.value), B AS B.value > PREV(B.value)
      )"""
    df = spark.createDataFrame(rows, schema)
    batch = {tuple(r) for r in match_recognize_sql(df, sql).collect()}
    assert batch, "fixture must produce matches"

    # 4 files of 2-3 rows; the first dip's PREV context (ts 2) and its
    # continuation (ts 3) land in DIFFERENT micro-batches
    chunks = [rows[0:3], rows[3:5], rows[5:8], rows[8:10]]
    tmp = stage_chunks(spark, chunks, schema)
    st = file_stream(
        spark, tmp, spark.createDataFrame([], schema).schema,
        max_files_per_trigger=1,
    )
    # streaming+nav runs the bounded stream to completion and returns
    # the emitted rows as a batch DataFrame (foreachBatch wrapper
    # convention, like the jvm_keyed_fold family)
    out = match_recognize_sql(st, sql, streaming=True)
    assert not out.isStreaming
    streamed = {tuple(r) for r in out.collect()}
    assert streamed == batch

    import pytest as _pytest

    with _pytest.raises(NotImplementedError, match="NEXT"):
        match_recognize_sql(
            spark.readStream.format("rate").load().selectExpr(
                "1 AS user_id",
                "CAST(timestamp AS DOUBLE) AS ts",
                "CAST(value AS DOUBLE) AS value",
            ),
            sql.replace("PREV(B.value)", "NEXT(B.value)"),
            streaming=True,
        )


def test_replay_ident_includes_partition_key(spark):
    """Regression (round-8 ADVICE): cep_stream_replay's match identity must
    include the partition key — dedup is GLOBAL (left_anti on __ident +
    final dropDuplicates(['__ident'])), so two keys whose matches share
    identical per-variable event times would collide and one key's match
    would be silently dropped."""
    from flink_ci_flink_spark.cep import NO_SKIP, Pattern
    from flink_ci_flink_spark.cep.operator import cep_stream_replay
    from flink_ci_flink_spark.streaming import replay_stream

    schema = "user_id long, ts double, event_type string, event_id long"
    # both users see the SAME timestamps — per-variable ts lists are equal
    rows = [
        (1, 1.0, "view", 10),
        (1, 2.0, "purchase", 11),
        (2, 1.0, "view", 20),
        (2, 2.0, "purchase", 21),
    ]
    df = spark.createDataFrame(rows, schema)
    pat = (
        Pattern.begin("a", where=lambda e: e["event_type"] == "view")
        .next("b", where=lambda e: e["event_type"] == "purchase")
        .within(100)
        .after_match_skip(NO_SKIP)
    )

    def sel(key_tuple, m, events):
        return {
            "user_id": key_tuple[0],
            "view_id": events[m.groups["a"][0]]["event_id"],
            "purchase_id": events[m.groups["b"][-1]]["event_id"],
        }

    st = replay_stream(df, ["ts", "user_id"], n_batches=2)
    # select= only (no measures): forces the Python NFA flat path where
    # the identity is hashed
    out = cep_stream_replay(
        st, pat, ["user_id"], "ts", select=sel,
        output_schema="user_id long, view_id long, purchase_id long",
    )
    got = {tuple(r) for r in out.collect()}
    assert got == {(1, 10, 11), (2, 20, 21)}


def test_replay_compiled_path_parity(spark):
    """Fixed-length all-positive patterns with measures= run the compiled
    lead() plan per micro-batch (try_compile(replay_delay=...)): the plan
    qualifies, carries __ident/__t0 plan-side, and the streamed rows equal
    the one-shot batch cep() answer."""
    from flink_ci_flink_spark.cep import NO_SKIP, Pattern, cep
    from flink_ci_flink_spark.cep.operator import cep_stream_replay
    from flink_ci_flink_spark.cep.compiled import try_compile
    from flink_ci_flink_spark.streaming import replay_stream

    schema = "user_id long, ts double, event_type string, event_id long"
    rows = []
    eid = 0
    for u in range(4):
        for t, et in enumerate(["view", "view", "purchase", "view", "purchase"]):
            rows.append((u, float(t + 1 + u), et, eid))
            eid += 1
    df = spark.createDataFrame(rows, schema)
    pat = (
        Pattern.begin(
            "a",
            where=lambda e: e["event_type"] == "view",
            expr="event_type = 'view'",
        )
        .next(
            "b",
            where=lambda e: e["event_type"] == "purchase",
            expr="event_type = 'purchase'",
        )
        .within(100)
        .after_match_skip(NO_SKIP)
    )
    measures = {
        "view_id": ("a", "first", "event_id"),
        "purchase_id": ("b", "last", "event_id"),
    }
    out_schema = "user_id long, view_id long, purchase_id long"

    compiled = try_compile(
        df, pat, ["user_id"], "ts", measures, out_schema, replay_delay=0.0
    )
    assert compiled is not None, "fixed all-positive pattern must compile"
    assert {"__ident", "__t0"} <= set(compiled.columns)
    assert compiled.select("__ident").distinct().count() == compiled.count()

    batch = {
        tuple(r)
        for r in cep(
            df, pat, ["user_id"], "ts", measures=measures, output_schema=out_schema
        ).collect()
    }
    st = replay_stream(df, ["ts", "user_id"], n_batches=3)
    out = cep_stream_replay(
        st, pat, ["user_id"], "ts", measures=measures,
        output_schema=out_schema,
    )
    streamed = {tuple(r) for r in out.collect()}
    assert streamed == batch and batch


def test_streaming_nav_rejects_non_null_rejecting_define(spark):
    """Streaming MATCH_RECOGNIZE rejects DEFINEs that are not NULL-rejecting
    on PREV references ('IS NULL' / NOT(...) over a nav value): buffer
    pruning can turn a real PREV into NULL mid-stream, so those predicates
    would spuriously match at the prune boundary."""
    import pytest as _pytest

    from flink_ci_flink_spark.cep import match_recognize_sql

    st = spark.readStream.format("rate").load().selectExpr(
        "1 AS user_id",
        "CAST(timestamp AS DOUBLE) AS ts",
        "CAST(value AS DOUBLE) AS value",
    )
    base = """
      SELECT * FROM __x MATCH_RECOGNIZE (
        PARTITION BY user_id ORDER BY ts
        MEASURES LAST(A.ts) AS a_ts, LAST(B.ts) AS b_ts
        ONE ROW PER MATCH
        AFTER MATCH SKIP TO NEXT ROW
        PATTERN (A B) WITHIN INTERVAL '10' SECOND
        DEFINE A AS {a_def}, B AS B.value > PREV(B.value)
      )"""
    with _pytest.raises(NotImplementedError, match="NULL-rejecting"):
        match_recognize_sql(
            st, base.format(a_def="PREV(A.value) IS NULL"), streaming=True
        )
    with _pytest.raises(NotImplementedError, match="NULL-rejecting"):
        match_recognize_sql(
            st,
            base.format(a_def="NOT (A.value < PREV(A.value))"),
            streaming=True,
        )
    # NULL-rejecting comparisons stay accepted (plan builds lazily; the
    # call itself must not raise)
    match_recognize_sql(
        st, base.format(a_def="A.value < PREV(A.value)"), streaming=False
    )


def test_mr_desc_secondary_order_compiled_equals_nfa(spark):
    """ORDER BY ts, id DESC: on a tie-heavy fixture (every event at the
    same timestamp) the descending secondary REVERSES adjacency, so the
    match set differs from ascending ordering — and the compiled lead()
    plan, the NFA path, and a hand-rolled expectation all agree."""
    from flink_ci_flink_spark.cep import NO_SKIP, Pattern, cep

    # one key, all events tie on ts; id descending gives adjacency
    # 5,4,3,2,1 → (view,purchase) adjacent pairs differ from ascending
    rows = [
        (1, 10.0, 5, "view"),
        (1, 10.0, 4, "purchase"),
        (1, 10.0, 3, "view"),
        (1, 10.0, 2, "view"),
        (1, 10.0, 1, "purchase"),
    ]
    df = spark.createDataFrame(rows, "k long, ts double, id long, event_type string")
    pat = (
        Pattern.begin(
            "a", where=lambda e: e["event_type"] == "view",
            expr="event_type = 'view'",
        )
        .next(
            "b", where=lambda e: e["event_type"] == "purchase",
            expr="event_type = 'purchase'",
        )
        .within(100)
        .after_match_skip(NO_SKIP)
    )
    measures = {"view_id": ("a", "first", "id"), "purchase_id": ("b", "last", "id")}
    out_schema = "k long, view_id long, purchase_id long"

    compiled = {
        tuple(r)
        for r in cep(
            df, pat, ["k"], ["ts", "id DESC"], measures=measures,
            output_schema=out_schema,
        ).collect()
    }
    # NFA path: select= without measures skips try_compile
    from flink_ci_flink_spark.cep.operator import measure_select

    nfa = {
        tuple(r)
        for r in cep(
            df, pat, ["k"], ["ts", "id DESC"],
            select=measure_select(measures, ["k"]),
            output_schema=out_schema,
        ).collect()
    }
    # in id-descending order the sequence is (5,view)(4,purchase)(3,view)
    # (2,view)(1,purchase): adjacent view→purchase pairs are (5,4), (2,1)
    want = {(1, 5, 4), (1, 2, 1)}
    assert compiled == want and nfa == want
    # ascending ordering would give (3,view)(4,purchase)? no — ascending
    # is 1..5: (1,purchase)(2,view)(3,view)(4,purchase)(5,view) → (3,4)
    asc = {
        tuple(r)
        for r in cep(
            df, pat, ["k"], ["ts", "id"], measures=measures,
            output_schema=out_schema,
        ).collect()
    }
    assert asc == {(1, 3, 4)}


def test_mr_desc_secondary_streaming_buffer(spark):
    """The streaming NFA's per-key buffer honors a DESC secondary spec
    (stable multi-pass sort): streamed matches == the batch answer on the
    same tie-heavy fixture."""
    from flink_ci_flink_spark.cep import match_recognize_sql
    from flink_ci_flink_spark.streaming import replay_stream, run_to_completion

    schema = "k long, ts double, id long, event_type string"
    rows = [
        (1, 10.0, 5, "view"),
        (1, 10.0, 4, "purchase"),
        (1, 10.0, 3, "view"),
        (1, 10.0, 2, "view"),
        (1, 10.0, 1, "purchase"),
        (1, 20.0, 7, "view"),
        (1, 20.0, 6, "purchase"),
    ]
    df = spark.createDataFrame(rows, schema)
    sql = """
      SELECT * FROM __x MATCH_RECOGNIZE (
        PARTITION BY k ORDER BY ts, id DESC
        MEASURES FIRST(A.id) AS view_id, LAST(B.id) AS purchase_id
        ONE ROW PER MATCH
        AFTER MATCH SKIP TO NEXT ROW
        PATTERN (A B) WITHIN INTERVAL '100' SECOND
        DEFINE A AS A.event_type = 'view', B AS B.event_type = 'purchase'
      )"""
    batch = {tuple(r) for r in match_recognize_sql(df, sql).collect()}
    assert batch, "fixture must match"
    from flink_ci_flink_spark.streaming import run_to_completion

    st = replay_stream(df, ["ts", "id"], n_batches=2)
    out = match_recognize_sql(st, sql, streaming=True)
    streamed = {tuple(r) for r in run_to_completion(out).collect()}
    assert streamed == batch
