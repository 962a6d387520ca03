"""CEP queries (MATCH_RECOGNIZE-class workloads) with window-function oracles.

Patterns simple enough for a LEAD()-based SQL formulation serve as the
correctness gate for the NFA machinery; richer combinators (quantifiers,
optional, within + skip strategies) are covered in tests/test_cep.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from flink_ci_flink_spark.catalog import load_tables
from flink_ci_flink_spark.cep import NO_SKIP, Pattern, cep
from flink_ci_flink_spark.functions.scalar import epoch_seconds
from flink_ci_flink_spark.queries.registry import query


@query(
    "cep_click_click_purchase",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts, event_type,
             LEAD(event_type, 1) OVER w AS t1,
             LEAD(event_type, 2) OVER w AS t2,
             LEAD(event_id, 2)   OVER w AS end_id,
             LEAD(ts, 2)         OVER w AS end_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    )
    SELECT user_id, event_id AS start_id, end_id,
           CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS start_ts_s
    FROM seq
    WHERE event_type = 'click' AND t1 = 'click' AND t2 = 'purchase'
      AND EPOCH(end_ts) - EPOCH(ts) <= 259200
    """,
    group="cep",
)
def cep_click_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern: click →(strict) click →(strict) purchase within 72h,
    NO_SKIP (every anchor tested — the LEAD() formulation's semantics).
    Every stage carries a SQL expr and the pattern is fixed-length strict,
    so cep() compiles it to a pure lead() window plan (`cep/compiled.py`) —
    one shuffle, whole-stage codegen, zero Python.
    Ref: `Pattern.java` begin/next/within, `CepOperator.java:83`,
    `MATCH_RECOGNIZE` → `StreamExecMatch.scala:68`."""
    from pyspark.sql import functions as F

    t = load_tables(spark, sf_dir)
    ev = t.events.withColumn(
        "ts_s", F.floor(epoch_seconds(t.events, "ts")).cast("long")
    )
    pat = (
        Pattern.begin(
            "a", where=lambda e: e["event_type"] == "click", expr="event_type = 'click'"
        )
        .next(
            "b", where=lambda e: e["event_type"] == "click", expr="event_type = 'click'"
        )
        .next(
            "c",
            where=lambda e: e["event_type"] == "purchase",
            expr="event_type = 'purchase'",
        )
        .within(259200)
        .after_match_skip(NO_SKIP)
    )
    return cep(
        ev,
        pat,
        keys=["user_id"],
        ts_col="ts",
        measures={
            "start_id": ("a", "first", "event_id"),
            "end_id": ("c", "last", "event_id"),
            "start_ts_s": ("a", "first", "ts_s"),
        },
        output_schema="user_id long, start_id long, end_id long, start_ts_s long",
    )


@query(
    "cep_error_burst",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts,
             LAG(ts, 2) OVER (PARTITION BY user_id ORDER BY ts) AS ts_2back,
             LAG(event_id, 2) OVER (PARTITION BY user_id ORDER BY ts) AS id_2back,
             event_type,
             LAG(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts) AS t1,
             LAG(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts) AS t2
      FROM events
    )
    SELECT user_id, id_2back AS first_error_id, event_id AS third_error_id
    FROM seq
    WHERE event_type = 'error' AND t1 = 'error' AND t2 = 'error'
      AND EPOCH(ts) - EPOCH(ts_2back) <= 259200
    """,
    group="cep",
)
def cep_error_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern: error.times(3) strictly consecutive within 72h (burst
    detection) — quantifier path through the matcher, NO_SKIP anchoring
    (LEAD/LAG-equivalent); compiled to lead() exprs (fixed-length strict).
    Ref: `Pattern.times:382`, `consecutive:480`."""
    t = load_tables(spark, sf_dir)
    err = "event_type = 'error'"
    pat = (
        Pattern.begin("e", where=lambda ev: ev["event_type"] == "error", expr=err)
        .next("e2", where=lambda ev: ev["event_type"] == "error", expr=err)
        .next("e3", where=lambda ev: ev["event_type"] == "error", expr=err)
        .within(259200)
        .after_match_skip(NO_SKIP)
    )
    return cep(
        t.events,
        pat,
        keys=["user_id"],
        ts_col="ts",
        measures={
            "first_error_id": ("e", "first", "event_id"),
            "third_error_id": ("e3", "last", "event_id"),
        },
        output_schema="user_id long, first_error_id long, third_error_id long",
    )


@query(
    "cep_match_recognize_view_run",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts, event_type,
             LEAD(event_type, 1) OVER w AS t1,
             LEAD(event_type, 2) OVER w AS t2,
             LEAD(event_type, 3) OVER w AS t3,
             LEAD(event_id, 1)   OVER w AS id1,
             LEAD(event_id, 2)   OVER w AS id2,
             LEAD(event_id, 3)   OVER w AS id3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    )
    SELECT user_id, event_id AS first_a,
           CASE WHEN t2 = 'view' THEN 2 ELSE 1 END AS n_b,
           CASE WHEN t2 = 'view' THEN id3 ELSE id2 END AS last_c
    FROM seq
    WHERE event_type = 'signup' AND t1 = 'view'
      AND ((t2 = 'view' AND t3 = 'purchase') OR (t2 = 'purchase'))
    """,
    group="cep",
)
def cep_match_recognize_view_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE helper: PATTERN (A B{1,2} C) — signup, 1-2 views,
    purchase, strictly consecutive, greedy B, NO_SKIP anchoring. Oracle
    enumerates both B lengths via LEAD() with greedy preference.
    Ref: `StreamExecMatch.scala:68` (MATCH_RECOGNIZE→NFA compilation)."""
    from flink_ci_flink_spark.cep import match_recognize

    t = load_tables(spark, sf_dir)
    return match_recognize(
        t.events,
        partition_by="user_id",
        order_by="ts",
        pattern="A B{1,2} C",
        define={
            "A": lambda e: e["event_type"] == "signup",
            "B": lambda e: e["event_type"] == "view",
            "C": lambda e: e["event_type"] == "purchase",
        },
        define_expr={
            "A": "event_type = 'signup'",
            "B": "event_type = 'view'",
            "C": "event_type = 'purchase'",
        },
        measures={
            "first_a": ("A", "first", "event_id"),
            "n_b": ("B", "count", None),
            "last_c": ("C", "last", "event_id"),
        },
        after_match="no_skip",
        output_schema="user_id long, first_a long, n_b long, last_c long",
    )


@query(
    "cep_click_no_purchase",
    oracle="""
    SELECT e.user_id, e.event_id AS click_id,
           CAST(FLOOR(EPOCH(e.ts)) AS BIGINT) AS click_ts_s
    FROM events e
    WHERE e.event_type = 'click'
      AND NOT EXISTS (
        SELECT 1 FROM events p
        WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
          AND p.ts > e.ts AND EPOCH(p.ts) - EPOCH(e.ts) <= 86400
      )
    """,
    group="cep",
)
def cep_click_no_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absence detection: click NOT followed by purchase within 24h —
    the trailing-notFollowedBy negative pattern (`Pattern.notFollowedBy:273`,
    which the reference only allows with a within() bound; same constraint
    here). The NFA holds the anchor open until the window expires, then
    emits iff no purchase arrived. Every stage carries a SQL expr, so the
    whole pattern compiles JVM-side (`cep/compiled.py`): the trailing
    absence becomes a min-over-following-rows "next purchase ts" window
    check — zero Python. Oracle: NOT EXISTS anti-join."""
    from pyspark.sql import functions as F

    t = load_tables(spark, sf_dir)
    ev = t.events.withColumn(
        "ts_s", F.floor(epoch_seconds(t.events, "ts")).cast("long")
    )
    pat = (
        Pattern.begin(
            "a", where=lambda e: e["event_type"] == "click", expr="event_type = 'click'"
        )
        .not_followed_by(
            "np",
            where=lambda e: e["event_type"] == "purchase",
            expr="event_type = 'purchase'",
        )
        .within(86400)
        .after_match_skip(NO_SKIP)
    )
    return cep(
        ev,
        pat,
        keys=["user_id"],
        ts_col="ts",
        measures={
            "click_id": ("a", "first", "event_id"),
            "click_ts_s": ("a", "first", "ts_s"),
        },
        output_schema="user_id long, click_id long, click_ts_s long",
    )


@query(
    "cep_mr_sql_view_to_purchase",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts, event_type,
             LEAD(event_type, 1) OVER w AS t1,
             LEAD(event_id, 1)   OVER w AS id1,
             LEAD(ts, 1)         OVER w AS ts1
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    )
    SELECT user_id, event_id AS view_id, id1 AS purchase_id
    FROM seq
    WHERE event_type = 'view' AND t1 = 'purchase'
      AND EPOCH(ts1) - EPOCH(ts) <= 172800
    """,
    group="cep",
)
def cep_mr_sql_view_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE parsed from SQL TEXT (the reference's actual user
    surface — Calcite parse in `StreamExecMatch.scala:68`): view
    immediately followed by purchase within 48h, SKIP PAST LAST ROW (the
    SQL default). Strict adjacency on two disjoint event types means no
    two candidate matches can share rows, so the skip-past-last anchor walk
    emits every adjacent pair — the oracle is the plain LEAD() enumeration.
    All DEFINE predicates are SQL exprs, so the fixed 2-stage pattern
    compiles to the pure lead() window plan — zero Python.
    """
    from flink_ci_flink_spark.cep import match_recognize_sql

    t = load_tables(spark, sf_dir)
    t.events.createOrReplaceTempView("__mr_events")
    return match_recognize_sql(
        spark,
        """
        SELECT * FROM __mr_events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES FIRST(A.event_id) AS view_id, LAST(B.event_id) AS purchase_id
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A B) WITHIN INTERVAL '48' HOUR
          DEFINE A AS A.event_type = 'view', B AS B.event_type = 'purchase'
        )
        """,
    )


@query(
    "cep_mr_price_dip",
    oracle="""
    WITH base AS (
      SELECT user_id, event_id, value,
             ROW_NUMBER() OVER w AS rn,
             CASE WHEN value < LAG(value) OVER w THEN 1 ELSE 0 END AS dn,
             CASE WHEN value > LAG(value) OVER w THEN 1 ELSE 0 END AS up
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    isl AS (
      SELECT user_id, rn,
             rn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn) AS grp
      FROM base WHERE dn = 1
    ),
    islands AS (
      SELECT user_id, grp, MAX(rn) AS end_rn FROM isl GROUP BY user_id, grp
    ),
    downs AS (
      SELECT i.user_id, i.rn, s.end_rn
      FROM isl i JOIN islands s ON s.user_id = i.user_id AND s.grp = i.grp
    )
    SELECT p.user_id,
           p.event_id AS start_id,
           p.value AS start_value,
           e.value AS bottom_value,
           CAST(d.end_rn - d.rn + 1 AS BIGINT) AS n_downs,
           CASE WHEN COALESCE(x.up, 0) = 1 THEN 'UP' ELSE 'DOWN' END AS last_var
    FROM downs d
    JOIN base p ON p.user_id = d.user_id AND p.rn = d.rn - 1
    JOIN base e ON e.user_id = d.user_id AND e.rn = d.end_rn
    LEFT JOIN base x ON x.user_id = d.user_id AND x.rn = d.end_rn + 1
    """,
    group="cep",
)
def cep_mr_price_dip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-dip MATCH_RECOGNIZE with navigation DEFINE and CLASSIFIER():
    a strictly-falling run of `value` (DOWN+, each row below its physical
    predecessor via PREV) optionally closed by a recovery row (UP?), AFTER
    MATCH SKIP TO NEXT ROW — the canonical navigated-DEFINE workload the
    reference runs through IterativeCondition (`Pattern.java:156`,
    `StreamExecMatch.scala:68`, runtime `operators/match/`). Here
    PREV(value) compiles to a JVM lag() column so every DEFINE stays
    row-local; the variable-length pattern runs on the NFA over
    precomputed booleans. CLASSIFIER() reports whether the dip closed with
    a recovery ('UP') or ran to a boundary ('DOWN'). Oracle: gaps-and-
    islands enumeration of down-runs — every down row starts one match
    anchored at its predecessor (SKIP TO NEXT ROW semantics), n_downs is
    the remaining run length, greedy UP? reads the post-run flag."""
    from flink_ci_flink_spark.cep import match_recognize_sql

    t = load_tables(spark, sf_dir)
    t.events.createOrReplaceTempView("__mr_price_events")
    return match_recognize_sql(
        spark,
        """
        SELECT * FROM __mr_price_events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES STRT.event_id AS start_id, STRT.value AS start_value,
                   LAST(DOWN.value) AS bottom_value, COUNT(DOWN.*) AS n_downs,
                   CLASSIFIER() AS last_var
          ONE ROW PER MATCH
          AFTER MATCH SKIP TO NEXT ROW
          PATTERN (STRT DOWN+ UP?)
          DEFINE DOWN AS DOWN.value < PREV(DOWN.value),
                 UP AS UP.value > PREV(UP.value)
        )
        """,
    )


@query(
    "cep_mr_all_rows",
    oracle="""
    WITH e AS (
      SELECT event_id, ts, user_id, event_type, value, props,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts) AS rn
      FROM events
    ), m AS (
      SELECT a.user_id, a.rn,
             a.event_id AS id1, a.ts AS ts1, a.value AS v1, a.props AS pr1,
             b.event_id AS id2, b.ts AS ts2, b.value AS v2, b.props AS pr2,
             c.event_id AS id3, c.ts AS ts3, c.value AS v3, c.props AS pr3
      FROM e a
      JOIN e b ON b.user_id = a.user_id AND b.rn = a.rn + 1
      JOIN e c ON c.user_id = a.user_id AND c.rn = a.rn + 2
      WHERE a.event_type = 'click' AND b.event_type = 'click'
        AND c.event_type = 'purchase'
    ), n AS (
      SELECT m.*, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn)
               AS match_seq
      FROM m
    )
    SELECT user_id, id1 AS event_id, ts1 AS ts, 'click' AS event_type,
           v1 AS value, pr1 AS props, 'A' AS classifier, match_seq,
           CAST(1 AS BIGINT) AS n_clicks, v1 AS click_value,
           CAST(NULL AS DOUBLE) AS purchase_value
    FROM n
    UNION ALL
    SELECT user_id, id2, ts2, 'click', v2, pr2, 'A', match_seq,
           CAST(2 AS BIGINT), v1 + v2, CAST(NULL AS DOUBLE)
    FROM n
    UNION ALL
    SELECT user_id, id3, ts3, 'purchase', v3, pr3, 'B', match_seq,
           CAST(2 AS BIGINT), v1 + v2, v3
    FROM n
    """,
    group="cep",
)
def cep_mr_all_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE with ALL ROWS PER MATCH — BEYOND reference parity
    (the reference throws: `StreamExecMatch.scala:192` "All rows per match
    mode is not supported yet"). SQL-standard semantics: one output row
    per matched event carrying its payload, per-row CLASSIFIER(), a
    per-key match number, and RUNNING-semantics measures (count/sum over
    the match's rows so far; LAST(B.value) is NULL until B matches). The
    oracle enumerates click-click-purchase runs relationally and replays
    the running measures per emitted row; matches of this fixed pattern
    cannot overlap, so SKIP TO NEXT ROW (NO_SKIP) equals SKIP PAST LAST —
    and NO_SKIP lets the fixed-length strict pattern take the COMPILED
    all-rows plan (`cep/compiled.py::try_compile_all_rows`): payload +
    running measures unrolled to lead() expressions, struct-array explode,
    one shuffle, zero Python (asserted in
    `test_all_rows_compiled_equals_nfa`)."""
    from flink_ci_flink_spark.cep import match_recognize_sql

    t = load_tables(spark, sf_dir)
    return match_recognize_sql(
        t.events,
        """
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          MEASURES COUNT(A.*) AS n_clicks, SUM(A.value) AS click_value,
                   LAST(B.value) AS purchase_value
          ALL ROWS PER MATCH
          AFTER MATCH SKIP TO NEXT ROW
          PATTERN (A A B)
          DEFINE A AS event_type = 'click', B AS event_type = 'purchase'
        )
        """,
    )


@query(
    "cep_timeout_click_purchase",
    oracle="""
    SELECT e.user_id, e.event_id AS click_id,
           CAST(FLOOR(EPOCH(e.ts)) AS BIGINT) AS click_ts_s,
           CAST(FLOOR(EPOCH(e.ts)) AS BIGINT) + 86400 AS timeout_ts_s
    FROM events e
    WHERE e.event_type = 'click'
      AND NOT EXISTS (
        SELECT 1 FROM events p
        WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
          AND p.ts > e.ts AND EPOCH(p.ts) - EPOCH(e.ts) <= 86400
      )
    """,
    group="cep",
)
def cep_timeout_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timed-out partial matches as a SIDE OUTPUT: pattern click
    ->(relaxed) purchase within 24h; every click whose window expired
    before a purchase arrived is emitted from the timeout side output
    with its expiry timestamp — the fraud/abandonment use-case the
    reference serves via `PatternStream.select(timeoutTag,
    PatternTimeoutFunction, ...)` (`PatternStream.java:173-189`,
    `TimedOutPartialMatchHandler.java`). Bounded input = final watermark
    past every window, so all never-completed anchors time out. Oracle:
    NOT EXISTS anti-join; timeout_ts = click ts + within by definition."""
    from pyspark.sql import functions as F

    from flink_ci_flink_spark.cep import cep_timed_out

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
    out = cep_timed_out(
        ev,
        pat,
        keys=["user_id"],
        ts_col="ts",
        measures={
            "click_id": ("a", "first", "event_id"),
            "click_ts_s": ("a", "first", "ts_s"),
        },
        output_schema="user_id long, click_id long, click_ts_s long",
    )
    return out.withColumn("timeout_ts_s", (F.col("click_ts_s") + F.lit(86400)).cast("long"))


@query(
    "cep_mr_error_run_until_purchase",
    oracle="""
    WITH base AS (
      SELECT user_id, event_id, ts, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts) AS rn
      FROM events
    ), seq AS (
      SELECT *,
             MIN(CASE WHEN event_type <> 'error' THEN rn END)
               OVER (PARTITION BY user_id ORDER BY rn
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt
      FROM base
    )
    SELECT e.user_id, e.event_id AS first_error_id,
           CAST(e.nxt - e.rn AS BIGINT) AS n_errors,
           b.event_id AS purchase_id
    FROM seq e JOIN seq b
      ON b.user_id = e.user_id AND b.rn = e.nxt
    WHERE e.event_type = 'error' AND b.event_type = 'purchase'
      AND e.nxt - e.rn <= 16
    """,
    group="cep",
)
def cep_mr_error_run_until_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE PATTERN (E{1,16} P): a strictly-consecutive error
    run (bounded quantifier, greedy — the SQL default) closed by a
    purchase, NO_SKIP — every suffix of a closed run matches with its own
    count. Exercises the round-5 EXPANSION compiler: 16 fixed-offset
    lead() conjunctions enumerated in greedy preference order, measures
    as preference CASEs, zero Python (asserted in tests). Oracle: islands
    formulation — for each error row the next non-error row must be a
    purchase; run length = the row-number gap, bounded 16 on both sides.
    Ref: `StreamExecMatch.scala:68`; greedy quantifier `Pattern.java:367`."""
    from flink_ci_flink_spark.cep import match_recognize_sql

    t = load_tables(spark, sf_dir)
    return match_recognize_sql(
        t.events,
        """
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          MEASURES FIRST(E.event_id) AS first_error_id,
                   COUNT(E.*) AS n_errors,
                   LAST(P.event_id) AS purchase_id
          AFTER MATCH SKIP TO NEXT ROW
          PATTERN (E{1,16} P)
          DEFINE E AS event_type = 'error', P AS event_type = 'purchase'
        )
        """,
    )


@query(
    "cep_mr_secondary_order",
    oracle="""
    WITH base AS (
      SELECT user_id, event_id, event_type,
             date_trunc('hour', ts) AS hts
      FROM events
    ), seq AS (
      SELECT user_id, event_id, event_type, hts,
             LEAD(event_type, 1) OVER w AS t1,
             LEAD(event_id, 1)   OVER w AS id1,
             LEAD(hts, 1)        OVER w AS hts1
      FROM base
      WINDOW w AS (PARTITION BY user_id ORDER BY hts, event_id)
    )
    SELECT user_id, event_id AS view_id, id1 AS purchase_id
    FROM seq
    WHERE event_type = 'view' AND t1 = 'purchase'
      AND EPOCH(hts1) - EPOCH(hts) <= 172800
    """,
    group="cep",
)
def cep_mr_secondary_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE with SECONDARY ORDER BY columns
    (`StreamExecMatch.scala:68` sort spec: time attribute first, extra
    ascending tie-break fields after). The event time is truncated to the
    hour, so hundreds of events per user tie on the time attribute and
    single-column ordering would be nondeterministic — `event_id` breaks
    every tie identically in the compiled lead() windows and the DuckDB
    oracle. Fixed 2-stage pattern + expr DEFINEs = pure lead() plan,
    zero Python."""
    from pyspark.sql import functions as F

    from flink_ci_flink_spark.cep import match_recognize_sql

    t = load_tables(spark, sf_dir)
    base = t.events.select(
        "user_id",
        "event_id",
        "event_type",
        F.date_trunc("hour", "ts").alias("hts"),
    )
    return match_recognize_sql(
        base,
        """
        SELECT * FROM __base MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY hts, event_id
          MEASURES FIRST(A.event_id) AS view_id, LAST(B.event_id) AS purchase_id
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A B) WITHIN INTERVAL '48' HOUR
          DEFINE A AS A.event_type = 'view', B AS B.event_type = 'purchase'
        )
        """,
    )


@query(
    "cep_mr_prev_stream_replay",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, value,
             LAG(value) OVER w AS pv,
             LEAD(value) OVER w AS nv,
             LEAD(ts) OVER w AS nts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    )
    SELECT user_id,
           CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS dip_ts_s,
           CAST(FLOOR(EPOCH(nts)) AS BIGINT) AS rebound_ts_s
    FROM seq
    WHERE pv IS NOT NULL AND value < pv AND nv > value
      AND EPOCH(nts) - EPOCH(ts) <= 172800
    """,
    group="cep",
)
def cep_mr_prev_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREV physical navigation on STREAMING MATCH_RECOGNIZE, driver-proven:
    the dip-rebound pattern (A.value < PREV(A.value), B.value >
    PREV(B.value), strict adjacency, 48h window) runs over a 3-micro-batch
    replay of the events table through `cep_stream_replay` — the
    foreachBatch re-plan wrapper that recomputes the nav lag() columns over
    the WHOLE buffered suffix each batch, so PREV context crossing a
    micro-batch boundary still matches; per batch the fixed 2-stage
    expr-defined pattern compiles to the pure lead() plan — zero Python per
    micro-batch: `cep_stream_replay` routes fixed-length all-positive
    patterns through `compiled.try_compile(replay_delay=...)`, which also
    computes the __ident/__t0 match-identity columns and the per-key
    frontier closedness filter plan-side. Emitted rows == the one-shot
    LAG/LEAD enumeration the oracle runs (`cep/operator.py::
    cep_stream_replay`, `cep/match_recognize.py` streaming-nav dispatch)."""
    from flink_ci_flink_spark.cep import match_recognize_sql
    from flink_ci_flink_spark.functions.scalar import epoch_seconds
    from flink_ci_flink_spark.streaming import replay_stream

    t = load_tables(spark, sf_dir)
    ev = t.events.select(
        "user_id",
        "ts",
        "value",
        epoch_seconds(t.events, "ts").cast("long").alias("ts_s"),
    )
    st = replay_stream(ev, ["ts", "user_id"])
    out = match_recognize_sql(
        st,
        """
        SELECT * FROM __replay MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES LAST(A.ts_s) AS dip_ts_s, LAST(B.ts_s) AS rebound_ts_s
          ONE ROW PER MATCH
          AFTER MATCH SKIP TO NEXT ROW
          PATTERN (A B) WITHIN INTERVAL '48' HOUR
          DEFINE A AS A.value < PREV(A.value), B AS B.value > PREV(B.value)
        )
        """,
        streaming=True,
    )
    return out


@query(
    "cep_mr_desc_secondary",
    oracle="""
    WITH base AS (
      SELECT user_id, event_id, event_type,
             date_trunc('hour', ts) AS hts
      FROM events
    ), seq AS (
      SELECT user_id, event_id, event_type, hts,
             LEAD(event_type, 1) OVER w AS t1,
             LEAD(event_id, 1)   OVER w AS id1,
             LEAD(hts, 1)        OVER w AS hts1
      FROM base
      WINDOW w AS (PARTITION BY user_id ORDER BY hts, event_id DESC)
    )
    SELECT user_id, event_id AS view_id, id1 AS purchase_id
    FROM seq
    WHERE event_type = 'view' AND t1 = 'purchase'
      AND EPOCH(hts1) - EPOCH(hts) <= 172800
    """,
    group="cep",
)
def cep_mr_desc_secondary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE with a DESCENDING secondary ORDER BY column
    (`StreamExecMatch.scala:68` sort spec allows any direction after the
    ascending time attribute — round 8 closes the ascending-only gap).
    Event time truncated to the hour makes hundreds of ties per user, and
    `event_id DESC` REVERSES adjacency relative to `cep_mr_secondary_order`
    — a different (and differently-sized) match set, proven against the
    same directed ordering in the DuckDB oracle. Fixed 2-stage pattern +
    expr DEFINEs = pure lead() plan with directed window sort, zero
    Python."""
    from pyspark.sql import functions as F

    from flink_ci_flink_spark.cep import match_recognize_sql

    t = load_tables(spark, sf_dir)
    base = t.events.select(
        "user_id",
        "event_id",
        "event_type",
        F.date_trunc("hour", "ts").alias("hts"),
    )
    return match_recognize_sql(
        base,
        """
        SELECT * FROM __base MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY hts, event_id DESC
          MEASURES FIRST(A.event_id) AS view_id, LAST(B.event_id) AS purchase_id
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A B) WITHIN INTERVAL '48' HOUR
          DEFINE A AS A.event_type = 'view', B AS B.event_type = 'purchase'
        )
        """,
    )
