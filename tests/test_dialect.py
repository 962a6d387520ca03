"""Flink SQL dialect shim: string-rewrite unit tests (execution parity is
covered by the flinksql_* oracle queries in test_oracle_parity)."""

from __future__ import annotations

import pytest

from flink_ci_flink_spark.dialect import translate


def test_tumble_rewrite():
    got = translate(
        "SELECT TUMBLE_START(ts, INTERVAL '6' HOUR) AS ws, COUNT(*) n "
        "FROM events GROUP BY TUMBLE(ts, INTERVAL '6' HOUR)"
    )
    assert "window(ts, '6 hours')" in got
    assert "window.start AS ws" in got
    assert "TUMBLE" not in got.upper()


def test_hop_swaps_argument_order():
    got = translate(
        "SELECT HOP_END(ts, INTERVAL '5' MINUTE, INTERVAL '1' HOUR) "
        "FROM events GROUP BY HOP(ts, INTERVAL '5' MINUTE, INTERVAL '1' HOUR)"
    )
    # Flink (slide=5m, size=1h) -> Spark window(ts, size, slide)
    assert "window(ts, '1 hours', '5 minutes')" in got
    assert "window.end" in got


def test_session_rewrite():
    got = translate(
        "SELECT user_id, SESSION_START(ts, INTERVAL '30' MINUTE) s "
        "FROM events GROUP BY SESSION(ts, INTERVAL '30' MINUTE), user_id"
    )
    assert "session_window(ts, '30 minutes')" in got
    assert "session_window.start s" in got


def test_passthrough_untouched():
    sql = "SELECT a <> b, `weird col` FROM t WHERE x BETWEEN 1 AND 2"
    assert translate(sql) == sql


def test_rowtime_auxiliary_rejected():
    with pytest.raises(ValueError, match="TUMBLE_ROWTIME"):
        translate("SELECT TUMBLE_ROWTIME(ts, INTERVAL '1' HOUR) FROM events")


def test_match_recognize_delegates(spark, sf_dir):
    """A MATCH_RECOGNIZE statement through the dialect front door returns
    the same rows as calling the CEP SQL parser directly."""
    from flink_ci_flink_spark.catalog import load_tables
    from flink_ci_flink_spark.cep.match_recognize import match_recognize_sql
    from flink_ci_flink_spark.dialect import flink_sql

    load_tables(spark, sf_dir).events.createOrReplaceTempView("events")
    sql = """
    SELECT * FROM events MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts
      MEASURES FIRST(A.ts) AS start_ts, LAST(B.ts) AS end_ts
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A B)
      DEFINE A AS A.event_type = 'view', B AS B.event_type = 'purchase'
    )
    """
    via_dialect = {tuple(r) for r in flink_sql(spark, sql).collect()}
    direct = {tuple(r) for r in match_recognize_sql(spark, sql).collect()}
    assert via_dialect == direct and via_dialect


def test_case_insensitive():
    got = translate("select tumble_start(ts, interval '1' day) from e group by tumble(ts, interval '1' day)")
    assert "window(ts, '1 days')" in got
    assert "window.start" in got


def test_ddl_filesystem_parquet_roundtrip(spark, sf_dir):
    from flink_ci_flink_spark.dialect import flink_ddl

    df = flink_ddl(
        spark,
        f"""
        CREATE TABLE ddl_events (
          event_id BIGINT,
          ts TIMESTAMP(3),
          user_id BIGINT,
          event_type STRING,
          value DOUBLE,
          props STRING,
          WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
        ) WITH (
          'connector' = 'filesystem',
          'path' = '{sf_dir}/events.parquet',
          'format' = 'parquet'
        )
        """,
    )
    assert spark.table("ddl_events").count() == df.count() > 0
    assert [f.name for f in df.schema.fields] == [
        "event_id", "ts", "user_id", "event_type", "value", "props",
    ]


def test_ddl_computed_column_and_types(spark, sf_dir):
    from flink_ci_flink_spark.dialect import flink_ddl, parse_ddl

    spec = parse_ddl(
        "CREATE TABLE t (a TIMESTAMP_LTZ(3), b BYTES, c ROW<x INT, y STRING>, "
        "d MULTISET<STRING, INT>) WITH ('connector' = 'filesystem', 'path' = '/x')"
    )
    assert dict(spec["columns"])["a"] == "TIMESTAMP"
    assert dict(spec["columns"])["b"] == "BINARY"
    assert dict(spec["columns"])["c"].startswith("STRUCT<")
    assert dict(spec["columns"])["d"].startswith("MAP<")

    df = flink_ddl(
        spark,
        f"""
        CREATE TABLE ddl_ev2 (
          event_id BIGINT,
          value DOUBLE,
          doubled AS value * 2
        ) WITH ('connector' = 'filesystem',
                'path' = '{sf_dir}/events.parquet', 'format' = 'parquet')
        """,
    )
    row = df.filter("value IS NOT NULL").select("value", "doubled").first()
    assert row.doubled == row.value * 2


def test_ddl_proctime_rejected(spark):
    import pytest as _pytest

    from flink_ci_flink_spark.dialect import flink_ddl

    with _pytest.raises(ValueError, match="PROCTIME"):
        flink_ddl(
            spark,
            "CREATE TABLE t (a BIGINT, p AS PROCTIME()) "
            "WITH ('connector' = 'filesystem', 'path' = '/x')",
        )


def test_ddl_datagen_batch(spark):
    from flink_ci_flink_spark.dialect import flink_ddl

    df = flink_ddl(
        spark,
        "CREATE TABLE gen (id BIGINT) WITH "
        "('connector' = 'datagen', 'number-of-rows' = '7')",
    )
    assert df.count() == 7


def test_ddl_streaming_watermark_tumble(spark, sf_dir):
    """flink_ddl(streaming=True) yields a watermarked stream; a tumbling
    aggregate over it converges to the batch result on the same file."""
    import shutil

    from pyspark.sql import functions as F

    from flink_ci_flink_spark.dialect import flink_ddl
    from flink_ci_flink_spark.streaming import run_to_completion, scratch_dir

    tmp = scratch_dir("ddl_stream_")
    shutil.copy(f"{sf_dir}/events.parquet", f"{tmp}/events.parquet")
    ddl = f"""
    CREATE TABLE ddl_stream_ev (
      event_id BIGINT, ts TIMESTAMP(3), user_id BIGINT,
      event_type STRING, value DOUBLE, props STRING,
      WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
    ) WITH ('connector' = 'filesystem', 'path' = '{tmp}',
            'format' = 'parquet')
    """
    st = flink_ddl(spark, ddl, streaming=True)
    assert st.isStreaming
    out = st.groupBy(F.window("ts", "6 hours")).count()
    result = run_to_completion(out, "update")
    got = {
        (r.window.start, r["count"]) for r in result.collect()
    }
    batch = (
        spark.read.parquet(f"{tmp}/events.parquet")
        .groupBy(F.window("ts", "6 hours"))
        .count()
    )
    want = {(r.window.start, r["count"]) for r in batch.collect()}
    assert got == want


def test_ddl_insert_pipeline_end_to_end(spark, sf_dir):
    """Reference DDL + INSERT INTO + group-window SQL, verbatim: source
    table, sink table, tumbling aggregate — results land in the sink's
    parquet and match the direct computation."""
    from pyspark.sql import functions as F

    from flink_ci_flink_spark.dialect import flink_ddl, flink_insert
    from flink_ci_flink_spark.streaming import scratch_dir

    sink_dir = scratch_dir("ddl_sink_") + "/out"
    flink_ddl(
        spark,
        f"""
        CREATE TABLE ddl_src (
          event_id BIGINT, ts TIMESTAMP(3), user_id BIGINT,
          event_type STRING, value DOUBLE, props STRING
        ) WITH ('connector' = 'filesystem',
                'path' = '{sf_dir}/events.parquet', 'format' = 'parquet')
        """,
    )
    flink_ddl(
        spark,
        f"""
        CREATE TABLE ddl_sink (
          ws TIMESTAMP(3), event_type STRING, n BIGINT
        ) WITH ('connector' = 'filesystem',
                'path' = '{sink_dir}', 'format' = 'parquet')
        """,
    )
    flink_insert(
        spark,
        """
        INSERT INTO ddl_sink
        SELECT TUMBLE_START(ts, INTERVAL '6' HOUR) AS ws, event_type,
               COUNT(*) AS n
        FROM ddl_src GROUP BY TUMBLE(ts, INTERVAL '6' HOUR), event_type
        """,
    )
    got = {
        (r.ws, r.event_type, r.n)
        for r in spark.read.parquet(sink_dir).collect()
    }
    want = {
        (r["window"].start, r.event_type, r["count"])
        for r in spark.table("ddl_src")
        .groupBy(F.window("ts", "6 hours"), "event_type")
        .count()
        .collect()
    }
    assert got == want and got


# -- temporal (FOR SYSTEM_TIME AS OF) joins ---------------------------------


def _temporal_views(spark, sf_dir):
    from pyspark.sql import functions as F

    from flink_ci_flink_spark.catalog import load_tables

    t = load_tables(spark, sf_dir)
    t.events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    ).createOrReplaceTempView("tj_clicks")
    t.events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("uid"), "ts", "value"
    ).createOrReplaceTempView("tj_purchases")


def test_temporal_join_left_keeps_versionless(spark, sf_dir):
    """LEFT JOIN FOR SYSTEM_TIME keeps facts with no prior version (null
    value); inner drops them — and inner rows are a subset of left rows."""
    from flink_ci_flink_spark.dialect import flink_sql

    _temporal_views(spark, sf_dir)
    base = """
        SELECT c.event_id, p.value AS v
        FROM tj_clicks AS c
        {how} JOIN tj_purchases FOR SYSTEM_TIME AS OF c.ts AS p
          ON c.user_id = p.uid
    """
    left = flink_sql(spark, base.format(how="LEFT"), versioned={"tj_purchases": "ts"}).toPandas()
    inner = flink_sql(spark, base.format(how=""), versioned={"tj_purchases": "ts"}).toPandas()
    n_clicks = spark.table("tj_clicks").count()
    assert len(left) == n_clicks
    assert len(inner) == left["v"].notna().sum()
    assert inner["v"].notna().all()


def test_temporal_join_requires_version_time(spark, sf_dir):
    from flink_ci_flink_spark.dialect import flink_sql

    _temporal_views(spark, sf_dir)
    with pytest.raises(ValueError, match="version-time"):
        flink_sql(
            spark,
            "SELECT c.event_id FROM tj_clicks AS c JOIN tj_purchases "
            "FOR SYSTEM_TIME AS OF c.ts AS p ON c.user_id = p.uid",
        )


def test_temporal_join_rejects_right_side_of_expr(spark, sf_dir):
    from flink_ci_flink_spark.dialect import flink_sql

    _temporal_views(spark, sf_dir)
    with pytest.raises(ValueError, match="left table's time"):
        flink_sql(
            spark,
            "SELECT c.event_id FROM tj_clicks AS c JOIN tj_purchases "
            "FOR SYSTEM_TIME AS OF p.ts AS p ON c.user_id = p.uid",
            versioned={"tj_purchases": "ts"},
        )


def test_lateral_table_rewrite():
    from flink_ci_flink_spark.dialect import translate

    got = translate(
        "SELECT id, T.word FROM t, LATERAL TABLE(split_fn(concat(a, b))) AS T(word)"
    )
    assert "LATERAL split_fn(concat(a, b)) AS T(word)" in got
    assert "TABLE(" not in got
    # LEFT JOIN ... ON TRUE form survives
    got2 = translate(
        "SELECT * FROM t LEFT JOIN LATERAL TABLE(f(x)) T(c) ON TRUE"
    )
    assert "LEFT JOIN LATERAL f(x) T(c) ON TRUE" in got2


def test_lateral_table_executes(spark):
    from flink_ci_flink_spark.dialect import flink_sql

    spark.sql("SELECT 1 AS id, 'a b c' AS line").createOrReplaceTempView("lt_t")
    out = flink_sql(
        spark,
        "SELECT id, S.word FROM lt_t, LATERAL TABLE(explode(split(line, ' '))) AS S(word)",
    )
    assert [r["word"] for r in out.collect()] == ["a", "b", "c"]


def test_temporal_fn_error_shapes_and_passthrough(spark, sf_dir):
    """Temporal table FUNCTION rewrite: wrong time-attribute alias and a
    missing shared join key reject loudly; a plain-UDTF LATERAL TABLE
    passes through untouched even while the registry is non-empty."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from flink_ci_flink_spark.catalog import load_tables
    from flink_ci_flink_spark.dialect import (
        create_temporal_table_function,
        flink_sql,
    )

    t = load_tables(spark, sf_dir)
    t.events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    ).createOrReplaceTempView("tfn_clicks")
    t.events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    ).createOrReplaceTempView("tfn_purchases")
    create_temporal_table_function(
        "TfnRates", "tfn_purchases", time_attribute="ts", primary_key="user_id"
    )
    # wrong alias in the function argument
    with _pytest.raises(ValueError, match="time attribute"):
        flink_sql(spark, """
            SELECT c.event_id FROM tfn_clicks AS c,
            LATERAL TABLE (TfnRates(x.ts)) AS p
        """)
    # key column absent from the fact side
    create_temporal_table_function(
        "TfnBadKey", "tfn_purchases", time_attribute="ts", primary_key="value"
    )
    t.events.select("event_id", "ts").createOrReplaceTempView("tfn_nokey")
    with _pytest.raises(ValueError, match="join key"):
        flink_sql(spark, """
            SELECT c.event_id FROM tfn_nokey AS c,
            LATERAL TABLE (TfnBadKey(c.ts)) AS p
        """)
    # unregistered function name → the generic UDTF LATERAL path
    nation = load_tables(spark, sf_dir).nation
    nation.createOrReplaceTempView("tfn_nation")
    out = flink_sql(spark, """
        SELECT n.n_nationkey, w.word
        FROM tfn_nation AS n,
        LATERAL TABLE (explode(split(n.n_name, '_'))) AS w(word)
    """)
    assert out.count() > 0


def test_temporal_fn_rtime_literal_and_multi(spark, sf_dir):
    """Round-5 rewrite hardening: (a) the versioned side's time attribute
    is resolvable as r.<rtime> in SELECT; (b) string literals containing
    '<ralias>.' survive untouched; (c) two registered temporal functions
    in one statement both fold (the loop, not just the first match)."""
    from pyspark.sql import functions as F

    from flink_ci_flink_spark.catalog import load_tables
    from flink_ci_flink_spark.dialect import (
        create_temporal_table_function,
        flink_sql,
    )

    t = load_tables(spark, sf_dir)
    t.events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    ).createOrReplaceTempView("tf5_clicks")
    t.events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("rate_ts"), "value"
    ).createOrReplaceTempView("tf5_rates")
    create_temporal_table_function(
        "Tf5Rates", "tf5_rates", time_attribute="rate_ts", primary_key="user_id"
    )
    out = flink_sql(spark, """
        SELECT c.event_id, p.value, p.rate_ts, 'p. literal' AS tag
        FROM tf5_clicks AS c,
        LATERAL TABLE (Tf5Rates(c.ts)) AS p
    """)
    rows = out.collect()
    assert len(rows) > 0
    assert all(r.tag == "p. literal" for r in rows)  # literal not rewritten
    assert all(r.rate_ts is not None for r in rows)  # version time resolves

    # two temporal functions in one statement: self-consistency — the pair
    # of folds equals running each fold separately and joining
    create_temporal_table_function(
        "Tf5Rates2", "tf5_rates", time_attribute="rate_ts", primary_key="user_id"
    )
    two = flink_sql(spark, """
        SELECT a.event_id, a.v1, b.v2 FROM
          (SELECT c.event_id, p.value AS v1
           FROM tf5_clicks AS c, LATERAL TABLE (Tf5Rates(c.ts)) AS p) AS a
        JOIN
          (SELECT c.event_id, q.value AS v2
           FROM tf5_clicks AS c, LATERAL TABLE (Tf5Rates2(c.ts)) AS q) AS b
        ON a.event_id = b.event_id
    """)
    got = {(r.event_id, r.v1, r.v2) for r in two.collect()}
    assert len(got) > 0
    assert all(v1 == v2 for _, v1, v2 in got)  # same registry source
