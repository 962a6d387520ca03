"""Remaining surface odds-and-ends: UNNEST-with-ordinality, map explode,
null-safe comparison (IS [NOT] DISTINCT FROM), STR_TO_MAP, temporal overlap
predicate, and PageRank (exact-oracle-checked: the power iteration is
unrolled into a recursive-CTE twin in DuckDB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_ci_flink_spark.catalog import load_tables
from flink_ci_flink_spark.functions import temporal_overlaps
from flink_ci_flink_spark.queries.registry import query


@query(
    "unnest_with_ordinality",
    oracle="""
    SELECT n_nationkey,
           UNNEST(generate_series(1, LEN(parts))) - 1 AS pos,
           UNNEST(parts) AS word
    FROM (SELECT n_nationkey, STRING_SPLIT(n_name, '_') AS parts FROM nation)
    """,
    group="udtf",
)
def unnest_with_ordinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode (UNNEST with ordinal; oracle zips two UNNESTs).
    Ref: `UnnestITCase`, `TableFunction.java:139`."""
    t = load_tables(spark, sf_dir)
    return t.nation.select(
        "n_nationkey",
        F.posexplode(F.split("n_name", "_")).alias("pos", "word"),
    ).select("n_nationkey", F.col("pos").cast("long").alias("pos"), "word")


@query(
    "map_construct_explode",
    oracle="""
    SELECT n_regionkey,
           UNNEST(map_keys(m)) AS k,
           CAST(UNNEST(map_values(m)) AS BIGINT) AS v
    FROM (
      SELECT n_regionkey,
             MAP(['nation', 'region'], [n_nationkey, n_regionkey]) AS m
      FROM nation WHERE n_nationkey < 10
    )
    """,
    group="udtf",
)
def map_construct_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP construction + entry explode (STR_TO_MAP-family surface).
    Ref: BuiltInFunctionDefinitions MAP/CARDINALITY/AT."""
    t = load_tables(spark, sf_dir)
    m = F.create_map(
        F.lit("nation"), F.col("n_nationkey"), F.lit("region"), F.col("n_regionkey")
    )
    return (
        t.nation.filter(F.col("n_nationkey") < 10)
        .select("n_regionkey", F.explode(m).alias("k", "v"))
        .select("n_regionkey", "k", F.col("v").cast("long").alias("v"))
    )


@query(
    "null_safe_comparison",
    oracle="""
    WITH t AS (
      SELECT o_orderkey,
             NULLIF(o_orderstatus, 'P') AS maybe_status,
             NULLIF(o_orderpriority, '5-LOW') AS maybe_prio
      FROM orders WHERE o_orderkey % 41 = 0
    )
    SELECT o_orderkey,
           (maybe_status IS NOT DISTINCT FROM maybe_prio) AS ns_eq,
           (maybe_status IS DISTINCT FROM 'O') AS ns_neq_o,
           (maybe_status = maybe_prio) AS plain_eq
    FROM t
    """,
    group="calc",
)
def null_safe_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IS [NOT] DISTINCT FROM (null-safe equality, `<=>` in Spark).
    Ref: BuiltInFunctionDefinitions IS DISTINCT FROM."""
    t = load_tables(spark, sf_dir)
    o = t.orders.filter(F.col("o_orderkey") % 41 == 0).select(
        "o_orderkey",
        F.nullif("o_orderstatus", F.lit("P")).alias("maybe_status"),
        F.nullif("o_orderpriority", F.lit("5-LOW")).alias("maybe_prio"),
    )
    return o.select(
        "o_orderkey",
        F.col("maybe_status").eqNullSafe(F.col("maybe_prio")).alias("ns_eq"),
        (~F.col("maybe_status").eqNullSafe(F.lit("O"))).alias("ns_neq_o"),
        (F.col("maybe_status") == F.col("maybe_prio")).alias("plain_eq"),
    )


@query(
    "str_to_map_canonical",
    oracle="""
    SELECT event_id,
           CAST(JSON_EXTRACT(props, '$.k') AS VARCHAR) AS k_from_map
    FROM events WHERE event_id % 13 = 0
    """,
    group="functions",
)
def str_to_map_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STR_TO_MAP over a derived k=v string (DuckDB lacks str_to_map; oracle
    goes through its JSON path — both produce the value of key 'k').
    Ref: SqlFunctionUtils.strToMap."""
    t = load_tables(spark, sf_dir)
    e = t.events.filter(F.col("event_id") % 13 == 0)
    kv = F.regexp_replace(
        F.regexp_replace(F.col("props"), r'[{}"\s]', ""), ":", "="
    )  # {"k": 69} -> k=69
    return e.select(
        "event_id",
        F.element_at(F.str_to_map(kv, F.lit(","), F.lit("=")), "k").alias("k_from_map"),
    )


@query(
    "temporal_overlaps_pred",
    oracle="""
    SELECT o_orderkey,
           ((o_orderdate <= o_orderdate + INTERVAL 30 DAY + INTERVAL 10 DAY)
            AND (o_orderdate + INTERVAL 10 DAY <= o_orderdate + INTERVAL 30 DAY)) AS overlaps_30_10
    FROM orders WHERE o_orderkey % 43 = 0
    """,
    group="functions",
)
def temporal_overlaps_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPORAL_OVERLAPS predicate (custom — Spark has no OVERLAPS builtin).
    Ref: BuiltInFunctionDefinitions temporalOverlaps."""
    t = load_tables(spark, sf_dir)
    o = t.orders.filter(F.col("o_orderkey") % 43 == 0)
    s1 = F.col("o_orderdate")
    e1 = F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")
    s2 = F.col("o_orderdate") + F.expr("INTERVAL 10 DAY")
    e2 = s2 + F.expr("INTERVAL 30 DAY")
    return o.select(
        "o_orderkey", temporal_overlaps(s1, e1, s2, e2).alias("overlaps_30_10")
    )


@query(
    "graph_pagerank_nations",
    oracle="""
    WITH RECURSIVE pr(iter, id, rank) AS (
      SELECT 0, n_nationkey, 1.0/25 FROM nation
      UNION ALL
      SELECT pr.iter + 1, e.dst, 0.15/25 + 0.85 * SUM(pr.rank / e.d)
      FROM pr
      JOIN (
        SELECT src, dst, COUNT(*) OVER (PARTITION BY src) AS d FROM (
          SELECT a.n_nationkey AS src, b.n_nationkey AS dst
          FROM nation a JOIN nation b
            ON a.n_regionkey = b.n_regionkey AND a.n_nationkey <> b.n_nationkey
          WHERE a.n_nationkey < b.n_nationkey
             OR b.n_nationkey = (SELECT MIN(c.n_nationkey) FROM nation c
                                 WHERE c.n_regionkey = a.n_regionkey)
        )
      ) e ON e.src = pr.id
      WHERE pr.iter < 8
      GROUP BY pr.iter + 1, e.dst
    )
    SELECT id, FLOOR(rank*1e6 + 0.5)/1e6 AS rank FROM pr WHERE iter = 8
    ORDER BY id
    """,
    group="graph",
)
def graph_pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (8 damped power-iteration steps) over a directed,
    dangling-free nation graph: within each region, a -> every higher-keyed
    b, plus every node -> the region head. The iterative fixpoint IS
    SQL-expressible for a fixed iteration count — the oracle runs the same
    8 supersteps as a recursive CTE with aggregation in the recursive term,
    so this query is exact-oracle-checked (upgraded from rows-only); both
    sides floor-round to 6dp (double drift between engines ~1e-15).
    Ref: `linkanalysis/PageRank.java`."""
    from flink_ci_flink_spark.graph import pagerank

    t = load_tables(spark, sf_dir)
    n = t.nation.select("n_nationkey", "n_regionkey")
    head = n.groupBy("n_regionkey").agg(F.min("n_nationkey").alias("head_key"))
    a = n.alias("a")
    b = n.join(F.broadcast(head), "n_regionkey").alias("b")
    edges = a.join(
        b,
        (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
        & (F.col("a.n_nationkey") != F.col("b.n_nationkey"))
        & (
            (F.col("a.n_nationkey") < F.col("b.n_nationkey"))
            | (F.col("b.n_nationkey") == F.col("b.head_key"))
        ),
    ).select(
        F.col("a.n_nationkey").cast("long").alias("src"),
        F.col("b.n_nationkey").cast("long").alias("dst"),
    )
    verts = n.select(F.col("n_nationkey").cast("long").alias("id"))
    out = pagerank(verts, edges, iterations=8)
    return out.select(
        "id", (F.floor(F.col("rank") * 1e6 + F.lit(0.5)) / 1e6).alias("rank")
    )


@query(
    "over_count_distinct",
    oracle="""
    SELECT n_mo, mo,
           COUNT(DISTINCT ck) OVER (PARTITION BY n_mo ORDER BY mo) AS cum_custs
    FROM (
      SELECT DISTINCT c_nationkey AS n_mo,
             EXTRACT(month FROM o_orderdate) AS mo,
             o_custkey AS ck
      FROM orders JOIN customer ON c_custkey = o_custkey
      WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    )
    QUALIFY ROW_NUMBER() OVER (PARTITION BY n_mo, mo ORDER BY ck) = 1
    ORDER BY n_mo, mo
    """,
    group="relational",
)
def over_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative COUNT(DISTINCT) over an ordered window — per nation, the
    running number of distinct ordering customers by month. Spark forbids
    DISTINCT aggregates in window frames; the standard rewrite is
    size(collect_set() OVER (...)) — set semantics inside the frame make
    the count distinct. One row per (nation, month).
    Ref: the reference's distinct-aggregate handling in group aggs
    (`flink-table-planner-blink` MiniBatchIncrementalGroupAgg/distinct agg
    codegen); neither engine allows DISTINCT directly in an OVER frame, so
    both this query and the reference's users rely on the set-state
    rewrite."""
    t = load_tables(spark, sf_dir)
    base = (
        t.orders.join(
            F.broadcast(t.customer), F.col("c_custkey") == F.col("o_custkey")
        )
        .filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01"))
            & (F.col("o_orderdate") < F.lit("1998-01-01"))
        )
        .select(
            F.col("c_nationkey").cast("long").alias("n_mo"),
            F.month("o_orderdate").cast("long").alias("mo"),
            F.col("o_custkey").alias("ck"),
        )
        .distinct()
    )
    w = Window.partitionBy("n_mo").orderBy("mo")
    per_row = base.select(
        "n_mo",
        "mo",
        "ck",
        F.size(F.collect_set("ck").over(w)).alias("cum_custs"),
    )
    w2 = Window.partitionBy("n_mo", "mo").orderBy("ck")
    return (
        per_row.withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") == 1)
        .select("n_mo", "mo", "cum_custs")
        .orderBy("n_mo", "mo")
    )


@query(
    "skew_salted_agg",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS cents_sum,
           CAST(MIN(user_id) AS BIGINT) AS dummy_min
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    group="agg",
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level salted aggregation for hot grouping keys (the events table
    has only a handful of event_type values — every key is hot). The salt
    splits each key across 16 partial groups, so no single reducer holds a
    whole hot key at 100 TB; partials merge exactly because every aggregate
    is integer-mergeable (counts sum, integer cent-sums sum, min merges by
    min — float sums would be order-sensitive and are deliberately NOT
    offered by the operator's merge table). Ref: the Blink planner's
    distinct-agg split / two-phase agg (`SplitAggregateRule.scala`,
    `TwoStageOptimizedAggregateRule.scala`)."""
    from flink_ci_flink_spark.operators.skew import salted_agg

    t = load_tables(spark, sf_dir)
    ev = t.events.select(
        "event_type",
        "user_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    out = salted_agg(
        ev,
        ["event_type"],
        {
            "n": ("count", "cents"),
            "cents_sum": ("sum", "cents"),
            "dummy_min": ("min", "user_id"),
        },
        n_salts=16,
        salt_source="user_id",
    )
    return out.select(
        "event_type", "n", "cents_sum", F.col("dummy_min").cast("long").alias("dummy_min")
    ).orderBy("event_type")


@query(
    "skew_salted_join",
    oracle="""
    WITH dim AS (
      SELECT DISTINCT event_type,
             CONCAT('cat_', SUBSTR(event_type, 1, 2)) AS category
      FROM events
    )
    SELECT e.event_type, d.category, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS cents
    FROM events e JOIN dim d ON d.event_type = e.event_type
    GROUP BY e.event_type, d.category
    ORDER BY e.event_type
    """,
    group="join",
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant equi-join: the fact's join key is hot (a few
    event_type values cover the whole events table), so the salted join
    replicates the tiny dim once per salt and joins on (key, salt) —
    every partition gets a bounded slice of each hot key. Results are
    identical to the plain join by construction (the oracle IS the plain
    join); AQE's skew-join covers this automatically when it can, the
    operator covers the stages it can't re-plan."""
    from flink_ci_flink_spark.operators.skew import salted_broadcast_left

    t = load_tables(spark, sf_dir)
    dim = (
        t.events.select("event_type")
        .distinct()
        .withColumn("category", F.concat(F.lit("cat_"), F.substring("event_type", 1, 2)))
    )
    joined = salted_broadcast_left(t.events, dim, "event_type", n_salts=8)
    return (
        joined.groupBy("event_type", "category")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias("cents"),
        )
        .orderBy("event_type")
    )


@query(
    "join_bloom_semi",
    oracle="""
    SELECT l.l_returnflag, COUNT(*) AS n_lines,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem l
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_orderkey = l.l_orderkey
                    AND o.o_orderpriority = '1-URGENT')
    GROUP BY l.l_returnflag
    """,
    group="join",
)
def join_bloom_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-screened semi join (operators/bloom.py): lineitem pruned by a
    bitmap of urgent orders' keys via k map-only broadcast probes BEFORE the
    exact left-semi join — at 100 TB the screen cuts the shuffled big-side
    volume ~5x (urgent ≈ 1/5 of orders) with zero result change, which is
    why the oracle is the plain WHERE EXISTS. Spark's AQE bloom pass does
    this implicitly for Catalyst joins; this is the explicit portable form
    for custom downstream operators."""
    from flink_ci_flink_spark.operators.bloom import bloom_semi_join

    t = load_tables(spark, sf_dir)
    urgent = t.orders.filter(F.col("o_orderpriority") == "1-URGENT")
    semi = bloom_semi_join(
        t.lineitem, urgent, on="l_orderkey", small_key="o_orderkey"
    )
    return semi.groupBy("l_returnflag").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
    )


@query(
    "cdc_debezium_materialize",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS okey, o_orderstatus AS status,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ), final AS (
      SELECT okey, status,
             CASE WHEN okey % 3 = 0 THEN cents + 1 ELSE cents END AS cents
      FROM base WHERE okey % 7 <> 0
    )
    SELECT status, COUNT(*) AS n_rows, CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM final GROUP BY status
    """,
    group="sources",
)
def cdc_debezium_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC ingestion end-to-end (FLIP-105 / `DebeziumJsonDeserializationSchema
    .java`): a deterministic Debezium stream synthesized from orders (every
    row inserted, every 3rd key updated (+1 cent), every 7th deleted) is
    DECODED from real JSON envelopes (from_json), exploded to the
    reference's RowKind changelog (+I/-U/+U/-D — `RowKind.java:32-55`), and
    materialized to the latest surviving state (one key-window shuffle).
    The oracle states the expected final snapshot directly over orders."""
    from flink_ci_flink_spark.sources.cdc import (
        materialize,
        parse_debezium,
        to_changelog,
    )

    t = load_tables(spark, sf_dir)
    base = t.orders.select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_orderstatus").alias("status"),
        (F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))).cast("long").alias("cents"),
    )
    row = F.struct("okey", "status", "cents")
    null_row = F.lit(None).cast("struct<okey:bigint,status:string,cents:bigint>")

    def msg(before, after, op, seq):
        return F.to_json(
            F.struct(
                before.alias("before"),
                after.alias("after"),
                F.lit(op).alias("op"),
                F.lit(seq).cast("long").alias("ts_ms"),
            )
        ).alias("value")

    # all three envelope kinds in ONE pass: the union-of-filtered-branches
    # form executed the orders scan once per branch (and to_changelog's
    # explode multiplied that to 9 executed scans); per-row conditional
    # array + explode emits the identical messages from a single scan
    upd_msg = F.when(
        F.col("okey") % 3 == 0,
        msg(
            row,
            F.struct(
                F.col("okey"), F.col("status"), (F.col("cents") + 1).alias("cents")
            ),
            "u",
            2,
        ),
    )
    del_msg = F.when(F.col("okey") % 7 == 0, msg(row, null_row, "d", 3))
    msgs = (
        base.select(
            F.explode(
                F.array(msg(null_row, row, "c", 1), upd_msg, del_msg)
            ).alias("value")
        )
        .filter(F.col("value").isNotNull())
    )
    parsed = parse_debezium(msgs, "value", "okey bigint, status string, cents bigint")
    final = materialize(to_changelog(parsed), ["okey"])
    return final.groupBy("status").agg(
        F.count("*").alias("n_rows"), F.sum("cents").alias("total_cents")
    )


@query(
    "skew_split_distinct",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    group="agg",
)
def skew_split_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-level COUNT(DISTINCT) under key skew — the Blink
    planner's `SplitAggregateRule.scala` rewrite (knob
    `table.optimizer.distinct-agg.split.enabled`,
    `OptimizerConfigOptions.java:57`): bucket by hash(user_id) % 16 so
    each bucket's distinct set is disjoint (partial distinct counts add
    exactly), then sum buckets per key. The hot key's distinct expansion
    is spread over 16 reducers; both shuffles are balanced."""
    from flink_ci_flink_spark.operators.skew import split_distinct_agg

    t = load_tables(spark, sf_dir)
    return split_distinct_agg(
        t.events, ["event_type"], "user_id", n_buckets=16,
        out_name="distinct_users",
    ).orderBy("event_type")


@query(
    "streaming_cdc_agg_replay",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS okey, o_orderstatus AS status,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ), final AS (
      SELECT okey, status,
             CASE WHEN okey % 3 = 0 THEN cents + 1 ELSE cents END AS cents
      FROM base WHERE okey % 7 <> 0
    )
    SELECT status, COUNT(*) AS n_rows, CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM final GROUP BY status
    """,
    group="streaming",
)
def streaming_cdc_agg_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance over a CDC changelog,
    replayed in 3 micro-batches: the same deterministic Debezium history
    as cdc_debezium_materialize (every order inserted, every 3rd key
    +1-cent updated, every 7th deleted) flows as +I/-U/+U/-D rows through
    `streaming/process.py::streaming_changelog_agg_jvm` — a per-status
    COUNT/SUM maintained by signed deltas (accumulate/retract), never
    recomputed from the base table. The oracle states the final snapshot
    aggregate directly over orders; equality proves retraction exactness
    (a deleted key's update must retract the UPDATED value). The
    retract-input `GroupAggFunction.java` analog to the append-only
    running agg, declared as a `FoldSpec`."""
    from flink_ci_flink_spark.streaming import replay_stream
    from flink_ci_flink_spark.streaming.process import streaming_changelog_agg_jvm

    t = load_tables(spark, sf_dir)
    base = t.orders.select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_orderstatus").alias("status"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    seq = F.col("okey") * 10
    ins = base.select(
        F.lit("+I").alias("row_kind"), "status", "cents", (seq + 1).alias("seq")
    )
    upd = base.filter(F.col("okey") % 3 == 0)
    ub = upd.select(
        F.lit("-U").alias("row_kind"), "status", "cents", (seq + 2).alias("seq")
    )
    ua = upd.select(
        F.lit("+U").alias("row_kind"),
        "status",
        (F.col("cents") + 1).alias("cents"),
        (seq + 3).alias("seq"),
    )
    dl = base.filter(F.col("okey") % 7 == 0).select(
        F.lit("-D").alias("row_kind"),
        "status",
        # the delete retracts the row's CURRENT value (updated if %3)
        F.when(F.col("okey") % 3 == 0, F.col("cents") + 1)
        .otherwise(F.col("cents"))
        .alias("cents"),
        (seq + 4).alias("seq"),
    )
    changelog = ins.unionByName(ub).unionByName(ua).unionByName(dl)
    out = streaming_changelog_agg_jvm(
        replay_stream(changelog, ["seq"]),
        keys=["status"],
        value_cols=["cents"],
    )
    return out.select("status", "n_rows", F.col("sum_cents"))


@query(
    "catalog_column_stats",
    oracle="""
    WITH a AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS k_nulls,
             CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS k_ndv,
             CAST(MIN(o_orderkey) AS BIGINT) AS k_min,
             CAST(MAX(o_orderkey) AS BIGINT) AS k_max,
             CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT) AS p_nulls,
             CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS p_ndv,
             CAST(FLOOR(MIN(o_totalprice) * 100 + 0.5) AS BIGINT) AS p_min,
             CAST(FLOOR(MAX(o_totalprice) * 100 + 0.5) AS BIGINT) AS p_max,
             CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT) AS s_nulls,
             CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS s_ndv,
             CAST(SUM(LENGTH(o_orderstatus)) AS BIGINT) AS s_total_len,
             CAST(MAX(LENGTH(o_orderstatus)) AS BIGINT) AS s_max_len,
             MIN(o_orderstatus) AS s_min,
             MAX(o_orderstatus) AS s_max,
             CAST(COUNT(*) - COUNT(o_orderdate) AS BIGINT) AS d_nulls,
             CAST(COUNT(DISTINCT o_orderdate) AS BIGINT) AS d_ndv,
             CAST(FLOOR(EPOCH(MIN(o_orderdate))) AS BIGINT) AS d_min,
             CAST(FLOOR(EPOCH(MAX(o_orderdate))) AS BIGINT) AS d_max
      FROM orders
    )
    SELECT 'o_orderkey' AS col_name, n_rows, k_nulls AS n_null, k_ndv AS ndv,
           k_min AS min_scaled, k_max AS max_scaled,
           CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str,
           CAST(NULL AS BIGINT) AS total_len, CAST(NULL AS BIGINT) AS max_len
    FROM a
    UNION ALL
    SELECT 'o_totalprice', n_rows, p_nulls, p_ndv, p_min, p_max,
           NULL, NULL, NULL, NULL FROM a
    UNION ALL
    SELECT 'o_orderstatus', n_rows, s_nulls, s_ndv, NULL, NULL,
           s_min, s_max, s_total_len, s_max_len FROM a
    UNION ALL
    SELECT 'o_orderdate', n_rows, d_nulls, d_ndv, d_min, d_max,
           NULL, NULL, NULL, NULL FROM a
    """,
    group="sources",
)
def catalog_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog column statistics — the reference's ANALYZE surface
    (`catalog/stats/CatalogColumnStatisticsDataLong/Double/String/Date
    .java`: nullCount/ndv/min/max, string max/avg length): long, double,
    string, and timestamp columns of orders, unpivoted to per-column
    rows — numeric bounds integer-scaled, string lengths exact, so the
    stats are engine-portable. The planner-facing shape a CBO consumes.

    Two single-row aggregates cross-joined (r13): mixing the four
    COUNT(DISTINCT) with the plain min/max/sum measures in ONE aggregate
    makes Catalyst's multi-distinct rewrite plan an Expand(x5) feeding a
    SORT-aggregate chain over every distinct column at once — measured
    2.4s steady-state at sf0.1 vs 0.3s for the split (plain measures stay
    one hash-aggregate scan; the distinct quartet plans Expand +
    HashAggregate). Same 1-row result, same oracle."""
    t = load_tables(spark, sf_dir)
    o = t.orders
    plain = o.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        (F.count(F.lit(1)) - F.count("o_orderkey")).cast("bigint").alias("k_nulls"),
        F.min("o_orderkey").cast("bigint").alias("k_min"),
        F.max("o_orderkey").cast("bigint").alias("k_max"),
        (F.count(F.lit(1)) - F.count("o_totalprice")).cast("bigint").alias("p_nulls"),
        F.floor(F.min("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").alias("p_min"),
        F.floor(F.max("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").alias("p_max"),
        (F.count(F.lit(1)) - F.count("o_orderstatus")).cast("bigint").alias("s_nulls"),
        F.sum(F.length("o_orderstatus")).cast("bigint").alias("s_total_len"),
        F.max(F.length("o_orderstatus")).cast("bigint").alias("s_max_len"),
        F.min("o_orderstatus").alias("s_min"),
        F.max("o_orderstatus").alias("s_max"),
        (F.count(F.lit(1)) - F.count("o_orderdate")).cast("bigint").alias("d_nulls"),
        F.unix_timestamp(F.min("o_orderdate")).cast("bigint").alias("d_min"),
        F.unix_timestamp(F.max("o_orderdate")).cast("bigint").alias("d_max"),
    )
    ndv = o.agg(
        F.countDistinct("o_orderkey").cast("bigint").alias("k_ndv"),
        F.countDistinct("o_totalprice").cast("bigint").alias("p_ndv"),
        F.countDistinct("o_orderstatus").cast("bigint").alias("s_ndv"),
        F.countDistinct("o_orderdate").cast("bigint").alias("d_ndv"),
    )
    a = plain.crossJoin(F.broadcast(ndv))
    return a.selectExpr(
        """stack(4,
          'o_orderkey', n_rows, k_nulls, k_ndv, k_min, k_max,
              CAST(NULL AS STRING), CAST(NULL AS STRING),
              CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
          'o_totalprice', n_rows, p_nulls, p_ndv, p_min, p_max,
              CAST(NULL AS STRING), CAST(NULL AS STRING),
              CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
          'o_orderstatus', n_rows, s_nulls, s_ndv, CAST(NULL AS BIGINT),
              CAST(NULL AS BIGINT), s_min, s_max, s_total_len, s_max_len,
          'o_orderdate', n_rows, d_nulls, d_ndv, d_min, d_max,
              CAST(NULL AS STRING), CAST(NULL AS STRING),
              CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
        ) AS (col_name, n_rows, n_null, ndv, min_scaled, max_scaled,
              min_str, max_str, total_len, max_len)"""
    )
