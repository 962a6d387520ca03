"""TPC-H-shaped relational queries (adapted to the driver's reduced schema).

These exercise the core batch SQL surface: scan → calc → join (broadcast +
shuffle) → agg (partial/final) → sort/limit. Reference parity targets:
`BatchExecTableSourceScan/Calc/HashJoin/HashAggregate/Sort[Limit]`
(flink-table-planner-blink physical batch nodes, SURVEY.md §2.1-2.7) and the
reference's own TPC-H e2e kit
(`flink-end-to-end-tests/flink-tpch-test/.../TpchDataGenerator.java:37`).

Scale notes (100 TB): every query below keeps aggregation partial-final
(map-side combine is automatic) and joins dimension tables via broadcast
(region/nation/customer/supplier/part stay tiny relative to facts).

Fact-first join order: where a query joins both facts, the two filtered fact
scans (orders ⋈ lineitem on the order key) join FIRST and the broadcast
dimensions after. Without table statistics Catalyst sizes an inner join as
the PRODUCT of its inputs' sizes, so a dimension joined to orders first
makes that side look larger than the filtered lineitem scan, which (sized by
its files, under the 256 MB auto-broadcast threshold at the fixtures) then
becomes the build side: the fact table is collected to the driver and
shipped to every executor, against the reference's rule
(`BatchExecHashJoinRule`: broadcast the dimensions, never the fact). Joined
first, the planner compares two scan estimates and builds on the smaller
filtered orders side while lineitem streams. Doubles in aggregates are
rounded identically on the oracle side so value-hashes are stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_ci_flink_spark.catalog import load_tables
from flink_ci_flink_spark.queries.registry import query


@query(
    "tpch_q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                        AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                                   AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           ROUND(AVG(l_quantity), 6)                                        AS avg_qty,
           ROUND(AVG(l_extendedprice), 6)                                   AS avg_price,
           ROUND(AVG(l_discount), 6)                                        AS avg_disc,
           COUNT(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    group="tpch",
)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary: scan + filter + 8-fold hash aggregate."""
    t = load_tables(spark, sf_dir)
    li = t.lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
        F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "tpch_q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1996-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
    group="tpch",
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping priority: fact-fact join + broadcast dim join + agg + top-10.

    The filtered orders⋈lineitem join comes first, so lineitem streams
    against the smaller orders side (module docstring: fact-first order);
    customer is broadcast after. Deterministic top-10 via (revenue DESC,
    o_orderdate, l_orderkey).
    """
    t = load_tables(spark, sf_dir)
    cust = t.customer.filter(F.col("c_mktsegment") == "BUILDING")
    orders = t.orders.filter(F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
    li = t.lineitem.filter(F.col("l_shipdate") > F.lit("1996-03-15").cast("timestamp"))
    joined = (
        orders.join(li, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@query(
    "tpch_q5_local_supplier_volume",
    oracle="""
    SELECT n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC
    """,
    group="tpch",
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local supplier volume: 6-way join, the filtered orders⋈lineitem fact
    join first (module docstring: fact-first order), then every dim
    broadcast."""
    t = load_tables(spark, sf_dir)
    orders = t.orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    return (
        orders.join(t.lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t.customer), F.col("c_custkey") == F.col("o_custkey"))
        .join(
            F.broadcast(t.supplier),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(t.nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(t.region.filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"))
    )


@query(
    "tpch_q6_forecast_revenue",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    group="tpch",
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast revenue: pure scan + conjunctive filter + global agg.

    Every predicate here pushes down to the parquet scan (verify via
    `.explain` → PushedFilters).
    """
    t = load_tables(spark, sf_dir)
    return (
        t.lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@query(
    "tpch_q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           ROUND(c_acctbal, 2) AS c_acctbal,
           n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    group="tpch",
)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item reporting: the filtered orders⋈lineitem fact join first
    (module docstring: fact-first order), customer and nation broadcast
    after, then agg + deterministic top-20."""
    t = load_tables(spark, sf_dir)
    orders = t.orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = t.lineitem.filter(F.col("l_returnflag") == "R")
    return (
        orders.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t.customer), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 2).alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )
