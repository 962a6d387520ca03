"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

All real logic lives in ``flink_ci_flink_spark``; this module is a thin view
over its query registry (one entry per implemented operator, SURVEY.md §2).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO_ROOT = str(Path(__file__).resolve().parent)
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from flink_ci_flink_spark.queries import QUERIES  # noqa: E402

FLAGSHIP = "tpch_q3_shipping_priority"

# The driver samples a 50-query prefix of queries() for its sf0.01
# correctness check. Round-13 prefix — exactly the rotation the round-12
# prefix pre-recorded (and the r12 verdict's task #2): (1) the 14 queries
# that have NEVER appeared in an official CORRECTNESS_rN artifact (TPC-DS
# batches 11-13 + pipe_delta_dedup_shared_index, all added in the
# interrupted r11->r12 build continuation); (2) the remaining 21 names
# whose latest official proof is r6 (closing the r6 freshness floor the
# way r12 closed r4); (3) the first 15 (alphabetical) of the 46 r7-stale
# names. 14+21+15 = 50 exactly, per XREF.md's "official proof" column at
# the r12 artifacts. Round-14 prefix, recorded now so the rotation stays
# mechanical: the remaining 31 r7-stale names + the first 19
# (alphabetical) of the 49 r8-stale names. Group (0) goes ahead of all
# three: a query whose plan a change rewrites is sampled first, so the
# last names of group (3) fall past the 50th slot until the rotation is
# generated. The replays that exercise the driver-side batch staging and
# the schema-memo state reads go ahead of group (0): the fold replays, a
# held-back batch file, a ``list<float>`` column with redelivery, and a
# two-prefix versioned state.
_PRIORITY = [
    # -- (00) the replays whose staging and state reads changed --
    "streaming_running_agg_replay",
    "streaming_complete_agg_replay",
    "streaming_restart_recovery_replay",
    "streaming_ivfpq_ingest_replay",
    "streaming_langid_screen_replay",
    "cep_mr_prev_stream_replay",
    # -- (0) the queries whose plans the fact-first join order changed --
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q10_returned_items",
    # -- (1) never officially driver-sampled (r12 builder sim green) --
    "pipe_delta_dedup_shared_index",
    "tpcds_shape_cross_dim_disjunct",
    "tpcds_shape_demographic_band_lookup",
    "tpcds_shape_geo_mismatch_brand",
    "tpcds_shape_group_avg_return_detail",
    "tpcds_shape_intersect_prefix_gate",
    "tpcds_shape_measure_dim_disjunct",
    "tpcds_shape_multi_measure_means",
    "tpcds_shape_null_channel_union",
    "tpcds_shape_promo_scalar_ratio",
    "tpcds_shape_return_lag_bands",
    "tpcds_shape_rollup_of_means",
    "tpcds_shape_second_fact_band_gate",
    "tpcds_shape_threeway_return_ratio",
    # -- (2) freshness floor: the last 21 r6-proven names (floor -> r7) --
    "tpcds_shape_histogram_buckets",
    "tpcds_shape_multi_bucket_counts",
    "tpcds_shape_part_or_filter",
    "tpcds_shape_quarter_share",
    "tpcds_shape_sale_return_rebuy",
    "tpcds_shape_scalar_ratio",
    "tpcds_shape_threeway_intersect",
    "tpcds_shape_topn_intersection",
    "tpch_q12_priority_shipping",
    "tpch_q13_customer_distribution",
    "tpch_q14_promo_revenue",
    "tpch_q15_top_supplier",
    "tpch_q16_parts_supplier_relationship",
    "tpch_q17_small_quantity",
    "tpch_q19_discounted_revenue",
    "tpch_q20_potential_promotion",
    "tpch_q22_global_sales",
    "tpch_q4_order_priority",
    "tpch_q8_market_share",
    "udf_cogroup",
    "udf_map_partitions",
    # -- (3) freshness floor: first 15 of the 46 r7-stale names --
    "agg_collect_listagg",
    "agg_distinct_multi",
    "agg_rollup_cube",
    "agg_stats",
    "explode_lateral_words",
    "flinksql_hop",
    "flinksql_temporal_fn",
    "fn_conditional_cast",
    "fn_hash_encode",
    "fn_math",
    "fn_string_regex_predicates",
    "fn_temporal",
    "graph_clustering_coeffs",
    "graph_community_detection",
    "graph_edge_metrics",
]


def _ordered_names() -> list[str]:
    pri = [n for n in _PRIORITY if n in QUERIES]
    rest = [n for n in QUERIES if n not in set(pri)]
    return pri + rest


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES[FLAGSHIP].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: QUERIES[name].fn for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for every SQL-expressible query."""
    return {
        name: QUERIES[name].oracle
        for name in _ordered_names()
        if QUERIES[name].oracle is not None
    }
