"""Catalog-cache contract (round-12 optimization #1).

`load_tables` memoizes Tables per (session, sf_dir) so repeated query
entrypoints stop re-reading 10 parquet footers and re-registering 10 temp
views per invocation. The cache stores *plans* — execution must still read
the parquet inputs — and interleaved sf_dirs must keep last-caller-wins
view semantics.
"""

from __future__ import annotations

from tests.conftest import SF_DIR

SF_OTHER = "/root/testdata/sf0.01"


def test_load_tables_cached_identity(spark):
    from flink_ci_flink_spark.catalog import load_tables

    t1 = load_tables(spark, SF_DIR)
    t2 = load_tables(spark, SF_DIR)
    assert t1 is t2, "same (session, sf_dir) must hit the cache"


def test_load_tables_sf_switch_repoints_views(spark):
    from flink_ci_flink_spark.catalog import load_tables

    load_tables(spark, SF_DIR)
    n_small = spark.sql("SELECT count(*) FROM lineitem").collect()[0][0]
    load_tables(spark, SF_OTHER)
    n_big = spark.sql("SELECT count(*) FROM lineitem").collect()[0][0]
    load_tables(spark, SF_DIR)
    n_small2 = spark.sql("SELECT count(*) FROM lineitem").collect()[0][0]
    assert n_small == n_small2 != n_big, (
        "view registration must re-point on every sf_dir switch "
        f"(got {n_small}, {n_big}, {n_small2})"
    )


def test_cached_tables_compute_from_parquet(spark):
    """The cache holds analyzed plans, not results: a cached table's scan
    must still appear in the executed plan (nothing persisted/collected)."""
    from flink_ci_flink_spark.catalog import load_tables
    from flink_ci_flink_spark.plans import executed_scans_per_table

    t = load_tables(spark, SF_DIR)
    df = t.lineitem.groupBy("l_returnflag").count()
    df.collect()
    assert executed_scans_per_table(df).get("lineitem") == 1
    assert "InMemoryTableScan" not in df._jdf.queryExecution().executedPlan().toString()


def test_apply_runtime_confs_warns_on_a_locked_conf(spark, monkeypatch):
    # A conf the session refuses (here a static one) is named in a warning
    # instead of being swallowed, and the other confs are still applied.
    import pytest

    from flink_ci_flink_spark import session

    locked = "spark.sql.warehouse.dir"
    before = spark.conf.get(locked)
    monkeypatch.setattr(
        session, "RUNTIME_CONFS", {locked: "/nonexistent", **session.RUNTIME_CONFS}
    )
    tz = "spark.sql.session.timeZone"
    spark.conf.set(tz, "America/New_York")
    try:
        with pytest.warns(UserWarning, match=locked):
            session.apply_runtime_confs(spark)
        assert spark.conf.get(tz) == "UTC"
    finally:
        spark.conf.set(tz, "UTC")  # later tests rely on the UTC session
    assert spark.conf.get(locked) == before
