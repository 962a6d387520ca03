"""SQL front door for the pipeline surface: PTF parse/rewrite/compose."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_ci_flink_spark.catalog import load_tables
from flink_ci_flink_spark.pipeline.sql import pipeline_sql, ptf_names


def test_ptf_equals_python_surface(spark, sf_dir):
    """TABLE(jaccard_pairs(TABLE documents, threshold => 0.5)) returns the
    same rows as the direct Python call — the SQL and Python surfaces share
    one builder."""
    from flink_ci_flink_spark.pipeline.dedup import jaccard_pairs

    t = load_tables(spark, sf_dir)
    t.documents.createOrReplaceTempView("documents")
    got = pipeline_sql(
        spark,
        "SELECT * FROM TABLE(jaccard_pairs(TABLE documents, threshold => 0.5))",
    )
    want = jaccard_pairs(t.documents, threshold=0.5)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_ptf_composes_with_plain_sql(spark, sf_dir):
    """A PTF reference composes with joins/aggregations around it, and the
    rewrite keeps the statement a single lazy Catalyst plan."""
    t = load_tables(spark, sf_dir)
    t.documents.createOrReplaceTempView("documents")
    out = pipeline_sql(
        spark,
        """
        SELECT d.source, COUNT(p.id_b) AS n_pairs
        FROM documents d
        LEFT JOIN TABLE(jaccard_pairs(TABLE documents, threshold => 0.5)) p
          ON p.id_a = d.doc_id
        GROUP BY d.source
        """,
    )
    from flink_ci_flink_spark.pipeline.dedup import jaccard_pairs

    pairs = jaccard_pairs(t.documents, threshold=0.5)
    want = {
        (r.source, r.n_pairs)
        for r in t.documents.alias("d")
        .join(pairs, F.col("id_a") == F.col("doc_id"), "left")
        .groupBy("source")
        .agg(F.count("id_b").alias("n_pairs"))
        .collect()
    }
    assert {(r.source, r.n_pairs) for r in out.collect()} == want


def test_ptf_two_calls_and_kwargs(spark, sf_dir):
    """Two PTFs in one statement rewrite independently; keyword arguments
    parse ints, floats, strings, and booleans."""
    t = load_tables(spark, sf_dir)
    t.documents.createOrReplaceTempView("documents")
    out = pipeline_sql(
        spark,
        """
        SELECT s.doc_id
        FROM TABLE(hash_sample(TABLE documents, rate => 0.5, seed => 'x1')) s
        JOIN TABLE(text_features(TABLE documents)) f ON f.doc_id = s.doc_id
        WHERE f.n_tokens > 0
        """,
    )
    n_docs = t.documents.count()
    n = out.count()
    assert 0 < n < n_docs


def test_ptf_errors(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    t.documents.createOrReplaceTempView("documents")
    with pytest.raises(ValueError, match="registered"):
        pipeline_sql(spark, "SELECT * FROM TABLE(no_such_fn(TABLE documents))")
    with pytest.raises(ValueError, match="TABLE"):
        pipeline_sql(spark, "SELECT * FROM TABLE(jaccard_pairs(threshold => 0.5))")
    with pytest.raises(ValueError, match="literal"):
        pipeline_sql(
            spark,
            "SELECT * FROM TABLE(jaccard_pairs(TABLE documents, threshold => foo))",
        )
    assert "jaccard_pairs" in ptf_names() and "knn_join" in ptf_names()


def test_ptf_views_are_dropped(spark, sf_dir):
    """pipeline_sql drops its rewrite temp views after the (eager) analysis
    — repeated statements must not accumulate __ptf_* views in the session
    catalog, and the returned DataFrame stays collectable after the drop
    (the view's plan is inlined into the resolved logical plan)."""
    t = load_tables(spark, sf_dir)
    t.documents.createOrReplaceTempView("documents")
    out = pipeline_sql(
        spark,
        "SELECT COUNT(*) AS n FROM TABLE(exact_dedup(TABLE documents))",
    )
    leftover = [
        v.name for v in spark.catalog.listTables() if v.name.startswith("__ptf_")
    ]
    assert leftover == []
    assert out.collect()[0].n > 0


def test_new_ptfs_equal_python_surface(spark, sf_dir):
    """The session's new ops are SQL-reachable: heavy_hitters, line_dedup,
    bm25_topk, and zorder_key PTFs return the direct Python results."""
    from flink_ci_flink_spark.pipeline.dedup import line_dedup
    from flink_ci_flink_spark.pipeline.sketches import heavy_hitters

    t = load_tables(spark, sf_dir)
    t.documents.createOrReplaceTempView("documents")

    toks = t.documents.select(
        F.explode(F.split(F.col("text"), r"\s+")).alias("term")
    ).filter(F.col("term") != "")
    toks.createOrReplaceTempView("doc_terms")
    got = pipeline_sql(
        spark,
        "SELECT * FROM TABLE(heavy_hitters(TABLE doc_terms, col => 'term', k => 200))",
    )
    want = heavy_hitters(toks, "term", 200)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    got = pipeline_sql(
        spark,
        "SELECT doc_id, n_kept FROM TABLE(line_dedup(TABLE documents, seg_tokens => 16))",
    )
    want = line_dedup(t.documents, seg_tokens=16).select("doc_id", "n_kept")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    xy = t.orders.select(
        F.col("o_custkey").cast("long").alias("x"),
        F.col("o_orderkey").cast("long").alias("y"),
    )
    xy.createOrReplaceTempView("order_xy")
    got = pipeline_sql(
        spark,
        "SELECT * FROM TABLE(zorder_key(TABLE order_xy, x_col => 'x', y_col => 'y', bits => 6))",
    )
    from flink_ci_flink_spark.pipeline.sharding import zorder_key

    want = zorder_key(xy, "x", "y", bits=6)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    got = pipeline_sql(
        spark,
        "SELECT query_id, doc_id, rank FROM TABLE(bm25_topk(TABLE documents, k => 5))",
    )
    assert got.count() > 0 and set(got.columns) == {"query_id", "doc_id", "rank"}


def test_fp_clustering_ptfs_equal_python_surface(spark, sf_dir):
    """cluster_sample and embedding_outliers are SQL-reachable and return
    the direct Python results (deterministic fixed-point training makes
    the two surfaces exactly comparable)."""
    from flink_ci_flink_spark.pipeline.similarity import (
        cluster_balanced_sample,
        embedding_outlier_screen,
    )

    t = load_tables(spark, sf_dir)
    emb = t.embeddings.limit(150)
    emb.createOrReplaceTempView("emb150")

    got = pipeline_sql(
        spark,
        "SELECT * FROM TABLE(cluster_sample(TABLE emb150, per_cell => 5))",
    )
    want = cluster_balanced_sample(emb, per_cell=5)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    got = pipeline_sql(
        spark,
        "SELECT * FROM TABLE(embedding_outliers(TABLE emb150, permille => 200))",
    )
    want = embedding_outlier_screen(emb, permille=200)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_session_ptfs_equal_python_surface(spark, sf_dir):
    """temperature_mix and hard_negatives are SQL-reachable and return the
    direct Python results."""
    from flink_ci_flink_spark.pipeline.sampling import temperature_mix
    from flink_ci_flink_spark.pipeline.similarity import hard_negatives
    from flink_ci_flink_spark.pipeline.text import token_count

    t = load_tables(spark, sf_dir)
    docs = t.documents.select(
        "doc_id", "source", token_count("text").cast("bigint").alias("n_tokens")
    )
    docs.createOrReplaceTempView("doc_tokens")
    got = pipeline_sql(
        spark,
        "SELECT * FROM TABLE(temperature_mix(TABLE doc_tokens, token_budget => 6000))",
    )
    want = temperature_mix(docs, token_budget=6000)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    emb = t.embeddings.limit(150)
    emb.createOrReplaceTempView("emb150hn")
    got = pipeline_sql(
        spark,
        "SELECT * FROM TABLE(hard_negatives(TABLE emb150hn, k => 3))",
    )
    want = hard_negatives(emb, k=3)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_fold_spec_validation():
    """FoldSpec grammar + contract errors are rejected with clear messages."""
    from flink_ci_flink_spark.streaming.declarative import (
        FoldSpec,
        parse_assignments,
    )

    assert parse_assignments("a := sum(x); b := max(y)") == {
        "a": "sum(x)",
        "b": "max(y)",
    }
    with pytest.raises(ValueError, match="bad fold assignment"):
        parse_assignments("sum(x)")
    with pytest.raises(ValueError, match="duplicate fold column"):
        parse_assignments("a := sum(x); a := max(x)")
    with pytest.raises(ValueError, match="empty fold spec"):
        parse_assignments(" ; ")
    with pytest.raises(ValueError, match="SAME state columns"):
        FoldSpec(keys=["k"], prepare="a := sum(x)", merge="b := sum(a)")
    with pytest.raises(ValueError, match="shadow grouping keys"):
        FoldSpec(keys=["k"], prepare="k := count(1)", merge="k := sum(k)")
    with pytest.raises(ValueError, match="grouping key"):
        FoldSpec(keys=[], prepare="a := count(1)", merge="a := sum(a)")


def test_declarative_fold_streaming_equals_batch(spark, sf_dir):
    """A FoldSpec run as a 3-batch replayed stream equals its one-shot
    batch twin — the associativity contract realized on jvm_keyed_fold."""
    from flink_ci_flink_spark.streaming import replay_stream
    from flink_ci_flink_spark.streaming.declarative import (
        FoldSpec,
        declarative_fold_batch,
        declarative_keyed_fold,
    )

    t = load_tables(spark, sf_dir)
    ev = t.events.select("user_id", "event_type", "ts", "event_id", "value")
    spec = FoldSpec(
        keys=["user_id", "event_type"],
        prepare=(
            "n := count(1); "
            "cents := sum(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)); "
            "mx := max(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))"
        ),
        merge="n := sum(n); cents := sum(cents); mx := max(mx)",
        emit="avg_cents := CAST(FLOOR(cents * 1.0 / n) AS BIGINT)",
    )
    got = declarative_keyed_fold(replay_stream(ev, ["ts", "event_id"]), spec)
    want = declarative_fold_batch(ev, spec)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_keyed_fold_ptf_composes(spark, sf_dir):
    """The keyed_fold PTF declared entirely in SQL equals the plain SQL
    aggregate, with ordinary SQL composed around the boundary."""
    t = load_tables(spark, sf_dir)
    t.events.createOrReplaceTempView("events_kfp")
    cents = "CAST(FLOOR(value * 100 + 0.5) AS BIGINT)"
    got = pipeline_sql(
        spark,
        f"""
        SELECT user_id, n, total_cents
        FROM TABLE(keyed_fold(
            TABLE events_kfp, keys => 'user_id', order_by => 'ts,event_id',
            prepare => 'n := count(1); total_cents := sum({cents})',
            merge   => 'n := sum(n); total_cents := sum(total_cents)'))
        WHERE n >= 5
        """,
    )
    want = spark.sql(
        f"""
        SELECT user_id, COUNT(*) AS n, SUM({cents}) AS total_cents
        FROM events_kfp GROUP BY user_id HAVING COUNT(*) >= 5
        """
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    with pytest.raises(ValueError, match="keyed_fold needs"):
        pipeline_sql(
            spark,
            "SELECT * FROM TABLE(keyed_fold(TABLE events_kfp, keys => 'user_id'))",
        )


def test_quality_classifier_ptf(spark, sf_dir):
    """The quality_classifier PTF equals the Python surface and errors
    clearly without a label expression."""
    from flink_ci_flink_spark.pipeline.classifier import (
        perceptron_score,
        perceptron_train,
        text_feature_exprs,
    )

    t = load_tables(spark, sf_dir)
    t.documents.createOrReplaceTempView("docs_qc")
    label = "CASE WHEN CAST(SUBSTR(source, 4) AS INT) % 2 = 0 THEN 1 ELSE -1 END"
    got = pipeline_sql(
        spark,
        f"SELECT * FROM TABLE(quality_classifier(TABLE docs_qc, "
        f"label_expr => '{label.replace(chr(39), chr(39)*2)}'))",
    )
    w = perceptron_train(
        t.documents, text_feature_exprs(), F.expr(label), iterations=3
    )
    want = perceptron_score(t.documents, text_feature_exprs(), w)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    with pytest.raises(ValueError, match="label_expr"):
        pipeline_sql(
            spark, "SELECT * FROM TABLE(quality_classifier(TABLE docs_qc))"
        )


def test_fold_spec_batching_insensitive_property(spark):
    """Hypothesis: for randomly composed decomposable specs (sum/min/max/
    count legs) and random row multisets split into random batch
    sequences, incremental fold(fold(None, a), b) equals the one-shot
    batch twin — the associativity contract the streaming runtime relies
    on, checked directly at the plan-builder level (no streaming query
    per example)."""
    from hypothesis import given, settings, strategies as st

    from flink_ci_flink_spark.streaming.declarative import (
        FoldSpec,
        declarative_fold_batch,
    )

    legs = {
        "n": ("count(1)", "sum(n)"),
        "tot": ("sum(v)", "sum(tot)"),
        "mx": ("max(v)", "max(mx)"),
        "mn": ("min(v)", "min(mn)"),
    }

    @given(
        rows=st.lists(
            st.tuples(st.integers(0, 3), st.integers(-50, 50)),
            min_size=1,
            max_size=24,
        ),
        cut=st.integers(1, 23),
        picked=st.sets(st.sampled_from(sorted(legs)), min_size=1, max_size=4),
    )
    @settings(max_examples=8, deadline=None)
    def check(rows, cut, picked):
        cut = min(cut, len(rows))
        prepare = "; ".join(f"{k} := {legs[k][0]}" for k in sorted(picked))
        merge = "; ".join(f"{k} := {legs[k][1]}" for k in sorted(picked))
        spec = FoldSpec(keys=["k"], prepare=prepare, merge=merge)
        df = spark.createDataFrame(rows, "k int, v int")
        a = spark.createDataFrame(rows[:cut] or [(0, 0)], "k int, v int")
        b = spark.createDataFrame(rows[cut:] or None, "k int, v int") if rows[cut:] else None
        s1 = spec.fold_plan(None, spec.prepare_plan(a))
        incr = spec.fold_plan(s1, spec.prepare_plan(b)) if b is not None else s1
        if not rows[:cut]:
            return
        want = declarative_fold_batch(df, spec)
        got_rows = sorted(map(tuple, spec.emit_plan(incr).collect()))
        want_rows = sorted(map(tuple, want.collect()))
        if not rows[cut:]:
            # a == whole input
            assert got_rows == want_rows
        else:
            assert got_rows == want_rows

    check()


def test_fold_spec_self_check_catches_non_mergeable(spark, sf_dir):
    """The runtime validator passes a correct spec and rejects a broken
    one (avg declared directly — averages don't merge) with the
    actionable message."""
    from flink_ci_flink_spark.streaming.declarative import FoldSpec, self_check

    t = load_tables(spark, sf_dir)
    ev = t.events.select("user_id", F.floor("value").cast("long").alias("v"))
    good = FoldSpec(
        keys=["user_id"],
        prepare="n := count(1); tot := sum(v)",
        merge="n := sum(n); tot := sum(tot)",
    )
    self_check(good, ev)  # must not raise
    bad = FoldSpec(
        keys=["user_id"],
        prepare="a := avg(v)",
        merge="a := avg(a)",
    )
    with pytest.raises(ValueError, match="batching-insensitivity"):
        self_check(bad, ev)


def test_curation_ptfs_equal_python_surface(spark, sf_dir):
    """gopher_rules and dsir_select are SQL-reachable and return the
    direct Python-surface results."""
    from flink_ci_flink_spark.pipeline.sampling import dsir_select
    from flink_ci_flink_spark.pipeline.text import gopher_rules

    t = load_tables(spark, sf_dir)
    t.documents.createOrReplaceTempView("documents")

    got = pipeline_sql(
        spark,
        "SELECT * FROM TABLE(gopher_rules(TABLE documents, "
        "min_words => 25, mean_len_hi10 => 45))",
    )
    want = gopher_rules(t.documents, min_words=25, mean_len_hi10=45)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    got = pipeline_sql(
        spark,
        "SELECT * FROM TABLE(dsir_select(TABLE documents, "
        "target_expr => 'source IN (''src1'', ''src2'', ''src3'')', "
        "n_keep => 20))",
    )
    want = dsir_select(
        t.documents, F.col("source").isin("src1", "src2", "src3"), n_keep=20
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
