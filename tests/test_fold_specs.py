"""The six fold shapes declared as `FoldSpec`s (`streaming/process.py` and
`pipeline/sketches.py`): each spec passes the batching-insensitivity
self-check, and each shape finalizes an all-empty replay to zero rows with
the columns and types of a non-empty run."""

import pytest

SHAPES = ["running_agg", "changelog_agg", "hll", "countmin", "centroid_refresh",
          "value_histogram"]

# fixed-point centroids (`similarity.FP_SCALE` = 2^20) in 3 dimensions
_ONE = 1 << 20
CENTROIDS = [[0, 0, 0], [_ONE, _ONE, 0], [0, _ONE, _ONE]]

# integer columns only where the state sums them: a double sum depends on
# the order of the additions, so a re-batched fold need not match bit for bit
AGGS = {"n": ("count", ""), "total": ("sum", "v"), "vmin": ("min", "v"),
        "vmax": ("max", "v")}


def _case(spark, name):
    """Input rows with a ``seq`` order column, and the shape run on a
    stream."""
    from flink_ci_flink_spark.streaming import process as P

    rng = range(60)
    if name == "running_agg":
        df = spark.createDataFrame(
            [(i % 5, (i * 7) % 11 - 5, i) for i in rng], "k int, v long, seq long"
        )
        return df, lambda s: P.streaming_running_agg_jvm(s, ["k"], AGGS)
    if name == "changelog_agg":
        kinds = ["+I", "+I", "-U", "+U", "-D"]
        df = spark.createDataFrame(
            [(kinds[i % 5], f"g{i % 4}", i % 9, i) for i in rng],
            "row_kind string, g string, v long, seq long",
        )
        return df, lambda s: P.streaming_changelog_agg_jvm(s, ["g"], ["v"])
    if name == "hll":
        df = spark.createDataFrame(
            [(f"g{i % 3}", f"u{i % 17}", i) for i in rng], "g string, v string, seq long"
        )
        return df, lambda s: P.streaming_hll_jvm(s, "v", ["g"])
    if name == "countmin":
        df = spark.createDataFrame([(i % 13, i) for i in rng], "v long, seq long")
        return df, lambda s: P.streaming_countmin_jvm(s, "v")
    if name == "centroid_refresh":
        df = spark.createDataFrame(
            [([(i % 4) * 0.5, (i * 3 % 5) * 0.25, (i % 2) * 1.0], i) for i in rng],
            "embedding array<double>, seq long",
        )
        return df, lambda s: P.streaming_centroid_refresh_jvm(s, CENTROIDS)
    assert name == "value_histogram"
    # bin width a power of two: the bin of every value is exact
    df = spark.createDataFrame(
        [(f"g{i % 2}", (i * 37 % 100) / 4.0, i) for i in rng],
        "g string, v double, seq long",
    )
    return df, lambda s: P.streaming_value_histogram_jvm(s, "v", ["g"], 0.0, 2.0, 8)


@pytest.mark.parametrize("name", SHAPES)
def test_fold_spec_is_batching_insensitive(spark, monkeypatch, name):
    """The shape's spec: folding three slices of the input one after
    another equals one prepare over the whole input."""
    from flink_ci_flink_spark.streaming import process as P
    from flink_ci_flink_spark.streaming.declarative import self_check

    df, run = _case(spark, name)
    specs = []  # the spec the shape declares, caught on its way to the fold
    monkeypatch.setattr(
        P, "declarative_keyed_fold", lambda stream, spec, state_dir: specs.append(spec)
    )
    run(None)
    (spec,) = specs
    self_check(spec, df)


@pytest.mark.parametrize("name", SHAPES)
def test_fold_shape_finalizes_an_empty_stream(spark, name):
    """Every batch empty: the first batch's state is the prepare of an
    empty frame, and the shape finalizes to zero rows with the columns and
    types of a run over data."""
    from flink_ci_flink_spark.streaming import replay_stream

    df, run = _case(spark, name)
    empty = run(replay_stream(df.limit(0), ["seq"]))
    full = run(replay_stream(df, ["seq"], n_batches=2))
    assert empty.count() == 0 and full.count() > 0
    assert [(f.name, f.dataType) for f in empty.schema] == [
        (f.name, f.dataType) for f in full.schema
    ]


def test_builder_prepare_declares_the_merged_state_columns(spark):
    """A builder prepare is checked against its frame's columns when it
    runs; merge takes SQL expressions only."""
    from flink_ci_flink_spark.streaming.declarative import FoldSpec

    df = spark.createDataFrame([(1, 2)], "k int, v int")
    spec = FoldSpec(["k"], lambda b: b.groupBy("k").count(), {"n": "sum(n)"})
    with pytest.raises(ValueError, match="SAME state columns"):
        spec.prepare_plan(df)
    with pytest.raises(ValueError, match="merge must be SQL expressions"):
        FoldSpec(["k"], "n := count(1)", lambda states: states)
