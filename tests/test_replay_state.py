"""The foreachBatch replay-state contract of `streaming/core.py`: epoch
stores (`append_epoch` / `read_epochs`), batch-id-versioned state
(`VersionedState`), including the degenerate all-empty stream, and the
one per-process root every scratch directory lives under
(`scratch_dir`)."""

import os

import pytest


def _dirs(path):
    return sorted(p.name for p in path.iterdir())


def test_predecessor_is_the_highest_version_below_the_batch(tmp_path):
    from flink_ci_flink_spark.streaming.core import VersionedState

    # versions at or above the batch id and other prefixes never count
    for name in ["v1", "v3", "v7", "v9", "buf_v5", "idents_v6", "v2x", "closed"]:
        (tmp_path / name).mkdir()
    state = VersionedState(None, str(tmp_path), "v")
    with state.batch(7) as prev:
        assert prev == 3
    assert _dirs(tmp_path) == ["buf_v5", "closed", "idents_v6", "v2x", "v3", "v7"]
    with state.batch(3) as prev:  # a restart replays from an older id
        assert prev is None
    assert _dirs(tmp_path) == ["buf_v5", "closed", "idents_v6", "v2x", "v3"]
    with VersionedState(None, str(tmp_path / "missing"), "v").batch(0) as prev:
        assert prev is None


def test_pruning_keeps_the_batch_and_its_predecessor_under_every_prefix(tmp_path):
    from flink_ci_flink_spark.streaming.core import VersionedState

    for v in range(1, 6):
        (tmp_path / f"buf_v{v}").mkdir()
        if v != 3:  # the predecessor is looked up under the first prefix only
            (tmp_path / f"idents_v{v}").mkdir()
    state = VersionedState(None, str(tmp_path), "buf_v", "idents_v")
    with state.batch(4) as prev:
        assert prev == 3
    assert _dirs(tmp_path) == ["buf_v3", "buf_v4", "idents_v4"]


def test_a_failed_batch_prunes_nothing(tmp_path):
    from flink_ci_flink_spark.streaming.core import VersionedState

    for v in range(3):
        (tmp_path / f"v{v}").mkdir()
    with pytest.raises(RuntimeError):
        with VersionedState(None, str(tmp_path), "v").batch(2):
            raise RuntimeError("batch failed")
    assert _dirs(tmp_path) == ["v0", "v1", "v2"]


def test_a_version_is_read_back_without_a_job(spark, tmp_path):
    """The next batch reads the version its fold instance wrote with no
    Spark job (no schema inference); a fresh instance on the same
    directory, as after a restart, infers and reads the same schema and
    rows."""
    from flink_ci_flink_spark.streaming.core import VersionedState
    from tests.replay import spark_jobs

    df = spark.range(3).selectExpr(
        "id AS k", "array(CAST(id AS FLOAT)) AS v", "CAST(NULL AS STRING) AS s"
    )
    state = VersionedState(spark, str(tmp_path), "v")
    with state.batch(0):
        state.write(df, "v", 0)
    with state.batch(1) as prev:
        with spark_jobs(spark) as jobs:
            got = state.read("v", prev)
        assert jobs == []
        state.write(got, "v", 1)
    fresh = VersionedState(spark, str(tmp_path), "v").read("v", 1)
    assert state.read("v", 1).schema == fresh.schema
    assert sorted(fresh.collect()) == sorted(df.collect())


def test_empty_stream_finalizes_to_zero_rows(spark, sf_dir, tmp_path):
    """Every batch empty: an unpartitioned store (line dedup) holds
    zero-row files that carry the schema; a cell-partitioned one (IVF)
    holds no file at all, so its finalizer names the schema. Both
    finalize to zero rows instead of raising."""
    from flink_ci_flink_spark.catalog import load_tables
    from flink_ci_flink_spark.pipeline.dedup import (
        finalize_line_dedup,
        streaming_line_dedup_ingest,
    )
    from flink_ci_flink_spark.pipeline.similarity import (
        finalize_knn_join,
        ivf_centroids,
        streaming_ivf_ingest,
    )
    from flink_ci_flink_spark.streaming import replay_stream

    t = load_tables(spark, sf_dir)
    base = str(tmp_path)
    streaming_line_dedup_ingest(
        replay_stream(t.documents.limit(0), ["doc_id"]),
        f"{base}/segs",
        checkpoint=f"{base}/ckpt_segs",
    )
    assert finalize_line_dedup(spark, f"{base}/segs").count() == 0

    centroids = ivf_centroids(t.embeddings, n_cells=4, iterations=1)
    streaming_ivf_ingest(
        replay_stream(t.embeddings.limit(0), ["vec_id"]),
        centroids,
        f"{base}/ivf",
        checkpoint=f"{base}/ckpt_ivf",
    )
    assert finalize_knn_join(spark, f"{base}/ivf", centroids).count() == 0


def test_span_registry_read_failure_raises(spark, sf_dir, tmp_path):
    """A registry that exists but cannot be read fails the batch instead
    of being silently reset to the batch's delta; only a registry that
    does not exist yet reads as empty. The drain stops its query on the
    way out."""
    from pyspark.errors import StreamingQueryException

    from flink_ci_flink_spark.catalog import load_tables
    from flink_ci_flink_spark.pipeline.spans import streaming_span_dedup
    from flink_ci_flink_spark.streaming import replay_stream

    docs = load_tables(spark, sf_dir).documents.select("doc_id", "text")
    base = str(tmp_path)
    registry = f"{base}/registry"
    os.makedirs(registry)
    with open(f"{registry}/part-00000.parquet", "w") as fh:
        fh.write("not a parquet file")
    with pytest.raises(StreamingQueryException):
        streaming_span_dedup(
            replay_stream(docs, ["doc_id"], n_batches=1),
            f"{base}/windows",
            registry,
            checkpoint=f"{base}/ckpt",
        )
    assert spark.streams.active == []  # the failed drain stopped its query


def test_read_epochs_of_a_store_never_written(spark, tmp_path):
    from pyspark.errors import AnalysisException

    from flink_ci_flink_spark.streaming.core import read_epochs

    never = str(tmp_path / "never")
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read_epochs(spark, never)
    empty = read_epochs(spark, never, ["k"], "k long, v string")
    assert empty.columns == ["k", "v"] and empty.count() == 0


def test_scratch_root_is_made_on_first_use(monkeypatch, tmp_path):
    """The scratch root is made by the first `scratch_dir` call, under the
    temp dir in effect then, and every later directory shares it."""
    import tempfile

    from flink_ci_flink_spark.streaming import core

    monkeypatch.setattr(core, "_scratch_root", None)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    assert os.listdir(tmp_path) == []
    a, b = core.scratch_dir("a_"), core.scratch_dir("b_")
    (root,) = os.listdir(tmp_path)
    assert root.startswith("spark_graft_")
    assert os.path.dirname(a) == os.path.dirname(b) == str(tmp_path / root)
    assert os.path.basename(a).startswith("a_") and a != b


def test_scratch_root_is_removed_at_exit(tmp_path):
    """A process's scratch root, with everything in it, is gone once the
    process exits; the root follows the ``TMPDIR`` it ran with."""
    import subprocess
    import sys
    from pathlib import Path

    code = (
        "from flink_ci_flink_spark.streaming.core import scratch_dir\n"
        "d = scratch_dir('x_')\n"
        "open(d + '/f', 'w').close()\n"
        "print(d)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=Path(__file__).resolve().parent.parent,
        env={**os.environ, "TMPDIR": str(tmp_path)},
        capture_output=True, text=True, check=True,
    )
    d = out.stdout.strip()
    assert d.startswith(str(tmp_path) + os.sep)
    assert not os.path.exists(d)
    assert not [n for n in os.listdir(tmp_path) if n.startswith("spark_graft_")]


def test_fold_without_state_dir_writes_under_the_root(spark):
    """A fold called without ``state_dir`` keeps its versions in a fresh
    directory under the scratch root, beside its staged replay."""
    from flink_ci_flink_spark.streaming import replay_stream, scratch_dir
    from flink_ci_flink_spark.streaming.process import streaming_running_agg_jvm

    root = os.path.dirname(scratch_dir("probe_"))
    before = set(os.listdir(root))
    df = spark.createDataFrame([(i % 3, i) for i in range(30)], "k INT, seq LONG")
    out = streaming_running_agg_jvm(
        replay_stream(df, ["seq"]), ["k"], {"n": ("count", "seq")}
    )
    assert sorted(map(tuple, out.collect())) == [(0, 10), (1, 10), (2, 10)]
    stage, state = sorted(set(os.listdir(root)) - before)
    assert stage.startswith("replay_stage_") and state.startswith("state_")
    assert sorted(os.listdir(f"{root}/{state}")) == ["v1", "v2"]  # 3 batches
