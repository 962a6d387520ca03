"""Micro-batch fixtures for streaming tests."""

from __future__ import annotations

import glob
import os
import shutil

from flink_ci_flink_spark.streaming import scratch_dir


def stage_chunks(spark, chunks, schema) -> str:
    """Write each chunk of rows as one parquet file ``000.parquet``,
    ``001.parquet``, ... in a fresh `scratch_dir` and return it: read with
    ``maxFilesPerTrigger=1``, every chunk is one micro-batch, in order."""
    tmp = scratch_dir("chunks_")
    for i, chunk in enumerate(chunks):
        part_dir = f"{tmp}/f{i}"
        spark.createDataFrame(chunk, schema).coalesce(1).write.parquet(part_dir)
        (part,) = glob.glob(f"{part_dir}/part-*.parquet")
        os.rename(part, f"{tmp}/{i:03d}.parquet")
        shutil.rmtree(part_dir)
    return tmp
