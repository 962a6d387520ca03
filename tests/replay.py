"""Micro-batch fixtures for streaming tests."""

from __future__ import annotations

import uuid
from contextlib import contextmanager

from flink_ci_flink_spark.streaming.core import stage_batches


def stage_chunks(spark, chunks, schema) -> str:
    """Write each chunk of rows as one `stage_batches` file ``001.parquet``,
    ``002.parquet``, ... and return the directory: read with
    ``maxFilesPerTrigger=1``, every chunk is one micro-batch, in order."""
    return stage_batches(
        [spark.createDataFrame(chunk, schema).toArrow() for chunk in chunks]
    )


@contextmanager
def spark_jobs(spark):
    """Yield a list that holds, once the block has exited, the ids of the
    Spark jobs the block's thread started."""
    sc = spark.sparkContext
    group = f"spark_jobs_{uuid.uuid4().hex}"
    jobs: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield jobs
    finally:
        sc._jsc.clearJobGroup()
        # the status tracker learns of jobs from the asynchronous listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))
