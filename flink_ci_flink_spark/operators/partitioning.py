"""Physical partitioning surface: the DataStream/DataSet repartitioning
verbs mapped onto Spark's exchange operators.

Reference: `DataStream.java:415-502` (shuffle/rebalance/rescale/global/
broadcast/partitionCustom/keyBy), `DataSet.partitionByHash:1257`,
`PartitionOperator.java` (range partitioning), `DataSet.sortPartition`.
`global`, `broadcast` and `partitionCustom` need no wrapper: they are
`repartition(1)`, `F.broadcast(df)` and `repartition(n, expr)`.

The mapping is deliberately thin — Spark's exchanges ARE these operators —
but the semantics each verb promises (key co-location, round-robin
balance, partition-count contracts, in-partition order) are contract-
tested in tests/test_plans.py::TestPartitioning. At 100 TB the verbs that
matter are `key_by` (hash exchange feeding keyed ops), `range_partition`
(sort-free global order for write-time clustering), and `rescale`
(coalesce — a NARROW dependency: merges co-located partitions without a
shuffle, exactly Flink's local rescale)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def key_by(df: DataFrame, *cols: str | Column) -> DataFrame:
    """Hash-partition by key — every row of a key lands in one partition
    (`DataStream.keyBy:415`). The exchange Catalyst plans for keyed
    aggregation; exposing it explicitly lets several keyed ops reuse one
    shuffle."""
    return df.repartition(*[F.col(c) if isinstance(c, str) else c for c in cols])


def rebalance(df: DataFrame, n: int) -> DataFrame:
    """Round-robin redistribute to n equal partitions
    (`DataStream.rebalance:472`): the skew-flattener before an expensive
    map-side stage."""
    return df.repartition(n)


def rescale(df: DataFrame, n: int) -> DataFrame:
    """Merge to n partitions WITHOUT a shuffle (`DataStream.rescale:489`
    keeps data local; Spark's narrow `coalesce` is the same contract)."""
    return df.coalesce(n)


def range_partition(df: DataFrame, *cols: str | Column) -> DataFrame:
    """Range-partition by sort key (`PartitionOperator.java` /
    `DataSet.partitionByRange`): globally ordered partition boundaries
    without a global sort — the write-time clustering primitive."""
    return df.repartitionByRange(*[F.col(c) if isinstance(c, str) else c for c in cols])


def sort_partition(df: DataFrame, *cols: str | Column) -> DataFrame:
    """Sort within partitions only (`DataSet.sortPartition`): no exchange,
    feeds per-partition ordered consumers (e.g. parquet run-length wins)."""
    return df.sortWithinPartitions(
        *[F.col(c) if isinstance(c, str) else c for c in cols]
    )
