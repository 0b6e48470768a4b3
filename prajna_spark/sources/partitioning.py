"""Hive-style partitioned writes — partition pruning at the file listing.

The reference's storage has a partition *mapping* (partition index →
node, /root/reference/src/CoreLib/GV.fs:200) but no value-based partition
layout: every scan reads every stored partition. Spark's partitioned
layout (``partitionBy`` on write) turns equality/IN predicates on the
partition columns into FILE LISTING filters — a 100 TB table filtered to
one day/one type never opens the other files at all (shows up as
``PartitionFilters`` in the scan node, distinct from row-group-level
``PushedFilters``).

Rules:
- partition by LOW-cardinality columns only (type, date bucket); high
  cardinality => millions of small files, the classic small-files failure;
- combine with in-file sorting on a secondary key for row-group pruning
  inside each partition.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from prajna_spark.session import tune
from prajna_spark.sources.catalog import read_parquet


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write parquet partitioned by ``partition_cols``; optionally sort
    within files on ``sort_col`` (min/max row-group stats → pushdown
    pruning inside each partition)."""
    out = df
    if sort_col:
        out = out.sortWithinPartitions(*partition_cols, sort_col)
    out.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    tune(spark)
    return read_parquet(spark, path)
