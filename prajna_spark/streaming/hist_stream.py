"""Streaming monitoring-histogram maintenance — the third streamed
sketch (KMV = distinct counts, Misra-Gries = heavy keys, this =
distributions/latency percentiles).

Bin counts of the fixed-bound histogram (operators.sketch_rollup.
fixed_histogram) are ADDITIVE, so the store keeps per-micro-batch bin
partials and the read side sums per (dims, bin). Addition is NOT
idempotent, so replay safety comes from ``streaming.sink.write_batch``:
each batch writes under its own ``ingest_batch=<id>`` partition with
dynamic partition overwrite — a retried batch OVERWRITES its own
partition instead of double-counting.

Read-side quantile estimates reuse histogram_quantiles unchanged, so the
live store answers the exact same catalog oracle as the one-shot batch
sketch at any clean drain point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from prajna_spark.operators.maintenance import rewrite_store
from prajna_spark.operators.sketch_rollup import (
    fixed_histogram,
    histogram_quantiles,
)
from prajna_spark.streaming.sink import drain, write_batch


def start_incremental_histogram(
    stream: DataFrame,
    group_cols: list[str],
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int,
    store_path: str,
    checkpoint_path: str,
) -> StreamingQuery:
    """Write each micro-batch's bin partials under
    ``ingest_batch=<batch_id>/`` (``streaming.sink.write_batch`` —
    replayed batches rewrite their own partition, keeping the additive
    store exactly-once)."""
    return drain(
        stream,
        lambda df, bid: write_batch(
            fixed_histogram(df, group_cols, value_col, lo, hi, n_bins),
            bid,
            store_path,
        ),
        checkpoint_path,
    )


def merged_histogram(
    spark: SparkSession, store_path: str, group_cols: list[str]
) -> DataFrame:
    """One bin row per (dims, bin) from the delta store — exactly what
    fixed_histogram over the union of all streamed rows produces."""
    return _sum_bins(spark.read.parquet(store_path), group_cols)


def _sum_bins(store: DataFrame, group_cols: list[str]) -> DataFrame:
    return store.groupBy(*group_cols, "bin").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )


def quantiles_from_store(
    spark: SparkSession,
    store_path: str,
    group_cols: list[str],
    quantiles: list[float],
    lo: float,
    hi: float,
    n_bins: int,
) -> DataFrame:
    """Quantile estimates straight off the store — touches only
    O(dims x bins x batches) sketch rows, never raw values."""
    return histogram_quantiles(
        merged_histogram(spark, store_path, group_cols),
        group_cols,
        quantiles,
        lo,
        hi,
        n_bins,
    )


def compact_histogram_store(
    spark: SparkSession, store_path: str, group_cols: list[str]
) -> int:
    """Fold the per-batch partials into one ``ingest_batch=-1`` layer
    through the crash-safe ``operators.maintenance.rewrite_store``.
    Because addition is associative and the merged rows equal the folded
    rows by construction, read results are unchanged. Returns rows
    written."""
    return rewrite_store(
        spark,
        store_path,
        lambda store: _sum_bins(store, group_cols).withColumn(
            "ingest_batch", F.lit(-1)
        ),
        "ingest_batch",
    )
