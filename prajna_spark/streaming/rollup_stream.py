"""Streaming continuous aggregate — incremental maintenance of the
cascading rollup (the hypertable pattern's streaming half).

Batch half: operators.rollup_cascade computes every resolution from one
raw scan. This module keeps the FINEST level continuously maintained from
a stream and derives the cascade on read:

- ``start_incremental_rollup``: foreachBatch sink — each micro-batch is
  aggregated to finest-bucket PARTIAL DELTA rows (n_events, total_value
  per bucket x dims) and written under its own ``ingest_batch=<id>``
  partition (``streaming.sink.write_batch``). Only aggregate rows land
  on disk; the raw stream is never stored. A replayed micro-batch
  rewrites its own partition, so every batch's delta counts exactly
  once.
- ``cascade_from_store``: reads the delta store, merges deltas per bucket
  (partials compose by sum — the reason per-batch deltas suffice), then
  cascades coarser resolutions exactly like the batch operator. Results
  match the batch cascade_rollup over the union of all streamed events.

Reference contrast: Prajna's telemetry loop re-folds the full live state
every cycle (paper §5.2); here each cycle touches only the new events and
the store stays O(buckets), not O(events) — the upgrade the README
promises for the rollup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from prajna_spark.operators.maintenance import rewrite_store
from prajna_spark.operators.rollup_cascade import (
    _bucket,
    cascade_from_partials,
)
from prajna_spark.streaming.sink import drain, write_batch


def start_incremental_rollup(
    stream: DataFrame,
    ts_col: str,
    dims: list[str],
    value_col: str,
    finest_sec: int,
    store_path: str,
    checkpoint_path: str,
) -> StreamingQuery:
    """Maintain finest-level partials from ``stream`` (``ts_col`` in epoch
    seconds). Each micro-batch writes its per-bucket delta rows; state
    never accumulates in the streaming job itself (the aggregation is
    within-batch, so no watermark/state store is needed — late events
    simply produce another delta row for their bucket, which the
    read-side merge folds in: late data is CORRECT here by construction).
    """

    def write_deltas(batch_df: DataFrame, batch_id: int) -> None:
        deltas = batch_df.groupBy(
            _bucket(ts_col, finest_sec).alias("epoch_start"), *dims
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(value_col).alias("total_value"),
        )
        write_batch(deltas, batch_id, store_path)

    return drain(stream, write_deltas, checkpoint_path)


def cascade_from_store(
    spark: SparkSession,
    store_path: str,
    dims: list[str],
    resolutions: list[int],
) -> DataFrame:
    """Cascade-on-read over the delta store: merge per-bucket deltas, then
    derive every coarser resolution from the merged finest level. One
    scan of O(buckets x batches) aggregate rows — never the raw events."""
    partials = spark.read.parquet(store_path).drop("ingest_batch")
    return cascade_from_partials(partials, dims, resolutions, merge=True)


def compact_store(spark: SparkSession, store_path: str, dims: list[str]) -> int:
    """Fold the store's accumulated per-batch delta rows into one row per
    (bucket, dims) under ``ingest_batch=-1`` — the periodic maintenance
    that keeps read-side merge cost O(buckets) no matter how many
    micro-batches have landed. Deltas compose by sum, so compaction is a
    groupBy; later batches land alongside and the next compaction folds
    them in. The swap is ``operators.maintenance.rewrite_store``'s
    (crash-safe, aborts on a concurrent append). Returns the compacted
    row count.
    """
    return rewrite_store(
        spark,
        store_path,
        lambda store: store.groupBy("epoch_start", *dims)
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("total_value").alias("total_value"),
        )
        .withColumn("ingest_batch", F.lit(-1)),
        "ingest_batch",
    )
