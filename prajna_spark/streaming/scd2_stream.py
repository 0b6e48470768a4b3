"""Streaming SCD Type-2 maintenance — keep a temporal dimension current
from a stream of change events, with late data handled exactly.

The batch primitive is ``operators.intervals.scd2_intervals``; this
module drives it incrementally via foreachBatch. The store has two
layers, both parquet partitioned by a key-hash bucket:

- ``points/`` — the RAW change events (key, ts, state), merged per batch
  through ``operators.upsert.upsert_partitioned`` keyed on (key, ts):
  only touched buckets rewrite, and a redelivered batch replaces rows
  with identical rows (at-least-once safe without batch bookkeeping).
- ``history/`` — the collapsed SCD2 intervals, REBUILT per batch for the
  touched buckets only from the merged raw points, and dynamically
  overwritten at bucket granularity.

Why raw points must be retained (the subtlety that breaks the obvious
design): the SCD2 collapse DROPS events that repeat the previous state,
but a late arrival can make a dropped event significant again. With
points a@10, a@20 the collapse keeps only a@10; if b@15 then arrives
late, the true history is a@[10,15) b@[15,20) a@[20,∞) — rebuilding
from the collapsed store would lose the a@20 re-entry entirely. An
incremental maintainer that stores only its own output is therefore
WRONG under late data; this one recollapses from the raw layer, so any
arrival order converges to the batch-rebuild result (tested:
multi-batch drain with late+redelivered batches == one-shot
scd2_intervals over all events).

Scale shape: per batch, work is O(touched buckets), not O(dimension) —
the update stream prunes both the points merge and the history rebuild
by bucket; the rebuild itself is the one-shuffle-per-key-window batch
operator on the touched slice. Same write-amplification contract as
streaming/upsert_stream.

State-store provider note (r7 VERDICT item 6): provider auto-selection
(statestore.auto_state_provider) does NOT apply here by design — this
drain is foreachBatch over stateless batch plans, so Spark's state
store holds only source offsets/commit log, never key-universe state.
The key-universe state lives in the partitioned parquet ``points/``
layer, which is disk-backed by construction — already the posture
RocksDB buys the state-store operators (bounded by disk, not heap).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from prajna_spark.operators.intervals import scd2_intervals
from prajna_spark.operators.upsert import upsert_partitioned
from prajna_spark.sources.formats import committed_store_exists
from prajna_spark.streaming.sink import drain

BUCKET_COL = "__scd2_bucket"


def _bucket(keys: list[str], n_buckets: int) -> Column:
    return F.pmod(F.hash(*keys), F.lit(n_buckets))


def apply_scd2_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_path: str,
    keys: list[str],
    state_col: str,
    ts_col: str,
    n_buckets: int = 16,
) -> None:
    """Merge one micro-batch of change events into the raw point store
    and rebuild the SCD2 history for the touched buckets. ``batch_id``
    is unused by design: idempotency comes from the (key, ts)-keyed
    point merge, so it also holds across checkpoint resets."""
    spark = batch_df.sparkSession
    points_path = os.path.join(store_path, "points")
    history_path = os.path.join(store_path, "history")
    # Collapse WITHIN-batch duplicates first: an at-least-once source can
    # deliver the same (key, ts) twice inside one micro-batch, or two
    # states at the same instant — the point store's (key, ts) uniqueness
    # invariant (which scd2_intervals' tie-free ordering rests on) must
    # hold for any input. Greatest state wins, deterministically; max
    # ignores NULL, so a NULL state survives only when alone at its
    # instant. States must therefore be orderable (strings/numerics/
    # structs), the same requirement the catalog query's oracle makes.
    new_pts = (
        batch_df.select(*keys, ts_col, state_col)
        .groupBy(*keys, ts_col)
        .agg(F.max(state_col).alias(state_col))
        .withColumn(BUCKET_COL, _bucket(keys, n_buckets))
        .persist()  # one evaluation feeds the write AND the touched scan
    )
    try:
        touched = [
            r[0] for r in new_pts.select(BUCKET_COL).distinct().collect()
        ]
        if not touched:  # empty batch: nothing to merge or rebuild
            return
        if not committed_store_exists(spark, points_path):
            # overwrite, not errorIfExists: the check guarantees there is
            # no committed content here — at most a crashed first write's
            # _temporary residue, which errorIfExists would wedge on at
            # every redelivery.
            new_pts.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(
                points_path
            )
        else:
            upsert_partitioned(
                spark, points_path, new_pts, [*keys, ts_col], BUCKET_COL
            )
        merged = spark.read.parquet(points_path).where(
            F.col(BUCKET_COL).isin(touched)
        )
        hist = scd2_intervals(merged, keys, state_col, ts_col)
        hist.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy(BUCKET_COL).parquet(history_path)
    finally:
        new_pts.unpersist(blocking=False)


def start_scd2_apply(
    changes: DataFrame,
    store_path: str,
    checkpoint: str,
    keys: list[str],
    state_col: str,
    ts_col: str,
    n_buckets: int = 16,
) -> StreamingQuery:
    """Drain the available change stream into the SCD2 store
    (``streaming.sink.drain``). The point store is a (key, ts)-keyed
    merge, not a ``streaming.sink.write_batch`` store: re-applying a
    batch is already a no-op."""
    return drain(
        changes,
        lambda df, bid: apply_scd2_batch(
            df, bid, store_path, keys, state_col, ts_col, n_buckets
        ),
        checkpoint,
    )


def read_history(spark: SparkSession, store_path: str) -> DataFrame:
    """The current SCD2 dimension (all buckets), bucket column dropped."""
    return spark.read.parquet(os.path.join(store_path, "history")).drop(
        BUCKET_COL
    )
