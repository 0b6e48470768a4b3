"""The one streaming sink: every foreachBatch operator drains and writes
through these two functions.

- :func:`drain` — foreachBatch + checkpoint + ``Trigger.AvailableNow``:
  process everything queued, then stop; rerun on the same checkpoint to
  continue where the last committed batch ended.
- :func:`write_batch` — the replay-safe per-batch store write.
  foreachBatch is AT-LEAST-ONCE: when a batch's write lands but its
  commit entry does not, the next drain replays it with the SAME
  ``batch_id``. Each batch therefore owns an ``ingest_batch=<batch_id>``
  partition written with dynamic partition overwrite, so a replay
  rewrites exactly its own leaves and every batch counts once.

Contract shared by every ``write_batch`` store: ONE checkpoint feeds ONE
store (batch ids restart at 0 on a fresh checkpoint). A compaction
(``operators.maintenance.rewrite_store``) folds committed batches into
one ``ingest_batch=-1`` layer; run it after a drain, never beside one.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from prajna_spark.sources.formats import committed_store_exists


def drain(
    stream: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint: str,
) -> StreamingQuery:
    """Start an AvailableNow foreachBatch query that calls
    ``fn(batch_df, batch_id)`` per micro-batch."""
    return (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def write_batch(
    frame: DataFrame, batch_id: int, path: str, *partition_cols: str
) -> None:
    """Write ``frame`` under ``<partition_cols...>/ingest_batch=<batch_id>/``
    of the parquet store at ``path``, overwriting only the partitions
    this batch writes."""
    (
        frame.withColumn("ingest_batch", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols, "ingest_batch")
        .parquet(path)
    )
    if not partition_cols and not committed_store_exists(frame.sparkSession, path):
        # a partitioned write of zero rows leaves no file, and a store
        # without a footer cannot be read (an alert store with no alerts
        # would fail): keep the schema in the batch's own partition
        frame.limit(0).coalesce(1).write.mode("overwrite").parquet(
            f"{path}/ingest_batch={int(batch_id)}"
        )
