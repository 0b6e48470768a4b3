"""Incremental corpus dedup — continuous-ingest exact dedup against an
accumulated fingerprint store.

The batch dedup family (pipeline.dedup) answers "dedup this corpus"; a
training-data pipeline also needs "dedup this NEW data against everything
ever ingested" without rescanning the corpus. foreachBatch spelling:

  1. in-batch canonicalization: lowest id per fingerprint inside the
     micro-batch (hash agg, min_by);
  2. anti-join the batch's fingerprints against the store — only
     (fingerprint, id) rows participate, never documents, so the check
     scales as the fingerprint count;
  3. append the survivors' fingerprints to the store and the surviving
     documents to the output sink.

The store is append-only parquet of narrow fingerprint rows; at 100 TB
partition/bucket it BY fingerprint so the anti-join co-locates (or swap
in a transactional table format for compaction — the operator body is
unchanged). Late/duplicate deliveries of the same document fold away:
its fingerprint is already stored, the anti-join drops it — exactly-once
OUTPUT from at-least-once input.

No reference equivalent: Prajna has no streaming state at all
(SURVEY §2.12); this is the north-star continuous-curation slot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from prajna_spark.pipeline.textqa import fingerprint
from prajna_spark.sources.formats import committed_store_exists
from prajna_spark.streaming.sink import drain, write_batch


def start_incremental_dedup(
    stream_docs: DataFrame,
    id_col: str,
    text_col: str,
    store_path: str,
    output_path: str,
    checkpoint_path: str,
) -> StreamingQuery:
    """Continuously emit first-seen documents (by content fingerprint)
    from ``stream_docs``; duplicates — in-batch or vs any earlier batch —
    are dropped. Appends, not ``streaming.sink.write_batch``: each batch
    reads the store it writes, so a batch replayed after its store write
    finds its own fingerprints there and emits nothing."""

    def dedupe_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        fp = batch_df.withColumn("fingerprint", fingerprint(F.col(text_col)))
        canon = (
            fp.groupBy("fingerprint")
            .agg(F.min_by(F.struct(*batch_df.columns), F.col(id_col)).alias("__c"))
            .select("fingerprint", "__c.*")
        )
        # robust existence check, not a read-probe under try/except: a
        # transient FS error while the store EXISTS must fail the batch
        # for retry, not silently skip the anti-join and emit duplicates
        if committed_store_exists(spark, store_path):
            seen = spark.read.parquet(store_path).select("fingerprint")
            fresh = canon.join(seen, "fingerprint", "left_anti")
        else:  # first batch: no store yet
            fresh = canon
        # Persist so the two sinks share one computation — and write the
        # OUTPUT before the store: appending to store_path fires
        # refreshByPath(store_path), which invalidates any cached plan
        # scanning that path (this one). With output-first, even a cache
        # miss re-executes against the PRE-append store on both writes, so
        # correctness never depends on cache retention.
        fresh = fresh.persist()
        try:
            fresh.write.mode("append").parquet(output_path)
            fresh.select("fingerprint").write.mode("append").parquet(store_path)
        finally:
            fresh.unpersist(blocking=False)

    return drain(stream_docs, dedupe_batch, checkpoint_path)


def start_watermark_dedup(
    stream: DataFrame,
    ts_col: str,
    keys: list[str],
    store_path: str,
    checkpoint_path: str,
    watermark: str = "3650 days",
) -> StreamingQuery:
    """Engine-native stateful dedup: ``dropDuplicatesWithinWatermark``
    keeps the FIRST arrival per ``keys`` and drops re-arrivals while the
    key is still within the watermark horizon — Spark's state store does
    the bookkeeping the fingerprint-store spelling above does by hand.

    The two spellings trade durability for state cost: this one's state
    lives in the checkpoint and EVICTS once the watermark passes (bounded
    state — a duplicate arriving later than the horizon would re-emit,
    which is the documented contract, not a bug), while
    ``start_incremental_dedup``'s parquet store never forgets but must be
    compacted. Use this for wide-window telemetry dedup where the horizon
    is a retention policy; use the fingerprint store for corpus curation
    where "ever ingested" is the contract. Survivors' key rows land in
    ``store_path`` per micro-batch through ``streaming.sink.write_batch``
    (a replayed batch rewrites its own ``ingest_batch`` partition)."""
    deduped = (
        stream.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(keys)
        .select(*keys)
    )
    return drain(
        deduped,
        lambda df, bid: write_batch(df, bid, store_path),
        checkpoint_path,
    )
