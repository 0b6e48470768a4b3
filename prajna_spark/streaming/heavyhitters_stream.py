"""Streaming heavy hitters — incremental Misra-Gries summary maintenance
(the frequent-keys twin of ``kmv_stream``'s distinct counts).

Each micro-batch writes its own MG summaries (pipeline.heavyhitters.
mg_summaries) to a delta store through ``streaming.sink.write_batch``;
the read side merges by summing ests and epses across every
(ingest_batch, part_id) slice. The Mergeable Summaries bound survives
the per-batch layout: a key's true count in any slice is
<= est_slice + eps_slice (est 0 when the slice dropped it), so summing
over slices gives true_total <= sum(est) + sum(eps) = upper — no merge
truncation pass is needed for CORRECTNESS, only for summary size (the
store grows by <= m rows per batch partition; ``compact_mg_store`` folds
it back down with the standard subtract-the-(m+1)-th merge whenever read
cost matters).

Replay safety: a replayed micro-batch rewrites its own ``ingest_batch``
partition, so every slice is counted exactly once and both bounds stay
valid. The exact confirmation pass counts the immutable source, never
the store, so the final answer equals the batch answer.

Reference parity: Prajna's telemetry loop re-folds live counters on every
analytic cycle (paper §5.2); this store is the bounded-memory version of
that loop for frequency queries. Sketch math: Agarwal et al., "Mergeable
Summaries" (PODS'12).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from prajna_spark.operators.maintenance import rewrite_store
from prajna_spark.pipeline.heavyhitters import mg_summaries
from prajna_spark.streaming.sink import drain, write_batch


def start_incremental_mg(
    stream: DataFrame,
    key_col: str,
    m: int,
    store_path: str,
    checkpoint_path: str,
) -> StreamingQuery:
    """Write each micro-batch's per-partition MG summaries to the store
    as ``(part_id, key, est, eps)`` under ``ingest_batch=<batch_id>``.
    ``ingest_batch`` namespaces ``part_id`` (partition ids repeat across
    batches) — the read side treats every (ingest_batch, part_id) pair
    as one summary slice."""
    return drain(
        stream,
        lambda df, bid: write_batch(mg_summaries(df, key_col, m), bid, store_path),
        checkpoint_path,
    )


def _slice_eps(store: DataFrame) -> DataFrame:
    """Total eps over the store: one eps per (ingest_batch, part_id)."""
    return (
        store.groupBy("ingest_batch", "part_id")
        .agg(F.first("eps").alias("eps"))
        .agg(F.sum("eps").alias("total_eps"))
    )


def candidates_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Global candidate bounds from the delta store: ``(key, lower,
    upper)``. Identical reasoning to pipeline.heavyhitters.candidate_keys,
    with the slice id being (ingest_batch, part_id) instead of
    part_id."""
    store = spark.read.parquet(store_path)
    return (
        store.where(F.col("key").isNotNull())
        .groupBy("key")
        .agg(F.sum("est").alias("lower"))
        .crossJoin(F.broadcast(_slice_eps(store)))
        .select(
            "key",
            "lower",
            (F.col("lower") + F.col("total_eps")).alias("upper"),
        )
    )


def heavy_hitters_from_store(
    source: DataFrame,
    spark: SparkSession,
    store_path: str,
    key_col: str,
    phi: float,
) -> DataFrame:
    """EXACT keys with count > phi*N, streamed-sketch first: candidates
    from the store's merged upper bounds, exact confirmation counts from
    ``source`` (the immutable table the stream ingested — never the
    store, which is why retried appends cannot corrupt the answer).
    Hash-equal to the batch ``heavy_hitters_exact`` on the same data.
    NULL keys are counted exactly outside the sketch, as in the batch
    path."""
    total = source.agg(F.count(F.lit(1)).cast("double").alias("n_total"))
    cands = (
        candidates_from_store(spark, store_path)
        .crossJoin(F.broadcast(total))
        .where(F.col("upper").cast("double") > F.col("n_total") * phi)
        .select(F.col("key").alias(key_col))
    )
    non_null = (
        source.join(F.broadcast(cands), key_col)
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    null_grp = (
        source.where(F.col(key_col).isNull())
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .where(F.col("n") > 0)
        .select(
            F.lit(None).cast(dict(source.dtypes)[key_col]).alias(key_col), "n"
        )
    )
    return (
        non_null.unionByName(null_grp)
        .crossJoin(F.broadcast(total))
        .where(F.col("n").cast("double") > F.col("n_total") * phi)
        .select(key_col, "n")
    )


def compact_mg_store(spark: SparkSession, store_path: str, m: int) -> int:
    """Fold the delta store down to ONE m-counter summary (slice
    ingest_batch=-1, part_id=0): sum ests per key, subtract the (m+1)-th
    largest so only m counters remain, accumulate the subtraction into
    eps — the standard MG merge, applied store-wide. Bounds after
    compaction are the bounds the merged summary implies (errors add);
    read results stay a superset-of-heavy-hitters certificate, and the
    exact confirmation pass is unaffected. The swap is
    ``operators.maintenance.rewrite_store``'s (crash-safe, aborts on a
    concurrent append). Returns rows written."""

    def fold(store: DataFrame) -> DataFrame:
        summed = (
            store.where(F.col("key").isNotNull())
            .groupBy("key")
            .agg(F.sum("est").alias("est"))
        )
        # the summed frame is summary-sized (<= m x #slices rows), so the
        # single-task global rank is driver-bounded by construction
        ranked = summed.withColumn(
            "__rk",
            F.row_number().over(Window.orderBy(F.col("est").desc(), F.col("key"))),
        )
        cutoff = (
            ranked.where(F.col("__rk") == m + 1)
            .select(F.col("est").alias("c"))
            .unionByName(spark.createDataFrame([(0,)], "c long"))
            .agg(F.max("c").alias("c"))
        )
        eps = _slice_eps(store).crossJoin(cutoff).select(
            (F.col("total_eps") + F.col("c")).alias("eps")
        )
        return (
            ranked.crossJoin(F.broadcast(cutoff))
            .where(F.col("__rk") <= m)
            .select("key", (F.col("est") - F.col("c")).alias("est"))
            .where(F.col("est") > 0)
            .crossJoin(F.broadcast(eps))
            .select(
                F.lit(0).alias("part_id"),
                "key",
                "est",
                "eps",
                F.lit(-1).alias("ingest_batch"),
            )
            .coalesce(1)
        )

    return rewrite_store(spark, store_path, fold, "ingest_batch")
