"""Streaming COUNT DISTINCT continuous aggregate — incremental KMV
sketch maintenance (the distinct-count twin of ``rollup_stream``).

Counts/sums compose by addition, so ``rollup_stream`` keeps per-batch
delta rows and sums on read. Distinct counts don't add — but KMV
sketches (operators.sketch_rollup) merge by k-min-of-union, and that
merge is IDEMPOTENT: the k smallest hashes of a multiset are the k
smallest of its set, so even duplicated sketch rows change NOTHING on
read. The store is still written like every other streamed store,
through ``streaming.sink.write_batch``, so a replayed batch rewrites its
own partition and the store never grows on retries.

Store layout: one ``ingest_batch=<id>`` partition per micro-batch of
``(epoch_start, dims..., sketch array<long>)`` finest-bucket rows. Read
side merges per bucket (explode -> k smallest, bounded by k x #batches
per bucket), cascades to coarser resolutions, estimates.
``compact_kmv_store`` folds the per-batch rows into one sketch per
bucket so read cost stays O(buckets).

Every number this produces is deterministic md5 arithmetic — the
catalog query shares the batch twin's DuckDB oracle verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from prajna_spark.operators.maintenance import rewrite_store
from prajna_spark.operators.sketch_rollup import (
    _k_smallest,
    kmv_estimate,
    kmv_merge,
    kmv_partials,
)
from prajna_spark.streaming.sink import drain, write_batch


def start_incremental_kmv(
    stream: DataFrame,
    ts_col: str,
    dims: list[str],
    key_col: str,
    finest_sec: int,
    store_path: str,
    checkpoint_path: str,
    k: int = 64,
    seed: str = "kmv1",
) -> StreamingQuery:
    """Write each micro-batch's finest-level KMV partials to the store
    (``ts_col`` in epoch seconds). Within-batch aggregation only — no
    state store, no watermark; late events just add another sketch
    row for their bucket, folded in by the read-side merge (late data
    is CORRECT by construction, as in the additive rollup)."""
    return drain(
        stream,
        lambda df, bid: write_batch(
            kmv_partials(df, ts_col, dims, key_col, finest_sec, k, seed),
            bid,
            store_path,
        ),
        checkpoint_path,
    )


def merged_finest(
    spark: SparkSession, store_path: str, dims: list[str], k: int
) -> DataFrame:
    """One sketch per finest bucket from the delta store: explode the
    per-batch sketches (<= k longs each) and keep the k smallest
    distinct per bucket — exactly what kmv_partials over the union of
    all streamed events would have produced."""
    return _merge_sketches(spark.read.parquet(store_path), dims, k)


def _merge_sketches(store: DataFrame, dims: list[str], k: int) -> DataFrame:
    exploded = store.select(
        "epoch_start", *dims, F.explode("sketch").alias("h")
    )
    return _k_smallest(exploded, ["epoch_start", *dims], k)


def distinct_from_store(
    spark: SparkSession,
    store_path: str,
    dims: list[str],
    resolutions: list[int],
    k: int = 64,
) -> DataFrame:
    """Distinct-count estimates at every resolution from the store
    (resolutions[0] must be the ingest finest width). Touches only
    O(buckets x batches) sketch rows — never raw events."""
    level = merged_finest(spark, store_path, dims, k)
    outs = [
        kmv_estimate(
            level.withColumn("resolution", F.lit(resolutions[0]).cast("long")), k
        )
    ]
    for width in resolutions[1:]:
        level = kmv_merge(level, dims, width, k)
        outs.append(
            kmv_estimate(level.withColumn("resolution", F.lit(width).cast("long")), k)
        )
    from functools import reduce

    return reduce(DataFrame.unionByName, outs).select(
        "resolution", "epoch_start", *dims, "n_kept", "approx_distinct"
    )


def compact_kmv_store(
    spark: SparkSession, store_path: str, dims: list[str], k: int
) -> int:
    """Fold per-batch sketch rows into one sketch per bucket under
    ``ingest_batch=-1`` (``operators.maintenance.rewrite_store``:
    crash-safe, aborts on a concurrent append). Returns the compacted
    row count."""
    return rewrite_store(
        spark,
        store_path,
        lambda store: _merge_sketches(store, dims, k).withColumn(
            "ingest_batch", F.lit(-1)
        ),
        "ingest_batch",
    )
