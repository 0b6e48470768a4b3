"""Streaming KMV sketch store: streamed == one-shot batch at any drain
point, double-append idempotence, compaction invariance."""

from __future__ import annotations

from pyspark.sql import functions as F

from prajna_spark.operators.sketch_rollup import kmv_estimate, kmv_merge, kmv_partials
from prajna_spark.sources import load_table
from prajna_spark.streaming.kmv_stream import (
    compact_kmv_store,
    distinct_from_store,
    merged_finest,
    start_incremental_kmv,
)


def _events(spark, sf_dir):
    return load_table(spark, "events", sf_dir).select(
        F.col("ts").cast("long").alias("t"), "event_type", "user_id"
    )


def _batch_daily(ev):
    hourly = kmv_partials(ev, "t", ["event_type"], "user_id", 3600, k=16)
    daily = kmv_merge(hourly, ["event_type"], 86400, k=16)
    return sorted(
        map(
            tuple,
            kmv_estimate(daily, k=16)
            .select("event_type", "epoch_start", "n_kept", "approx_distinct")
            .collect(),
        )
    )


def _store_daily(spark, store):
    out = distinct_from_store(spark, store, ["event_type"], [3600, 86400], k=16)
    return sorted(
        map(
            tuple,
            out.where(F.col("resolution") == 86400)
            .select("event_type", "epoch_start", "n_kept", "approx_distinct")
            .collect(),
        )
    )


def test_streamed_store_matches_batch_and_survives_replay(spark, sf_dir, tmp_path):
    ev = _events(spark, sf_dir)
    src = str(tmp_path / "src")
    ev.where(F.col("t") % 2 == 0).write.parquet(src, mode="overwrite")
    ev.where(F.col("t") % 2 == 1).write.mode("append").parquet(src)

    stream = spark.readStream.schema("t long, event_type string, user_id long").parquet(
        src
    )
    store = str(tmp_path / "store")
    q = start_incremental_kmv(
        stream, "t", ["event_type"], "user_id", 3600, store, str(tmp_path / "ckpt"),
        k=16,
    )
    q.awaitTermination()

    want = _batch_daily(ev)
    assert _store_daily(spark, store) == want and len(want) > 0

    # a retried append (same sketch rows duplicated) changes NOTHING:
    # k-min of a multiset is k-min of its set
    spark.read.parquet(store).write.mode("append").partitionBy(
        "ingest_batch"
    ).parquet(store)
    assert _store_daily(spark, store) == want

    # compaction folds batches to one sketch per bucket, same answers
    n = compact_kmv_store(spark, store, ["event_type"], k=16)
    assert n == merged_finest(spark, store, ["event_type"], 16).count()
    assert _store_daily(spark, store) == want


def test_incremental_drains_converge_to_batch(spark, sf_dir, tmp_path):
    """Two separate drains (two halves of the data) through one store
    equal the one-shot batch over everything — the continuous-aggregate
    contract."""
    from prajna_spark.streaming.kmv_stream import start_incremental_kmv

    ev = _events(spark, sf_dir)
    src = str(tmp_path / "src2")
    store = str(tmp_path / "store2")
    ev.where(F.col("user_id") % 2 == 0).write.parquet(src, mode="overwrite")
    stream_schema = "t long, event_type string, user_id long"
    q = start_incremental_kmv(
        spark.readStream.schema(stream_schema).parquet(src),
        "t", ["event_type"], "user_id", 3600, store, str(tmp_path / "ck_a"), k=16,
    )
    q.awaitTermination()
    ev.where(F.col("user_id") % 2 == 1).write.mode("append").parquet(src)
    q = start_incremental_kmv(
        spark.readStream.schema(stream_schema).parquet(src),
        "t", ["event_type"], "user_id", 3600, store, str(tmp_path / "ck_a"), k=16,
    )
    q.awaitTermination()
    assert _store_daily(spark, store) == _batch_daily(ev)
