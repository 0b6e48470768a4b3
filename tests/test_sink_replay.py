"""Replay safety of every ``streaming.sink.write_batch`` store.

foreachBatch is at-least-once: when a batch's store write lands but its
commit-log entry does not, the next drain on the same checkpoint replays
that batch with the same id. Each case drains a two-file source (two
micro-batches), deletes the last ``commits/<n>`` entry, drains again and
expects the store to read back exactly as before the replay.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from prajna_spark.sources import load_table

EVENTS = "event_id long, ts timestamp, user_id long, event_type string, value double"
DOCS = "doc_id long, text string"
VECTORS = "vec_id long, embedding array<float>"


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def _ann(spark, sf_dir, stream, store, ckpt):
    from prajna_spark.streaming.ann_stream import start_incremental_ivf

    cents = load_table(spark, "embeddings", sf_dir).where(F.col("vec_id") < 4)
    q = start_incremental_ivf(stream, cents.select("vec_id", "embedding"), store, ckpt)
    return q, lambda: _rows(spark.read.parquet(store))


def _lsh(spark, sf_dir, stream, store, ckpt):
    from prajna_spark.streaming.lsh_stream import start_incremental_lsh

    q = start_incremental_lsh(stream, store, ckpt)
    return q, lambda: _rows(spark.read.parquet(f"{store}/bands"))


def _text_index(spark, sf_dir, stream, store, ckpt):
    from prajna_spark.streaming.text_index_stream import start_incremental_text_index

    q = start_incremental_text_index(stream, store, ckpt)
    return q, lambda: (
        _rows(spark.read.parquet(f"{store}/postings")),
        _rows(spark.read.parquet(f"{store}/stats")),
    )


def _hist(spark, sf_dir, stream, store, ckpt):
    from prajna_spark.streaming.hist_stream import (
        merged_histogram,
        start_incremental_histogram,
    )

    q = start_incremental_histogram(
        stream, ["event_type"], "value", 0.0, 1000.0, 20, store, ckpt
    )
    return q, lambda: _rows(merged_histogram(spark, store, ["event_type"]))


def _rollup(spark, sf_dir, stream, store, ckpt):
    from prajna_spark.streaming.rollup_stream import (
        cascade_from_store,
        start_incremental_rollup,
    )

    q = start_incremental_rollup(
        stream.select(F.col("ts").cast("long").alias("t"), "event_type", "value"),
        "t", ["event_type"], "value", 3600, store, ckpt,
    )
    return q, lambda: _rows(
        # one resolution: each hour sums one delta per batch, in any order
        cascade_from_store(spark, store, ["event_type"], [3600])
    )


def _kmv(spark, sf_dir, stream, store, ckpt):
    from prajna_spark.streaming.kmv_stream import (
        distinct_from_store,
        start_incremental_kmv,
    )

    q = start_incremental_kmv(
        stream.select(F.col("ts").cast("long").alias("t"), "event_type", "user_id"),
        "t", ["event_type"], "user_id", 3600, store, ckpt, k=8,
    )
    return q, lambda: _rows(
        distinct_from_store(spark, store, ["event_type"], [3600, 86400], k=8)
    )


def _heavy_hitters(spark, sf_dir, stream, store, ckpt):
    from prajna_spark.streaming.heavyhitters_stream import (
        candidates_from_store,
        start_incremental_mg,
    )

    q = start_incremental_mg(stream.select("user_id"), "user_id", 8, store, ckpt)
    return q, lambda: _rows(candidates_from_store(spark, store))


def _anomaly(spark, sf_dir, stream, store, ckpt):
    from prajna_spark.streaming.anomaly_stream import start_forecast_alerts

    forecast = (
        load_table(spark, "events", sf_dir)
        .groupBy("event_type")
        .agg(F.avg("value").alias("fc"))
    )
    q = start_forecast_alerts(
        stream, forecast, ["event_type"], "value", "fc", 50.0, store, ckpt
    )
    return q, lambda: _rows(
        spark.read.parquet(store).select("event_id", "value", "fc", "deviation")
    )


def _watermark_dedup(spark, sf_dir, stream, store, ckpt):
    from prajna_spark.streaming.dedup_stream import start_watermark_dedup

    # keyed on the event id: every event is a first arrival, so the
    # replayed batch has survivors to write
    q = start_watermark_dedup(stream, "ts", ["event_id", "user_id"], store, ckpt)
    return q, lambda: _rows(spark.read.parquet(store).select("event_id", "user_id"))


CASES = {
    "ann": ("embeddings", VECTORS, _ann),
    "lsh": ("documents", DOCS, _lsh),
    "text_index": ("documents", DOCS, _text_index),
    "hist": ("events", EVENTS, _hist),
    "rollup": ("events", EVENTS, _rollup),
    "kmv": ("events", EVENTS, _kmv),
    "heavy_hitters": ("events", EVENTS, _heavy_hitters),
    "anomaly": ("events", EVENTS, _anomaly),
    "watermark_dedup": ("events", EVENTS, _watermark_dedup),
}


@pytest.mark.parametrize("name", list(CASES))
def test_replayed_batch_leaves_store_unchanged(spark, sf_dir, tmp_path, name):
    table, schema, start = CASES[name]
    cols = [c.split()[0] for c in schema.split(", ")]
    src, store, ckpt = (str(tmp_path / d) for d in ("src", "store", "ckpt"))
    rows = load_table(spark, table, sf_dir).select(*cols)
    key = F.col(cols[0])
    rows.where(key % 2 == 0).coalesce(1).write.parquet(src)
    rows.where(key % 2 == 1).coalesce(1).write.mode("append").parquet(src)

    def run():
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        )
        q, read = start(spark, sf_dir, stream, store, ckpt)
        q.awaitTermination()
        return read

    # no watermark-only batch after the data: batch 1 is the last one
    no_data = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(no_data, "false")
    try:
        read = run()
        before = read()
        assert before, f"{name}: fixture wrote an empty store; test is vacuous"
        commits = os.path.join(ckpt, "commits")
        assert sorted(os.listdir(commits)) == [".0.crc", ".1.crc", "0", "1"]
        # the sink's write landed, its commit entry did not
        for f in ("1", ".1.crc"):
            os.remove(os.path.join(commits, f))
        run()
    finally:
        spark.conf.unset(no_data)
    assert os.path.exists(os.path.join(commits, "1")), "batch 1 was not replayed"
    assert read() == before, name


def test_empty_batch_leaves_a_readable_store(spark, tmp_path):
    """A batch with no rows (an alert store with no alerts) still leaves
    a footer: the store reads back empty instead of failing schema
    inference, as an appended empty batch did."""
    from prajna_spark.streaming.sink import write_batch

    store = str(tmp_path / "store")
    write_batch(spark.createDataFrame([], "a long, b string"), 0, store)
    got = spark.read.parquet(store)
    assert got.count() == 0 and got.columns == ["a", "b", "ingest_batch"]
    write_batch(spark.createDataFrame([(1, "x")], "a long, b string"), 1, store)
    assert [tuple(r) for r in spark.read.parquet(store).collect()] == [(1, "x", 1)]
