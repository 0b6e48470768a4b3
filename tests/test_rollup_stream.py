"""Streaming cascade twin: incremental finest-level maintenance
(foreachBatch per-batch delta write) + cascade-on-read == batch
cascade_rollup."""

from __future__ import annotations

import pandas as pd

from prajna_spark.operators.lifecycle import persist_scope
from prajna_spark.operators.rollup_cascade import cascade_rollup
from prajna_spark.streaming.rollup_stream import (
    cascade_from_store,
    start_incremental_rollup,
)

EVT_SCHEMA = "ts long, k string, v double"
RES = [3600, 86400]  # hour -> day


def _write(spark, path, rows):
    pdf = pd.DataFrame(rows, columns=["ts", "k", "v"])
    spark.createDataFrame(pdf, EVT_SCHEMA).coalesce(1).write.mode("append").parquet(
        path
    )


def _run_cycle(spark, src, store, ckpt):
    stream = spark.readStream.schema(EVT_SCHEMA).parquet(src)
    q = start_incremental_rollup(stream, "ts", ["k"], "v", RES[0], store, ckpt)
    q.awaitTermination()


def _snap(df):
    return sorted(
        (r.resolution, r.epoch_start, r.k, r.n_events, r.total_value)
        for r in df.collect()
    )


def test_incremental_cascade_matches_batch(spark, tmp_path):
    src = str(tmp_path / "events")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    batch1 = [(100, "a", 1.0), (3700, "a", 2.0), (3800, "b", 3.0)]
    _write(spark, src, batch1)
    _run_cycle(spark, src, store, ckpt)

    # cycle 2 processes ONLY the new file (same checkpoint), including a
    # late event for an old bucket — correct by delta-merge on read
    batch2 = [(90000, "a", 5.0), (200, "a", 7.0)]
    _write(spark, src, batch2)
    _run_cycle(spark, src, store, ckpt)

    all_events = spark.createDataFrame(
        pd.DataFrame(batch1 + batch2, columns=["ts", "k", "v"]), EVT_SCHEMA
    )
    with persist_scope():
        expect = _snap(cascade_rollup(all_events, "ts", ["k"], "v", RES))
        got = _snap(cascade_from_store(spark, store, ["k"], RES))
    assert got == expect

    # the store holds per-batch DELTA rows: bucket 0 was written by both
    # cycles (one delta each), proving cycle 2 did not reprocess cycle 1
    deltas = spark.read.parquet(store)
    assert deltas.where("epoch_start = 0").count() == 2
    assert deltas.select("ingest_batch").distinct().count() >= 2


def test_compaction_preserves_results_and_shrinks_store(spark, tmp_path):
    from prajna_spark.streaming.rollup_stream import compact_store

    src = str(tmp_path / "events_c")
    store = str(tmp_path / "store_c")
    ckpt = str(tmp_path / "ckpt_c")
    # three cycles, each writing a delta for bucket 0
    for i in range(3):
        _write(spark, src, [(100 + i, "a", 1.0), (90000 + i, "b", 2.0)])
        _run_cycle(spark, src, store, ckpt)
    before = spark.read.parquet(store)
    assert before.where("epoch_start = 0").count() == 3  # three deltas
    with persist_scope():
        expect = _snap(cascade_from_store(spark, store, ["k"], RES))

    n = compact_store(spark, store, ["k"])
    after = spark.read.parquet(store)
    assert after.count() == n
    assert after.where("epoch_start = 0").count() == 1  # folded
    assert set(r.ingest_batch for r in after.collect()) == {-1}
    with persist_scope():
        assert _snap(cascade_from_store(spark, store, ["k"], RES)) == expect

    # post-compaction ingest keeps composing
    _write(spark, src, [(110, "a", 5.0)])
    _run_cycle(spark, src, store, ckpt)
    with persist_scope():
        got = _snap(cascade_from_store(spark, store, ["k"], RES))
    assert got != expect
    a_hour0 = [r for r in got if r[0] == RES[0] and r[1] == 0 and r[2] == "a"][0]
    assert a_hour0[3] == 4 and a_hour0[4] == 8.0  # 3 old + 1 new event


def test_arbitrarily_late_event_folds_exactly(spark, tmp_path):
    """The delta-store rollup's late-data contract is FOLD, not drop —
    there is no watermark because no streaming state exists: a late event
    just appends another delta for its (old) bucket and the read-side
    merge makes the bucket exact again. Contrast: the watermarked
    in-stream rollup (test_streaming.test_late_rows_drop_vs_fold...)
    DROPS below-watermark rows — the two operators cover the two ends of
    the latency/completeness trade."""
    src = str(tmp_path / "events")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    _write(spark, src, [(100, "a", 1.0), (7 * 86400, "a", 2.0)])
    _run_cycle(spark, src, store, ckpt)

    # a week-late event for the very first bucket
    _write(spark, src, [(200, "a", 40.0)])
    _run_cycle(spark, src, store, ckpt)

    got = {
        (r.resolution, r.epoch_start): (r.n_events, r.total_value)
        for r in cascade_from_store(spark, store, ["k"], RES).collect()
    }
    assert got[(3600, 0)] == (2, 41.0)          # folded, exact
    assert got[(86400, 0)] == (2, 41.0)         # cascades fold it too
    assert got[(3600, 7 * 86400)] == (1, 2.0)



def test_streamed_histogram_matches_batch_and_survives_replay(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from prajna_spark.operators.sketch_rollup import fixed_histogram
    from prajna_spark.sources import load_table
    from prajna_spark.streaming.hist_stream import (
        compact_histogram_store,
        merged_histogram,
        start_incremental_histogram,
    )

    ev = load_table(spark, "events", sf_dir).select("event_type", "value")
    src = str(tmp_path / "src")
    ev.where(F.col("value") < 50).write.parquet(src, mode="overwrite")
    ev.where(F.col("value") >= 50).write.mode("append").parquet(src)

    def drain(ckpt):
        stream = spark.readStream.schema("event_type string, value double").parquet(src)
        q = start_incremental_histogram(
            stream, ["event_type"], "value", 0.0, 1000.0, 100,
            str(tmp_path / "store"), str(tmp_path / ckpt),
        )
        q.awaitTermination()

    def rows(df):
        return sorted(map(tuple, df.select("event_type", "bin", "cnt").collect()))

    drain("ck1")
    batch = rows(fixed_histogram(ev, ["event_type"], "value", 0.0, 1000.0, 100))
    store = str(tmp_path / "store")
    assert rows(merged_histogram(spark, store, ["event_type"])) == batch

    # replay: a fresh-checkpoint second drain rewrites each batch's own
    # ingest_batch partition (same ids), so the additive store does NOT
    # double-count
    drain("ck2")
    assert rows(merged_histogram(spark, store, ["event_type"])) == batch

    n = compact_histogram_store(spark, store, ["event_type"])
    assert n == len(batch)
    assert rows(merged_histogram(spark, store, ["event_type"])) == batch
