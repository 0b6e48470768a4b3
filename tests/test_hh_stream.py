"""Streaming Misra-Gries heavy-hitter store: streamed == batch exact
answer, double-append (retry) robustness, compaction invariance, and the
candidate-bound soundness that makes all three hold."""

from __future__ import annotations

from pyspark.sql import functions as F

from prajna_spark.pipeline.heavyhitters import heavy_hitters_exact
from prajna_spark.sources import load_table
from prajna_spark.streaming.heavyhitters_stream import (
    candidates_from_store,
    compact_mg_store,
    heavy_hitters_from_store,
    start_incremental_mg,
)

PHI = 7.5e-3
M = 266


def _events(spark, sf_dir):
    return load_table(spark, "events", sf_dir).select("event_id", "user_id")


def _answer(df):
    return sorted(map(tuple, df.select("user_id", "n").collect()))


def _drain(spark, src, store, ckpt):
    stream = spark.readStream.schema("event_id long, user_id long").parquet(src)
    q = start_incremental_mg(stream, "user_id", M, store, ckpt)
    q.awaitTermination()


def test_streamed_equals_batch_and_survives_retry(spark, sf_dir, tmp_path):
    ev = _events(spark, sf_dir)
    src = str(tmp_path / "src")
    # two files -> at least two micro-batch-able inputs
    ev.where(F.col("event_id") % 2 == 0).write.parquet(src, mode="overwrite")
    ev.where(F.col("event_id") % 2 == 1).write.mode("append").parquet(src)
    store = str(tmp_path / "store")

    _drain(spark, src, store, str(tmp_path / "ckpt1"))
    batch = _answer(heavy_hitters_exact(ev, "user_id", PHI, m=M))
    assert batch, "fixture produced no heavy hitters; test is vacuous"
    streamed = _answer(
        heavy_hitters_from_store(ev, spark, store, "user_id", PHI)
    )
    assert streamed == batch

    # simulated at-least-once retry: a SECOND full drain (fresh
    # checkpoint, same batch ids) rewrites every batch's own
    # ingest_batch partition, so the store is unchanged and the exact
    # pass still returns the batch answer.
    _drain(spark, src, store, str(tmp_path / "ckpt2"))
    assert _answer(
        heavy_hitters_from_store(ev, spark, store, "user_id", PHI)
    ) == batch


def test_candidate_bounds_sound_and_compaction_invariant(spark, sf_dir, tmp_path):
    ev = _events(spark, sf_dir)
    src = str(tmp_path / "src")
    ev.write.parquet(src, mode="overwrite")
    store = str(tmp_path / "store")
    _drain(spark, src, store, str(tmp_path / "ckpt"))

    truth = {
        r["user_id"]: r["n"]
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    bounds = candidates_from_store(spark, store).collect()
    for r in bounds:
        assert r["lower"] <= truth[r["key"]] <= r["upper"], (
            r["key"], r["lower"], truth[r["key"]], r["upper"],
        )

    before = _answer(heavy_hitters_from_store(ev, spark, store, "user_id", PHI))
    n_rows = compact_mg_store(spark, store, M)
    assert n_rows <= M
    after = _answer(heavy_hitters_from_store(ev, spark, store, "user_id", PHI))
    assert after == before
