"""Incremental streaming dedup: first-seen wins across micro-batches."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from prajna_spark.streaming.dedup_stream import start_incremental_dedup

DOC_SCHEMA = "doc_id long, text string"


def _write(spark, path, rows):
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    spark.createDataFrame(pdf, DOC_SCHEMA).coalesce(1).write.mode("append").parquet(
        path
    )


def _cycle(spark, src, store, out, ckpt):
    stream = spark.readStream.schema(DOC_SCHEMA).parquet(src)
    q = start_incremental_dedup(stream, "doc_id", "text", store, out, ckpt)
    q.awaitTermination()


def test_incremental_dedup_first_seen_wins(spark, tmp_path):
    src = str(tmp_path / "in")
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # batch 1: one internal duplicate pair (ids 1 & 3 same content)
    _write(
        spark,
        src,
        [(1, "alpha text"), (2, "beta text"), (3, "alpha text")],
    )
    _cycle(spark, src, store, out, ckpt)

    got1 = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got1 == {1, 2}  # in-batch canon kept lowest id

    # batch 2: dup of batch 1 (id 4), fresh doc (5), internal dups (6, 7)
    _write(
        spark,
        src,
        [(4, "beta text"), (5, "gamma text"), (6, "delta"), (7, "delta")],
    )
    _cycle(spark, src, store, out, ckpt)

    got2 = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got2 == {1, 2, 5, 6}  # 4 dropped vs store, 7 dropped in-batch

    # the store holds exactly one fingerprint per unique document
    assert spark.read.parquet(store).distinct().count() == 4

    # redelivery of already-seen content is a no-op on the output
    _write(spark, src, [(8, "alpha text")])
    _cycle(spark, src, store, out, ckpt)
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == got2


def test_watermark_dedup_drops_in_horizon_duplicates(spark, tmp_path):
    from prajna_spark.streaming.dedup_stream import start_watermark_dedup

    src = str(tmp_path / "wsrc")
    store = str(tmp_path / "wstore")

    def write(rows):
        spark.createDataFrame(
            [(float(t), k) for t, k in rows], "t double, k string"
        ).select(
            F.timestamp_seconds("t").alias("ts"), "k"
        ).write.mode("append").parquet(src)

    def drain(ckpt):
        stream = spark.readStream.schema("ts timestamp, k string").parquet(src)
        q = start_watermark_dedup(
            stream, "ts", ["k"], store, str(tmp_path / ckpt),
            watermark="1 hour",
        )
        q.awaitTermination()

    # first file: a and b (with an in-file duplicate of a)
    write([(100, "a"), (200, "b"), (300, "a")])
    drain("ck1")
    got = sorted(r.k for r in spark.read.parquet(store).collect())
    assert got == ["a", "b"]

    # second file: duplicate of b within the horizon + new key c
    write([(400, "b"), (500, "c")])
    drain("ck1")
    got = sorted(r.k for r in spark.read.parquet(store).collect())
    assert got == ["a", "b", "c"]
