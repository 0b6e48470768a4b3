"""Streaming MinHash-LSH index maintenance — continuous near-duplicate
detection against a persisted band index.

The dedup twin of ``streaming.ann_stream`` (vectors) and
``streaming.text_index_stream`` (lexical): micro-batches of documents are
minhashed into band rows (``pipeline.dedup.lsh_band_rows`` — the SAME
signature arithmetic as the batch LSH operators) and APPENDED under
``bucket=<band-hash>/ingest_batch=<batch_id>/`` through
``streaming.sink.write_batch``, so a replayed batch overwrites exactly its
own leaves (idempotent under at-least-once foreachBatch delivery).

Search (:func:`search_lsh_index`) answers the continuous-curation
question "which already-ingested documents is this new document a
near-dup candidate of?": the probe docs' band rows broadcast-join the
index on (bucket, band_id, band_val), so the index scan prunes to the
probes' buckets — O(probe bands) cells read, never the index. Live ==
batch (tested): candidates from the drained index equal the batch band
join over the same corpus at any drain point.

Reference parity: no streaming or dedup surface in Prajna (SURVEY
§2.12); north-star continuous-curation slot for the text modality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from prajna_spark.pipeline.dedup import lsh_band_rows
from prajna_spark.sources.formats import committed_store_exists
from prajna_spark.streaming.sink import drain, write_batch

_ANCHOR_SCHEMA = "id long, band_id int, band_val string, bucket int"


def append_lsh_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    n_hashes: int = 4,
    band_size: int = 2,
    n_buckets: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Minhash one micro-batch into band rows and write them under
    ``bucket=*/ingest_batch=<batch_id>/``. Same-batch re-runs overwrite
    their own leaves — replay-safe. Empty batches are a no-op."""
    if batch_df.isEmpty():
        return
    from prajna_spark.operators.fanout import fan_out

    # same serial-map-side spread as append_text_batch: the minhash
    # signature arithmetic is the expensive per-row work and a
    # small-file micro-batch scans as one split (r11, guide §2.5)
    rows = lsh_band_rows(
        fan_out(batch_df), id_col, text_col, n_hashes, band_size
    )
    write_batch(
        rows.withColumn(
            "bucket", F.pmod(F.hash("band_id", "band_val"), F.lit(n_buckets))
        ),
        batch_id,
        f"{index_path}/bands",
        "bucket",
    )


def start_incremental_lsh(
    stream_docs: DataFrame,
    index_path: str,
    checkpoint_path: str,
    n_hashes: int = 4,
    band_size: int = 2,
    n_buckets: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> StreamingQuery:
    """Continuously feed the band index from a document stream. A
    zero-row schema anchor under ``bands_schema/`` lets search return
    empty results (not crash on schema inference) before the first
    non-empty batch lands — same bootstrap contract as the live text
    index."""
    spark = stream_docs.sparkSession
    anchor = f"{index_path}/bands_schema"
    if not committed_store_exists(spark, anchor):
        (
            spark.createDataFrame([], _ANCHOR_SCHEMA)
            .withColumn("ingest_batch", F.lit(0))
            .repartition(1)  # one zero-row part file: a readable footer
            .write.mode("overwrite")
            .parquet(anchor)
        )

    return drain(
        stream_docs,
        lambda df, bid: append_lsh_batch(
            df, bid, index_path, n_hashes, band_size, n_buckets, id_col, text_col
        ),
        checkpoint_path,
    )


def search_lsh_index(
    spark: SparkSession,
    index_path: str,
    query_docs: DataFrame,
    n_hashes: int = 4,
    band_size: int = 2,
    n_buckets: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup CANDIDATE pairs ``(query_id, doc_id)`` — any band
    collision between a probe document and the live index (self-matches
    excluded; verification, e.g. ``dedup.verify_pairs_jaccard``, stays
    the caller's next step exactly as in the batch pipeline). The probe
    side is bands-of-queries (small, broadcast); the index side prunes
    to the probes' bucket partitions."""
    bands_path = f"{index_path}/bands"
    anchor_path = f"{index_path}/bands_schema"
    if committed_store_exists(spark, anchor_path):
        anchor = spark.read.parquet(anchor_path)
        if committed_store_exists(spark, bands_path):
            idx = spark.read.schema(anchor.schema).parquet(bands_path)
        else:
            idx = anchor  # nothing ingested yet: empty, correct layout
    else:  # index built by direct append_lsh_batch calls (no anchor)
        idx = spark.read.parquet(bands_path)
    probes = lsh_band_rows(query_docs, id_col, text_col, n_hashes, band_size).select(
        F.col("id").alias("query_id"),
        "band_id",
        "band_val",
        F.pmod(F.hash("band_id", "band_val"), F.lit(n_buckets)).alias("bucket"),
    )
    return (
        idx.join(F.broadcast(probes), ["bucket", "band_id", "band_val"])
        .where(F.col("query_id") != F.col("id"))
        .select("query_id", F.col("id").alias("doc_id"))
        .distinct()
    )
