"""Streaming inverted-index maintenance — continuous document ingest into
a live lexical search layout.

The lexical twin of ``streaming.ann_stream``: micro-batches of documents
are tokenized into postings (doc_id, term, tf, dl) and APPENDED under
``bucket=<term-hash>/ingest_batch=<batch_id>/`` through
``streaming.sink.write_batch``, so a replayed batch overwrites exactly its
own leaves (idempotent at-least-once delivery, same contract as
append_ivf_batch).

Two deliberate differences from the static ``retrieval.build_text_index``
layout, both because corpus-GLOBAL quantities go stale under appends:

- document frequency is NOT stored per posting; the live search derives
  df from the (query-term-pruned) postings at probe time — pruned first,
  so the df aggregation touches only matching postings, not the index;
- corpus stats are maintained MERGEABLY: each batch writes one
  (n_docs, n_text, sum_dl) row under ``stats/ingest_batch=<id>/``;
  search sums this tiny table and derives avgdl = sum_dl / n_text
  (n_text = docs with non-NULL text, the denominator the batch path's
  F.avg uses; n_docs keeps feeding idf's N).

Result: search over the live index equals a fresh batch build over the
same documents at ANY drain point (tested) — the index is never stale,
only smaller.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from prajna_spark.pipeline.retrieval import (
    BM25_B,
    BM25_K1,
    doc_postings,
    rank_topk,
    score_postings,
)
from prajna_spark.pipeline import textqa
from prajna_spark.sources.formats import committed_store_exists
from prajna_spark.streaming.sink import drain, write_batch


def append_text_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    n_buckets: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Tokenize one micro-batch into postings and write them under
    ``bucket=*/ingest_batch=<batch_id>/``, plus the batch's mergeable
    corpus-stats row. Re-running with the same batch is an overwrite of
    its own leaves — replay-safe. Empty batches are a no-op (an idle
    source with a processing-time trigger delivers them routinely;
    writing their stats rows would just accumulate junk leaves)."""
    if batch_df.isEmpty():
        return
    from prajna_spark.operators.fanout import fan_out

    # a small-file micro-batch arrives as ONE split and the tokenize +
    # explode below is the expensive map side — spread the raw rows
    # first (measured: the postings build ran as a 2.5 s single task;
    # conditional, so a many-split batch at scale is untouched — r11,
    # guide §2.5)
    p = doc_postings(fan_out(batch_df), id_col, text_col).withColumn(
        "bucket", F.pmod(F.hash("term"), F.lit(n_buckets))
    )
    write_batch(p, batch_id, f"{index_path}/postings", "bucket")
    # n_text counts docs with non-NULL text separately from n_docs: the
    # batch path's corpus_stats uses F.avg(token_count), which skips
    # NULLs — avgdl must divide by the same denominator or live==batch
    # scoring breaks on any corpus containing a NULL-text doc (idf's N
    # stays n_docs on both paths).
    stats = batch_df.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count(textqa.token_count(F.col(text_col))).cast("long").alias("n_text"),
        F.sum(textqa.token_count(F.col(text_col))).cast("long").alias("sum_dl"),
    )
    write_batch(stats, batch_id, f"{index_path}/stats")


def start_incremental_text_index(
    stream_docs: DataFrame,
    index_path: str,
    checkpoint_path: str,
    n_buckets: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> StreamingQuery:
    """Continuously feed the live index from a document stream.

    Before the first trigger, a zero-row SCHEMA ANCHOR of the postings
    layout is written under ``postings_schema/`` (derived from the
    stream's own schema). Search needs it when no data has been ingested
    yet — empty batches write no parquet footers, so without an anchor a
    search against a just-started index crashes on schema inference
    instead of returning empty results."""
    spark = stream_docs.sparkSession
    anchor = f"{index_path}/postings_schema"
    if not committed_store_exists(spark, anchor):
        (
            doc_postings(
                spark.createDataFrame([], stream_docs.schema), id_col, text_col
            )
            .withColumn("bucket", F.pmod(F.hash("term"), F.lit(n_buckets)))
            .withColumn("ingest_batch", F.lit(0))
            .repartition(1)  # one zero-row part file: a readable footer
            .write.mode("overwrite")
            .parquet(anchor)
        )

    return drain(
        stream_docs,
        lambda df, bid: append_text_batch(
            df, bid, index_path, n_buckets, id_col, text_col
        ),
        checkpoint_path,
    )


def search_live_text_index(
    spark,
    index_path: str,
    query_terms: DataFrame,
    k: int = 10,
    n_buckets: int = 16,
    k1: float = BM25_K1,
    b: float = BM25_B,
    score_decimals: int = 6,
) -> DataFrame:
    """BM25 top-k over the live layout: probe join prunes to the query
    terms' buckets, df is aggregated from the PRUNED postings (correct at
    any drain point), and corpus stats are the sum of the per-batch
    mergeable rows. Identical scoring arithmetic to ``bm25_scores``.

    A just-started index (stream running, nothing ingested yet) returns
    EMPTY results via the schema anchor instead of crashing — the same
    answer a fresh batch build over zero documents gives."""
    anchor_path = f"{index_path}/postings_schema"
    postings_path = f"{index_path}/postings"
    if committed_store_exists(spark, anchor_path):
        anchor = spark.read.parquet(anchor_path)
        if committed_store_exists(spark, postings_path):
            # explicit schema: works even when the postings dir holds a
            # _SUCCESS marker but no footers (a drained all-NULL batch)
            postings = spark.read.schema(anchor.schema).parquet(postings_path)
        else:
            postings = anchor  # zero rows, correct layout schema
    else:  # index built by direct append_text_batch calls (no anchor)
        postings = spark.read.parquet(postings_path)
    stats_path = f"{index_path}/stats"
    if committed_store_exists(spark, stats_path):
        stats = spark.read.parquet(stats_path).agg(
            F.sum("n_docs").cast("double").alias("n_docs"),
            # avgdl over docs WITH text (n_text), matching the batch
            # path's F.avg(token_count) null-skipping denominator
            (F.sum("sum_dl").cast("double") / F.sum("n_text").cast("double")).alias(
                "avgdl"
            ),
        )
    else:  # nothing ingested yet: scalars only feed an empty join below
        stats = spark.createDataFrame([(0.0, None)], "n_docs double, avgdl double")
    qt = query_terms.withColumn("bucket", F.pmod(F.hash("term"), F.lit(n_buckets)))
    pruned = postings.join(F.broadcast(qt), ["bucket", "term"])
    dfreq = pruned.groupBy("term").agg(
        F.countDistinct("doc_id").cast("double").alias("df")
    )
    scored = pruned.join(F.broadcast(dfreq), "term").crossJoin(F.broadcast(stats))
    return rank_topk(score_postings(scored, k1, b, score_decimals), k)
