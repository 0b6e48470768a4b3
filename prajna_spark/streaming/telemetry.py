"""Structured-Streaming telemetry — the Prajna service-analytics loop.

Reference semantics: services export live in-memory stats via
``ExportSeqFunction`` (/root/reference/src/CoreLib/contracts.fs:1906);
analytics jobs ``DSet.import`` them and re-run ``RowsReorg -1 ->
MapByCollection -> Fold`` interactively (paper §5.2;
DSetGenerics.fs:788,1127,392). There are no watermarks, event-time windows,
or stateful operators in the reference (SURVEY §2.12) — those are
Spark-native upgrades surfaced here:

- ``events_readstream``: the events table replayed as a file stream
  (stand-in for the service-import source; FIXTURES.md F7);
- ``hourly_rollup_stream``: event-time tumbling window + watermark — the
  late-data-correct version of the reference's fold-over-snapshot;
- ``run_telemetry_snapshot``: Trigger.AvailableNow one-shot — processes the
  current backlog and stops, which IS the reference's interactive
  "fold the current stats" cycle, with exactly-once bookkeeping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prajna_spark.session import tune
from prajna_spark.sources.catalog import read_parquet, stream_table

EVENTS_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
EVENTS_SCHEMA_NANOS = "event_id long, ts long, user_id long, event_type string, value double, props string"


def events_readstream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-based readStream over the events table, handling BOTH physical
    ts shapes the generator has produced across rounds (mirrors the batch
    dual-branch in sources/catalog.py:load_table):

    - plain TIMESTAMP (micros, r3+): declaring ``ts timestamp`` in the read
      schema makes the scan produce session-local (UTC-pinned) timestamps;
    - TIMESTAMP(NANOS) (r1-r2 shape, reads as bigint under nanosAsLong):
      read ``ts`` as long and convert losslessly via integer division.

    Shape detection reads the batch schema through the catalog's schema
    memo (one footer-inference job per file version, none after) — the
    only way to branch, since streaming needs the schema declared up
    front."""
    tune(spark)
    ts_type = dict(read_parquet(spark, f"{sf_dir}/events.parquet").dtypes).get("ts")

    schema = EVENTS_SCHEMA_NANOS if ts_type == "bigint" else EVENTS_SCHEMA
    stream = stream_table(spark, "events", sf_dir, schema)
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream


def hourly_rollup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Event-time tumbling 1-hour rollup per event type with late-data
    watermark — the streaming twin of the batch ``telemetry_hourly_rollup``
    catalog query. State is bounded by the watermark; at scale the shuffle
    key (window, event_type) is low-cardinality, so partial aggregation
    collapses almost everything map-side."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("win.start").cast("long").alias("epoch_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def run_telemetry_snapshot(
    spark: SparkSession, sf_dir: str, name: str = "telemetry_snapshot"
) -> DataFrame:
    """One interactive analytics cycle (Trigger.AvailableNow -> memory sink):
    process everything currently in the source, then stop — the Prajna
    paper's sub-second 'analytical turnaround' loop, on Spark's engine."""
    rollup = hourly_rollup_stream(events_readstream(spark, sf_dir))
    q = (
        rollup.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)
