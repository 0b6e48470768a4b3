"""Streaming model-scoring alerts — the reference-architecture loop a
telemetry deployment runs continuously: a small model table (here the
hour-of-day seasonal forecast, but the shape fits any broadcastable
scoring table — centroids, thresholds, coefficient rows) is joined to
every micro-batch map-side and violations land in an alert store.

Stateless by design: each event scores against the PRE-TRAINED model, so
a clean drain equals the batch filter row-for-row (the catalog oracle),
and no watermark is involved. Each batch's alerts are written through
``streaming.sink.write_batch``, so a replayed batch rewrites its own
``ingest_batch`` partition instead of alerting twice. Retraining =
rebuilding the forecast table and restarting the sink; the pattern
upgrades to versioned models by stamping a model_version column on the
alerts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from prajna_spark.functions.rounding import pround
from prajna_spark.streaming.sink import drain, write_batch


def start_forecast_alerts(
    stream: DataFrame,
    forecast: DataFrame,
    join_cols: list[str],
    value_col: str,
    forecast_col: str,
    threshold: float,
    store_path: str,
    checkpoint_path: str,
) -> StreamingQuery:
    """Score each micro-batch against the broadcast ``forecast`` table
    and write rows whose absolute deviation exceeds ``threshold`` to
    ``store_path``. Events without a forecast row (unseen key) pass
    through silently — an inner join, the documented contract (alerting
    on unseen keys is a different policy; use a left join + null check
    to get it)."""
    fc = F.broadcast(forecast)

    def score_batch(batch_df: DataFrame, batch_id: int) -> None:
        alerts = (
            batch_df.join(fc, join_cols)
            .withColumn(
                "deviation", pround(F.col(value_col) - F.col(forecast_col), 6)
            )
            .where(F.abs(F.col(value_col) - F.col(forecast_col)) > threshold)
        )
        write_batch(alerts, batch_id, store_path)

    return drain(stream, score_batch, checkpoint_path)
