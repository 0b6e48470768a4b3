"""Streaming ANN index maintenance — continuous ingest into the
persisted IVF layout.

``pipeline.similarity.build_ivf_index`` materializes inverted lists as a
parquet table PARTITIONED BY centroid_id; this module keeps that layout
continuously fed from a vector stream: each micro-batch is assigned to
its nearest centroid (broadcast argmax — map-side, no shuffle) and
APPENDED into the partition directories. Because the index is partitioned
by centroid_id, an append only touches the cells the batch lands in, and
``search_ivf_index`` keeps working unchanged mid-ingest — probes prune to
nprobe cells by partition filter exactly as for a batch-built index.

The batch/stream equivalence (tested): draining a vector stream through
this sink yields an index whose search results are IDENTICAL to building
the index from the same vectors in one batch — appends commute because
assignment is row-local and search reads whole cells.

Idempotency under at-least-once foreachBatch: each micro-batch writes its
rows through ``streaming.sink.write_batch`` under its own
``ingest_batch=<batch_id>`` leaf partitions, so a REPLAYED batch (retry
after a committed write whose commit entry was lost) overwrites exactly
its own leaves instead of appending duplicates. The equivalence above
therefore holds for any at-least-once delivery, not just a single clean
drain.

No reference equivalent: Prajna has neither vector search nor streaming
state (SURVEY §2.12); this is the north-star continuous-curation slot for
the embedding modality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from prajna_spark.pipeline.similarity import ivf_assign_with_vectors
from prajna_spark.streaming.sink import drain, write_batch


def append_ivf_batch(
    batch_df: DataFrame,
    batch_id: int,
    centroids: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Assign one micro-batch to its nearest centroids (broadcast argmax,
    map-side) and write it under ``centroid_id=*/ingest_batch=<batch_id>/``
    (:func:`streaming.sink.write_batch`). Calling this twice with the same
    ``batch_id`` and rows is a no-op-equivalent overwrite — the replay
    safety the streaming sink relies on (tested in test_ivf_index.py)."""
    # map-only projection (batch ⋈ assignment self-join removed, r11)
    write_batch(
        ivf_assign_with_vectors(batch_df, centroids, id_col, vec_col),
        batch_id,
        index_path,
        "centroid_id",
    )


def start_incremental_ivf(
    stream_vectors: DataFrame,
    centroids: DataFrame,
    index_path: str,
    checkpoint_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> StreamingQuery:
    """Continuously append ``stream_vectors`` to the partitioned IVF index
    at ``index_path``. Centroids are fixed for the index lifetime (re-run
    k-means + rebuild to re-center — the standard IVF maintenance split:
    cheap continuous appends, periodic offline rebuilds)."""
    return drain(
        stream_vectors,
        lambda df, bid: append_ivf_batch(
            df, bid, centroids, index_path, id_col, vec_col
        ),
        checkpoint_path,
    )
