"""Distributed PageRank — fixed-iteration power method on a DataFrame
edge list.

One of the checkpointed driver loops
(:func:`prajna_spark.operators.lifecycle.iterate_checkpointed` owns the
per-generation checkpoint and release), with the graph tier's join
discipline:

- SHUFFLE_HASH hints on every rank-cardinality join side (a broadcast
  build of a node-cardinality frame is never right at scale, and AQE's
  attempted local-mode broadcasts OOM on dense graphs — the connected-
  components lesson, commit be7318d);
- corpus scalars (node count, dangling mass) ride one-row broadcast
  cross joins, never driver collects.

Engine-portable determinism: ranks are rounded with the portable
``pround`` spelling EVERY iteration, so a DuckDB CTE replay of the same
fixed-iteration run matches hash-for-hash (the k-means oracle technique).

Reference parity: Prajna's iterative surface is generic fold/map loops
(SURVEY §2.6); it ships no graph algorithms. Declared Spark-native
addition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from prajna_spark.functions.rounding import pround
from prajna_spark.operators.lifecycle import (
    iterate_checkpointed,
    release_local_checkpoint,
    scoped_local_checkpoint,
)


def pagerank(
    edges: DataFrame,
    n_iter: int = 5,
    damping: float = 0.85,
    round_decimals: int = 9,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed ``n_iter`` power-method PageRank over a directed edge list.

    Per iteration: edges ⋈ ranks (keyed on src — the one edge-cardinality
    shuffle, unavoidable for message passing) → per-dst contribution sum
    (narrow key) → damped update. Dangling-node mass (nodes with no
    out-edges) is redistributed uniformly via a one-row aggregate.
    Returns ``(node_id, pr)`` for every node.
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).transform(scoped_local_checkpoint)
    nodes = (
        e.select(F.col("src").alias("nid"))
        .unionAll(e.select(F.col("dst").alias("nid")))
        .distinct()
        .transform(scoped_local_checkpoint)
    )
    deg = e.groupBy("src").agg(
        F.count(F.lit(1)).cast("double").alias("outd")
    ).transform(scoped_local_checkpoint)
    n_df = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))

    ranks = (
        nodes.crossJoin(F.broadcast(n_df))
        .select("nid", pround(F.lit(1.0) / F.col("n"), round_decimals).alias("r"))
        .transform(scoped_local_checkpoint)
    )

    base = float(1.0 - damping)

    def step(ranks: DataFrame, _: int) -> DataFrame:
        contrib = (
            e.join(ranks.hint("SHUFFLE_HASH"), e.src == ranks.nid)
            .join(deg.hint("SHUFFLE_HASH"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("r") / F.col("outd")).alias("m"))
        )
        dangling = (
            ranks.join(deg.hint("SHUFFLE_HASH"), ranks.nid == deg.src, "left_anti")
            .agg(F.coalesce(F.sum("r"), F.lit(0.0)).alias("dang"))
        )
        return (
            nodes.crossJoin(F.broadcast(n_df))
            .crossJoin(F.broadcast(dangling))
            .join(contrib.hint("SHUFFLE_HASH"), nodes.nid == contrib.dst, "left")
            .select(
                "nid",
                pround(
                    F.lit(base) / F.col("n")
                    + F.lit(damping)
                    * (F.coalesce("m", F.lit(0.0)) + F.col("dang") / F.col("n")),
                    round_decimals,
                ).alias("r"),
            )
        )

    ranks, _ = iterate_checkpointed(ranks, step, n_iter)
    out = ranks.select(F.col("nid").alias("node_id"), F.col("r").alias("pr"))
    # the result depends only on the final ranks checkpoint (lineage was
    # severed); the iteration-invariant inputs can be released now
    release_local_checkpoint(e)
    release_local_checkpoint(nodes)
    release_local_checkpoint(deg)
    return out
