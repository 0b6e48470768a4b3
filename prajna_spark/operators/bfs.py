"""Multi-source BFS: hop distances from a seed set over an edge list.

Reference analog: Prajna expresses iterative graph passes as repeated
DSet self-mixes driven from the driver (paper §3's iterative-map pattern;
/root/reference/src/CoreLib/DSetGenerics.fs:1127 ``mapByCollection`` +
fold loops). Spark-first spelling: a driver loop of frontier⋈edges hash
joins, one checkpointed generation per round
(:func:`prajna_spark.operators.lifecycle.iterate_checkpointed`), with
SHUFFLE_HASH hints so no per-round broadcast build competes for the
shared local heap.

Scale notes (100 TB contract):
- per round the only edge-cardinality shuffle is frontier⋈edges keyed on
  the node id; the visited set and frontier are node-cardinality;
- the state is ONE visited(nid, hops) frame and the frontier is its
  newest hop, so a round is one checkpoint; the early exit reads the
  newest hop from the observe() that rides that checkpoint job — no
  extra count() job per round;
- distances are correct-by-construction minima: a node enters the
  visited set the first round it is reached, and later arrivals are
  anti-joined away.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from prajna_spark.operators.lifecycle import (
    iterate_checkpointed,
    release_local_checkpoint,
    scoped_local_checkpoint,
)


def multi_source_bfs(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src_col: str = "src",
    dst_col: str = "dst",
    id_col: str = "nid",
) -> DataFrame:
    """Hop distance (0..max_hops) from ANY seed to every reachable node.

    ``edges`` is directed (symmetrize upstream for undirected semantics);
    ``seeds`` is one id column (``id_col``). Returns (node_id, hops) with
    hops = length of the shortest edge path from the nearest seed —
    exactly what a DuckDB ``WITH RECURSIVE`` replay computes, which is the
    catalog oracle for this operator.
    """
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    e = e.transform(scoped_local_checkpoint)

    def step(visited: DataFrame, hop: int) -> DataFrame:
        frontier = visited.where(F.col("hops") == hop - 1)
        reached = (
            e.join(frontier.hint("SHUFFLE_HASH"), e.src == frontier.nid)
            .select(F.col("dst").alias("nid"))
            .distinct()
        )
        fresh = reached.join(visited.hint("SHUFFLE_HASH"), "nid", "left_anti")
        return visited.unionAll(fresh.withColumn("hops", F.lit(hop).cast("long")))

    visited = (
        seeds.select(F.col(id_col).alias("nid"))
        .distinct()
        .withColumn("hops", F.lit(0).cast("long"))
        .transform(scoped_local_checkpoint)
    )
    # stop once a round reached no new node: its hop is then not the max
    visited, _ = iterate_checkpointed(
        visited, step, max_hops, stop=(F.max("hops"), lambda top, hop: top != hop)
    )
    release_local_checkpoint(e)
    return visited.select(F.col("nid").alias("node_id"), "hops")


def bounded_sssp(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    id_col: str = "nid",
    decimals: int = 6,
) -> DataFrame:
    """Weighted single-source(-set) shortest paths, bounded at
    ``max_hops`` edges — Bellman-Ford rounds (the weighted upgrade of
    :func:`multi_source_bfs`): after round k every node holds the exact
    min-weight path using <= k edges. ``(node_id, dist)``; unreachable
    nodes absent.

    Each round is one edge-cardinality hash join (dist side SHUFFLE_HASH
    — no per-round broadcast build) + a node-keyed min aggregation, one
    checkpointed generation (:func:`iterate_checkpointed`). Distances
    accumulate left-associatively per hop (d + w at each relaxation),
    the exact op sequence the oracle's unrolled ladder replays — min
    over IEEE doubles is engine-portable, so bounded-SSSP is
    hash-checkable, no rounding slack needed beyond the final display
    rounding."""
    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(weight_col).cast("double").alias("w"),
    ).transform(scoped_local_checkpoint)

    def step(dist: DataFrame, _: int) -> DataFrame:
        cand = e.join(dist.hint("SHUFFLE_HASH"), e.src == dist.nid).select(
            F.col("dst").alias("nid"), (F.col("dist") + F.col("w")).alias("dist")
        )
        return dist.unionAll(cand).groupBy("nid").agg(F.min("dist").alias("dist"))

    dist = (
        seeds.select(F.col(id_col).alias("nid"))
        .distinct()
        .withColumn("dist", F.lit(0.0))
        .transform(scoped_local_checkpoint)
    )
    dist, _ = iterate_checkpointed(dist, step, max_hops)
    release_local_checkpoint(e)
    return dist.select(
        F.col("nid").alias("node_id"), F.round("dist", decimals).alias("dist")
    )
