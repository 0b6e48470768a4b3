"""Synchronous label propagation — community detection.

Completes the graph tier's community ladder: connected components give
the coarsest partition (reachability), k-core ranks density, label
propagation finds COMMUNITIES — regions denser inside than out — with
no parameter beyond an iteration budget (Raghavan, Albert, Kumara 2007;
the synchronous variant with a deterministic tie-break, so results are
reproducible and SQL-replayable, unlike the randomized asynchronous
original).

Per iteration every node adopts the label that is most frequent among
its neighbors (ties -> smallest label). All arithmetic is integer
counting — no floats anywhere — so a fixed-depth SQL ladder replays the
schedule EXACTLY.

Scale shape per iteration: one neighbor-label join (edge-cardinality,
narrow (node, label) rows, SHUFFLE_HASH pinned so the build side never
broadcasts a corpus-sized frame) + one (node, label) count + one
per-node argmax hash aggregate (``min_by``). Synchronous updates can
oscillate on bipartite-ish structures — the iteration count is a BUDGET,
not a convergence promise, and identical on both engines by
construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from prajna_spark.operators.lifecycle import (
    iterate_checkpointed,
    release_local_checkpoint,
    scoped_local_checkpoint,
)
from prajna_spark.operators.symmetry import symmetrize, undirected_edges


def label_propagation(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    n_iter: int = 4,
) -> DataFrame:
    """Run ``n_iter`` synchronous LP rounds; returns (node_id, community)
    where community is the surviving label (node ids seed labels)."""
    # one-pass symmetrization: the union spelling ran the caller's edge
    # derivation + distinct twice inside this checkpoint job (r11)
    sym = symmetrize(undirected_edges(edges, src_col, dst_col), "a", "b")
    sym = sym.transform(scoped_local_checkpoint)

    # one checkpointed generation per TWO rounds (plus a single round
    # when n_iter is odd): each label frame has exactly ONE consumer (the
    # next round's join), so the odd round can stay lazy — its join +
    # aggregates execute once, inside the next checkpoint's job —
    # halving the blocking materializations and job dispatches per run
    # (r12, guide §2.4). Lineage depth stays <= 2 rounds, and checkpoint
    # placement cannot change values (integer label counting).
    def step(labels: DataFrame, i: int) -> DataFrame:
        for _ in range(2 if 2 * i <= n_iter else 1):
            nbr = sym.join(
                labels.hint("SHUFFLE_HASH"), sym.b == labels.nid
            ).select(F.col("a").alias("node"), "lbl")
            counts = nbr.groupBy("node", "lbl").agg(F.count(F.lit(1)).alias("c"))
            # per-node argmax as a hash AGGREGATE, not a window: min_by
            # over the (-count, label) composite realizes the same
            # (count desc, label asc) tie-break, partial-aggregates
            # map-side, and skips the window's per-partition sort (r11)
            labels = counts.groupBy(F.col("node").alias("nid")).agg(
                F.min_by(
                    "lbl", F.struct((-F.col("c")).alias("nc"), F.col("lbl"))
                ).alias("lbl")
            )
        return labels

    labels = (
        sym.select(F.col("a").alias("nid"))
        .distinct()
        .select("nid", F.col("nid").alias("lbl"))
        .transform(scoped_local_checkpoint)
    )
    labels, _ = iterate_checkpointed(labels, step, (n_iter + 1) // 2)
    # the edge checkpoint is EDGE-cardinality — the one frame here whose
    # leak compounds across queries in a shared session (found live:
    # the 30x fixture's second LP-family query OOM'd a 24 GB heap on the
    # previous query's pinned edges). The returned labels checkpoint is
    # node-cardinality and must stay (it IS the result).
    release_local_checkpoint(sym)
    return labels.select(F.col("nid").alias("node_id"), F.col("lbl").alias("community"))
