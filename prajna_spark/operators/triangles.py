"""Distributed triangle counting — degree-ordered wedge closure.

The MapReduce-classic algorithm (Suri & Vassilvitskii, WWW'11): orient
every undirected edge from its lower-ranked to its higher-ranked endpoint
under the total order (degree, node id). Each triangle then has exactly
ONE wedge rooted at its lowest-ranked vertex, so

    triangles = |{(u,v,w): o(u,v), o(u,w), rank(v) < rank(w), o(v,w)}|

— one self-join on the wedge root plus one semi-join closing the wedge,
both keyed on node ids. The degree orientation is what makes this scale:
a hub of degree d contributes O(d^2) wedges under naive orientation but
only O((sqrt m)^2) = O(m) total under degree order (high-degree nodes
root almost no wedges), which bounds the wedge explosion on skewed
graphs without any sampling.

Reference parity: Prajna ships no graph surface (SURVEY §2); declared
Spark-native addition alongside connected components and PageRank.
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


def _oriented(edges: DataFrame, src_col: str, dst_col: str):
    """Shared machinery: returns (und, deg, ranks, o) — deduped
    undirected edges (a < b), per-node degrees, the dense (degree, id)
    node ranking, and the degree-ordered oriented edge set in RANK SPACE:
    ``o(s, t)`` with s < t both dense ranks. und eagerly checkpointed.

    Rank space is a deliberate physical choice: the total order
    (degree, id) is materialized ONCE as a single long per node
    (node-cardinality zip_with_index — one small shuffle), so every
    downstream comparison, array sort, and array intersection runs on
    PRIMITIVE longs. The earlier spelling carried (degree, id) structs
    through orientation and sorted array<struct> per adjacency row —
    and Spark evaluates struct comparisons through InterpretedOrdering
    objects constructed per call (thread dumps at 100x showed the
    adjacency stage dominated by InterpretedOrdering.<init> /
    PhysicalStructType.forSchema), a cost that is invisible at sf0.1
    and devours the stage at scale."""
    from prajna_spark.operators.zipindex import zip_with_index

    # checkpointed EAGERLY: consumed by deg, the orientation join, and
    # n_edges — and the first consumer used to arrive through the
    # two-branch symmetrizing union, whose map tasks raced to populate a
    # lazy persist and computed the exploding upstream join + distinct
    # twice (r11). One materialization job; every consumer reads blocks.
    und = scoped_local_checkpoint(undirected_edges(edges, src_col, dst_col))
    sym = symmetrize(und, "a", "b")
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("d"))

    # dense rank following (degree, id); (d, a) is unique per node so the
    # index is deterministic. zip_with_index scope-persists internally.
    ranks = zip_with_index(deg, order_by=["d", "a"], index_col="r").select(
        "a", "r"
    )
    ra = ranks.select(F.col("a").alias("u"), F.col("r").alias("ru"))
    rb = ranks.select(F.col("a").alias("v"), F.col("r").alias("rv"))
    o = (
        und.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .join(ra, "u")
        .join(rb, "v")
        .select(
            F.least("ru", "rv").alias("s"), F.greatest("ru", "rv").alias("t")
        )
    )
    # o itself is consumed once (by _wedge_adjacency) — the reused
    # intermediate is the packed adjacency, persisted by the callers
    return und, deg, ranks, o


def _wedge_adjacency(o: DataFrame) -> DataFrame:
    """(s, nbrs) — the rank-SORTED out-neighbor array of every wedge
    root under the degree orientation. Neighbors are dense ranks, so the
    sort is a PRIMITIVE array<long> sort (no struct ordering). Array
    length is bounded by the orientation's out-degree bound O(sqrt m),
    so no unbounded collect_list."""
    return o.groupBy("s").agg(
        F.array_sort(F.collect_list("t")).alias("nbrs")
    )


def _triangle_rows(adj: DataFrame) -> DataFrame:
    """(s, v, tri) — one row per oriented edge (s, v) that roots at least
    one wedge; ``tri`` is the array of w closing a triangle (s, v, w),
    i.e. out-neighbors of s ranked above v intersected with
    out-neighbors of v.

    This is the array-packed spelling of wedge closure. The row-per-wedge
    spelling (o self-joined on s, then semi-joined against closing edges
    on (v, w)) shuffles |wedges| = sum_s outdeg(s)^2 individual 3-long
    rows — ~32 B/row before compression — and at 100x that single
    exchange alone overran this VM's disk (VERDICT r8; still red with
    the sort-merge spill eliminated via SHUFFLE_HASH). Here the wedge
    candidates cross the exchange as ARRAY SUFFIXES of each root's
    sorted neighbor list (one row per oriented edge, 8 B/entry
    amortized), cutting the shuffled bytes ~4x while keeping the same
    per-entry total; the closing check is an in-memory array
    intersection at the middle vertex v instead of a join against the
    edge set. SHUFFLE_HASH keeps the adjacency build side (O(m) packed
    entries across shuffle partitions) from ever electing a sort."""
    wedge_rows = (
        adj.select(F.col("s"), F.col("nbrs"), F.posexplode("nbrs").alias("i", "v"))
        # elements AFTER position i (0-based) = out-neighbors of s ranked
        # above v; slice is 1-based and tolerates length past the end
        .select("s", "v", F.expr("slice(nbrs, i + 2, size(nbrs))").alias("ws"))
        .where(F.size("ws") > 0)
    )
    vn = adj.select(F.col("s").alias("v"), F.col("nbrs").alias("vnbrs"))
    return wedge_rows.join(vn.hint("SHUFFLE_HASH"), "v").select(
        "s", "v", F.array_intersect("ws", "vnbrs").alias("tri")
    )


def triangle_count(edges: DataFrame, src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Count triangles in the undirected graph given by ``edges`` (any
    direction, duplicates tolerated — symmetrized and deduped here).
    Returns one row ``(n_edges, n_triangles)`` where n_edges counts
    undirected edges."""
    und, _, _, o = _oriented(edges, src_col, dst_col)
    # checkpointed eagerly: both sides of the closing join read the
    # adjacency, and a lazy persist lets their map stages race to
    # compute it twice (r11)
    tri = _triangle_rows(scoped_local_checkpoint(_wedge_adjacency(o)))
    n_edges = und.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    n_tri = tri.agg(
        F.coalesce(F.sum(F.size("tri")), F.lit(0)).cast("long").alias("n_triangles")
    )
    return n_edges.crossJoin(F.broadcast(n_tri))


def clustering_coefficients(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    decimals: int = 6,
) -> DataFrame:
    """Per-node triangle counts and LOCAL clustering coefficients
    ``(node, degree, n_triangles, clustering)`` where clustering =
    2*T(v) / (d(v)*(d(v)-1)), 0 for degree < 2 — how close each node's
    neighborhood is to a clique (community-structure / spam-farm signal).

    Each triangle is still FOUND once (at its degree-ordered root — the
    same bounded wedge fan-out as :func:`triangle_count`, in the
    array-packed spelling of :func:`_triangle_rows`) and then credited
    to its three corners: the root s and middle v take the intersection
    SIZE (aggregated before any explode), only the closing w entries
    explode — so the per-node aggregation sees 2x(#oriented edges) +
    3x(#triangles)-bounded rows, partial-aggregated map-side. The
    coefficient is one integer-fed IEEE division — oracle-exact."""
    und, deg, ranks, o = _oriented(edges, src_col, dst_col)
    # checkpointed eagerly: both sides of the closing join read the
    # adjacency (see triangle_count)
    trows = _triangle_rows(scoped_local_checkpoint(_wedge_adjacency(o)))
    n = F.size("tri")
    corners = trows.select(
        F.explode(
            F.concat(
                F.array(
                    F.struct(F.col("s").alias("rk"), n.alias("n")),
                    F.struct(F.col("v").alias("rk"), n.alias("n")),
                ),
                F.expr("transform(tri, w -> struct(w as rk, 1 as n))"),
            )
        ).alias("c")
    )
    # corner credits aggregate in RANK space, then map back to node ids
    # with one node-cardinality join against the ranking table
    tcr = (
        corners.groupBy(F.col("c.rk").alias("r"))
        .agg(F.sum("c.n").cast("long").alias("n_triangles"))
        .where(F.col("n_triangles") > 0)
    )
    tc = tcr.join(ranks, "r").select(F.col("a").alias("node"), "n_triangles")
    d = deg.select(F.col("a").alias("node"), F.col("d").cast("long").alias("degree"))
    t = F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long")
    coeff = F.when(
        F.col("degree") >= 2,
        F.lit(2.0) * t / (F.col("degree") * (F.col("degree") - F.lit(1.0))),
    ).otherwise(F.lit(0.0))
    return d.join(tc, "node", "left").select(
        "node",
        "degree",
        t.alias("n_triangles"),
        F.round(coeff, decimals).alias("clustering"),
    )


def k_core(
    edges: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 20,
) -> DataFrame:
    """The k-core of the undirected graph: the maximal subgraph where
    every node has degree >= k — found by iterative peeling (drop
    sub-k-degree nodes, recompute, repeat to fixpoint; the fixpoint is
    unique regardless of peel order). Returns ``(node_id, core_degree)``
    — survivors with their degree INSIDE the core (the community-density
    tier used to rank graph regions before expensive per-region work).

    Per round: two semi-joins restrict edges to survivors + one
    node-keyed degree count, one checkpointed generation
    (:func:`iterate_checkpointed`); the survivor count rides each
    checkpoint job via observe(). Raises if ``max_rounds`` is hit before
    the fixpoint (the SQL-ladder oracle replays a fixed depth, so silent
    non-convergence must be loud)."""
    # one-pass symmetrization: the union spelling ran the caller's edge
    # derivation + distinct twice inside this checkpoint job (r11)
    sym = symmetrize(undirected_edges(edges, src_col, dst_col), "a", "b")
    sym = sym.transform(scoped_local_checkpoint)

    def peel(e: DataFrame) -> DataFrame:
        return (
            e.groupBy("a")
            .agg(F.count(F.lit(1)).alias("deg"))
            .where(F.col("deg") >= k)
            .select(F.col("a").alias("nid"), "deg")
        )

    def step(survivors: DataFrame, _: int) -> DataFrame:
        keep = survivors.select("nid")
        # b-side survivor filter FIRST, a-side second: the degree count
        # groups by a, so the last semi-join's hash partitioning on a
        # satisfies the aggregation's clustering and the plan needs no
        # third edge-cardinality exchange per round (r11; semi-joins are
        # filters, so the order cannot change the result)
        return peel(
            sym.join(
                keep.withColumnRenamed("nid", "__n").hint("SHUFFLE_HASH"),
                F.col("b") == F.col("__n"),
                "left_semi",
            ).join(keep.hint("SHUFFLE_HASH"), F.col("a") == keep.nid, "left_semi")
        )

    survivors = scoped_local_checkpoint(peel(sym))
    sizes = [survivors.count()]

    def settled(n: int, _: int) -> bool:
        sizes.append(n)  # survivors only shrink: a repeated size is the fixpoint
        return n == sizes[-2]

    survivors, stopped = iterate_checkpointed(
        survivors, step, max_rounds, stop=(F.count(F.lit(1)), settled)
    )
    if not stopped:
        raise RuntimeError(f"k_core did not converge within {max_rounds} rounds")
    release_local_checkpoint(sym)
    return survivors.select(
        F.col("nid").alias("node_id"), F.col("deg").cast("long").alias("core_degree")
    )
