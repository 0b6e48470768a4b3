"""Graph-analytics catalog queries (PageRank over the part–supplier
bipartite graph derived from lineitem).

Oracle parity technique (same as the k-means fixed-iteration replay,
queries/vectors.py:_kmeans_oracle): both engines run the IDENTICAL
deterministic power-method schedule with per-iteration portable rounding,
so even the rank doubles hash-match. Constant spellings mirror Python's
pre-folding: (1e0 - 8.5e-1) reproduces Python's 1.0-0.85 =
0.15000000000000002 exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prajna_spark.functions.rounding import R
from prajna_spark.operators.pagerank import pagerank
from prajna_spark.operators.symmetry import symmetrize
from prajna_spark.queries import query
from prajna_spark.session import scale_shuffle_partitions, tune
from prajna_spark.sources import load_table

_N_ITER = 4
_DEC = 9


def _pagerank_oracle(n_iter: int = _N_ITER, dec: int = _DEC) -> str:
    ctes = [
        """pe AS MATERIALIZED (
          SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
          FROM lineitem)""",
        """e AS MATERIALIZED (
          SELECT src, dst FROM pe UNION ALL SELECT dst, src FROM pe)""",
        """nodes AS MATERIALIZED (
          SELECT DISTINCT nid FROM (
            SELECT src AS nid FROM e UNION ALL SELECT dst FROM e))""",
        """deg AS MATERIALIZED (
          SELECT src, CAST(count(*) AS DOUBLE) AS outd FROM e GROUP BY src)""",
        "s AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes)",
        f"r0 AS MATERIALIZED (SELECT nid, {R('1e0 / s.n', dec)} AS r FROM nodes, s)",
    ]
    upd = R("(1e0 - 8.5e-1) / s.n + 8.5e-1 * coalesce(c.m, 0e0)", dec)
    for i in range(1, n_iter + 1):
        ctes.append(f"""r{i} AS MATERIALIZED (
          SELECT n0.nid, {upd} AS r
          FROM nodes n0 CROSS JOIN s
          LEFT JOIN (
            SELECT e.dst AS nid, sum(p.r / d.outd) AS m
            FROM e
            JOIN r{i - 1} p ON p.nid = e.src
            JOIN deg d ON d.src = e.src
            GROUP BY e.dst
          ) c ON c.nid = n0.nid)""")
    joined = ",\n    ".join(ctes)
    return f"""
    -- fixed-iteration PageRank replay (no dangling nodes: the graph is
    -- symmetrized, so every node has out-edges and the dangling term the
    -- Spark operator computes is exactly +0e0)
    WITH {joined}
    SELECT nid AS node_id, r AS pr FROM r{n_iter}
    """


@query(
    "pagerank_part_supplier",
    oracle=_pagerank_oracle(),
    tags=("graph", "iterative", "pagerank"),
)
def pagerank_part_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4 power-method iterations (d=0.85) over the symmetrized
    part–supplier co-occurrence graph (operators/pagerank.py): node ids
    are 2*partkey / 2*suppkey+1 to keep the bipartite sides disjoint.
    Per iteration the only edge-cardinality shuffle is edges⋈ranks keyed
    on src; contribution sums and the damped update are node-cardinality
    with one-row broadcast scalars; ranks are checkpointed and rounded
    (9 decimals) every round so the DuckDB replay hash-matches."""
    tune(spark)
    scale_shuffle_partitions(spark, sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    pe = li.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    ).distinct()
    # union symmetrization KEPT here, deliberately (r11): the explode
    # spelling (operators.symmetry, a win for bfs/sssp: 0.77x/0.62x A/B)
    # measured 1.23x SLOWER for pagerank twice in interleaved min-of-7
    # A/Bs — pagerank re-reads the edge checkpoint in every one of its
    # per-iteration jobs, and the union's two-branch layout leaves the
    # checkpoint with 2x the partitions, which this operator's
    # iteration-heavy consumption pattern prefers
    edges = pe.unionAll(
        pe.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return pagerank(edges, n_iter=_N_ITER, round_decimals=_DEC).select(
        "node_id", "pr"
    )


@query(
    "bfs_hops_from_nation",
    oracle="""
    -- ground truth via DuckDB's recursive CTE: shortest hop distance
    -- from any nation-0 supplier over the symmetrized part-supplier
    -- graph, depth-capped at 4 (node ids: 2*partkey / 2*suppkey+1)
    WITH RECURSIVE
    pe AS MATERIALIZED (
      SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      FROM lineitem),
    e AS MATERIALIZED (
      SELECT src, dst FROM pe UNION ALL SELECT dst, src FROM pe),
    seeds AS (
      SELECT s_suppkey * 2 + 1 AS nid FROM supplier WHERE s_nationkey = 0),
    walk(nid, d) AS (
      SELECT nid, 0 FROM seeds
      UNION
      SELECT e.dst, walk.d + 1
      FROM walk JOIN e ON e.src = walk.nid
      WHERE walk.d < 4
    )
    SELECT CAST(nid AS BIGINT) AS node_id, CAST(min(d) AS BIGINT) AS hops
    FROM walk GROUP BY nid
    """,
    tags=("graph", "bfs", "shortest-path", "iterative"),
)
def bfs_hops_from_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS (operators/bfs.py): hop distance from every
    nation-0 supplier over the symmetrized part-supplier graph, depth 4.
    Per round the only edge-cardinality shuffle is frontier⋈edges; the
    early-exit count rides the checkpoint job via observe(). The oracle
    is a genuine independent replay — DuckDB's recursive CTE semantics
    (UNION-dedup breadth expansion + min(d)) define shortest-hop distance
    without mirroring the Spark loop's structure."""
    tune(spark)
    scale_shuffle_partitions(spark, sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    pe = li.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    ).distinct()
    edges = symmetrize(pe, "src", "dst")
    seeds = (
        load_table(spark, "supplier", sf_dir)
        .where(F.col("s_nationkey") == 0)
        .select((F.col("s_suppkey") * 2 + 1).alias("nid"))
    )
    from prajna_spark.operators.bfs import multi_source_bfs

    return multi_source_bfs(edges, seeds, max_hops=4)


@query(
    "triangle_count_parts",
    oracle="""
    -- triangles in the part co-purchase graph (parts sharing an order);
    -- integer counts, orientation-free ground truth
    WITH e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a
      JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
           (SELECT CAST(count(*) AS BIGINT)
            FROM e e1
            JOIN e e2 ON e2.u = e1.v
            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles
    """,
    tags=("graph", "triangles", "join"),
)
def triangle_count_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of the part co-purchase graph
    (operators/triangles.py): edges between parts appearing in the same
    order, counted via degree-ordered wedge closure — each triangle is
    rooted exactly once at its lowest-(degree, id) vertex, so a hub's
    wedge fan-out is bounded and the two node-keyed joins survive skew.
    The oracle triple-joins the raw edge list; equality proves the
    orientation bookkeeping exact (413k triangles at sf0.01)."""
    tune(spark)
    scale_shuffle_partitions(spark, sf_dir)
    from prajna_spark.operators.triangles import triangle_count

    li = load_table(spark, "lineitem", sf_dir)
    op = li.select("l_orderkey", "l_partkey").distinct()
    a = op.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = op.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    edges = a.join(b, "ok").where(F.col("u") < F.col("v")).select("u", "v")
    return triangle_count(edges, "u", "v")


@query(
    "clustering_coeff_parts",
    oracle="""
    -- per-node triangle membership + local clustering coefficient,
    -- brute-force triple-join ground truth credited to all 3 corners
    WITH e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a
      JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), t AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ), tc AS (
      SELECT node, count(*) AS n_tri
      FROM (SELECT unnest([a, b, c]) AS node FROM t) GROUP BY node
    ), d AS (
      SELECT node, count(*) AS deg
      FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
      GROUP BY node
    )
    SELECT d.node,
           CAST(d.deg AS BIGINT) AS degree,
           CAST(coalesce(tc.n_tri, 0) AS BIGINT) AS n_triangles,
           round(CASE WHEN d.deg >= 2
                      THEN 2e0 * coalesce(tc.n_tri, 0)
                           / (d.deg * (d.deg - 1e0))
                      ELSE 0e0 END, 6) AS clustering
    FROM d LEFT JOIN tc ON tc.node = d.node
    """,
    tags=("graph", "triangles", "clustering-coefficient"),
)
def clustering_coeff_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficients of the part co-purchase graph
    (operators.triangles.clustering_coefficients): each triangle is found
    ONCE at its degree-ordered root — hub wedge fan-out stays bounded —
    then credited to its three corners by a narrow explode+count. The
    how-clique-like-is-this-neighborhood signal for community/spam-farm
    analysis; the oracle's triple join is orientation-free ground
    truth."""
    tune(spark)
    scale_shuffle_partitions(spark, sf_dir)
    from prajna_spark.operators.triangles import clustering_coefficients

    li = load_table(spark, "lineitem", sf_dir)
    op = li.select("l_orderkey", "l_partkey").distinct()
    a = op.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = op.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    edges = a.join(b, "ok").where(F.col("u") < F.col("v")).select("u", "v")
    return clustering_coefficients(edges, "u", "v")


def _sssp_level(prev: str, cur: str) -> str:
    return f"""{cur} AS MATERIALIZED (
      SELECT nid, min(dist) AS dist FROM (
        SELECT nid, dist FROM {prev}
        UNION ALL
        SELECT e.dst AS nid, {prev}.dist + e.w AS dist
        FROM {prev} JOIN e ON e.src = {prev}.nid
      ) GROUP BY nid
    )"""


@query(
    "sssp_supplier_costs",
    oracle=f"""
    -- Bellman-Ford ladder replay: after level k each node holds the
    -- exact min-weight path using <= k edges; d + w accumulates
    -- left-associatively exactly as the engine's relaxation does
    WITH pe AS (
      SELECT l_partkey * 2 AS p_nid, l_suppkey * 2 + 1 AS s_nid,
             min(l_extendedprice) AS w
      FROM lineitem GROUP BY 1, 2
    ), e AS MATERIALIZED (
      SELECT p_nid AS src, s_nid AS dst, w FROM pe
      UNION ALL
      SELECT s_nid AS src, p_nid AS dst, w FROM pe
    ), d0 AS MATERIALIZED (
      SELECT CAST(s_suppkey * 2 + 1 AS BIGINT) AS nid, 0e0 AS dist
      FROM supplier WHERE s_nationkey = 0
    ),
    {_sssp_level("d0", "d1")},
    {_sssp_level("d1", "d2")},
    {_sssp_level("d2", "d3")},
    {_sssp_level("d3", "d4")}
    SELECT nid AS node_id, round(dist, 6) AS dist FROM d4
    """,
    tags=("graph", "sssp", "shortest-path", "weighted", "iterative"),
)
def sssp_supplier_costs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted bounded-hop shortest paths (operators.bfs.bounded_sssp):
    min-cost <= 4-edge path from nation-0 suppliers over the
    part-supplier graph, edge weight = the pair's cheapest line price.
    Bellman-Ford rounds: one edge-keyed hash join + node-keyed min per
    round, O(1) lineage via checkpoints — the weighted twin of the BFS
    hop query, and like it, exactly replayed by an unrolled SQL ladder
    (min over IEEE doubles is engine-portable)."""
    tune(spark)
    scale_shuffle_partitions(spark, sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    pe = li.groupBy(
        (F.col("l_partkey") * 2).alias("p_nid"),
        (F.col("l_suppkey") * 2 + 1).alias("s_nid"),
    ).agg(F.min("l_extendedprice").alias("w"))
    edges = symmetrize(
        pe.select(F.col("p_nid").alias("src"), F.col("s_nid").alias("dst"), "w"),
        "src",
        "dst",
        extra=["w"],
    )
    seeds = (
        load_table(spark, "supplier", sf_dir)
        .where(F.col("s_nationkey") == 0)
        .select((F.col("s_suppkey") * 2 + 1).cast("long").alias("nid"))
    )
    from prajna_spark.operators.bfs import bounded_sssp

    return bounded_sssp(edges, seeds, max_hops=4)


def _kcore_level(prev: str, cur: str, k: int) -> str:
    return f"""{cur} AS MATERIALIZED (
      SELECT s.a AS nid, count(*) AS deg
      FROM sym s
      JOIN {prev} x ON s.a = x.nid
      JOIN {prev} y ON s.b = y.nid
      GROUP BY s.a HAVING count(*) >= {k}
    )"""


@query(
    "kcore_parts_dense",
    oracle=f"""
    -- k-core peeling ladder (k=80): each level drops sub-k nodes and
    -- recomputes restricted degrees; the fixpoint lands by level 5 on
    -- this graph (probed), level 8 gives margin — equality proves the
    -- engine's observe()-driven loop peels to the same fixpoint
    WITH und AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), sym AS MATERIALIZED (
      SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und
    ), l0 AS MATERIALIZED (
      SELECT a AS nid FROM sym GROUP BY a HAVING count(*) >= 80
    ),
    {_kcore_level("l0", "l1", 80)},
    {_kcore_level("l1", "l2", 80)},
    {_kcore_level("l2", "l3", 80)},
    {_kcore_level("l3", "l4", 80)},
    {_kcore_level("l4", "l5", 80)},
    {_kcore_level("l5", "l6", 80)},
    {_kcore_level("l6", "l7", 80)},
    {_kcore_level("l7", "l8", 80)}
    SELECT nid AS node_id, CAST(deg AS BIGINT) AS core_degree FROM l8
    """,
    tags=("graph", "k-core", "peeling", "iterative"),
)
def kcore_parts_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 80-core of the part co-purchase graph
    (operators.triangles.k_core): iterative peeling to the unique
    fixpoint — the community-density tier that ranks graph regions
    before expensive per-region work. Per round two survivor semi-joins
    + one degree count, O(1) lineage, removed-count riding the
    checkpoint via observe(); the operator RAISES if the round budget is
    hit before the fixpoint, so the oracle's fixed-depth ladder can
    never silently diverge."""
    tune(spark)
    scale_shuffle_partitions(spark, sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    op = li.select("l_orderkey", "l_partkey").distinct()
    a = op.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = op.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    edges = a.join(b, "ok").where(F.col("u") < F.col("v")).select("u", "v")
    from prajna_spark.operators.triangles import k_core

    return k_core(edges, k=80, src_col="u", dst_col="v")


def _lp_level(prev: str, cur: str) -> str:
    return f"""{cur} AS MATERIALIZED (
      SELECT nid, lbl FROM (
        SELECT s.a AS nid, p.lbl,
               row_number() OVER (PARTITION BY s.a
                                  ORDER BY count(*) DESC, p.lbl) AS rk
        FROM sym s JOIN {prev} p ON p.nid = s.b
        GROUP BY s.a, p.lbl
      ) WHERE rk = 1
    )"""


@query(
    "labelprop_part_communities",
    oracle=f"""
    -- 4 synchronous label-propagation rounds, replayed as a fixed-depth
    -- ladder: adopt the most frequent neighbor label, ties -> smallest.
    -- Pure integer counting — no rounding policy anywhere
    WITH und AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), sym AS MATERIALIZED (
      SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und
    ), l0 AS MATERIALIZED (
      SELECT DISTINCT a AS nid, a AS lbl FROM sym
    ),
    {_lp_level("l0", "l1")},
    {_lp_level("l1", "l2")},
    {_lp_level("l2", "l3")},
    {_lp_level("l3", "l4")}
    SELECT nid AS node_id, lbl AS community FROM l4
    """,
    tags=("graph", "community", "label-propagation", "iterative"),
)
def labelprop_part_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the part co-purchase graph
    (operators.labelprop.label_propagation): 4 synchronous rounds of
    adopt-the-majority-neighbor-label with a deterministic smallest-label
    tie-break — completing the community ladder (connected components =
    reachability, k-core = density rank, label propagation = community
    structure). Per round one edge-cardinality neighbor join
    (SHUFFLE_HASH pinned), one (node, label) count, one per-node argmax
    hash aggregate; O(1) lineage via localCheckpoint. Integer-only
    arithmetic, so the fixed-depth SQL ladder replays the schedule
    exactly."""
    tune(spark)
    scale_shuffle_partitions(spark, sf_dir)
    from prajna_spark.operators.labelprop import label_propagation

    li = load_table(spark, "lineitem", sf_dir)
    op = li.select("l_orderkey", "l_partkey").distinct()
    a = op.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = op.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    edges = a.join(b, "ok").where(F.col("u") < F.col("v")).select("u", "v")
    return label_propagation(edges, "u", "v", n_iter=4)


@query(
    "modularity_part_communities",
    oracle=f"""
    -- modularity audit of the 4-round label-propagation partition:
    -- per-community Q contribution e_c/m - (d_c/2m)^2 from INTEGER
    -- intra-edge counts and degree sums — the partition-quality number
    -- that says whether the communities are better than chance. The
    -- ladder below replays the exact LP schedule; the Q arithmetic is
    -- one fixed IEEE association over exact integers.
    WITH und AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), sym AS MATERIALIZED (
      SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und
    ), l0 AS MATERIALIZED (
      SELECT DISTINCT a AS nid, a AS lbl FROM sym
    ),
    {_lp_level("l0", "l1")},
    {_lp_level("l1", "l2")},
    {_lp_level("l2", "l3")},
    {_lp_level("l3", "l4")},
    m AS (SELECT CAST(count(*) AS BIGINT) AS mm FROM und),
    deg AS (SELECT a AS nid, CAST(count(*) AS BIGINT) AS d
            FROM sym GROUP BY 1),
    dsum AS (
      SELECT l.lbl, CAST(sum(d.d) AS BIGINT) AS ds,
             CAST(count(*) AS BIGINT) AS n_nodes
      FROM l4 l JOIN deg d USING (nid) GROUP BY 1
    ),
    intra AS (
      SELECT la.lbl, CAST(count(*) AS BIGINT) AS ie
      FROM und e
      JOIN l4 la ON la.nid = e.a
      JOIN l4 lb ON lb.nid = e.b AND lb.lbl = la.lbl
      GROUP BY 1
    )
    SELECT s.lbl AS community, s.n_nodes,
           CAST(coalesce(i.ie, 0) AS BIGINT) AS intra_edges,
           s.ds AS degree_sum,
           (floor((
              CAST(coalesce(i.ie, 0) AS DOUBLE) / CAST(m.mm AS DOUBLE)
              - (CAST(s.ds AS DOUBLE) / (2e0 * CAST(m.mm AS DOUBLE)))
                * (CAST(s.ds AS DOUBLE) / (2e0 * CAST(m.mm AS DOUBLE)))
            ) * 1e6 + 5e-1) / 1e6) AS q_contrib
    FROM dsum s LEFT JOIN intra i USING (lbl), m
    """,
    tags=("graph", "community", "modularity", "eval", "composition"),
)
def modularity_part_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the label-propagation partition — the
    partition-quality eval that closes the community ladder (CC finds
    reachability, k-core density, LP structure, modularity says whether
    the structure beats chance; sum q_contrib for the global Q). All
    inputs to Q are exact integers (intra-community edge counts via one
    edge⋈labels join keyed on node id, degree sums via the symmetric
    edge list), the global m rides a one-row broadcast, and the per-
    community contribution avoids any cross-row fp sum."""
    tune(spark)
    scale_shuffle_partitions(spark, sf_dir)
    from prajna_spark.functions.rounding import pround
    from prajna_spark.operators.labelprop import label_propagation

    li = load_table(spark, "lineitem", sf_dir)
    op = li.select("l_orderkey", "l_partkey").distinct()
    a = op.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = op.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, "ok").where(F.col("u") < F.col("v")).select("u", "v").distinct()
    )
    from prajna_spark.operators.lifecycle import (
        persist_scope,
        scoped_local_checkpoint,
        scoped_persist,
    )

    with persist_scope():
        edges = scoped_persist(edges)
        labels = scoped_persist(label_propagation(edges, "u", "v", n_iter=4))
        m = edges.agg(F.count(F.lit(1)).alias("mm"))
        sym = edges.select(
            F.explode(F.array(F.col("u"), F.col("v"))).alias("nid")
        )
        deg = sym.groupBy("nid").agg(F.count(F.lit(1)).alias("d"))
        dsum = (
            labels.withColumnRenamed("node_id", "nid")
            .join(deg, "nid")
            .groupBy("community")
            .agg(
                F.sum("d").alias("ds"),
                F.count(F.lit(1)).alias("n_nodes"),
            )
        )
        la = labels.select(
            F.col("node_id").alias("u"), F.col("community").alias("cu")
        )
        lb = labels.select(
            F.col("node_id").alias("v"), F.col("community").alias("cv")
        )
        intra = (
            edges.join(la, "u")
            .join(lb, "v")
            .where(F.col("cu") == F.col("cv"))
            .groupBy(F.col("cu").alias("community"))
            .agg(F.count(F.lit(1)).alias("ie"))
        )
        mm = F.col("mm").cast("double")
        ds = F.col("ds").cast("double")
        ie = F.coalesce(F.col("ie"), F.lit(0)).cast("double")
        out = (
            dsum.join(intra, "community", "left")
            .crossJoin(F.broadcast(m))
            .select(
                "community",
                "n_nodes",
                F.coalesce(F.col("ie"), F.lit(0)).cast("long").alias(
                    "intra_edges"
                ),
                F.col("ds").alias("degree_sum"),
                pround(
                    ie / mm - (ds / (2.0 * mm)) * (ds / (2.0 * mm)), 6
                ).alias("q_contrib"),
            )
        )
        # parent=True: this checkpoint IS the return value materialized
        # inside the query's own scope — its blocks belong to the caller
        out = scoped_local_checkpoint(out, parent=True)
    return out
