"""Similarity search over embedding columns (array<float>).

Tiers, per the north star:
- brute-force cosine top-k — exact baseline; query side broadcast, window
  top-k per query. Cost O(|Q| * n); right answer for small query sets.
- IVF (inverted-file) top-k over k-means or seed centroids — the scale
  path: each vector's cell is a map-only expression, and a query scores
  only the vectors in its ``nprobe`` nearest cells.
- signed-random-projection (SRP) LSH bucketing: each vector hashes to a
  small integer bucket from the signs of dot products with fixed
  pseudo-random hyperplanes — a shuffle key for candidate generation.

All math in double-precision column expressions (F.aggregate/F.zip_with —
sequential fold, bit-compatible with the DuckDB oracle's list arithmetic).
Hyperplanes are deterministic (md5-seeded, no RNG) so plans and oracles
reproduce across engines and rounds. The vector kernels shared with
``pq`` (json_const, sqdist, first_extremum, lloyd_means) live here.
"""

from __future__ import annotations

import hashlib
import json
import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from prajna_spark.functions.rounding import pround


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two array<double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def sqdist(a: Column, b: Column) -> Column:
    """Left-folded squared-L2 between two array<double> columns — the
    same sequential association as an unrolled (a0-b0)^2 + ... chain, so
    results are bit-identical to the oracle's explicit term sums. An
    unrolled spelling at PQ's m*k codebook fan-out built expression trees
    past janino's 64KB method limit, knocking the whole stage out of
    codegen and costing ~30 s of driver-side plan construction
    (measured; data-size independent)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def json_const(value, ddl: str) -> Column:
    """A constant column of type ``ddl``, spelled ``from_json`` over ONE
    string literal. Nested ``F.array(F.lit(...))`` puts every element
    into the expression tree as a literal node, and driver-side analysis
    and codegen grow with that count (measured on the PQ encode
    projection: 3.96 s cold / 0.70 s warm, against 0.54 / 0.47 s with
    this spelling). The optimizer constant-folds the parse into a single
    literal, and the doubles are bit-exact: Python's ``repr`` emits
    shortest round-trip decimals and the JVM's ``parseDouble`` is
    correctly rounded.

    ``allow_nan=False``: a non-finite value would serialize as a NaN or
    Infinity token, which PERMISSIVE ``from_json`` turns into a null for
    the WHOLE constant without an error — so fail at build time
    instead."""
    return F.from_json(F.lit(json.dumps(value, allow_nan=False)), ddl)


def first_extremum(
    scored: Column, acc_type: str, key: str, tag: str, minimize: bool
) -> Column:
    """The struct of the array ``scored`` with the smallest
    (``minimize``) or largest ``key``, found in ONE left fold.

    Callers build ``scored`` with ``F.transform`` over a
    :func:`json_const` table, so the per-element score fold and the
    constant are each referenced once: higher-order functions are
    CodegenFallback and get no common-subexpression elimination, so an
    ``array_position(arr, array_min(arr))`` spelling would evaluate
    ``arr`` twice per row. ``acc_type`` is the struct's DDL; ``tag`` is a
    field never null in a scored element, used to mark the accumulator
    as still empty.

    Same answer as ``array_min``/``array_max`` then ``array_position``:
    ties keep the FIRST element (strict comparison), so entries listed in
    ascending id order break ties to the lowest id; null keys are
    skipped, and an all-null or empty array gives null; NaN ranks above
    every number (Spark's NaN-safe ordering), so a maximum keeps the
    first NaN and a minimum is NaN only when every key is."""

    def step(acc: Column, x: Column) -> Column:
        better = x[key] < acc[key] if minimize else x[key] > acc[key]
        return F.when(
            (acc[tag].isNull() & x[key].isNotNull()) | better, x
        ).otherwise(acc)

    return F.aggregate(scored, F.lit(None).cast(acc_type), step)


def lloyd_means(
    assigned: DataFrame, group_cols: list[str], round_decimals: int | None
) -> DataFrame:
    """One Lloyd update: the element-wise mean vector of each
    ``group_cols`` group, as ``group_cols`` + ``centroid`` (array<double>
    in dimension order). ``assigned`` holds ``group_cols`` and exactly one
    array<double> column. With ``round_decimals`` set, each mean is
    rounded with the engine-portable ``pround``.

    posexplode, avg per (group, dim), then a sorted collect_list: the
    explosion is map-side and partial-aggregated before the exchange, so
    the shuffle carries one row per (group, dim) cell, never vectors. A
    one-aggregation spelling with dim parallel ``avg(element_at(v, i))``
    aggregates measured 5x slower at sf0.1: 64 avg aggregates mean 128
    aggregate-buffer fields, past codegen's field limit, so the whole
    stage, per-row argmin fold included, drops to interpreted mode."""
    (vec,) = [c for c in assigned.columns if c not in group_cols]
    mean = F.avg("x")
    if round_decimals is not None:
        mean = pround(mean, round_decimals)
    return (
        assigned.select(*group_cols, F.posexplode(vec).alias("dim", "x"))
        .groupBy(*group_cols, "dim")
        .agg(mean.alias("m"))
        .groupBy(*group_cols)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "m"))),
                lambda s: s["m"],
            ).alias("centroid")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    a, b = _as_double(a), _as_double(b)
    return dot(a, b) / (norm(a) * norm(b))


def srp_hyperplanes(dim: int, n_planes: int) -> list[list[float]]:
    """Deterministic ±1 hyperplanes: component (j,i) = parity of the first
    hex digit of md5('srp|j|i'). No RNG — reproducible everywhere."""
    planes = []
    for j in range(n_planes):
        row = []
        for i in range(dim):
            h = hashlib.md5(f"srp|{j}|{i}".encode()).hexdigest()
            row.append(1.0 if int(h[0], 16) % 2 else -1.0)
        planes.append(row)
    return planes


def srp_bucket(vec: Column, dim: int, n_planes: int = 8) -> Column:
    """SRP-LSH bucket id in [0, 2^n_planes): bit j set iff dot(v, h_j) > 0.
    Each hyperplane is one :func:`json_const`, so the analyzed tree holds
    n_planes constants, not n_planes*dim literal nodes."""
    v = _as_double(vec)
    bucket = F.lit(0)
    for j, plane in enumerate(srp_hyperplanes(dim, n_planes)):
        h = json_const(plane, "array<double>")
        bucket = bucket + F.when(dot(v, h) > 0, F.lit(2**j)).otherwise(F.lit(0))
    return bucket.cast("long")


def paired_cosine(
    a_vec: Column, b_vec: Column, a_norm: Column, b_norm: Column
) -> Column:
    """Cosine from PRE-COMPUTED norms: dot(a,b) / (a_norm * b_norm).

    In any pairwise scorer (kNN, IVF, near-dup) the naive ``cosine(a, b)``
    recomputes each side's norm once PER PAIR — n*k redundant 64-element
    folds at scale. Materializing ``norm(v)`` as a column on each side
    BEFORE the join computes it once per row; the Project sits below the
    join/exchange, which Catalyst does not collapse across, so it is
    genuinely evaluated once. Bit-identical to ``cosine`` (same sequential
    fold, same sqrt), so oracles are unaffected.
    """
    return dot(_as_double(a_vec), _as_double(b_vec)) / (a_norm * b_norm)


def with_norm(df: DataFrame, vec_col: str, norm_col: str) -> DataFrame:
    return df.withColumn(norm_col, norm(_as_double(F.col(vec_col))))


def knn_bruteforce(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    sim_decimals: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbours for each query vector.

    queries is broadcast (small side); candidates never shuffle — each
    partition scores its vectors against all queries and the per-query
    window keeps k. Norms are precomputed per row (see paired_cosine).
    Similarity is rounded BEFORE ranking and ties broken by candidate id,
    so results are engine-deterministic.
    """
    q = with_norm(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        ),
        "q_vec",
        "q_norm",
    )
    c = with_norm(
        vectors.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
        ),
        "c_vec",
        "c_norm",
    )
    return _cosine_topk(c.crossJoin(F.broadcast(q)), k, sim_decimals)


def _cosine_topk(pairs: DataFrame, k: int, sim_decimals: int) -> DataFrame:
    """Per-query top-k of candidate ``pairs`` (query_id, q_vec, q_norm,
    neighbor_id, c_vec, c_norm) by rounded cosine, ties to the lowest
    neighbor id; a vector is never its own neighbour."""
    scored = pairs.where(F.col("neighbor_id") != F.col("query_id")).select(
        "query_id",
        "neighbor_id",
        pround(
            paired_cosine(
                F.col("q_vec"), F.col("c_vec"), F.col("q_norm"), F.col("c_norm")
            ),
            sim_decimals,
        ).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "sim", "rk")
    )


def _centroid_entries(
    centroids: DataFrame, id_col: str, vec_col: str
) -> list[dict]:
    """Driver-side centroid list (bounded: K rows — the adjudicated
    k-centroid read pattern), ascending centroid id, with each norm
    precomputed in Python by the SAME left-folded sum-of-squares + sqrt
    sequence as ``with_norm``'s JVM fold — every step is a correctly-
    rounded IEEE binary64 op in the same order on both sides, so the
    values are bit-identical (verified: 0 row diffs vs the broadcast-
    join spelling on the sf0.1 corpus)."""
    rows = (
        centroids.select(
            F.col(id_col).cast("long").alias("cid"),
            _as_double(F.col(vec_col)).alias("cv"),
        )
        .orderBy("cid")
        .collect()
    )
    entries = []
    for r in rows:
        s = 0.0
        for x in r.cv:
            s += x * x
        entries.append({"cid": int(r.cid), "cn": math.sqrt(s), "cv": list(r.cv)})
    return entries


def _cell_expr(
    centroids: DataFrame, id_col: str, vec_col: str, sim_decimals: int
) -> Column:
    """Nearest-centroid id of a row carrying ``vec_col`` and its norm
    ``__vn`` (see with_norm), as a pure expression: the first maximum of
    the rounded cosine against each centroid, in ascending centroid id,
    i.e. ties to the lowest id. The K centroids are collected once and
    ride in as one :func:`json_const`, so the assignment is map-only: no
    broadcast build, join, aggregate or exchange at any corpus size."""
    cb = json_const(
        _centroid_entries(centroids, id_col, vec_col),
        "array<struct<cid:bigint,cn:double,cv:array<double>>>",
    )
    vec, vn = _as_double(F.col(vec_col)), F.col("__vn")
    scored = F.transform(
        cb,
        lambda e: F.struct(
            pround(dot(vec, e["cv"]) / (vn * e["cn"]), sim_decimals).alias(
                "s"
            ),
            e["cid"].alias("cid"),
        ),
    )
    return first_extremum(
        scored, "struct<s:double,cid:bigint>", "s", "cid", minimize=False
    )["cid"]


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_decimals: int = 6,
) -> DataFrame:
    """Coarse quantization: assign every vector to its nearest centroid
    (max rounded cosine, ties to lowest centroid id) -> (id, centroid_id).
    Map-only (see _cell_expr). This builds the IVF inverted lists; at
    100 TB you would persist the assignment partitioned BY centroid_id
    so probes touch only matching files."""
    v = with_norm(vectors.select(id_col, vec_col), vec_col, "__vn")
    cell = _cell_expr(centroids, id_col, vec_col, sim_decimals)
    return v.select(id_col, cell.alias("centroid_id"))


def ivf_assign_with_vectors(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_decimals: int = 6,
) -> DataFrame:
    """All of ``vectors``' columns plus ``centroid_id`` — the index-build
    projection, with no self-join to re-attach the rows the assignment
    scanned."""
    w = with_norm(vectors, vec_col, "__vn")
    cell = _cell_expr(centroids, id_col, vec_col, sim_decimals)
    return w.select(*vectors.columns, cell.alias("centroid_id"))


def _ivf_probes(
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    nprobe: int,
    sim_decimals: int,
) -> DataFrame:
    """(query_id, q_vec, q_norm, centroid_id) for each query's ``nprobe``
    nearest centroids by rounded cosine, ties to the lowest centroid id.
    Both sides are tiny; the centroids are broadcast."""
    q = with_norm(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")),
        "q_vec",
        "q_norm",
    )
    c = with_norm(
        centroids.select(
            F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("centroid_vec")
        ),
        "centroid_vec",
        "__cn",
    )
    w_probe = Window.partitionBy("query_id").orderBy(
        F.col("__csim").desc(), F.col("centroid_id")
    )
    return (
        q.crossJoin(F.broadcast(c))
        .withColumn(
            "__csim",
            pround(
                paired_cosine(
                    F.col("q_vec"), F.col("centroid_vec"), F.col("q_norm"), F.col("__cn")
                ),
                sim_decimals,
            ),
        )
        .withColumn("__rn", F.row_number().over(w_probe))
        .where(F.col("__rn") <= nprobe)
        .select("query_id", "q_vec", "q_norm", "centroid_id")
    )


def knn_ivf(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 4,
    sim_decimals: int = 6,
) -> DataFrame:
    """IVF ANN top-k: exact search restricted to the ``nprobe`` cells whose
    centroids are nearest each query.

    Plan shape at scale: the cell assignment is map-only and carries
    each vector and its norm, so the inverted lists come straight off the
    scan; the probe list (query x nprobe cells) is broadcast into the
    equi-join with them on centroid_id. Recall/cost dials: more centroids
    -> smaller cells; higher nprobe -> higher recall. Centroid selection
    here is deterministic seed-vectors; production swaps in k-means
    centers without touching the query plan."""
    v = with_norm(vectors.select(id_col, vec_col), vec_col, "__vn")
    inv = v.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.col("__vn").alias("c_norm"),
        _cell_expr(centroids, id_col, vec_col, sim_decimals).alias("centroid_id"),
    )
    probes = _ivf_probes(queries, centroids, id_col, vec_col, nprobe, sim_decimals)
    return _cosine_topk(
        inv.join(F.broadcast(probes), "centroid_id"), k, sim_decimals
    )


def build_ivf_index(
    vectors: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF index: vectors + their centroid assignment,
    written PARTITIONED BY centroid_id.

    This is the production layout the in-memory ``knn_ivf`` docstring
    promises: each inverted list is its own partition directory, so a
    probe-time join on centroid_id triggers DYNAMIC PARTITION PRUNING —
    the scan reads only the nprobe cells' files and the other
    (n_centroids - nprobe)/n_centroids of the index is never opened.
    Rebuild cost is one assignment pass (broadcast centroids, no
    shuffle) plus the partitioned write.

    Layout: ``centroid_id=<cell>/ingest_batch=<n>/``. The second-level
    ``ingest_batch`` partition (-1 for batch builds) exists so the
    streaming maintainer (streaming.ann_stream) can overwrite exactly its
    own micro-batch's leaves on replay — idempotent at-least-once appends
    — while centroid_id stays the top-level directory DPP prunes on."""
    (
        ivf_assign_with_vectors(vectors, centroids, id_col, vec_col)
        .withColumn("ingest_batch", F.lit(-1))
        .write.mode("overwrite")
        .partitionBy("centroid_id", "ingest_batch")
        .parquet(path)
    )


def search_ivf_index(
    spark,
    path: str,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 4,
    sim_decimals: int = 6,
) -> DataFrame:
    """ANN top-k over a :func:`build_ivf_index` layout. The probe set
    (query x nprobe nearest centroids) is broadcast; joining it to the
    partitioned index on centroid_id lets Spark prune index partitions at
    runtime (DPP) — I/O scales with nprobe, not index size. Probe ranking,
    scoring and the per-query top-k are ``knn_ivf``'s, so results match
    the in-memory operator exactly."""
    probes = _ivf_probes(queries, centroids, id_col, vec_col, nprobe, sim_decimals)
    inv = with_norm(
        spark.read.parquet(path).select(
            "centroid_id",
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("c_vec"),
        ),
        "c_vec",
        "c_norm",
    )
    return _cosine_topk(
        inv.join(F.broadcast(probes), "centroid_id"), k, sim_decimals
    )


def kmeans_centroids(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    n_iter: int = 5,
    round_decimals: int | None = None,
) -> DataFrame:
    """Lloyd's k-means for IVF centroid refinement — the iterative
    algorithm slot.

    Deterministic init: the k lowest-id vectors. Each iteration: fold
    the k centroids into a constant expression (tiny, k x dim doubles on
    the driver — the only driver-side state), assign every vector to its
    nearest centroid by squared L2 (a map-only column expression — no
    broadcast build, no join, no exchange), recompute means with
    :func:`lloyd_means`. Per-iteration shuffle carries k*dim aggregate
    rows, never vectors.

    With ``round_decimals`` set, every centroid mean is rounded with the
    engine-portable ``pround`` after each iteration. That makes the whole
    run EXACTLY replayable on another engine that applies the same
    rounding (fp aggregation-order noise ~1e-15 is absorbed at e.g. 6
    decimals), which is how the catalog's DuckDB oracle verifies this
    otherwise-iterative algorithm value-for-value. Distances are
    sequential left-to-right folds, so identical inputs give bit-identical
    d2 on any engine folding in the same order.

    Returns (centroid_id, centroid array<double>, n_assigned).
    """
    v = vectors.select(
        F.col(id_col).alias("__id"),
        _as_double(F.col(vec_col)).alias("__v"),
    )
    cents = _kmeans_lloyd(v, k, n_iter, round_decimals)
    spark = vectors.sparkSession
    cent_df = spark.createDataFrame(cents, "centroid_id int, centroid array<double>")
    final_assign = (
        v.select(_argmin_cid_expr(F.col("__v"), cents).alias("centroid_id"))
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n_assigned"))
    )
    return cent_df.join(final_assign, "centroid_id", "left").select(
        "centroid_id",
        "centroid",
        F.coalesce("n_assigned", F.lit(0)).alias("n_assigned"),
    )


def _argmin_cid_expr(
    vec: Column, cents: list[tuple[int, list[float]]]
) -> Column:
    """0-based index of the nearest of ``cents`` (in ascending centroid
    id) by squared L2, as a map-only expression over one
    :func:`json_const` table; ties go to the lowest id."""
    cb = json_const([c for _, c in cents], "array<array<double>>")
    scored = F.transform(
        cb, lambda c, i: F.struct(sqdist(vec, c).alias("d"), i.alias("i"))
    )
    return first_extremum(
        scored, "struct<d:double,i:int>", "d", "i", minimize=True
    )["i"]


def _kmeans_lloyd(
    v: DataFrame,
    k: int,
    n_iter: int,
    round_decimals: int | None,
) -> list[tuple[int, list[float]]]:
    """The Lloyd loop of :func:`kmeans_centroids` over a pre-normalized
    ``(__id, __v)`` frame, returning the trained ``(centroid_id, vec)``
    list (driver state = k x dim floats, the adjudicated k-means
    pattern). Shared with semdedup so its assignment can reuse the
    trained centroids map-side without a DataFrame round-trip."""
    cents = [
        (i, list(r["__v"]))
        for i, r in enumerate(v.orderBy("__id").limit(k).collect())
    ]
    if not cents:
        return cents  # empty corpus: nothing to train
    for _ in range(n_iter):
        assigned = v.select(
            "__v", _argmin_cid_expr(F.col("__v"), cents).alias("centroid_id")
        )
        means = lloyd_means(assigned, ["centroid_id"], round_decimals)
        new_cents = {r.centroid_id: list(r.centroid) for r in means.collect()}
        # empty clusters keep their previous centroid
        cents = [(cid, new_cents.get(cid, vec)) for cid, vec in cents]
    return cents


def quantize_int8(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "q8"
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the ANN index compression
    step (4x memory/bandwidth vs float32): scale = max|x| / 127, each
    component rounds to round(x / scale) in [-127, 127]; the scale rides
    along for dequantization / asymmetric distance computation.

    All JVM (aggregate + transform over the array); rounding is the
    engine-portable floor(x + 0.5) spelling on MAGNITUDE (ties away from
    zero on both engines), so the quantized codes are bit-identical to
    the DuckDB oracle. Zero vectors quantize to zeros with scale 0."""
    x = _as_double(F.col(vec_col))
    max_abs = F.array_max(F.transform(x, lambda v: F.abs(v)))
    scale = (max_abs / F.lit(127.0)).alias(f"{out_col}_scale")
    codes = F.when(max_abs == 0.0, F.transform(x, lambda v: F.lit(0))).otherwise(
        F.transform(
            x,
            lambda v: (
                F.signum(v)
                * F.floor(F.abs(v) / (max_abs / F.lit(127.0)) + F.lit(0.5))
            ).cast("int"),
        )
    )
    return df.withColumn(f"{out_col}_scale", scale).withColumn(out_col, codes)


def semdedup_survivors(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    n_iter: int = 3,
    threshold: float = 0.3,
    round_decimals: int = 6,
    sim_decimals: int = 6,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    the corpus with k-means, then inside each cluster drop every vector
    that has a near-duplicate (rounded cosine >= ``threshold``) with a
    SMALLER id — the deterministic greedy keep-one rule. Returns the
    survivors as (id, centroid_id).

    Clustering is what makes this scale: the pairwise comparison happens
    only WITHIN a cell, so candidate work is sum(|cell|^2) instead of n^2
    — at 100 TB you raise k so cells stay bounded, exactly like the IVF
    index this shares its centroids with. Plan: one broadcast-assign pass
    (no shuffle), one hash shuffle on centroid_id for the in-cell
    self-join, one anti-join back.

    Exactly replayable cross-engine: centroids come from the
    round_decimals-rounded Lloyd run (see kmeans_centroids), assignment is
    the same left-folded squared-L2 argmin with lowest-id tie-break, and
    the dominance test uses the portable rounded cosine — so a DuckDB
    replay of the whole chain hash-matches value-for-value."""
    cents = _kmeans_lloyd(
        vectors.select(
            F.col(id_col).alias("__id"), _as_double(F.col(vec_col)).alias("__v")
        ),
        k,
        n_iter,
        round_decimals,
    )
    v = with_norm(
        vectors.select(
            F.col(id_col).alias("__id"), _as_double(F.col(vec_col)).alias("__v")
        ),
        "__v",
        "__n",
    )
    from prajna_spark.operators.lifecycle import scoped_local_checkpoint

    # the Lloyd rounds' map-only argmin; checkpointed eagerly because it
    # feeds BOTH sides of the in-cell self-join AND the survivor anti-join
    assigned = scoped_local_checkpoint(
        v.select(
            "__id",
            _argmin_cid_expr(F.col("__v"), cents).alias("centroid_id"),
            "__v",
            "__n",
        )
    )
    a = assigned.select(
        F.col("__id").alias("id_a"),
        "centroid_id",
        F.col("__v").alias("v_a"),
        F.col("__n").alias("n_a"),
    )
    b = assigned.select(
        F.col("__id").alias("id_b"),
        "centroid_id",
        F.col("__v").alias("v_b"),
        F.col("__n").alias("n_b"),
    )
    dominated = (
        a.join(b, "centroid_id")
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            pround(
                paired_cosine(
                    F.col("v_a"), F.col("v_b"), F.col("n_a"), F.col("n_b")
                ),
                sim_decimals,
            )
            >= F.lit(float(threshold))
        )
        .select(F.col("id_b").alias("__id"))
        .distinct()
    )
    return (
        assigned.join(dominated, "__id", "left_anti")
        .select(F.col("__id").alias(id_col), "centroid_id")
    )
