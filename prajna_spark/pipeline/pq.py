"""Product quantization (PQ) — sub-vector codebook compression + ADC search.

The vector-compression step BETWEEN the int8 scalar quantization
(:func:`similarity.quantize_int8`, 4x) and full-precision storage: split
each d-dim embedding into ``m`` sub-vectors, snap every sub-vector to its
nearest entry in a per-subspace codebook, and store only the ``m`` code
bytes — a d*4 / m byte compression (32x here) that asymmetric-distance
(ADC) search can query WITHOUT decompressing: the query stays exact and
each candidate's distance is a sum of m codebook-table lookups
(Jegou, Douze, Schmid, "Product Quantization for Nearest Neighbor
Search", IEEE TPAMI 2011 — public literature).

Scale shapes, deliberately:
- The codebook is deterministic and TINY (m * k sub-vectors; the k
  lowest-id embeddings' sub-vectors, the same seeding rule as the
  oracle-checked ivf_kmeans Lloyd init) — it rides into every executor
  as literal expressions, so ENCODE IS MAP-ONLY: zero shuffles, zero
  joins, one projection per vector regardless of corpus size.
- ADC search broadcasts the query set (with per-query lookup tables
  folded into array columns); candidates never shuffle — the same
  broadcast-cross shape as the proven knn_bruteforce.

Exactness contract: all distances are explicit LEFT-ASSOCIATED squared-L2
term chains over float32-exact doubles (IEEE-exact: products < 2^52,
same association both engines) and are portably rounded before any
ranking; argmin ties break on the lowest code id / vec_id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from prajna_spark.functions.rounding import pround
from prajna_spark.pipeline.similarity import (
    first_extremum,
    json_const,
    lloyd_means,
    sqdist,
)

M_SUB = 8  # subspaces
K_CODES = 16  # codebook entries per subspace


def pq_codebook(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = M_SUB,
    k: int = K_CODES,
) -> list[list[list[float]]]:
    """Deterministic codebook: the ``k`` lowest-id vectors' sub-vectors.
    Driver-bounded read (k rows — the same adjudicated pattern as the
    k-means centroid reads); returns codebook[s][c] = that sub-vector
    as Python floats (float32 values, exactly representable)."""
    sub = dim // m
    rows = (
        emb.select(id_col, F.col(vec_col).cast("array<double>").alias("e"))
        .orderBy(id_col)
        .limit(k)
        .collect()
    )
    return [
        [list(r.e[s * sub : (s + 1) * sub]) for r in rows] for s in range(m)
    ]


def pq_codebook_trained(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = M_SUB,
    k: int = K_CODES,
    n_iter: int = 3,
    round_decimals: int = 6,
    seed: list[list[list[float]]] | None = None,
) -> list[list[list[float]]]:
    """Per-subspace Lloyd-TRAINED codebooks (standard PQ — Jegou et al.
    §III.A trains k-means per subspace) seeded from the deterministic
    :func:`pq_codebook` init, so the whole run replays exactly on
    another engine (the same contract as similarity.kmeans_centroids):
    identical init, left-associated squared-L2, argmin ties to the
    lowest code id, per-iteration means rounded portably, empty codes
    keep their previous entry.

    All ``m`` subspaces train JOINTLY — one pass per iteration over the
    exploded (vec, subspace, sub-vector) frame instead of m separate
    k-means runs. Assignment is a MAP-ONLY column expression: the whole
    codebook rides in as one :func:`json_const` indexed by subspace, and
    the first minimum (:func:`first_extremum`) breaks ties to the lowest
    code id; the only shuffle per iteration carries the partial-aggregated
    mean cells of :func:`lloyd_means`. Driver state is the m*k*sub_dim
    codebook floats — at 100 TB the corpus never leaves the executors and
    per-iteration cost is one scan + one narrow shuffle.
    """
    sub = dim // m
    # a caller that already computed the deterministic seed (e.g. to use
    # the same vectors as coarse-quantizer cells) passes it in instead
    # of this function re-running the identical k-row collect job
    if seed is None:
        seed = pq_codebook(emb, id_col, vec_col, dim, m, k)
    # tiny corpora (< k vectors) seed fewer entries; train what exists —
    # the same graceful degradation as kmeans_centroids
    k = min(k, len(seed[0]))

    v = emb.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("e"),
    )
    sv = v.select(
        "__id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"),
                        F.slice("e", s * sub + 1, sub).alias("sv"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("x"),
    ).select("__id", F.col("x.s").alias("s"), F.col("x.sv").alias("sv"))
    from prajna_spark.operators.lifecycle import persist_scope, scoped_persist

    book = [[list(seed[s][c]) for c in range(k)] for s in range(m)]
    # the function owns the exploded frame's cache lifetime: every
    # consumer (the n_iter training scans) finishes before return and the
    # result is driver-side floats, so relying on the CALLER's
    # persist_scope would leak an n*m-row cache for the session when no
    # scope is active (round-6 ADVICE)
    with persist_scope():
        sv = scoped_persist(sv)  # n_iter scans of the exploded frame
        for _ in range(n_iter):
            cb = json_const(book, "array<array<array<double>>>")
            scored = F.transform(
                F.element_at(cb, F.col("s") + 1),
                lambda e, i: F.struct(
                    sqdist(F.col("sv"), e).alias("d"), i.alias("i")
                ),
            )
            best = first_extremum(
                scored, "struct<d:double,i:int>", "d", "i", minimize=True
            )
            assigned = sv.select("s", best["i"].alias("cid"), "sv")
            means = lloyd_means(assigned, ["s", "cid"], round_decimals)
            new = {(r.s, r.cid): list(r.centroid) for r in means.collect()}
            for s in range(m):
                for c in range(k):
                    book[s][c] = new.get((s, c), book[s][c])

    return book


def pq_enc_struct(
    codebook: list[list[list[float]]], vec_col: str = "embedding"
) -> Column:
    """The PQ encode as ONE pure COLUMN EXPRESSION: a
    ``struct<codes:array<bigint>, err:double>`` over ``vec_col`` —
    codes[s] the argmin code of subspace s, err the unrounded summed
    reconstruction error. Map-only by construction, so consumers that
    need codes NEXT TO other per-vector columns project them in place
    instead of joining :func:`pq_encode`'s output back against the
    corpus (that join was a full corpus self-shuffle for what is a
    per-row expression).

    The whole codebook rides in as ONE :func:`json_const` referenced
    once, and each subspace's distance array is traversed once by
    :func:`first_extremum` (higher-order functions are CodegenFallback:
    no common-subexpression elimination, so every extra reference would
    re-run the m x k x sub_dim distance folds per row). Ties go to the
    lowest code; err accumulates in left-to-right subspace order
    ((0.0 + d0) + d1 ... with d >= 0, and +0.0 + x == x bit-exactly).

    Consumers needing BOTH fields must alias the struct in one
    projection and extract fields in a SECOND (see pq_encode):
    referencing the struct twice in one select would duplicate the
    whole fold per row again (CollapseProject leaves the two-step
    spelling alone — the alias is non-cheap and referenced twice)."""
    m = len(codebook)
    sub_dim = len(codebook[0][0])
    v = F.col(vec_col).cast("array<double>")
    cb3 = json_const(codebook, "array<array<array<double>>>")
    bests = F.transform(
        cb3,
        lambda book_s, s: first_extremum(
            F.transform(
                book_s,
                lambda e, i: F.struct(
                    sqdist(F.slice(v, s * sub_dim + 1, sub_dim), e).alias("d"),
                    i.alias("i"),
                ),
            ),
            "struct<d:double,i:int>",
            "d",
            "i",
            minimize=True,
        ),
    )
    return F.aggregate(
        bests,
        F.struct(
            F.array().cast("array<bigint>").alias("codes"),
            F.lit(0.0).alias("err"),
        ),
        lambda acc, b: F.struct(
            F.concat(acc["codes"], F.array(b["i"].cast("bigint"))).alias(
                "codes"
            ),
            (acc["err"] + b["d"]).alias("err"),
        ),
    )


def pq_encode(
    emb: DataFrame,
    codebook: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    err_decimals: int = 6,
) -> DataFrame:
    """Map-only PQ encode: (id, codes array<long> of length m,
    recon_err). The codebook is folded into literal expressions, so the
    plan is ONE projection — no join, no shuffle, any corpus size.
    Two-step select: the encode struct is evaluated ONCE per row and
    its fields extracted above (see pq_enc_struct — a single select
    referencing it twice would run the whole fold twice per row)."""
    enc = pq_enc_struct(codebook, vec_col)
    return emb.select(F.col(id_col), enc.alias("__enc")).select(
        id_col,
        F.col("__enc.codes").alias("codes"),
        pround(F.col("__enc.err"), err_decimals).alias("recon_err"),
    )


def adc_distance(
    codebook: list[list[list[float]]], q_vec: Column, codes: Column
) -> Column:
    """Asymmetric distance: the EXACT query against a candidate's codes —
    per subspace the codebook entry codes[s] selects and the squared-L2
    to the query's exact sub-vector (the lookup-table walk); terms sum
    left-associated in subspace order ((0.0 + d0) + d1 ..., bit-equal to
    the former d0 + d1 ... chain since d >= 0). The codebook rides in as
    ONE :func:`json_const` referenced once."""
    sub_dim = len(codebook[0][0])
    cb3 = json_const(codebook, "array<array<array<double>>>")
    terms = F.transform(
        cb3,
        lambda book_s, s: sqdist(
            F.slice(q_vec, s * sub_dim + 1, sub_dim),
            F.element_at(book_s, F.element_at(codes, s + 1).cast("int") + 1),
        ),
    )
    return F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x)


def pq_adc_recall(
    emb: DataFrame,
    codebook: list[list[list[float]]],
    n_queries: int = 20,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dec: int = 6,
) -> DataFrame:
    """Recall@k of ADC search vs exact squared-L2, per query.

    One broadcast cross join computes BOTH distances per (query,
    candidate) pair — the exact one on full vectors, the ADC one by
    summing the m codebook entries the candidate's codes select (the
    query side of each term is exact: asymmetric) — then two windows
    rank them and recall@k is the overlap. Candidates never shuffle;
    pair frame is |queries| * N with narrow payloads."""
    from pyspark.sql import Window

    # codes are a per-row expression — project them next to the full
    # vector instead of joining pq_encode's output back on id (that was
    # a corpus-sized self-join for a map-only computation; same rows,
    # since id_col is unique)
    cand = emb.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).cast("array<double>").alias("c_vec"),
        pq_enc_struct(codebook, vec_col)["codes"].alias("codes"),
    )
    q = emb.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("q_vec"),
    )
    pairs = cand.crossJoin(F.broadcast(q)).where(
        F.col("cand_id") != F.col("query_id")
    )

    exact = sqdist(F.col("q_vec"), F.col("c_vec"))

    adc = adc_distance(codebook, F.col("q_vec"), F.col("codes"))

    scored = pairs.select(
        "query_id",
        "cand_id",
        pround(exact, dec).alias("d_exact"),
        pround(adc, dec).alias("d_adc"),
    )
    w_e = Window.partitionBy("query_id").orderBy("d_exact", "cand_id")
    w_a = Window.partitionBy("query_id").orderBy("d_adc", "cand_id")
    ranked = scored.select(
        "query_id",
        "cand_id",
        F.row_number().over(w_e).alias("rk_e"),
        F.row_number().over(w_a).alias("rk_a"),
    )
    # group over the exact top-k (always k rows per query) so a query
    # with ZERO overlap still emits a row
    return (
        ranked.where(F.col("rk_e") <= k)
        .groupBy("query_id")
        .agg(
            F.sum(
                F.when(F.col("rk_a") <= k, F.lit(1)).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_overlap")
        )
        .select(
            "query_id",
            "n_overlap",
            pround(F.col("n_overlap").cast("double") / F.lit(float(k)), 2).alias(
                "recall"
            ),
        )
    )


def ivf_pq_search(
    emb: DataFrame,
    codebook: list[list[list[float]]],
    centroids: list[tuple[int, list[float]]],
    n_queries: int = 5,
    nprobe: int = 4,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dec: int = 6,
) -> DataFrame:
    """IVF-PQ: the composed vector-index architecture — a coarse
    quantizer prunes the candidate set to ``nprobe`` cells, ADC on PQ
    codes ranks the survivors. The memory story at scale: the index
    stores CODES (m bytes/vector) partitioned by cell; full vectors are
    touched only for queries.

    Both quantizer passes fold into literal expressions (centroids and
    codebooks are tiny): cell assignment and encode are MAP-ONLY over
    the corpus; the only data-sized operation is the cell-id equi-join
    against the broadcast probe list. Returns
    (query_id, neighbor_id, d_adc, rk).
    """
    from pyspark.sql import Window

    v = F.col(vec_col).cast("array<double>")
    cid_arr = F.array(*[F.lit(int(cid)).cast("long") for cid, _ in centroids])
    # (squared L2, cid) per centroid in centroid-list order: its first
    # minimum is a row's cell, and its nprobe smallest are a query's probes
    cents_scored = F.transform(
        json_const([ce for _, ce in centroids], "array<array<double>>"),
        lambda ce, i: F.struct(
            sqdist(v, ce).alias("d"),
            F.element_at(cid_arr, i + 1).alias("cid"),
        ),
    )
    cell = first_extremum(
        cents_scored, "struct<d:double,cid:bigint>", "d", "cid", minimize=True
    )["cid"]

    # cell id and codes are both per-row expressions — one projection,
    # no corpus self-join (id_col unique, so rows are identical to the
    # former pq_encode join)
    indexed = emb.select(
        F.col(id_col).alias("cand_id"),
        cell.alias("cell"),
        pq_enc_struct(codebook, vec_col)["codes"].alias("codes"),
    )
    q = emb.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        v.alias("q_vec"),
        F.slice(F.array_sort(cents_scored), 1, nprobe).alias("probed"),
    )
    probes = q.select(
        "query_id", "q_vec", F.explode("probed").alias("p")
    ).select("query_id", "q_vec", F.col("p.cid").alias("cell"))

    cand = indexed.join(F.broadcast(probes), "cell").where(
        F.col("cand_id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        "cand_id",
        pround(adc_distance(codebook, F.col("q_vec"), F.col("codes")), dec).alias(
            "d_adc"
        ),
    )
    w = Window.partitionBy("query_id").orderBy("d_adc", "cand_id")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
        .select("query_id", F.col("cand_id").alias("neighbor_id"), "d_adc", "rk")
    )
