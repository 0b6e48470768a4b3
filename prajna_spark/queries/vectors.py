"""Similarity-search catalog queries over the ``embeddings`` table
(north-star LLM-pipeline surface).

Oracle parity technique: both engines compute dot products as sequential
folds over double-precision arrays (Spark F.aggregate/zip_with; DuckDB
list_sum/list_transform) with identical operation order, similarities are
rounded BEFORE ranking, and ties break on vec_id — so top-k sets match
exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prajna_spark.functions.rounding import R, pround
from prajna_spark.operators.fanout import fan_out
from prajna_spark.pipeline import similarity
from prajna_spark.queries import query, work_dir
from prajna_spark.session import scale_shuffle_partitions, tune
from prajna_spark.sources import load_table

DIM = 64  # embeddings table dimension (TESTDATA)

_DOT = (
    "list_sum(list_transform(range(1, {d} + 1), i -> {a}[CAST(i AS INT)]"
    " * {b}[CAST(i AS INT)]))"
)


def _dot_terms(a: str, b: str, d: int = DIM) -> str:
    """Explicit left-associated term sum ``a[1]*b[1] + ... + a[d]*b[d]``.

    Same sequential fp order as Spark's F.aggregate fold AND ~30x faster in
    DuckDB than the list_transform(range) spelling (no per-row list
    allocation). Use on named array columns only — inlining a CAST
    expression 64x defeats the point.
    """
    return "(" + " + ".join(f"{a}[{i}] * {b}[{i}]" for i in range(1, d + 1)) + ")"


def _emb_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings scan WITHOUT the corpus fan-out: the right frame
    for K-row SLICES that feed a driver collect (_centroid_entries, the
    PQ seed codebook) or a tiny broadcast build (query sets) — routing
    those through fan_out's repartition paid a 32-task exchange per
    collect/broadcast job just to fetch a handful of rows (measured
    r12: ann_ivf_topk's centroid-collect build step 1.15 s warm, the
    single biggest piece of its cold-path regression). Same rows, same
    values — only the tiny jobs' plans change."""
    tune(spark)
    # embedding rows carry a dim-wide float array each, and the cell/
    # assignment stages (semdedup, IVF training) explode them by dim or
    # by pair — per-task working sets scale with rows x dim, so the
    # pre-coalesce granularity follows the embeddings footers with a
    # low rows-per-partition; sf0.1 (2k rows / 500 = 4 -> floor 32)
    # keeps small-scale plans byte-identical
    scale_shuffle_partitions(
        spark, sf_dir, table="embeddings", rows_per_partition=500
    )
    return load_table(spark, "embeddings", sf_dir)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the sf0.1 table is ONE parquet file -> one scan split, and the
    # vector tier's heavy work is MAP-SIDE (PQ encode / ADC / centroid
    # assignment fold the codebooks into per-row literal expressions):
    # without a fan-out the whole corpus pass runs on one core no matter
    # how many exist (measured: pq_encode 5.4s -> ~1s). Conditional, so
    # a many-split 100 TB table never pays the shuffle.
    return fan_out(_emb_raw(spark, sf_dir))


@query(
    "knn_bruteforce_cosine",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), q AS (
      SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 5
    ), scored AS (
      SELECT q.qid AS query_id, v.vec_id AS neighbor_id,
             {R(f'''{_DOT.format(d=DIM, a="q.qe", b="v.e")}
               / (sqrt({_DOT.format(d=DIM, a="q.qe", b="q.qe")})
                  * sqrt({_DOT.format(d=DIM, a="v.e", b="v.e")}))''', 6)} AS sim
      FROM v CROSS JOIN q
      WHERE v.vec_id <> q.qid
    )
    SELECT query_id, neighbor_id, sim, rk FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
      FROM scored
    ) WHERE rk <= 10
    """,
    tags=("similarity", "knn", "cosine"),
)
def knn_bruteforce_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for 5 query vectors (vec_id < 5) — the
    brute-force baseline (pipeline.similarity.knn_bruteforce): query side
    broadcast, candidates scored in place, per-query window top-k."""
    emb = _emb(spark, sf_dir)
    # query slice off the RAW scan: the broadcast build job reads 5 rows
    # and should not pay the corpus fan-out's exchange (same rows)
    return similarity.knn_bruteforce(
        emb,
        _emb_raw(spark, sf_dir).where(F.col("vec_id") < 5),
        k=10,
        sim_decimals=6,
    )


def _srp_bucket_sql(e: str = "e") -> str:
    """SRP bucket id over a named DOUBLE[] column ``e`` — explicit-term
    plane dots (see _dot_terms) with the hyperplane components inlined as
    literals."""
    planes = similarity.srp_hyperplanes(DIM, 8)
    terms = []
    for j, plane in enumerate(planes):
        s = "(" + " + ".join(f"{e}[{i + 1}] * ({plane[i]})" for i in range(DIM)) + ")"
        terms.append(f"(CASE WHEN {s} > 0 THEN {2**j} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


@query(
    "srp_lsh_buckets",
    oracle=f"""
    WITH v AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    )
    SELECT bucket, count(*) AS n_vectors, min(vec_id) AS min_vec_id
    FROM (SELECT vec_id, {_srp_bucket_sql()} AS bucket FROM v)
    GROUP BY bucket
    """,
    tags=("similarity", "lsh", "ann"),
)
def srp_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed-random-projection LSH bucket histogram (8 deterministic
    md5-seeded hyperplanes → 256 buckets) — the ANN scale path's
    candidate-generation key (pipeline.similarity.srp_bucket). At 100 TB
    the ANN join shuffles on this bucket id instead of cross-joining."""
    emb = _emb(spark, sf_dir)
    return (
        emb.select(
            "vec_id",
            similarity.srp_bucket(F.col("embedding"), DIM, 8).alias("bucket"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("vec_id").alias("min_vec_id"),
        )
    )


@query(
    "embedding_norm_stats",
    oracle=f"""
    SELECT label,
           count(*) AS n,
           {R(f'''avg({_DOT.format(d=DIM, a="CAST(embedding AS DOUBLE[])",
                                  b="CAST(embedding AS DOUBLE[])")})''', 4)}
               AS avg_sq_norm,
           {R(f'''min(sqrt({_DOT.format(d=DIM, a="CAST(embedding AS DOUBLE[])",
                                       b="CAST(embedding AS DOUBLE[])")}))''', 4)}
               AS min_norm,
           {R(f'''max(sqrt({_DOT.format(d=DIM, a="CAST(embedding AS DOUBLE[])",
                                       b="CAST(embedding AS DOUBLE[])")}))''', 4)}
               AS max_norm
    FROM embeddings
    GROUP BY label
    """,
    tags=("similarity", "vector-stats"),
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label vector norm statistics — exercises the double-precision
    vector arithmetic (pipeline.similarity.dot/norm) under aggregation."""
    emb = _emb(spark, sf_dir)
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    sq = similarity.dot(e, e)
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        pround(F.avg(sq), 4).alias("avg_sq_norm"),
        pround(F.min(F.sqrt(sq)), 4).alias("min_norm"),
        pround(F.max(F.sqrt(sq)), 4).alias("max_norm"),
    )


def _SIM(a: str, b: str) -> str:
    """Rounded cosine similarity SQL fragment (matches pipeline.similarity
    cosine + pround exactly: sequential-fold dot, IEEE round at 6)."""
    return R(
        f"""{_DOT.format(d=DIM, a=a, b=b)}
          / (sqrt({_DOT.format(d=DIM, a=a, b=a)})
             * sqrt({_DOT.format(d=DIM, a=b, b=b)}))""",
        6,
    )


# Shared by ann_ivf_topk (in-memory) and search_ivf_index_persisted (the
# partitioned on-disk layout): identical parameters (16 seed centroids,
# 5 queries, nprobe=4, k=10), so one oracle verifies BOTH implementations
# agree with DuckDB and, transitively, with each other.
_IVF_ORACLE = f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    cent AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < 16),
    asg AS (
      SELECT vec_id, cid FROM (
        SELECT v.vec_id, cent.cid,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY {_SIM("v.e", "cent.ce")} DESC, cent.cid) AS rn
        FROM v CROSS JOIN cent
      ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 5),
    probes AS (
      SELECT qid, cid FROM (
        SELECT q.qid, cent.cid,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY {_SIM("q.qe", "cent.ce")} DESC, cent.cid) AS rn
        FROM q CROSS JOIN cent
      ) WHERE rn <= 4
    ),
    cand AS (
      SELECT p.qid AS query_id, a.vec_id AS neighbor_id,
             {_SIM("q.qe", "v.e")} AS sim
      FROM probes p
      JOIN asg a ON a.cid = p.cid
      JOIN v    ON v.vec_id = a.vec_id
      JOIN q    ON q.qid = p.qid
      WHERE a.vec_id <> p.qid
    )
    SELECT query_id, neighbor_id, sim, rk FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
      FROM cand
    ) WHERE rk <= 10
    """


@query(
    "ann_ivf_topk",
    oracle=_IVF_ORACLE,
    tags=("similarity", "ann", "ivf"),
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-10 for 5 query vectors: 16 deterministic seed centroids
    (vec_id < 16), nprobe=4 — exact cosine restricted to probed cells
    (pipeline.similarity.knn_ivf). The data-sized work is one equi-join on
    centroid_id; both centroid passes are broadcast, so the plan scales to
    arbitrarily many indexed vectors."""
    emb = _emb(spark, sf_dir)
    # centroid/query slices off the RAW scan: the 16-row centroid
    # COLLECT (the map-only assignment's driver read) and the 5-row
    # query broadcast should not pay the corpus fan-out's exchange —
    # that repartition made the collect job the largest piece of this
    # query's cold build cost (r12 cold_probe; same rows, same values)
    raw = _emb_raw(spark, sf_dir)
    return similarity.knn_ivf(
        vectors=emb,
        queries=raw.where(F.col("vec_id") < 5),
        centroids=raw.where(F.col("vec_id") < 16),
        k=10,
        nprobe=4,
    )


@query(
    "search_ivf_index_persisted",
    oracle=_IVF_ORACLE,
    tags=("similarity", "ann", "ivf", "index", "dpp"),
)
def search_ivf_index_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED IVF path (pipeline.similarity.build_ivf_index /
    search_ivf_index): materialize the index PARTITIONED BY centroid_id,
    then probe it — the partition filter on centroid_id prunes the scan to
    the nprobe cells (dynamic partition pruning; plan-asserted in
    tests/test_ivf_index.py). Same parameters as ann_ivf_topk, same
    oracle: the on-disk layout must return exactly the in-memory result."""
    from prajna_spark.pipeline.similarity import build_ivf_index, search_ivf_index

    emb = _emb(spark, sf_dir)
    # raw slices for the centroid collect + query/probe broadcasts
    # (see ann_ivf_topk; same rows)
    raw = _emb_raw(spark, sf_dir)
    cent = raw.where(F.col("vec_id") < 16)
    path = work_dir("ivf_index_q", sf_dir) + "/index"
    build_ivf_index(emb, cent, path)
    return search_ivf_index(
        spark,
        path,
        queries=raw.where(F.col("vec_id") < 5),
        centroids=cent,
        k=10,
        nprobe=4,
    )


@query(
    "quantize_embeddings_int8",
    oracle=f"""
    -- symmetric per-vector int8 quantization; codes leave as an md5 of
    -- the comma-joined ints (catalog convention: arrays never leave raw)
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), s AS (
      SELECT vec_id, e,
             list_max(list_transform(e, x -> abs(x))) AS mx
      FROM v
    ), q AS (
      SELECT vec_id,
             {R('mx / 127.0', 6)} AS q8_scale,
             CASE WHEN mx = 0e0
                  THEN list_transform(e, x -> 0)
                  ELSE list_transform(e, x -> CAST(sign(x)
                       * floor(abs(x) / (mx / 127.0) + 5e-1) AS INT))
             END AS codes
      FROM s
    )
    SELECT vec_id, q8_scale,
           md5(array_to_string(codes, ',')) AS codes_md5,
           CAST(list_sum(list_transform(codes, c -> abs(c))) AS BIGINT)
             AS l1_norm
    FROM q
    """,
    tags=("quantization", "int8", "ann", "compression"),
)
def quantize_embeddings_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization (pipeline.similarity.quantize_int8) —
    the 4x index-compression step before ANN serving. Codes are
    bit-identical across engines (floor-on-magnitude rounding), verified
    through an md5 digest of the code vector plus its L1 norm. Row-local
    transforms only — no key shuffle; the only data movement is the
    loader's conditional ingest fan-out (a scale no-op)."""
    emb = _emb(spark, sf_dir)
    q = similarity.quantize_int8(emb, "embedding", "q8")
    return q.select(
        "vec_id",
        pround(F.col("q8_scale"), 6).alias("q8_scale"),
        F.md5(F.concat_ws(",", F.transform("q8", lambda c: c.cast("string")))).alias(
            "codes_md5"
        ),
        F.aggregate(
            "q8", F.lit(0).cast("long"), lambda acc, c: acc + F.abs(c)
        ).alias("l1_norm"),
    )


@query(
    "quantized_knn_recall",
    oracle=f"""
    -- recall@10 of brute-force kNN over DEQUANTIZED int8 vectors vs the
    -- float exact top-10: measures what the 4x compression costs in
    -- neighbor quality (the dial a quantized ANN deployment monitors)
    WITH v AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), s AS MATERIALIZED (
      SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS mx FROM v
    ), dq AS MATERIALIZED (
      SELECT vec_id,
             CASE WHEN mx = 0e0 THEN list_transform(e, x -> 0e0)
                  ELSE list_transform(e, x -> CAST(sign(x)
                       * floor(abs(x) / (mx / 127.0) + 5e-1) AS INT)
                       * (mx / 127.0))
             END AS d
      FROM s
    ), q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 5),
    exact AS (
      SELECT qid, neighbor_id FROM (
        SELECT q.qid, v.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.qid ORDER BY
                 {_SIM("q.qe", "v.e")} DESC, v.vec_id) AS rk
        FROM v CROSS JOIN q WHERE v.vec_id <> q.qid
      ) WHERE rk <= 10
    ),
    quant AS (
      SELECT qid, neighbor_id FROM (
        SELECT q.qid, dq.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.qid ORDER BY
                 {_SIM("q.qe", "dq.d")} DESC, dq.vec_id) AS rk
        FROM dq CROSS JOIN q WHERE dq.vec_id <> q.qid
      ) WHERE rk <= 10
    )
    SELECT e.qid AS query_id,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
           {R('count(a.neighbor_id) / 1e1', 2)} AS recall_at_10
    FROM exact e
    LEFT JOIN quant a
      ON a.qid = e.qid AND a.neighbor_id = e.neighbor_id
    GROUP BY e.qid
    """,
    tags=("similarity", "quantization", "eval", "recall"),
)
def quantized_knn_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of kNN over the int8-dequantized vectors against the
    float exact top-10 — the quality dial for the 4x-compressed index
    (pipeline.similarity.quantize_int8). Quantization is row-local; both
    kNN legs are the broadcast-queries brute-force operator; the hit
    count is the same semi-join shape as ann_recall_eval."""
    emb = _emb(spark, sf_dir)
    # query slice off the RAW scan (see knn_bruteforce_cosine; same rows)
    queries_df = _emb_raw(spark, sf_dir).where(F.col("vec_id") < 5)
    qz = similarity.quantize_int8(emb, "embedding", "q8")
    deq = qz.select(
        "vec_id",
        F.transform(
            "q8", lambda c: c.cast("double") * F.col("q8_scale")
        ).alias("embedding"),
    )
    exact = similarity.knn_bruteforce(emb, queries_df, k=10, sim_decimals=6).select(
        "query_id", "neighbor_id"
    )
    quant = similarity.knn_bruteforce(deq, queries_df, k=10, sim_decimals=6).select(
        F.col("query_id").alias("a_qid"), F.col("neighbor_id").alias("a_nid")
    )
    hits = exact.join(
        F.broadcast(quant),
        (F.col("query_id") == F.col("a_qid"))
        & (F.col("neighbor_id") == F.col("a_nid")),
        "left",
    )
    return hits.groupBy("query_id").agg(
        F.count("a_nid").cast("long").alias("n_hit"),
        pround(F.count("a_nid") / F.lit(10.0), 2).alias("recall_at_10"),
    )


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    -- candidate generation restricted to SRP-bucket collisions (the exact
    -- plan the Spark side runs), then rounded-cosine threshold; norms are
    -- precomputed per vector exactly like the Spark side's with_norm
    WITH v AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), b AS MATERIALIZED (
      SELECT vec_id, e, {_srp_bucket_sql()} AS bucket,
             sqrt({_dot_terms("e", "e")}) AS nrm
      FROM v
    ), scored AS (
      SELECT a.vec_id AS id_a, c.vec_id AS id_b,
             {R(f"{_dot_terms('a.e', 'c.e')} / (a.nrm * c.nrm)", 6)} AS sim
      FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    )
    SELECT id_a, id_b, sim FROM scored WHERE sim >= 0.35
    """,
    tags=("dedup", "embedding", "cosine", "ann"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: SRP-LSH bucket self-join for
    candidates (equi-join on bucket id — never an all-pairs cross join),
    then exact rounded cosine >= 0.35 within bucket. The near-dup twin of
    text MinHash-LSH, on the vector modality; at 100 TB the shuffle key is
    the 256-valued bucket id and pair work is bounded per bucket."""
    emb = _emb(spark, sf_dir)
    b = similarity.with_norm(
        emb.select(
            "vec_id",
            "embedding",
            similarity.srp_bucket(F.col("embedding"), DIM, 8).alias("bucket"),
        ),
        "embedding",
        "nrm",
    )
    a = b.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("e_a"),
        F.col("nrm").alias("n_a"),
        "bucket",
    )
    c = b.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("e_b"),
        F.col("nrm").alias("n_b"),
        "bucket",
    )
    return (
        a.join(c, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            pround(
                similarity.paired_cosine(
                    F.col("e_a"), F.col("e_b"), F.col("n_a"), F.col("n_b")
                ),
                6,
            ).alias("sim"),
        )
        .where(F.col("sim") >= 0.35)
    )


def _kmeans_ctes(k: int = 16, n_iter: int = 3, d: int = DIM, dec: int = 6) -> list[str]:
    """Shared CTE chain replaying the deterministic Lloyd run in DuckDB,
    ending in ``c{n_iter}`` (final rounded centroids) and ``af`` (final
    assignment: vec_id, e, centroid_id). Exactness contract (mirrors
    pipeline.similarity.kmeans_centroids(round_decimals=dec)): identical
    deterministic init (k lowest-id vectors), identical left-associated
    squared-L2 term order, identical argmin tie-break (lowest
    centroid_id), and centroid means rounded with the portable R/pround
    spelling after every iteration — so fp aggregation-order noise is
    absorbed and both engines walk the same centroid sequence. Used by
    the kmeans oracle AND every downstream replay (SemDeDup)."""

    def sq(a: str, b: str) -> str:
        return "(" + " + ".join(
            f"({a}[{i}] - {b}[{i}]) * ({a}[{i}] - {b}[{i}])" for i in range(1, d + 1)
        ) + ")"

    mean_list = "[" + ", ".join(R(f"avg(e[{i}])", dec) for i in range(1, d + 1)) + "]"
    ctes = [
        "v AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e"
        " FROM embeddings)",
        f"""c0 AS MATERIALIZED (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS centroid_id,
                 e AS c
          FROM v ORDER BY vec_id LIMIT {k})""",
    ]
    for n in range(1, n_iter + 1):
        ctes.append(f"""a{n} AS MATERIALIZED (
          SELECT vec_id, e, centroid_id FROM (
            SELECT v.vec_id, v.e, p.centroid_id,
                   row_number() OVER (PARTITION BY v.vec_id
                     ORDER BY {sq("v.e", "p.c")}, p.centroid_id) AS rk
            FROM v CROSS JOIN c{n - 1} p
          ) WHERE rk = 1)""")
        ctes.append(f"""m{n} AS MATERIALIZED (
          SELECT centroid_id, {mean_list} AS c FROM a{n} GROUP BY centroid_id)""")
        ctes.append(f"""c{n} AS MATERIALIZED (
          SELECT p.centroid_id, coalesce(m.c, p.c) AS c
          FROM c{n - 1} p LEFT JOIN m{n} m USING (centroid_id))""")
    ctes.append(f"""af AS MATERIALIZED (
      SELECT vec_id, e, centroid_id FROM (
        SELECT v.vec_id, v.e, p.centroid_id,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY {sq("v.e", "p.c")}, p.centroid_id) AS rk
        FROM v CROSS JOIN c{n_iter} p
      ) WHERE rk = 1)""")
    return ctes


def _kmeans_oracle(k: int = 16, n_iter: int = 3, d: int = DIM, dec: int = 6) -> str:
    """Final-centroid + assignment-count projection of the Lloyd replay
    (see _kmeans_ctes for the exactness contract). Centroid arrays are
    emitted in (dim_idx, dim_value) LONG FORM — the driver's
    canonicalizer cannot hash array-typed cells (VERDICT r6 item 1), so
    both engines unnest the k x d matrix to scalar rows."""
    joined = ",\n    ".join(_kmeans_ctes(k, n_iter, d, dec))
    return f"""
    WITH {joined}
    SELECT p.centroid_id,
           CAST(generate_subscripts(p.c, 1) AS BIGINT) - 1 AS dim_idx,
           unnest(p.c) AS dim_value,
           CAST(coalesce(cnt.n, 0) AS BIGINT) AS n_assigned
    FROM c{n_iter} p
    LEFT JOIN (SELECT centroid_id, count(*) AS n FROM af GROUP BY centroid_id) cnt
      USING (centroid_id)
    """


def _semdedup_oracle(
    k: int = 16,
    n_iter: int = 3,
    d: int = DIM,
    dec: int = 6,
    thr: str = "3e-1",
) -> str:
    """SemDeDup replay: the Lloyd chain's final assignment (af), then the
    in-cluster dominance test — a vector is dropped iff some SMALLER-id
    vector in the SAME cluster has rounded cosine >= thr with it. Mirrors
    pipeline.similarity.semdedup_survivors exactly (same rounded
    centroids, same argmin, same portable rounded cosine)."""
    ctes = _kmeans_ctes(k, n_iter, d, dec)
    ctes.append(f"""nn AS MATERIALIZED (
      SELECT vec_id, e, centroid_id, sqrt({_dot_terms("e", "e", d)}) AS nrm
      FROM af)""")
    ctes.append(f"""dom AS (
      SELECT DISTINCT b.vec_id FROM nn a JOIN nn b
        ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
      WHERE {R(f"{_dot_terms('a.e', 'b.e', d)} / (a.nrm * b.nrm)", 6)} >= {thr})""")
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT f.vec_id, f.centroid_id
    FROM af f LEFT JOIN dom ON f.vec_id = dom.vec_id
    WHERE dom.vec_id IS NULL
    """


@query(
    "ivf_kmeans_centroids",
    oracle=_kmeans_oracle(),
    tags=("iterative", "kmeans", "ivf"),
)
def ivf_kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3 Lloyd iterations refining 16 seed centroids
    (pipeline.similarity.kmeans_centroids). Driver holds only the k x dim
    centroid state between iterations; per-iteration shuffle carries
    k*dim aggregate rows. Output: (centroid_id, dim_idx, dim_value,
    n_assigned) — the centroid array posexploded to long form because the
    driver's canonicalizer cannot hash array cells (r6's one red row was
    exactly this failure class); values are hash-checked against a DuckDB
    replay of the same deterministic Lloyd run with per-iteration
    portable rounding (round_decimals=6) absorbing fp aggregation-order
    noise."""
    emb = _emb(spark, sf_dir)
    out = similarity.kmeans_centroids(emb, k=16, n_iter=3, round_decimals=6)
    return out.select(
        "centroid_id",
        F.posexplode("centroid").alias("p", "dim_value"),
        "n_assigned",
    ).select(
        "centroid_id",
        F.col("p").cast("long").alias("dim_idx"),
        "dim_value",
        "n_assigned",
    )


@query(
    "knn_label_consistency",
    oracle=f"""
    -- embedding-quality eval: fraction of each query's top-10 neighbours
    -- sharing its label (kNN classifier agreement)
    WITH v AS MATERIALIZED (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), q AS (
      SELECT vec_id AS qid, label AS qlabel, e AS qe FROM v WHERE vec_id < 20
    ), scored AS (
      SELECT q.qid, q.qlabel, v.label AS nlabel,
             row_number() OVER (PARTITION BY q.qid ORDER BY
               {R(f'''{_DOT.format(d=DIM, a="q.qe", b="v.e")}
                 / (sqrt({_DOT.format(d=DIM, a="q.qe", b="q.qe")})
                    * sqrt({_DOT.format(d=DIM, a="v.e", b="v.e")}))''', 6)} DESC,
               v.vec_id) AS rk
      FROM v CROSS JOIN q
      WHERE v.vec_id <> q.qid
    )
    SELECT qid AS query_id, qlabel AS query_label,
           CAST(sum(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END) AS BIGINT)
             AS n_same,
           {R('sum(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END) / 1e1', 2)}
             AS consistency
    FROM scored WHERE rk <= 10
    GROUP BY qid, qlabel
    """,
    tags=("similarity", "knn", "eval", "composition"),
)
def knn_label_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality eval composed from the primitives: exact kNN
    (pipeline.similarity.knn_bruteforce) -> broadcast label attach ->
    per-query agreement rate. The standard 'do nearest neighbours share
    my label' check an embedding pipeline runs after every retrain;
    everything JVM-side, labels broadcast twice (queries + neighbours)."""
    emb = _emb(spark, sf_dir)
    # raw slices for the query/label broadcast builds (see
    # knn_bruteforce_cosine; same rows)
    raw = _emb_raw(spark, sf_dir)
    labels = raw.select("vec_id", "label")
    knn = similarity.knn_bruteforce(
        emb, raw.where(F.col("vec_id") < 20), k=10, sim_decimals=6
    )
    joined = (
        knn.join(
            F.broadcast(
                labels.select(
                    F.col("vec_id").alias("query_id"),
                    F.col("label").alias("query_label"),
                )
            ),
            "query_id",
        )
        .join(
            F.broadcast(
                labels.select(
                    F.col("vec_id").alias("neighbor_id"),
                    F.col("label").alias("neighbor_label"),
                )
            ),
            "neighbor_id",
        )
    )
    same = F.when(F.col("neighbor_label") == F.col("query_label"), 1).otherwise(0)
    return joined.groupBy("query_id", "query_label").agg(
        F.sum(same).cast("long").alias("n_same"),
        pround(F.sum(same) / F.lit(10.0), 2).alias("consistency"),
    )


@query(
    "ann_recall_eval",
    oracle=f"""
    -- recall@10 of IVF(nprobe=4) against exact cosine top-10 per query:
    -- the accuracy/cost dial every ANN deployment monitors
    WITH v AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    cent AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < 16),
    q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 5),
    exact AS (
      SELECT qid, neighbor_id FROM (
        SELECT q.qid, v.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.qid ORDER BY
                 {_SIM("q.qe", "v.e")} DESC, v.vec_id) AS rk
        FROM v CROSS JOIN q WHERE v.vec_id <> q.qid
      ) WHERE rk <= 10
    ),
    asg AS (
      SELECT vec_id, cid FROM (
        SELECT v.vec_id, cent.cid,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY {_SIM("v.e", "cent.ce")} DESC, cent.cid) AS rn
        FROM v CROSS JOIN cent
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT qid, cid FROM (
        SELECT q.qid, cent.cid,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY {_SIM("q.qe", "cent.ce")} DESC, cent.cid) AS rn
        FROM q CROSS JOIN cent
      ) WHERE rn <= 4
    ),
    approx AS (
      SELECT qid, neighbor_id FROM (
        SELECT p.qid, a.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY p.qid ORDER BY
                 {_SIM("q.qe", "v.e")} DESC, a.vec_id) AS rk
        FROM probes p
        JOIN asg a ON a.cid = p.cid
        JOIN v ON v.vec_id = a.vec_id
        JOIN q ON q.qid = p.qid
        WHERE a.vec_id <> p.qid
      ) WHERE rk <= 10
    )
    SELECT e.qid AS query_id,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
           {R('count(a.neighbor_id) / 1e1', 2)} AS recall_at_10
    FROM exact e
    LEFT JOIN approx a
      ON a.qid = e.qid AND a.neighbor_id = e.neighbor_id
    GROUP BY e.qid
    """,
    tags=("similarity", "ann", "eval", "recall"),
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the IVF ANN path against the exact brute-force top-10
    per query — the accuracy/cost dial (nprobe, n_centroids) every ANN
    deployment monitors after (re)building its index. Composed from the
    two existing verified operators plus a semi-join-shaped hit count."""
    emb = _emb(spark, sf_dir)
    # raw slices for the centroid collect + query broadcasts (see
    # ann_ivf_topk; same rows)
    raw = _emb_raw(spark, sf_dir)
    queries_df = raw.where(F.col("vec_id") < 5)
    cents = raw.where(F.col("vec_id") < 16)
    exact = similarity.knn_bruteforce(emb, queries_df, k=10, sim_decimals=6).select(
        "query_id", "neighbor_id"
    )
    approx = similarity.knn_ivf(emb, queries_df, cents, k=10, nprobe=4).select(
        F.col("query_id").alias("a_qid"), F.col("neighbor_id").alias("a_nid")
    )
    hits = exact.join(
        F.broadcast(approx),
        (F.col("query_id") == F.col("a_qid"))
        & (F.col("neighbor_id") == F.col("a_nid")),
        "left",
    )
    return hits.groupBy("query_id").agg(
        F.count("a_nid").cast("long").alias("n_hit"),
        pround(F.count("a_nid") / F.lit(10.0), 2).alias("recall_at_10"),
    )


# --------------------------------------------------------------------------
# distributed PCA (pipeline/pca.py)
# --------------------------------------------------------------------------

_PCA_ITER = 8


def _pca_oracle(n_iter: int = _PCA_ITER) -> str:
    """Fixed-iteration power-method replay (same technique as the
    pagerank oracle): covariance rounded at 9 decimals, each
    normalized iterate rounded at 9 (matvecs unrounded — see
    pipeline/pca.py's midpoint-commensurability note), final
    loadings/eigenvalue at 6."""
    ctes = [
        "v AS MATERIALIZED (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings)",
        "cnt AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM v)",
        f"""raw AS MATERIALIZED (
          SELECT ij.i, ij.j, sum(e[ij.i] * e[ij.j]) AS g
          FROM v, (SELECT a.i, b.i AS j
                   FROM range(1, {DIM + 1}) a(i), range(1, {DIM + 1}) b(i)) ij
          GROUP BY ij.i, ij.j)""",
        f"""mu AS MATERIALIZED (
          SELECT t.i, sum(e[t.i]) / (SELECT n FROM cnt) AS m
          FROM v, range(1, {DIM + 1}) t(i) GROUP BY t.i)""",
        f"""c AS MATERIALIZED (
          SELECT r.i, r.j,
                 {R('r.g / (SELECT n FROM cnt) - ma.m * mb.m', 9)} AS val
          FROM raw r
          JOIN mu ma ON ma.i = r.i
          JOIN mu mb ON mb.i = r.j)""",
        f"v0 AS (SELECT t.i, 1e0 / sqrt({DIM}e0) AS x FROM range(1, {DIM + 1}) t(i))",
    ]
    for k in range(1, n_iter + 1):
        # the matvec stays UNROUNDED: its terms are exact multiples of the
        # covariance grain, so rounding it would sit exactly on .5e-9
        # midpoints (see pipeline/pca.py); the post-normalization rounding
        # is collision-free because the norm is irrational
        ctes.append(
            f"""w{k} AS MATERIALIZED (
              SELECT c.i, sum(c.val * p.x) AS x
              FROM c JOIN v{k - 1} p ON p.i = c.j GROUP BY c.i)"""
        )
        ctes.append(
            f"""v{k} AS MATERIALIZED (
              SELECT i, {R(f'x / (SELECT sqrt(sum(x * x)) FROM w{k})', 9)} AS x
              FROM w{k})"""
        )
    last = f"v{n_iter}"
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined},
    lam AS (
      SELECT {R('sum(a.x * c.val * b.x)', 6)} AS ev
      FROM c JOIN {last} a ON a.i = c.i JOIN {last} b ON b.i = c.j
    )
    SELECT CAST(t.i AS INT) AS dim_idx, {R('t.x', 6)} AS loading,
           (SELECT ev FROM lam) AS eigenvalue
    FROM {last} t
    """


@query(
    "pca_top_component_embeddings",
    oracle=_pca_oracle(),
    tags=("pca", "linear-algebra", "iterative", "vectors", "pipeline"),
)
def pca_top_component_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus (pipeline/pca.py):
    ONE Arrow-batched corpus pass accumulates the Gram matrix/column
    sums/count as (i, j, partial) triples (numpy matmul per batch, hash
    sum to dim^2+dim+1 rows), then 8 power iterations run on the
    driver-bounded 64x64 covariance with per-iteration portable rounding
    — the pagerank replay technique, so DuckDB reproduces loadings AND
    eigenvalue hash-exactly. The corpus is touched exactly once; nothing
    driver-side scales with rows."""
    from prajna_spark.pipeline.pca import pca_top_component

    emb = _emb(spark, sf_dir).select(
        F.col("embedding").cast("array<double>").alias("e")
    )
    return pca_top_component(emb, "e", DIM, n_iter=_PCA_ITER)


@query(
    "standardize_embeddings_z",
    oracle=f"""
    -- per-dimension z-score replay; exploded long form so values compare
    -- engine-to-engine without array formatting concerns
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), x AS (
      SELECT vec_id, CAST(i AS BIGINT) AS dim, e[CAST(i AS INT)] AS val
      FROM v, range(1, {DIM} + 1) t(i)
    ), s AS (
      SELECT dim, avg(val) AS mu, stddev_pop(val) AS sd FROM x GROUP BY dim
    )
    SELECT x.vec_id, x.dim,
           round(CASE WHEN s.sd = 0 THEN 0e0
                      ELSE (x.val - s.mu) / s.sd END, 6) AS z
    FROM x JOIN s USING (dim)
    """,
    tags=("vectors", "features", "normalization", "pipeline"),
)
def standardize_embeddings_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-wise standardization of the embedding column
    (pipeline.features.standardize_embeddings): per-dimension mean/std
    collapse to ONE broadcast row of (mus[], sds[]) arrays and the
    z-vectors are produced map-side by zip_with — the table's vectors
    cross the wire zero times; only dim-keyed partials shuffle. Output is
    the exploded (vec_id, dim, z) long form for the oracle compare."""
    from prajna_spark.pipeline.features import standardize_embeddings

    emb = _emb(spark, sf_dir)
    z = standardize_embeddings(emb, "embedding", "z")
    return z.select(
        "vec_id", F.posexplode("z").alias("p", "zval")
    ).select(
        "vec_id",
        (F.col("p") + 1).cast("long").alias("dim"),
        pround(F.col("zval"), 6).alias("z"),
    )


# ----- product quantization (pipeline/pq.py) ---------------------------------

_PQ_M, _PQ_K, _PQ_SUB = 8, 16, DIM // 8


def _pq_sq8(a: str, b: str, sub: int = _PQ_SUB) -> str:
    """Left-associated squared-L2 between two ``sub``-dim DOUBLE[]."""
    return "(" + " + ".join(
        f"({a}[{i}] - {b}[{i}]) * ({a}[{i}] - {b}[{i}])" for i in range(1, sub + 1)
    ) + ")"


_PQ_ITER = 3  # Lloyd iterations per subspace (matches ivf_kmeans' n_iter)


def _pq_common_ctes(n_iter: int = _PQ_ITER, dec: int = 6) -> str:
    """Shared oracle CTEs replaying the per-subspace Lloyd TRAINING
    (pipeline.pq.pq_codebook_trained) plus the encode:

    - ``sv``: the exploded (vec_id, subspace, 8-dim sub-vector) frame;
    - ``cb0``: deterministic seed — the 16 lowest-id vectors'
      sub-vectors per subspace (the ivf_kmeans seeding rule);
    - ``cb{{n}}``: n_iter rounds of assign (argmin, ties to lowest cid)
      -> portably-rounded per-dim means -> empty codes keep their
      previous entry — the identical exactness contract as
      _kmeans_ctes, applied per (subspace, code);
    - ``cbf``: the trained codebook (s, cid, 8-dim entry);
    - ``enc``: per-(vec, subspace) argmin codes against cbf, pivoted to
      (codes array, rounded recon_err)."""
    code_list = ", ".join(
        f"MAX(CASE WHEN s = {s} THEN code END)" for s in range(_PQ_M)
    )
    err_chain = " + ".join(
        f"MAX(CASE WHEN s = {s} THEN d END)" for s in range(_PQ_M)
    )
    mean_list = "[" + ", ".join(
        R(f"avg(sv[{i}])", dec) for i in range(1, _PQ_SUB + 1)
    ) + "]"
    ctes = [
        """v AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    )""",
        f"""sv AS MATERIALIZED (
      SELECT v.vec_id, s.s,
             list_slice(v.e, s.s * {_PQ_SUB} + 1, s.s * {_PQ_SUB} + {_PQ_SUB}) AS sv
      FROM v CROSS JOIN (SELECT unnest(range({_PQ_M})) AS s) s
    )""",
        f"""cb0 AS MATERIALIZED (
      SELECT s,
             CAST(row_number() OVER (PARTITION BY s ORDER BY vec_id) - 1
                  AS BIGINT) AS cid,
             sv AS c
      FROM sv
      WHERE vec_id IN (SELECT vec_id FROM v ORDER BY vec_id LIMIT {_PQ_K})
    )""",
    ]
    for n in range(1, n_iter + 1):
        ctes.append(f"""a{n} AS MATERIALIZED (
      SELECT vec_id, s, sv, cid FROM (
        SELECT t.vec_id, t.s, t.sv, p.cid,
               row_number() OVER (PARTITION BY t.vec_id, t.s
                 ORDER BY {_pq_sq8("t.sv", "p.c")}, p.cid) AS rk
        FROM sv t JOIN cb{n - 1} p ON p.s = t.s
      ) WHERE rk = 1)""")
        ctes.append(f"""m{n} AS MATERIALIZED (
      SELECT s, cid, {mean_list} AS c FROM a{n} GROUP BY s, cid)""")
        ctes.append(f"""cb{n} AS MATERIALIZED (
      SELECT p.s, p.cid, coalesce(m.c, p.c) AS c
      FROM cb{n - 1} p LEFT JOIN m{n} m ON m.s = p.s AND m.cid = p.cid)""")
    ctes.append(f"cbf AS MATERIALIZED (SELECT s, cid, c FROM cb{n_iter})")
    ctes.append(f"""dists AS (
      SELECT t.vec_id, t.s, cb.cid, {_pq_sq8("t.sv", "cb.c")} AS d
      FROM sv t JOIN cbf cb ON cb.s = t.s
    )""")
    ctes.append("""code1 AS (
      SELECT vec_id, s, cid AS code, d FROM (
        SELECT vec_id, s, cid, d,
               row_number() OVER (PARTITION BY vec_id, s
                                  ORDER BY d, cid) AS rk
        FROM dists
      ) WHERE rk = 1
    )""")
    ctes.append(f"""enc AS MATERIALIZED (
      SELECT vec_id,
             [{code_list}] AS codes,
             {R(err_chain, 6)} AS recon_err
      FROM code1 GROUP BY vec_id
    )""")
    return ",\n    ".join(ctes)


@query(
    "pq_encode_embeddings",
    oracle=f"""
    -- PQ encode replay: per-subspace Lloyd-TRAINED codebooks (replayed
    -- with the kmeans exactness contract), then per-(vec, subspace)
    -- argmin codes; recon_err summed in the same left-assoc order
    WITH {_pq_common_ctes()}
    SELECT vec_id, array_to_string(codes, '_') AS codes_str, recon_err
    FROM enc
    """,
    tags=("pq", "quantization", "vectors", "compression"),
)
def pq_encode_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode (pipeline.pq): 64-dim embeddings ->
    8 sub-vector codes against 16-entry per-subspace codebooks (32x
    compression). Codebooks are per-subspace Lloyd-TRAINED (standard
    PQ — Jegou et al. §III.A; round 6 upgrade from first-k seeding)
    from the deterministic lowest-id seed, with the same portable
    per-iteration rounding as ivf_kmeans so DuckDB replays the training
    run value-for-value. The trained book folds into literal
    expressions, so the encode itself stays MAP-ONLY — one projection,
    zero shuffles, zero joins, at any corpus scale; training cost is
    n_iter narrow shuffles of m*k*8 mean cells. The codes array is
    serialized to a '_'-joined string (quantize_embeddings_int8's
    convention) because the driver's canonicalizer cannot hash array
    cells — this was r6's only red CORRECTNESS row."""
    from prajna_spark.pipeline import pq

    emb = _emb(spark, sf_dir)
    # the deterministic k-row seed collect runs off the RAW scan (no
    # corpus fan-out exchange in a 16-row driver read; same rows)
    seed = pq.pq_codebook(_emb_raw(spark, sf_dir), dim=DIM, m=_PQ_M, k=_PQ_K)
    cb = pq.pq_codebook_trained(
        emb, dim=DIM, m=_PQ_M, k=_PQ_K, n_iter=_PQ_ITER, round_decimals=6,
        seed=seed,
    )
    enc = pq.pq_encode(emb, cb)
    return enc.select(
        "vec_id",
        F.concat_ws("_", F.col("codes").cast("array<string>")).alias("codes_str"),
        "recon_err",
    )


def _pq_adc_sq(a_full: str, s: int, b_sub: str, sub: int = _PQ_SUB) -> str:
    """Left-associated squared-L2 between subspace ``s`` of a full-dim
    DOUBLE[] and an 8-dim trained codebook entry."""
    return "(" + " + ".join(
        f"({a_full}[{s * sub + i}] - {b_sub}[{i}])"
        f" * ({a_full}[{s * sub + i}] - {b_sub}[{i}])"
        for i in range(1, sub + 1)
    ) + ")"


def _pq_recall_oracle() -> str:
    adc_terms = " + ".join(
        _pq_adc_sq("p.qe", s, f"cb{s}.c") for s in range(_PQ_M)
    )
    exact_terms = " + ".join(
        f"(p.qe[{i}] - p.ce[{i}]) * (p.qe[{i}] - p.ce[{i}])"
        for i in range(1, DIM + 1)
    )
    joins = "\n      ".join(
        f"JOIN cbf cb{s} ON cb{s}.s = {s} AND cb{s}.cid = p.codes[{s + 1}]"
        for s in range(_PQ_M)
    )
    return f"""
    -- ADC recall@10 replay: exact vs asymmetric-distance rankings from
    -- the same codes; identical association, rounding, tie-breaks
    WITH {_pq_common_ctes()}
    , qs AS (
      SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 20
    ), pairs AS (
      SELECT q.query_id, c.vec_id AS cand_id, q.qe, c.e AS ce, enc.codes
      FROM v c JOIN enc ON enc.vec_id = c.vec_id
      CROSS JOIN qs q
      WHERE c.vec_id <> q.query_id
    ), scored AS (
      SELECT p.query_id, p.cand_id,
             {R(f"({exact_terms})", 6)} AS d_exact,
             {R(f"({adc_terms})", 6)} AS d_adc
      FROM pairs p
      {joins}
    ), ranked AS (
      SELECT query_id, cand_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY d_exact, cand_id) AS rk_e,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY d_adc, cand_id) AS rk_a
      FROM scored
    )
    SELECT query_id,
           CAST(sum(CASE WHEN rk_a <= 10 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_overlap,
           {R("sum(CASE WHEN rk_a <= 10 THEN 1 ELSE 0 END) / 1e1", 2)}
             AS recall
    FROM ranked WHERE rk_e <= 10 GROUP BY query_id
    """


@query(
    "pq_adc_knn_recall",
    oracle=_pq_recall_oracle(),
    tags=("pq", "quantization", "knn", "eval", "vectors"),
)
def pq_adc_knn_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of PQ asymmetric-distance search vs exact squared-L2
    (pipeline.pq.pq_adc_recall) — the eval that tells you whether 32x
    compression kept the neighborhoods. One broadcast cross join scores
    BOTH distances per (query, candidate) pair (the ADC side is a 16-way
    CASE over the candidate's code per subspace — the lookup-table walk,
    with the query sub-vector exact); two windows rank; candidates never
    shuffle. Completes the quantization ladder: int8 (4x, oracle-exact)
    -> PQ (32x, recall-evaluated). Round 6: codebooks are per-subspace
    Lloyd-trained (was first-k seeded) — measured at sf0.01, mean
    recall@10 0.245 -> 0.325 and mean recon_err 0.758 -> 0.561
    (BASELINE.md appendix)."""
    from prajna_spark.pipeline import pq

    emb = _emb(spark, sf_dir)
    # seed collect off the RAW scan (see pq_encode_embeddings)
    seed = pq.pq_codebook(_emb_raw(spark, sf_dir), dim=DIM, m=_PQ_M, k=_PQ_K)
    cb = pq.pq_codebook_trained(
        emb, dim=DIM, m=_PQ_M, k=_PQ_K, n_iter=_PQ_ITER, round_decimals=6,
        seed=seed,
    )
    return pq.pq_adc_recall(emb, cb, n_queries=20, k=10)


def _pq_fullsq(a: str, b: str) -> str:
    """Left-associated full-dimension squared-L2 between two DOUBLE[]."""
    return "(" + " + ".join(
        f"({a}[{i}] - {b}[{i}]) * ({a}[{i}] - {b}[{i}])" for i in range(1, DIM + 1)
    ) + ")"


def _ivf_pq_oracle() -> str:
    adc_terms = " + ".join(
        _pq_adc_sq("p.qe", s, f"cb{s}.c") for s in range(_PQ_M)
    )
    joins = "\n      ".join(
        f"JOIN cbf cb{s} ON cb{s}.s = {s} AND cb{s}.cid = p.codes[{s + 1}]"
        for s in range(_PQ_M)
    )
    return f"""
    -- IVF-PQ replay: coarse L2 cells (the 16 lowest-id seed vectors as
    -- coarse centroids), nprobe=4, ADC ranking from the TRAINED codes
    WITH {_pq_common_ctes()}
    , seeds AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, e
      FROM v ORDER BY vec_id LIMIT {_PQ_K}
    ), asg AS (
      SELECT vec_id, cell FROM (
        SELECT v.vec_id, cb.cid AS cell,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY {_pq_fullsq("v.e", "cb.e")}, cb.cid) AS rn
        FROM v CROSS JOIN seeds cb
      ) WHERE rn = 1
    ), qs AS (
      SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 5
    ), probes AS (
      SELECT query_id, cell FROM (
        SELECT q.query_id, cb.cid AS cell,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY {_pq_fullsq("q.qe", "cb.e")}, cb.cid) AS rn
        FROM qs q CROSS JOIN seeds cb
      ) WHERE rn <= 4
    ), cand AS (
      SELECT pr.query_id, a.vec_id AS cand_id, q.qe, enc.codes
      FROM probes pr
      JOIN asg a ON a.cell = pr.cell
      JOIN enc ON enc.vec_id = a.vec_id
      JOIN qs q ON q.query_id = pr.query_id
      WHERE a.vec_id <> pr.query_id
    ), scored AS (
      SELECT p.query_id, p.cand_id, {R(f"({adc_terms})", 6)} AS d_adc
      FROM cand p
      {joins}
    )
    SELECT query_id, cand_id AS neighbor_id, d_adc, CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY d_adc, cand_id) AS rk
      FROM scored
    ) WHERE rk <= 10
    """


@query(
    "ivf_pq_search_topk",
    oracle=_ivf_pq_oracle(),
    tags=("pq", "ivf", "ann", "vectors", "composition"),
)
def ivf_pq_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the composed vector-index architecture
    (pipeline.pq.ivf_pq_search): a coarse quantizer (the 16 codebook
    seed vectors, full-dim L2) restricts each query to its nprobe=4
    nearest cells; ADC on the 32x-compressed codes ranks the survivors.
    Cell assignment AND encode are map-only literal-expression
    projections; the only data-sized op is the cell-id equi-join
    against the broadcast probe list — at scale the index stores m
    bytes per vector partitioned by cell, and full vectors are touched
    only on the query side. Caps the ANN ladder: brute force -> SRP-LSH
    -> IVF -> int8 -> PQ -> IVF-PQ. Round 6: ADC runs on Lloyd-trained
    per-subspace codebooks; the coarse quantizer keeps the 16 lowest-id
    seed vectors as cells (unchanged — cell geometry is independent of
    code training)."""
    from prajna_spark.pipeline import pq

    emb = _emb(spark, sf_dir)
    # ONE seed collect (off the RAW scan) feeds BOTH the trained
    # codebook's init and the coarse-quantizer cells — this query used
    # to run the identical 16-row collect job twice (r12)
    seeds = pq.pq_codebook(
        _emb_raw(spark, sf_dir), dim=DIM, m=_PQ_M, k=_PQ_K
    )  # lowest-id vectors
    cb = pq.pq_codebook_trained(
        emb, dim=DIM, m=_PQ_M, k=_PQ_K, n_iter=_PQ_ITER, round_decimals=6,
        seed=seeds,
    )
    centroids = [
        (c, [x for s in range(_PQ_M) for x in seeds[s][c]]) for c in range(_PQ_K)
    ]
    return pq.ivf_pq_search(emb, cb, centroids, n_queries=5, nprobe=4, k=10)


@query(
    "semdedup_embeddings",
    oracle=_semdedup_oracle(),
    tags=("dedup", "semantic", "kmeans", "embedding", "composition"),
)
def semdedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic deduplication (Abbas et al. 2023, composed from
    pipeline.similarity.semdedup_survivors): k-means clusters the corpus,
    then within each cluster every vector with a smaller-id near-duplicate
    (rounded cosine >= 0.3) is dropped — the deterministic greedy
    keep-one rule. Clustering bounds pair work to sum(|cell|^2) instead
    of n^2; at 100 TB you raise k so cells stay small, sharing centroids
    with the IVF index. The whole chain — rounded Lloyd run, L2-argmin
    assignment, portable rounded cosine — replays exactly in DuckDB, so
    the survivor SET hash-matches (not just its size)."""
    emb = _emb(spark, sf_dir)
    return similarity.semdedup_survivors(
        emb, k=16, n_iter=3, threshold=0.3, round_decimals=6, sim_decimals=6
    )
