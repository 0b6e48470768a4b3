"""Lexical + hybrid retrieval catalog queries over ``documents`` and
``embeddings`` (north-star LLM-pipeline surface: retrieval-based curation,
targeted decontamination, hybrid RAG-corpus recall).

Oracle parity technique: BM25 contributions are computed with the IDENTICAL
arithmetic spelling on both engines (constant subexpressions pre-folded the
way Python folds them, natural log, portable rounding before ranking,
doc_id tiebreaks), so ranked lists — and the RRF fusion built on them —
match hash-for-hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prajna_spark.functions.rounding import R
from prajna_spark.pipeline import retrieval, similarity
from prajna_spark.queries import query, work_dir
from prajna_spark.queries.vectors import DIM, _DOT
from prajna_spark.session import tune
from prajna_spark.sources import load_table, stream_table

# DuckDB mirror of textqa.tokens (same spelling as the proven
# sampling/packing oracles): lower -> strip non-alnum -> split -> drop ''.
_TOKS = (
    "list_filter(string_split_regex("
    "trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')), ' +'),"
    " w -> w <> '')"
)

#: fixed literal query set for the BM25 catalog query: a common-term query,
#: a rare-term query ('dup' appears in ~5% of docs), and a mid-band query.
_BM25_QUERIES: list[tuple[str, str]] = [
    ("q_hash", "hash"),
    ("q_hash", "join"),
    ("q_hash", "fast"),
    ("q_rare", "dup"),
    ("q_rare", "scan"),
    ("q_stream", "stream"),
    ("q_stream", "window"),
    ("q_stream", "batch"),
]

# Shared BM25 oracle CTEs (postings/stats over the full corpus). The
# contribution spelling pre-folds constants exactly as Python does in
# pipeline.retrieval.bm25_scores: tf*(k1+1) = tf*2.2; k1*(1-b + b*dl/avgdl)
# = 1.2*(0.25 + (0.75*dl)/avgdl).
_BM25_CTES = f"""
    toks AS MATERIALIZED (
      SELECT doc_id, {_TOKS} AS tk FROM documents
    ),
    p AS MATERIALIZED (
      SELECT doc_id, term, count(*) AS tf, first(dl) AS dl FROM (
        SELECT doc_id, len(tk) AS dl, unnest(tk) AS term FROM toks
      ) GROUP BY doc_id, term
    ),
    stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             avg(CAST(len(tk) AS DOUBLE)) AS avgdl
      FROM toks
    )
"""


_BM25_SUM = R(
    "sum("
    " ln(1e0 + ((s.n_docs - d.df) + 5e-1) / (d.df + 5e-1))"
    " * (CAST(p.tf AS DOUBLE) * 2.2)"
    "   / (CAST(p.tf AS DOUBLE)"
    "      + 1.2 * (2.5e-1 + (7.5e-1 * CAST(p.dl AS DOUBLE)) / s.avgdl))"
    ")",
    6,
)


def _bm25_scored_cte(qt_cte: str) -> str:
    """CTE computing (query_id, doc_id, score) for query-term CTE ``qt``."""
    return f"""
    dfq AS (
      SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
      FROM p WHERE term IN (SELECT term FROM {qt_cte}) GROUP BY term
    ),
    scored AS (
      SELECT q.query_id, p.doc_id, {_BM25_SUM} AS score
      FROM p
      JOIN dfq d USING (term)
      JOIN {qt_cte} q USING (term)
      CROSS JOIN stats s
      GROUP BY q.query_id, p.doc_id
    )
"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return load_table(spark, "documents", sf_dir)


_QT_VALUES = ", ".join(f"('{q}', '{t}')" for q, t in _BM25_QUERIES)


# Shared by bm25_topk_docs (from-scratch postings) and
# bm25_persisted_search (the bucket-partitioned on-disk index): identical
# queries and parameters, so one oracle verifies BOTH implementations
# agree with DuckDB and, transitively, with each other (the
# search_ivf_index_persisted technique).
_BM25_TOPK_ORACLE = f"""
    -- BM25 top-10 per query over the inverted postings of `documents`
    WITH {_BM25_CTES},
    qt AS (SELECT * FROM (VALUES {_QT_VALUES}) AS t(query_id, term)),
    {_bm25_scored_cte("qt")}
    SELECT query_id, doc_id, score, rk FROM (
      SELECT query_id, doc_id, score,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, doc_id
             ) AS BIGINT) AS rk
      FROM scored
    ) WHERE rk <= 10
    """


@query(
    "bm25_topk_docs",
    oracle=_BM25_TOPK_ORACLE,
    tags=("retrieval", "bm25", "text", "pipeline"),
)
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1=1.2, b=0.75) top-10 documents for three fixed term queries
    (pipeline.retrieval.bm25_topk). The plan is postings-list retrieval:
    the inverted index is built with two narrow-key shuffles, query terms
    are broadcast and prune postings BEFORE df/score aggregation, corpus
    scalars ride a one-row broadcast, and the final top-k is a
    WindowGroupLimit window — per-query work is proportional to the
    pruned postings, not the corpus."""
    docs = _docs(spark, sf_dir)
    qt = spark.createDataFrame(_BM25_QUERIES, "query_id string, term string")
    return retrieval.bm25_topk(docs, qt, k=10).select(
        "query_id", "doc_id", "score", "rk"
    )


@query(
    "hybrid_rrf_search",
    oracle=f"""
    -- reciprocal-rank fusion of BM25 (salient-term more-like-this) and
    -- exact cosine kNN for 4 query documents (doc_id == vec_id alignment)
    WITH {_BM25_CTES},
    qt AS (
      SELECT query_id, term FROM (
        SELECT doc_id AS query_id, term,
               row_number() OVER (
                 PARTITION BY doc_id ORDER BY tf DESC, term
               ) AS rn
        FROM p WHERE doc_id < 4
      ) WHERE rn <= 3
    ),
    {_bm25_scored_cte("qt")},
    bm25 AS (
      SELECT query_id, doc_id, rk FROM (
        SELECT query_id, doc_id,
               row_number() OVER (
                 PARTITION BY query_id ORDER BY score DESC, doc_id
               ) AS rk
        FROM scored WHERE doc_id <> query_id
      ) WHERE rk <= 20
    ),
    v AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 4),
    knn AS (
      SELECT query_id, doc_id, rk FROM (
        SELECT q.qid AS query_id, v.vec_id AS doc_id,
               row_number() OVER (PARTITION BY q.qid ORDER BY
                 {R(f'''{_DOT.format(d=DIM, a="q.qe", b="v.e")}
                   / (sqrt({_DOT.format(d=DIM, a="q.qe", b="q.qe")})
                      * sqrt({_DOT.format(d=DIM, a="v.e", b="v.e")}))''', 6)} DESC,
                 v.vec_id) AS rk
        FROM v CROSS JOIN q
        WHERE v.vec_id <> q.qid
      ) WHERE rk <= 20
    ),
    fused AS (
      SELECT query_id, doc_id,
             {R("sum(1e0 / (6e1 + CAST(rk AS DOUBLE)))", 6)} AS rrf,
             CAST(count(*) AS BIGINT) AS n_systems
      FROM (
        SELECT * FROM bm25 UNION ALL SELECT * FROM knn
      ) GROUP BY query_id, doc_id
    )
    SELECT query_id, doc_id, rrf, n_systems, frk FROM (
      SELECT query_id, doc_id, rrf, n_systems,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY rrf DESC, doc_id
             ) AS BIGINT) AS frk
      FROM fused
    ) WHERE frk <= 10
    """,
    tags=("retrieval", "hybrid", "rrf", "vectors", "pipeline"),
)
def hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: for 4 query documents, fuse (a) BM25 over each
    query's 3 highest-tf salient terms (deterministic more-like-this) and
    (b) exact cosine kNN on the id-aligned embedding, via reciprocal-rank
    fusion 1/(60+rank) (pipeline.retrieval.rrf_fuse). Fusion aggregates
    only the 20+20 ranked rows per query — a union + tiny groupBy, cost
    independent of corpus size; both rankers keep their own scale story
    (postings pruning / broadcast-queries scan)."""
    docs = _docs(spark, sf_dir)
    emb = load_table(spark, "embeddings", sf_dir)
    query_docs = docs.where(F.col("doc_id") < 4)
    qt = retrieval.salient_terms(query_docs, n_terms=3)
    bm25 = retrieval.bm25_topk(docs, qt, k=20, exclude_self=True).select(
        "query_id", "doc_id", "rk"
    )
    knn = similarity.knn_bruteforce(
        emb, emb.where(F.col("vec_id") < 4), k=20
    ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rk")
    fused = retrieval.rrf_fuse([bm25, knn], k=10)
    return fused.select(
        "query_id", "doc_id", "rrf", "n_systems", F.col("rk").alias("frk")
    )


@query(
    "bm25_persisted_search",
    oracle=_BM25_TOPK_ORACLE,
    tags=("retrieval", "bm25", "index", "dpp", "pipeline"),
)
def bm25_persisted_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED lexical path (pipeline.retrieval.build_text_index /
    search_text_index): materialize the inverted index PARTITIONED BY
    term-hash bucket with df/dl/tf precomputed per posting, then search it
    — the broadcast (bucket, term) probe join prunes the scan to the query
    terms' buckets, and scoring needs no corpus-wide aggregation at all.
    Same queries and parameters as bm25_topk_docs, same oracle: the
    on-disk layout must return exactly the from-scratch result."""
    docs = _docs(spark, sf_dir)
    qt = spark.createDataFrame(_BM25_QUERIES, "query_id string, term string")
    path = work_dir("text_index_q", sf_dir) + "/index"
    retrieval.build_text_index(docs, path)
    return retrieval.search_text_index(spark, path, qt, k=10).select(
        "query_id", "doc_id", "score", "rk"
    )


@query(
    "bm25_stream_search",
    oracle=_BM25_TOPK_ORACLE,
    tags=("retrieval", "bm25", "streaming", "index", "pipeline"),
)
def bm25_stream_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMED lexical index end-to-end
    (streaming.text_index_stream): readStream over documents -> per-batch
    postings appended under bucket=*/ingest_batch=<id> (replay-safe
    dynamic overwrite) + mergeable per-batch corpus-stats rows -> live
    search that derives df from the pruned postings and stats from the
    tiny stats table, so it is correct at ANY drain point. Same queries
    as bm25_topk_docs, same oracle: after the AvailableNow drain the live
    index must return exactly the from-scratch result."""
    from prajna_spark.streaming.text_index_stream import (
        search_live_text_index,
        start_incremental_text_index,
    )

    tune(spark)
    base = work_dir("text_index_stream_q", sf_dir)
    docs = stream_table(
        spark,
        "documents",
        sf_dir,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    idx = f"{base}/index"
    q = start_incremental_text_index(docs, idx, f"{base}/ckpt")
    q.awaitTermination()
    qt = spark.createDataFrame(_BM25_QUERIES, "query_id string, term string")
    return search_live_text_index(spark, idx, qt, k=10).select(
        "query_id", "doc_id", "score", "rk"
    )


@query(
    "hashed_tf_features",
    oracle="""
    -- feature-hashing vectorization: signed term-count buckets from md5
    -- slices; integer sign sums are exact on both engines
    WITH t AS (
      SELECT doc_id, md5(term) AS h FROM (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(
                 trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')),
                 ' +'), w -> w <> '')) AS term
        FROM documents
      )
    )
    SELECT doc_id,
           CAST('0x' || substring(h, 1, 8) AS BIGINT) % 64 AS bucket,
           CAST(sum(CASE WHEN CAST('0x' || substring(h, 9, 1) AS BIGINT) % 2 = 0
                         THEN 1 ELSE -1 END) AS BIGINT) AS val
    FROM t GROUP BY doc_id, bucket
    """,
    tags=("retrieval", "vectorization", "hashing-trick", "pipeline"),
)
def hashed_tf_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-free text vectorization via the hashing trick
    (pipeline.retrieval.hashed_tf_features, dim=64): the text->vector
    bridge between the lexical and embedding tiers — no vocabulary fit
    pass, assignment stable under corpus growth, one narrow (doc, bucket)
    shuffle, integer-exact across engines."""
    docs = _docs(spark, sf_dir)
    return retrieval.hashed_tf_features(docs, dim=64)


@query(
    "ndcg_bm25_queries",
    oracle=f"""
    -- ranking-quality eval: nDCG@10 of the BM25 ranking under tf-graded
    -- relevance (gain = total tf of the query's terms in the doc);
    -- log2 spelled ln(x)/ln(2) identically on both engines
    WITH {_BM25_CTES},
    qt AS (SELECT * FROM (VALUES {_QT_VALUES}) AS t(query_id, term)),
    {_bm25_scored_cte("qt")},
    rel AS (
      SELECT q.query_id, p.doc_id, CAST(sum(p.tf) AS BIGINT) AS rel
      FROM p JOIN qt q USING (term) GROUP BY 1, 2
    ), rb AS (
      SELECT query_id, doc_id, rk FROM (
        SELECT query_id, doc_id,
               row_number() OVER (
                 PARTITION BY query_id ORDER BY score DESC, doc_id
               ) AS rk
        FROM scored
      ) WHERE rk <= 10
    ), dcg AS (
      SELECT rb.query_id,
             sum(CAST(rel.rel AS DOUBLE) / (ln(rk + 1e0) / ln(2e0))) AS dcg
      FROM rb JOIN rel USING (query_id, doc_id) GROUP BY 1
    ), ib AS (
      SELECT query_id, rel,
             row_number() OVER (
               PARTITION BY query_id ORDER BY rel DESC, doc_id
             ) AS rk
      FROM rel
    ), idcg AS (
      SELECT query_id,
             sum(CAST(rel AS DOUBLE) / (ln(rk + 1e0) / ln(2e0))) AS idcg
      FROM ib WHERE rk <= 10 GROUP BY 1
    )
    SELECT d.query_id, round(d.dcg / i.idcg, 6) AS ndcg
    FROM dcg d JOIN idcg i USING (query_id)
    """,
    tags=("retrieval", "bm25", "ndcg", "eval", "pipeline"),
)
def ndcg_bm25_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality eval for the BM25 tier: nDCG@10 under tf-graded
    relevance — did length normalization help or hurt versus the ideal
    (pure-gain) ordering the corpus itself defines? Completes the eval
    surface (ANN has recall@10, kNN label-consistency; retrieval now has
    ranking quality). All frames after the postings pass are
    #queries-bounded; the ideal ranking's WindowGroupLimit bounds its
    shuffle like every other top-k."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    qt = spark.createDataFrame(_BM25_QUERIES, "query_id string, term string")
    topk = retrieval.bm25_topk(docs, qt, k=10)
    postings = retrieval.doc_postings(docs, "doc_id", "text")
    rel = (
        postings.join(F.broadcast(qt), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("tf").cast("long").alias("rel"))
    )
    ln2 = F.log(F.lit(2.0))
    disc = F.log(F.col("rk") + F.lit(1.0)) / ln2
    dcg = (
        topk.join(rel, ["query_id", "doc_id"])
        .groupBy("query_id")
        .agg(F.sum(F.col("rel").cast("double") / disc).alias("dcg"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("rel").desc(), "doc_id")
    ideal = (
        rel.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 10)
        .groupBy("query_id")
        .agg(F.sum(F.col("rel").cast("double") / disc).alias("idcg"))
    )
    return dcg.join(ideal, "query_id").select(
        "query_id", F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg")
    )


# Shared by copurchase_similar_parts and recommend_parts_customers: the
# basket-capped co-occurrence-cosine chain through per-item top-5
# neighbors ("topn").
_COPURCHASE_CTES = """
    d AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), capped AS (
      SELECT l_orderkey, l_partkey FROM (
        SELECT l_orderkey, l_partkey,
               row_number() OVER (PARTITION BY l_orderkey
                                  ORDER BY l_partkey) AS rn
        FROM d
      ) WHERE rn <= 16
    ), pairs AS (
      SELECT a.l_partkey AS item_i, b.l_partkey AS item_j,
             CAST(count(*) AS BIGINT) AS c_ij
      FROM capped a JOIN capped b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ), freq AS (
      SELECT l_partkey AS item, CAST(count(*) AS BIGINT) AS ci
      FROM capped GROUP BY 1
    ), sym AS (
      SELECT item_i AS item, item_j AS neighbor, c_ij FROM pairs
      UNION ALL
      SELECT item_j AS item, item_i AS neighbor, c_ij FROM pairs
    ), scored AS (
      SELECT s.item, s.neighbor, s.c_ij AS c_pair, fi.ci AS c_item,
             fn.ci AS c_neighbor,
             (floor((CAST(s.c_ij AS DOUBLE)
               / sqrt(CAST(fi.ci AS DOUBLE) * CAST(fn.ci AS DOUBLE)))
               * 1e6 + 5e-1) / 1e6) AS sim
      FROM sym s
      JOIN freq fi ON fi.item = s.item
      JOIN freq fn ON fn.item = s.neighbor
    ), topn AS (
      SELECT item, neighbor, c_pair, c_item, c_neighbor, sim, rk
      FROM (
        SELECT *, row_number() OVER (PARTITION BY item
                                     ORDER BY sim DESC, neighbor) AS rk
        FROM scored
      ) WHERE rk <= 5
    )
"""


@query(
    "copurchase_similar_parts",
    oracle=f"""
    -- "also bought": top-5 co-occurrence-cosine neighbors per part over
    -- order baskets, baskets capped at their 16 lowest part ids
    WITH {_COPURCHASE_CTES}
    SELECT item, neighbor, c_pair, c_item, c_neighbor, sim,
           CAST(rk AS BIGINT) AS rk
    FROM topn
    """,
    tags=("recommendation", "cooccurrence", "similarity", "lineitem"),
)
def copurchase_similar_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collaborative-filtering neighbors (pipeline.cooccur): order
    baskets -> structural 16-item cap (WindowGroupLimit partial limit
    BEFORE the shuffle) -> basket-keyed self-join bounded at cap^2/2
    pairs per basket -> pair-keyed cosine -> top-5 per item. The
    all-pairs blow-up is capped by construction, every shuffle key is
    narrow (orderkey, then (item,item)), and the cosine on integer
    counts is IEEE-exact so both engines rank identical doubles."""
    from prajna_spark.pipeline.cooccur import item_similarity_topk

    li = load_table(spark, "lineitem", sf_dir)
    tune(spark)
    return item_similarity_topk(
        li, "l_orderkey", "l_partkey", cap=16, k=5, sim_decimals=6
    ).select("item", "neighbor", "c_pair", "c_item", "c_neighbor", "sim", "rk")


@query(
    "tfidf_keywords_docs",
    oracle=f"""
    -- TF-IDF keyword replay: same tokenizer, ln(N/df) idf (libm ln is
    -- engine-bit-identical), same rounding and (score desc, term) ties
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS}) AS term FROM documents
    ), p AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM toks GROUP BY 1, 2
    ), dfs AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM p GROUP BY 1
    ), n AS (
      SELECT CAST(count(*) AS DOUBLE) AS n FROM documents
    ), scored AS (
      SELECT p.doc_id, p.term, p.tf, dfs.df,
             {R('p.tf * ln(n.n / dfs.df)', 6)} AS tfidf
      FROM p JOIN dfs USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, tfidf, CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term) AS rk
      FROM scored
    ) WHERE rk <= 5
    """,
    tags=("retrieval", "tfidf", "keywords", "text"),
)
def tfidf_keywords_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF keywords per document (pipeline.retrieval
    .tfidf_keywords) — the corpus-aware document representation (raw-tf
    salient_terms surfaces stopwords; idf suppresses what every doc
    shares). One postings pass, a term-keyed df join (term cardinality,
    never corpus cardinality), a one-row broadcast for N, and the
    WindowGroupLimit top-k."""
    from prajna_spark.pipeline.retrieval import tfidf_keywords

    docs = _docs(spark, sf_dir)
    return tfidf_keywords(docs, k=5)


@query(
    "recommend_parts_customers",
    oracle=f"""
    -- item-based top-3 recommendations: a customer's owned parts pull
    -- in their top-5 co-occurrence neighbors; owned parts are excluded;
    -- candidate score = sum of (rounded) sims over the owned items that
    -- endorse it, rounded before ranking, ties to the lower part id.
    -- Only customers with at least one candidate appear.
    WITH {_COPURCHASE_CTES},
    owned AS (
      SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS item
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ), cand AS (
      SELECT w.cust, t.neighbor AS part, t.sim
      FROM owned w JOIN topn t ON t.item = w.item
    ), fresh AS (
      SELECT c.cust, c.part, c.sim FROM cand c
      WHERE NOT EXISTS (
        SELECT 1 FROM owned w WHERE w.cust = c.cust AND w.item = c.part
      )
    ), sc AS (
      SELECT cust, part,
             (floor(sum(sim) * 1e6 + 5e-1) / 1e6) AS score,
             CAST(count(*) AS BIGINT) AS n_endorsers
      FROM fresh GROUP BY 1, 2
    )
    SELECT cust AS o_custkey, part AS l_partkey, score, n_endorsers,
           CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY cust
                                   ORDER BY score DESC, part) AS rk
      FROM sc
    ) WHERE rk <= 3
    """,
    tags=("recommendation", "cooccurrence", "serving", "composition"),
)
def recommend_parts_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-based collaborative-filtering recommendations — the serving
    query the co-occurrence model exists for: each customer's owned
    parts pull in their top-5 neighbors (pipeline.cooccur), owned parts
    anti-join out, candidates score by the sum of endorsing sims
    (rounded before ranking, deterministic ties), top-3 per customer via
    the WindowGroupLimit rewrite. Scale: the neighbor list is 5 rows per
    item (item-cardinality — an equi-join, broadcast when it fits), the
    candidate frame is bounded at |owned| x 5, and the final rank is
    pre-shuffle-limited."""
    from pyspark.sql import Window

    from prajna_spark.functions.rounding import pround
    from prajna_spark.pipeline.cooccur import item_similarity_topk

    tune(spark)
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    sims = item_similarity_topk(
        li, "l_orderkey", "l_partkey", cap=16, k=5, sim_decimals=6
    ).select("item", "neighbor", "sim")
    from prajna_spark.operators.lifecycle import scoped_local_checkpoint

    # owned feeds BOTH the candidate join and the freshness anti-join;
    # checkpoint eagerly so the orders⋈lineitem+distinct subtree runs
    # once instead of once per consumer (r11; the lazy-persist cache
    # races when both consumers' stages launch concurrently)
    owned = scoped_local_checkpoint(
        orders.select(F.col("o_custkey").alias("cust"), "o_orderkey")
        .join(
            li.select("l_orderkey", F.col("l_partkey").alias("item")),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select("cust", "item")
        .distinct()
    )
    cand = owned.join(sims, "item").select(
        "cust", F.col("neighbor").alias("part"), "sim"
    )
    fresh = cand.join(
        owned.select("cust", F.col("item").alias("part")),
        ["cust", "part"],
        "left_anti",
    )
    sc = fresh.groupBy("cust", "part").agg(
        pround(F.sum("sim"), 6).alias("score"),
        F.count(F.lit(1)).alias("n_endorsers"),
    )
    w = Window.partitionBy("cust").orderBy(F.col("score").desc(), "part")
    return (
        sc.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 3)
        .select(
            F.col("cust").alias("o_custkey"),
            F.col("part").alias("l_partkey"),
            "score",
            "n_endorsers",
            "rk",
        )
    )


def _phrase_cte(name: str, phrase: list[str]) -> str:
    """Positional-intersection CTE for one phrase over ``toks``."""
    joins = " ".join(
        f"JOIN toks t{i} ON t{i}.doc_id = t0.doc_id"
        f" AND t{i}.pos = t0.pos + {i} AND t{i}.term = '{w}'"
        for i, w in enumerate(phrase)
        if i > 0
    )
    return f"""{name} AS (
      SELECT t0.doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
      FROM toks t0 {joins}
      WHERE t0.term = '{phrase[0]}'
      GROUP BY t0.doc_id
    )"""


@query(
    "phrase_search_docs",
    oracle=f"""
    -- exact phrase search through a POSITIONAL index: (term, doc, pos)
    -- rows self-join at pos+1, pos+2 — the adjacency intersection an
    -- inverted index answers without rescanning text. Both engines run
    -- the same positional algebra (unnest + generate_subscripts expand
    -- in lockstep), so occurrence counts match exactly.
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ),
    {_phrase_cte("p1", ["table", "part"])},
    {_phrase_cte("p2", ["value", "table", "part"])}
    SELECT 'table part' AS phrase, doc_id, n_occurrences FROM p1
    UNION ALL
    SELECT 'value table part', doc_id, n_occurrences FROM p2
    """,
    tags=("retrieval", "phrase-search", "positional-index", "documents"),
)
def phrase_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search over a positional index — the retrieval
    capability BM25 bags-of-words cannot give: the corpus tokenizes ONCE
    into (term, doc_id, pos) rows; a phrase of length n is an n-way
    self-join at pos+1..pos+n-1, each leg pre-filtered to its term (the
    posting list), so work scales with the RAREST term's postings, not
    the corpus. Occurrence counts per doc come out of the same
    intersection. At 100 TB the positional index is the persisted,
    term-bucketed artifact (the bm25_persisted_search layout plus a pos
    column); the query shape is unchanged."""
    tune(spark)
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos0", "term"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "term")

    def find(phrase: list[str]):
        out = toks.where(F.col("term") == phrase[0]).select(
            "doc_id", F.col("pos").alias("p0")
        )
        for i, w in enumerate(phrase[1:], start=1):
            leg = toks.where(F.col("term") == w).select(
                F.col("doc_id").alias(f"d{i}"), F.col("pos").alias(f"p{i}")
            )
            out = out.join(
                leg,
                (F.col(f"d{i}") == F.col("doc_id"))
                & (F.col(f"p{i}") == F.col("p0") + i),
            ).drop(f"d{i}", f"p{i}")
        return out.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_occurrences")
        )

    p1 = find(["table", "part"]).select(
        F.lit("table part").alias("phrase"), "doc_id", "n_occurrences"
    )
    p2 = find(["value", "table", "part"]).select(
        F.lit("value table part").alias("phrase"), "doc_id", "n_occurrences"
    )
    return p1.unionByName(p2)
