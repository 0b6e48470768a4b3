"""Text-analysis + dedup catalog queries over the ``documents`` table
(north-star LLM-pipeline surface; no reference equivalent).

Oracle parity technique: every hash function is md5 (identical hex on both
engines), every tokenizer is the same regex, every score is computed with
the same operation order — so the DuckDB checks are exact, not
approximate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prajna_spark.functions.rounding import R, pround
from prajna_spark.pipeline import dedup, textqa
from prajna_spark.operators.fanout import fan_out
from prajna_spark.queries import query, work_dir
from prajna_spark.session import scale_shuffle_partitions, tune
from prajna_spark.sources import load_table, stream_table

# DuckDB SQL fragments mirroring pipeline.textqa expressions exactly.
_NORM = "trim(regexp_replace(lower({c}), '[^a-z0-9 ]', ' ', 'g'))"
_TOKS = f"list_filter(string_split_regex({_NORM}, ' +'), w -> w <> '')"
_BPE = r"len(regexp_extract_all(lower({c}), '[a-z]+|[0-9]+|[^a-z0-9\s]'))"
_PUNCT = (
    "CASE WHEN length({c}) > 0 THEN "
    "length(regexp_replace(lower({c}), '[a-z0-9 ]', '', 'g')) / length({c}) "
    "ELSE 0.0 END"
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    # documents rows are FAT (text, token arrays, shingle sets) and the
    # dedup tier expands them quadratically into pair rows, so the
    # pre-coalesce shuffle granularity scales from the documents footers
    # with a correspondingly low rows-per-partition — sf0.1 (5k docs)
    # still resolves to the 32 default (byte-identical small-scale
    # plans); the 30x fixture gets 150 initial partitions, which bounds
    # the verify/CC stages' per-task working sets the same way the graph
    # tier's wedge shuffle is bounded (session.scale_shuffle_partitions)
    scale_shuffle_partitions(
        spark, sf_dir, table="documents", rows_per_partition=1_000
    )
    # per-row text work (regex token sweeps, per-token hashing) is heavy
    # relative to row width; fan a single-split small file across cores
    # (no-op when the scan already has >= parallelism splits)
    return fan_out(load_table(spark, "documents", sf_dir))


def _lang_scores_sql() -> tuple[str, str]:
    toks = _TOKS.format(c="text")
    n = f"greatest(len({toks}), 1)"
    scores = {}
    for lang in sorted(textqa.STOPWORDS):
        words = ", ".join(f"'{w}'" for w in textqa.STOPWORDS[lang])
        scores[lang] = f"(len(list_filter({toks}, w -> w IN ({words}))) / {n})"
    m = "greatest(" + ", ".join(scores.values()) + ")"
    # Iterating sorted langs with strict '>' == alphabetically-first argmax.
    case = "CASE WHEN " + m + " <= 0 THEN 'und' "
    for lang in sorted(textqa.STOPWORDS):
        case += f"WHEN {scores[lang]} = {m} THEN '{lang}' "
    case += "ELSE 'und' END"
    return case, scores["en"]


_LANG_CASE, _EN_SCORE = _lang_scores_sql()


_EN_WORDS = ", ".join(f"'{w}'" for w in textqa.STOPWORDS["en"])

#: unrounded composite quality score (the SQL twin of
#: pipeline.textqa.quality_score); round at the output edge only.
_QUALITY_SQL = f"""(
  least(length(text) / 500.0, 1.0)
  + (1.0 - least(({_PUNCT.format(c="text")}) * 4, 1.0))
  + least(len(list_filter({_TOKS.format(c="text")}, w -> w IN ({_EN_WORDS})))
          / greatest(len({_TOKS.format(c="text")}), 1) * 5, 1.0)
  + (CASE WHEN length({_NORM.format(c="text")})
               / greatest(len({_TOKS.format(c="text")}), 1)
          BETWEEN 3 AND 10 THEN 1.0 ELSE 0.5 END)
) / 4"""


from prajna_spark.pipeline.sampling import hash_gate_sql as _hash_gate_sql

_CORPUS_GATE = _hash_gate_sql("doc_id", 0.5, seed="corpus1")


@query(
    "corpus_build_pipeline",
    oracle=f"""
    -- the nightly corpus build end-to-end: gates -> dedup canon ->
    -- deterministic sample -> md5 shuffle -> 512-token packing
    WITH scored AS (
      SELECT doc_id, lang,
             md5({_NORM.format(c='text')}) AS fingerprint,
             {_QUALITY_SQL} AS quality,
             CAST(len({_TOKS.format(c='text')}) AS BIGINT) AS n_tokens
      FROM documents
    ), gated AS (
      SELECT * FROM scored WHERE quality >= 0.5 AND lang IN ('en', 'es')
    ), canon AS (
      SELECT doc_id, n_tokens FROM (
        SELECT doc_id, n_tokens,
               row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
        FROM gated
      ) WHERE rn = 1
    ), sampled AS (
      SELECT doc_id, n_tokens,
             md5('corpus1|' || CAST(doc_id AS VARCHAR)) AS h
      FROM canon
      WHERE {_CORPUS_GATE}
    ), c AS (
      SELECT doc_id, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (
               ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cum_before
      FROM sampled
    )
    SELECT doc_id, n_tokens,
           cum_before // 512 AS pack_id,
           cum_before % 512 AS pack_offset
    FROM c
    """,
    tags=("pipeline", "composition", "curation", "sampling", "packing"),
)
def corpus_build_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nightly corpus build, end-to-end in ONE lazy plan: quality +
    language gates -> exact-dedup canonicalization (min_by per
    fingerprint) -> deterministic 50% hash-gate sample -> deterministic
    md5 global shuffle -> 512-token concatenation packing. Every stage is
    the already-verified operator (textqa / dedup / sampling / packing);
    this query proves they COMPOSE: filters sit below the dedup shuffle,
    the sample is scan-local, and the only global structure is the
    two-pass prefix sum. What a user actually runs each night at 100 TB."""
    from prajna_spark.pipeline import packing, sampling as sgate

    docs = _docs(spark, sf_dir)
    t = F.col("text")
    scored = docs.select(
        "doc_id",
        "lang",
        textqa.fingerprint(t).alias("fingerprint"),
        textqa.quality_score(t).alias("quality"),
        textqa.token_count(t).cast("long").alias("n_tokens"),
    )
    gated = scored.where(
        (F.col("quality") >= 0.5) & F.col("lang").isin("en", "es")
    )
    canon = (
        gated.groupBy("fingerprint")
        .agg(F.min_by(F.struct("doc_id", "n_tokens"), F.col("doc_id")).alias("__c"))
        .select(
            F.col("__c.doc_id").alias("doc_id"),
            F.col("__c.n_tokens").alias("n_tokens"),
        )
    )
    sampled = canon.where(sgate.hash_gate(F.col("doc_id"), 0.5, seed="corpus1"))
    shuffled = sampled.withColumn(
        "__h", F.md5(F.concat(F.lit("corpus1|"), F.col("doc_id").cast("string")))
    )
    packed = packing.pack_sequences(
        shuffled, "n_tokens", 512, order_by=["__h", "doc_id"]
    )
    return packed.select("doc_id", "n_tokens", "pack_id", "pack_offset")


def _minhash_sql(j: int, k: int = 5, slice_len: int = 8) -> str:
    """Component j = min over shingles of the j-th disjoint hex slice of
    ONE md5 per shingle (matches pipeline.dedup.minhash_signature)."""
    t = f"substring({_NORM.format(c='text')}, 1, {dedup.MAX_SHINGLE_CHARS})"
    n = f"greatest(length({t}) - {k - 1}, 1)"
    return (
        f"list_min(list_transform(range(1, {n} + 1), "
        f"i -> substring(md5(substring({t}, CAST(i AS INT), {k})), "
        f"{1 + slice_len * j}, {slice_len})))"
    )


def _cc_levels(
    n_levels: int, node_table: str = "documents", node_id: str = "doc_id"
) -> str:
    """Unrolled min-label propagation + pointer-jump CTE ladder.

    Mirrors pipeline.dedup.connected_components level-by-level: each level
    takes the neighbour min then jumps to the label's own label. One row
    per node per level (GROUP BY), so unlike a recursive transitive
    closure there is NO O(component^2) pair blowup — the recursive-CTE
    formulation took ~50 s on sf0.01 while this ladder runs in ~4 s.
    MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and each
    level references its predecessor twice (2^n blowup without it).
    Exactness: propagation alone covers graph diameter n_levels; the jump
    raises effective coverage far beyond (verified identical to the full
    transitive closure at sf0.01 and self-converged at sf0.1).
    """
    parts = [
        f"l0 AS MATERIALIZED (SELECT {node_id} AS id, {node_id} AS label"
        f" FROM {node_table})"
    ]
    for k in range(1, n_levels + 1):
        parts.append(f"""p{k} AS MATERIALIZED (
      SELECT l.id, least(l.label, coalesce(min(nl.label), l.label)) AS label
      FROM l{k - 1} l
      LEFT JOIN edges e ON e.dst = l.id
      LEFT JOIN l{k - 1} nl ON nl.id = e.src
      GROUP BY l.id, l.label
    )""")
        parts.append(f"""l{k} AS MATERIALIZED (
      SELECT a.id, least(a.label, coalesce(b.label, a.label)) AS label
      FROM p{k} a LEFT JOIN p{k} b ON b.id = a.label
    )""")
    return ",\n    ".join(parts)


_CC_LEVELS = 24


@query(
    "dedup_ngram_collisions",
    oracle=f"""
    -- exact 8-token-window collisions (substring-level dedup): two docs
    -- pair iff they share ANY exact 8-token span
    WITH t AS MATERIALIZED (
      SELECT doc_id, {_TOKS.format(c='text')} AS tk FROM documents
    ), g AS MATERIALIZED (
      SELECT DISTINCT doc_id,
             unnest(list_transform(
               range(1, greatest(len(tk) - 7, 1) + 1),
               i -> md5(array_to_string(list_slice(tk, CAST(i AS INT),
                                                   CAST(i AS INT) + 7), ' '))
             )) AS g
      FROM t WHERE len(tk) >= 8
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
    """,
    tags=("dedup", "ngram", "exact-substring"),
)
def dedup_ngram_collisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup (pipeline.dedup.ngram_collision_pairs):
    candidate pairs are docs sharing any exact 8-token window — the
    strictest published dedup criterion (exact span reuse), complementing
    MinHash (set similarity) and SimHash (weighted-token distance). Same
    scale shape as LSH banding: shuffle key is the 128-bit gram hash,
    never the text."""
    docs = _docs(spark, sf_dir)
    return dedup.ngram_collision_pairs(docs, "doc_id", "text", n=8)


@query(
    "fuzzy_match_parts",
    oracle="""
    -- blocking (first name token) -> in-block pairs -> edit-distance gate:
    -- the scalable fuzzy-dedup funnel (never an all-pairs cross join)
    WITH p AS MATERIALIZED (
      SELECT p_partkey, p_name,
             string_split(p_name, ' ')[1] AS block
      FROM part WHERE p_partkey <= 400
    )
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
    FROM p a JOIN p b ON a.block = b.block AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 12
    """,
    tags=("fuzzy", "levenshtein", "blocking", "entity-resolution"),
)
def fuzzy_match_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy matching with blocking — the entity-resolution funnel: block
    key = first name token (an equi-join shuffle key, exactly like LSH
    banding), exact edit distance computed ONLY within blocks, gate at
    <= 12. All JVM (levenshtein is a built-in on both engines); at 100 TB
    the only data-sized operation is the block-key shuffle, and hot blocks
    are bounded by ``blocked_pairs``'s block-size cap — the same guard as
    LSH buckets (the cap here, 10k, is far above any fixture block, so the
    exact DuckDB oracle still matches)."""
    tune(spark)
    part = load_table(spark, "part", sf_dir).where(F.col("p_partkey") <= 400)
    p = part.select(
        "p_partkey",
        "p_name",
        F.split(F.col("p_name"), " ").getItem(0).alias("block"),
    )
    pairs = dedup.blocked_pairs(
        p, "block", "p_partkey", ("p_name",), max_block_size=10_000
    )
    return pairs.select(
        F.col("p_partkey_a").alias("key_a"),
        F.col("p_partkey_b").alias("key_b"),
        F.levenshtein("p_name_a", "p_name_b").cast("long").alias("edit_dist"),
    ).where(F.col("edit_dist") <= 12)


_GRAM8 = (
    "list_transform(range(1, greatest(len(tk) - 7, 1) + 1), "
    "i -> md5(array_to_string(list_slice(tk, CAST(i AS INT), "
    "CAST(i AS INT) + 7), ' ')))"
)


@query(
    "decontaminate_train_docs",
    oracle=f"""
    -- benchmark decontamination: training docs sharing ANY exact 8-token
    -- span with the held-out slice (doc_id % 20 = 0) are dropped
    WITH t AS MATERIALIZED (
      SELECT doc_id, {_TOKS.format(c='text')} AS tk FROM documents
    ), g AS MATERIALIZED (
      SELECT DISTINCT doc_id, unnest({_GRAM8}) AS g
      FROM t WHERE len(tk) >= 8
    ), ev AS (
      SELECT DISTINCT g FROM g WHERE doc_id % 20 = 0
    ), bad AS (
      SELECT DISTINCT doc_id FROM g
      WHERE doc_id % 20 <> 0 AND g IN (SELECT g FROM ev)
    )
    SELECT d.doc_id, d.lang FROM documents d
    WHERE d.doc_id % 20 <> 0 AND d.doc_id NOT IN (SELECT doc_id FROM bad)
    """,
    tags=("decontamination", "dedup", "train-test-overlap"),
)
def decontaminate_train_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination (pipeline.dedup.decontaminate): the
    held-out slice's 8-gram hashes are deduped and BROADCAST (eval suites
    are tiny next to a training corpus), so contamination checking is a
    map-side semi join — the training text never shuffles, and the final
    anti join moves only contaminated ids."""
    docs = _docs(spark, sf_dir)
    train = docs.where(F.col("doc_id") % 20 != 0)
    heldout = docs.where(F.col("doc_id") % 20 == 0)
    return dedup.decontaminate(train, heldout, "doc_id", "text", n=8).select(
        "doc_id", "lang"
    )


@query(
    "text_repetition_bigram",
    oracle=f"""
    -- Gopher-style repeated-n-gram quality signal: per doc, the share of
    -- bigram occurrences taken by its most frequent bigram
    WITH t AS (
      SELECT doc_id, {_TOKS.format(c='text')} AS tk FROM documents
    ), g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(tk) - 1, 1) + 1),
               i -> md5(array_to_string(list_slice(tk, CAST(i AS INT),
                                                   CAST(i AS INT) + 1), ' '))))
               AS g
      FROM t WHERE len(tk) >= 2
    ), c AS (
      SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2
    )
    SELECT doc_id,
           {R('CAST(max(c) AS DOUBLE) / sum(c)', 6)} AS top_gram_frac,
           CAST(sum(c) AS BIGINT) AS n_grams
    FROM c GROUP BY 1
    """,
    tags=("text-quality", "repetition", "gopher-filter"),
)
def text_repetition_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition scores (pipeline.dedup.repetition_scores,
    n=2) — the repeated-n-gram fraction MassiveText-style quality gates
    threshold on. Two partial-aggregated hash shuffles of narrow
    (id, hash, count) rows; the text itself never leaves its scan task."""
    docs = _docs(spark, sf_dir)
    scores = dedup.repetition_scores(docs, "doc_id", "text", n=2)
    return scores.select(
        F.col("id").alias("doc_id"),
        pround(F.col("top_gram_frac"), 6).alias("top_gram_frac"),
        "n_grams",
    )


_CHUNK, _STRIDE = 64, 48


@query(
    "chunk_documents_windows",
    oracle=f"""
    -- fixed-token chunking with overlap (embedding preprocessing): starts
    -- at 1, 1+stride, ...; one trailing start when the tail would
    -- otherwise be uncovered; chunk_id = ordinal on the stride grid
    WITH t AS (
      SELECT doc_id, {_TOKS.format(c='text')} AS tk FROM documents
    ), s AS (
      SELECT doc_id, tk, len(tk) AS n FROM t WHERE len(tk) > 0
    ), c AS (
      SELECT doc_id, tk, n,
             unnest(range(1,
               greatest(n - {_CHUNK - 1}, 1)
               + CASE WHEN n > {_CHUNK} AND (n - {_CHUNK}) % {_STRIDE} <> 0
                      THEN {_STRIDE} ELSE 0 END + 1,
               {_STRIDE})) AS start
      FROM s
    )
    SELECT doc_id,
           CAST((start - 1) / {_STRIDE} AS BIGINT) AS chunk_id,
           array_to_string(list_slice(tk, start, start + {_CHUNK - 1}), ' ')
             AS chunk_text,
           CAST(len(list_slice(tk, start, start + {_CHUNK - 1})) AS BIGINT)
             AS n_tokens
    FROM c WHERE start <= n
    """,
    tags=("chunking", "embedding-prep", "pipeline"),
)
def chunk_documents_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-token document chunks
    (pipeline.packing.chunk_documents, 64-token windows, stride 48) — the
    encoder-context preprocessing step between curation and embedding.
    Tokenization runs once per document behind a Generate barrier; the
    explode fans out with the input partitioning, zero shuffles."""
    from prajna_spark.pipeline.packing import chunk_documents

    docs = _docs(spark, sf_dir)
    return chunk_documents(docs, "doc_id", "text", _CHUNK, _STRIDE)


@query(
    "dedup_stream_firstseen",
    oracle=f"""
    -- batch twin of incremental ingest dedup: after AvailableNow drains
    -- the source, the output sink holds exactly the first-seen (lowest
    -- doc_id) document per content fingerprint
    WITH f AS (
      SELECT doc_id, lang, md5({_NORM.format(c='text')}) AS fingerprint
      FROM documents
    )
    SELECT fingerprint,
           min(doc_id) AS doc_id,
           min_by(lang, doc_id) AS lang
    FROM f GROUP BY fingerprint
    """,
    tags=("dedup", "streaming", "incremental-ingest"),
)
def dedup_stream_firstseen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup end-to-end through the PERSISTED path
    (streaming.dedup_stream): readStream over documents -> in-batch canon
    (min_by doc_id per fingerprint) -> anti-join vs the fingerprint store
    -> append survivors. Driver-checked guarantee: output after drain ==
    global first-seen set — exactly-once output from at-least-once input.
    Only (fingerprint, id) rows ever shuffle; documents ride within their
    batch."""
    from prajna_spark.streaming.dedup_stream import start_incremental_dedup

    tune(spark)
    base = work_dir("dedup_stream_q", sf_dir)
    docs = stream_table(
        spark,
        "documents",
        sf_dir,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    q = start_incremental_dedup(
        docs, "doc_id", "text",
        f"{base}/store", f"{base}/out", f"{base}/ckpt",
    )
    q.awaitTermination()
    return spark.read.parquet(f"{base}/out").select("fingerprint", "doc_id", "lang")


@query(
    "text_stats",
    oracle=f"""
    SELECT doc_id,
           length(text)                          AS n_chars_actual,
           len({_TOKS.format(c='text')})         AS n_tokens,
           {_BPE.format(c='text')}               AS n_bpe_tokens,
           {R(_PUNCT.format(c='text'), 4)}       AS punct_ratio
    FROM documents
    """,
    tags=("text", "tokenize", "quality"),
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish regex) and punctuation ratio —
    all codegen'd column expressions from pipeline.textqa."""
    docs = _docs(spark, sf_dir)
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.length(t).cast("long").alias("n_chars_actual"),
        textqa.token_count(t).cast("long").alias("n_tokens"),
        textqa.bpe_ish_token_count(t).cast("long").alias("n_bpe_tokens"),
        pround(textqa.punct_ratio(t), 4).alias("punct_ratio"),
    )



@query(
    "text_lang_id",
    oracle=f"""
    SELECT doc_id, lang,
           {_LANG_CASE}                 AS lang_pred,
           {R(_EN_SCORE, 4)}            AS en_ratio
    FROM documents
    """,
    tags=("text", "lang-id"),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language ID heuristic (pipeline.textqa.lang_id),
    compared against the table's labeled ``lang``."""
    docs = _docs(spark, sf_dir)
    t = F.col("text")
    en_ratio = textqa.stopword_hits(t, "en") / F.greatest(
        textqa.token_count(t), F.lit(1)
    )
    return docs.select(
        "doc_id",
        "lang",
        textqa.lang_id(t).alias("lang_pred"),
        pround(en_ratio, 4).alias("en_ratio"),
    )



@query(
    "text_quality",
    oracle=f"""
    SELECT doc_id,
           {R(f'''(
             least(length(text) / 500.0, 1.0)
             + (1.0 - least(({_PUNCT.format(c="text")}) * 4, 1.0))
             + least(len(list_filter({_TOKS.format(c="text")}, w -> w IN ({_EN_WORDS})))
                     / greatest(len({_TOKS.format(c="text")}), 1) * 5, 1.0)
             + (CASE WHEN length({_NORM.format(c="text")})
                          / greatest(len({_TOKS.format(c="text")}), 1)
                     BETWEEN 3 AND 10 THEN 1.0 ELSE 0.5 END)
           ) / 4''', 4)} AS quality
    FROM documents
    """,
    tags=("text", "quality"),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score (pipeline.textqa.quality_score)."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id", pround(textqa.quality_score(F.col("text")), 4).alias("quality")
    )



@query(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5({_NORM.format(c='text')})               AS fingerprint,
           substring(md5({_NORM.format(c='text')}), 1, 8) AS fp_short
    FROM documents
    """,
    tags=("text", "fingerprint"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint of normalized text (pipeline.textqa.fingerprint)."""
    docs = _docs(spark, sf_dir)
    fp = textqa.fingerprint(F.col("text"))
    return docs.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.substring(fp, 1, 8).alias("fp_short"),
    )


@query(
    "dedup_exact",
    oracle=f"""
    SELECT md5({_NORM.format(c='text')}) AS fingerprint,
           min(doc_id)                   AS canonical_id,
           count(*)                      AS n_dups
    FROM documents
    GROUP BY 1
    """,
    tags=("dedup", "exact"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups by content fingerprint — shuffles (hash, id)
    pairs only (pipeline.dedup.exact_dedup_groups)."""
    docs = _docs(spark, sf_dir)
    return dedup.exact_dedup_groups(docs, "doc_id", "text")



@query(
    "dedup_minhash_signatures",
    oracle=f"""
    SELECT doc_id,
           {_minhash_sql(0)} AS minhash_0,
           {_minhash_sql(1)} AS minhash_1,
           {_minhash_sql(2)} AS minhash_2,
           {_minhash_sql(3)} AS minhash_3
    FROM documents
    """,
    tags=("dedup", "minhash"),
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (4 seeded min-wise hashes over 5-char shingles
    of normalized text, capped at 512 chars) — pipeline.dedup.minhash_signature
    (explode-based: one regex pass per doc, shingle rows distribute,
    partial-agg min before the shuffle)."""
    docs = _docs(spark, sf_dir)
    return dedup.minhash_signature(docs, "doc_id", "text", n_hashes=4)



@query(
    "dedup_lsh_pairs",
    oracle=f"""
    WITH sig AS MATERIALIZED (
      SELECT doc_id,
             {_minhash_sql(0)} AS m0, {_minhash_sql(1)} AS m1,
             {_minhash_sql(2)} AS m2, {_minhash_sql(3)} AS m3
      FROM documents
    ), bands AS MATERIALIZED (
      SELECT doc_id, 0 AS band_id, concat(m0, m1) AS band_val FROM sig
      UNION ALL
      SELECT doc_id, 1 AS band_id, concat(m2, m3) AS band_val FROM sig
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
    """,
    tags=("dedup", "minhash", "lsh"),
)
def dedup_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs via band-bucket equi-join (2 bands × 2
    hashes) — pipeline.dedup.lsh_band_pairs. On this synthetic corpus the
    pair set may be small/empty; the op and its plan (equi-join, never a
    cross join) are what's under test."""
    docs = _docs(spark, sf_dir)
    return dedup.lsh_band_pairs(docs, "doc_id", "text", n_hashes=4, band_size=2)



@query(
    "dedup_simhash",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct({_TOKS.format(c='text')})) AS tok
      FROM documents
    ), contrib AS (
      SELECT doc_id, j,
             ((strpos('0123456789abcdef', substring(md5(tok), CAST(j AS INT), 1)) - 1)
              % 2) * 2 - 1 AS w
      FROM toks, range(1, 17) t(j)
    ), bits AS (
      SELECT doc_id, j, sum(w) AS ws FROM contrib GROUP BY doc_id, j
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN ws > 0 THEN CAST(pow(2, j - 1) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS simhash16
    FROM bits GROUP BY doc_id
    """,
    tags=("dedup", "simhash"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document (pipeline.dedup.simhash16_df) — fully
    relational explode/groupBy, no UDFs."""
    docs = _docs(spark, sf_dir)
    return dedup.simhash16_df(docs, "doc_id", "text")



@query(
    "dedup_jaccard_adjacent",
    oracle=f"""
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           len(list_intersect(list_distinct({_TOKS.format(c='a.text')}),
                              list_distinct({_TOKS.format(c='b.text')}))) AS n_common,
           {R(f'''len(list_intersect(list_distinct({_TOKS.format(c="a.text")}),
                                    list_distinct({_TOKS.format(c="b.text")})))
                 / greatest(len(list_distinct(list_concat(
                       list_distinct({_TOKS.format(c="a.text")}),
                       list_distinct({_TOKS.format(c="b.text")})))), 1)''', 4)} AS jaccard
    FROM documents a JOIN documents b ON a.doc_id + 1 = b.doc_id
    """,
    tags=("dedup", "jaccard", "ngram"),
)
def dedup_jaccard_adjacent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-set Jaccard on adjacent-id pairs (pipeline.dedup.jaccard_pairs)
    — the exact comparator one runs on LSH candidate pairs."""
    docs = _docs(spark, sf_dir)
    return dedup.jaccard_pairs(docs, "doc_id", "text")



@query(
    "curate_training_corpus",
    oracle=f"""
    -- end-to-end curation: quality gate + language gate + exact dedup
    -- (keep lowest doc_id per fingerprint)
    WITH scored AS (
      SELECT doc_id, lang, n_chars,
             md5(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')))
               AS fingerprint,
             {_QUALITY_SQL} AS quality
      FROM documents
    ), gated AS (
      SELECT * FROM scored WHERE quality >= 0.5 AND lang IN ('en', 'es')
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id)
                  AS rn
      FROM gated
    )
    SELECT doc_id, lang, n_chars, fingerprint, {R('quality', 4)} AS quality
    FROM ranked WHERE rn = 1
    """,
    tags=("pipeline", "curation", "dedup", "quality"),
)
def curate_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline in one plan: quality scoring ->
    quality + language gates -> exact dedup keeping the canonical (lowest
    doc_id) copy. One scan, one HASH-AGG shuffle: min_by(struct, doc_id)
    picks the canonical row per fingerprint with map-side partial
    aggregation and no sort (a row_number window would sort every
    partition); filters run BEFORE the shuffle so rejected docs never
    move. This is the curation job a 100 TB corpus runs nightly."""
    from prajna_spark.operators.fanout import fan_out

    # the fingerprint + quality regex work is the expensive map side and
    # a single-file corpus scans as one split (measured: 0.77 s serial
    # stage); conditional spread, no-op at scale (r11, guide §2.5)
    docs = fan_out(_docs(spark, sf_dir))
    t = F.col("text")
    scored = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        textqa.fingerprint(t).alias("fingerprint"),
        textqa.quality_score(t).alias("quality"),
    )
    gated = scored.where((F.col("quality") >= 0.5) & F.col("lang").isin("en", "es"))
    canon = gated.groupBy("fingerprint").agg(
        F.min_by(
            F.struct("doc_id", "lang", "n_chars", "quality"), F.col("doc_id")
        ).alias("__c")
    )
    return canon.select(
        F.col("__c.doc_id").alias("doc_id"),
        F.col("__c.lang").alias("lang"),
        F.col("__c.n_chars").alias("n_chars"),
        "fingerprint",
        pround(F.col("__c.quality"), 4).alias("quality"),
    )



@query(
    "dedup_connected_components",
    oracle=f"""
    -- connected components of the LSH candidate-pair graph; component id =
    -- min reachable doc_id; docs in no pair are singletons. Computed by an
    -- unrolled min-label + pointer-jump ladder (see _cc_levels).
    WITH sig AS MATERIALIZED (
      SELECT doc_id,
             {_minhash_sql(0)} AS m0, {_minhash_sql(1)} AS m1,
             {_minhash_sql(2)} AS m2, {_minhash_sql(3)} AS m3
      FROM documents
    ), bands AS MATERIALIZED (
      SELECT doc_id, 0 AS band_id, concat(m0, m1) AS band_val FROM sig
      UNION ALL
      SELECT doc_id, 1 AS band_id, concat(m2, m3) AS band_val FROM sig
    ), pairs AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_val = b.band_val
           AND a.doc_id < b.doc_id
    ), edges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    {_cc_levels(_CC_LEVELS)}
    SELECT id AS doc_id, label AS component_id FROM l{_CC_LEVELS}
    """,
    tags=("dedup", "connected-components", "iterative", "graph"),
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster resolution: MinHash-LSH candidate pairs -> exact
    connected components by min-label propagation
    (pipeline.dedup.connected_components) -> one canonical id per cluster.
    The iterative Spark computation is hash-checked against DuckDB's
    recursive-CTE transitive closure — exact, not approximate."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.lsh_band_pairs(docs, "doc_id", "text", n_hashes=4, band_size=2)
    return dedup.connected_components(
        pairs, docs.select("doc_id"), id_col="doc_id"
    )



@query(
    "dedup_lsh_verified",
    oracle=f"""
    -- the full near-dup funnel: LSH candidates -> exact Jaccard >= 0.6
    WITH sig AS MATERIALIZED (
      SELECT doc_id,
             {_minhash_sql(0)} AS m0, {_minhash_sql(1)} AS m1,
             {_minhash_sql(2)} AS m2, {_minhash_sql(3)} AS m3,
             list_distinct({_TOKS.format(c='text')}) AS ws
      FROM documents
    ), bands AS MATERIALIZED (
      SELECT doc_id, 0 AS band_id, concat(m0, m1) AS band_val FROM sig
      UNION ALL
      SELECT doc_id, 1 AS band_id, concat(m2, m3) AS band_val FROM sig
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_val = b.band_val
           AND a.doc_id < b.doc_id
    ), scored AS (
      SELECT p.id_a, p.id_b,
             {R('''len(list_intersect(sa.ws, sb.ws))
                / greatest(len(list_distinct(sa.ws || sb.ws)), 1)''', 4)} AS jaccard
      FROM pairs p
      JOIN sig sa ON sa.doc_id = p.id_a
      JOIN sig sb ON sb.doc_id = p.id_b
    )
    SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= 0.6
    """,
    tags=("dedup", "minhash", "lsh", "jaccard", "funnel"),
)
def dedup_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete near-duplicate funnel in one plan: MinHash signatures
    -> LSH band candidates -> exact word-set Jaccard verification at 0.6.
    Candidates are O(collisions), so the exact comparator runs on a sliver
    of the n^2 pair space — the shape that makes near-dup feasible at
    100 TB (pipeline.dedup.verify_pairs_jaccard)."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.lsh_band_pairs(docs, "doc_id", "text", n_hashes=4, band_size=2)
    return dedup.verify_pairs_jaccard(docs, pairs, threshold=0.6)


def _pii_planted_spark() -> F.Column:
    from pyspark.sql.functions import concat, lit, col

    return concat(
        col("text"),
        lit(" contact_"),
        col("doc_id").cast("string"),
        lit("@example.com ip 10.0."),
        (col("doc_id") % 256).cast("string"),
        lit(".1 call +1 555-"),
        (F.lit(1000000) + col("doc_id") % 1000000).cast("string"),
        lit(" card "),
        (F.lit(4000000000000000) + col("doc_id")).cast("string"),
    )


_PII_PLANTED_SQL = (
    "text || ' contact_' || CAST(doc_id AS VARCHAR)"
    " || '@example.com ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)"
    " || '.1 call +1 555-' || CAST(1000000 + doc_id % 1000000 AS VARCHAR)"
    " || ' card ' || CAST(4000000000000000 + doc_id AS VARCHAR)"
)


def _pii_oracle_sql() -> str:
    from prajna_spark.pipeline.pii import oracle_count_sql, oracle_redact_sql

    counts = ", ".join(oracle_count_sql("planted"))
    redacted = oracle_redact_sql("planted")
    return f"""
    -- PII scrub parity: the SAME pattern strings and replacement order
    -- as pipeline.pii.PII_PATTERNS, applied by RE2 with 'g' (= Java
    -- regex replace-all); planted PII is deterministic per doc_id
    WITH planted_docs AS (
      SELECT doc_id, {_PII_PLANTED_SQL} AS planted FROM documents
    )
    SELECT doc_id, {redacted} AS text, {counts}
    FROM planted_docs
    """


@query(
    "redact_pii_documents",
    oracle=_pii_oracle_sql(),
    tags=("pii", "redaction", "text", "pipeline"),
)
def redact_pii_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (pipeline.pii.redact_documents): emails / IPv4 / card
    numbers / phone numbers replaced by placeholders, with per-category
    match counts — the first gate of a 100 TB ingest. The corpus text has
    no PII, so a deterministic per-doc_id PII suffix is planted first and
    the oracle plants the identical suffix; the redaction itself is four
    chained regexp_replace column expressions fused into one codegen
    stage over the scan (no Python, no shuffle — embarrassingly parallel
    at any scale). Pattern strings are shared verbatim with the DuckDB
    oracle (dialect-intersection regexes; RE2 'g' == Java replace-all),
    and counts are progressive (each category counted after earlier
    categories were replaced) so their sum equals the number of
    placeholder insertions."""
    from prajna_spark.pipeline.pii import redact_documents

    docs = _docs(spark, sf_dir)
    planted = docs.select("doc_id", _pii_planted_spark().alias("text"))
    out = redact_documents(planted, "text")
    return out.select(
        "doc_id", "text", "n_email", "n_ipv4", "n_card", "n_phone"
    )


@query(
    "dedup_canonical_docs",
    oracle=f"""
    -- the dedup DECISION: per multi-doc near-dup cluster, keep the
    -- longest member (doc_id tiebreak); same CC ladder as
    -- dedup_connected_components
    WITH sig AS MATERIALIZED (
      SELECT doc_id,
             {_minhash_sql(0)} AS m0, {_minhash_sql(1)} AS m1,
             {_minhash_sql(2)} AS m2, {_minhash_sql(3)} AS m3
      FROM documents
    ), bands AS MATERIALIZED (
      SELECT doc_id, 0 AS band_id, concat(m0, m1) AS band_val FROM sig
      UNION ALL
      SELECT doc_id, 1 AS band_id, concat(m2, m3) AS band_val FROM sig
    ), pairs AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_val = b.band_val
           AND a.doc_id < b.doc_id
    ), edges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    {_cc_levels(_CC_LEVELS)}
    , comp AS (
      SELECT c.label AS component_id, c.id AS doc_id, d.n_chars
      FROM l{_CC_LEVELS} c JOIN documents d ON d.doc_id = c.id
    ), ranked AS (
      SELECT component_id, doc_id, n_chars,
             row_number() OVER (PARTITION BY component_id
                                ORDER BY n_chars DESC, doc_id) AS rn,
             count(*) OVER (PARTITION BY component_id) AS n_members
      FROM comp
    )
    SELECT component_id, doc_id AS kept_doc_id, n_chars AS kept_chars,
           n_members
    FROM ranked WHERE rn = 1 AND n_members > 1
    """,
    tags=("dedup", "canonical-selection", "graph", "pipeline"),
)
def dedup_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION step — what actually ships to training: for
    every multi-document near-dup cluster (LSH pairs -> connected
    components), keep the longest member (doc_id tiebreak) and record
    the cluster size. Composition of verified operators: lsh_band_pairs
    (capped buckets) -> connected_components (O(log d) min-label +
    pointer jump) -> a per-component row_number window that Spark
    bounds pre-shuffle via WindowGroupLimit. Everything shuffled is
    (id, label, n_chars) rows — never text."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.lsh_band_pairs(docs, "doc_id", "text", n_hashes=4, band_size=2)
    comp = dedup.connected_components(
        pairs, docs.select("doc_id"), id_col="doc_id"
    )
    from pyspark.sql import Window

    joined = comp.join(docs.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("component_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    wc = Window.partitionBy("component_id")
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(wc))
        .where((F.col("__rn") == 1) & (F.col("n_members") > 1))
        .select(
            "component_id",
            F.col("doc_id").alias("kept_doc_id"),
            F.col("n_chars").alias("kept_chars"),
            "n_members",
        )
    )


@query(
    "pmi_collocations",
    oracle=f"""
    -- pointwise mutual information of adjacent token bigrams (collocation
    -- extraction): pmi = ln( p(a,b) / (p(a) p(b)) ), counts over the whole
    -- corpus, min pair count 5; every arithmetic step is exact IEEE in the
    -- same order on both engines, ln is bit-identical libm
    WITH toks AS MATERIALIZED (
      SELECT doc_id, {_TOKS.format(c="text")} AS tk FROM documents
    ),
    uni AS MATERIALIZED (
      SELECT term, CAST(count(*) AS BIGINT) AS c FROM (
        SELECT unnest(tk) AS term FROM toks
      ) GROUP BY term
    ),
    big AS MATERIALIZED (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair FROM (
        SELECT unnest(list_transform(range(1, len(tk)), i -> tk[i])) AS w1,
               unnest(list_transform(range(1, len(tk)), i -> tk[i + 1])) AS w2
        FROM toks
      ) GROUP BY w1, w2
    ),
    tot AS (
      SELECT (SELECT CAST(sum(c) AS DOUBLE) FROM uni) AS t_tok,
             (SELECT CAST(sum(n_pair) AS DOUBLE) FROM big) AS t_pair
    )
    SELECT b.w1, b.w2, b.n_pair,
           (floor(ln(
              (CAST(b.n_pair AS DOUBLE) / t.t_pair)
              / ((CAST(u1.c AS DOUBLE) / t.t_tok)
                 * (CAST(u2.c AS DOUBLE) / t.t_tok))
            ) * 1e6 + 5e-1) / 1e6) AS pmi
    FROM big b
    JOIN uni u1 ON u1.term = b.w1
    JOIN uni u2 ON u2.term = b.w2
    CROSS JOIN tot t
    WHERE b.n_pair >= 5
    """,
    tags=("text", "collocations", "pmi", "ngram"),
)
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction: PMI of adjacent token bigrams over the
    corpus — the lexical-association signal phrase-mining / tokenizer-
    vocabulary pipelines rank candidate multi-word units by. Plan: ONE
    tokenize pass feeds both the unigram and bigram counts (bigrams via a
    JVM transform over 1-based element_at — no Python), the two count
    joins key on single terms (narrow; AQE broadcasts the vocab-sized
    side when it is small), and corpus totals ride a one-row broadcast.
    At 100 TB the shuffles carry (term) and (w1, w2) count rows only,
    never text."""
    from prajna_spark.operators.lifecycle import (
        scoped_local_checkpoint,
        scoped_persist,
    )

    tune(spark)
    docs = load_table(spark, "documents", sf_dir)
    # ONE tokenize pass, for real: unigram counts, bigram counts, and the
    # two totals all read this frame — eagerly checkpointed (r11: lazy
    # persist let concurrent branch stages race to tokenize; eager
    # materialization is one job and every branch reads stored blocks)
    from prajna_spark.operators.fanout import fan_out

    # fan_out first: the single-split corpus tokenized serially inside
    # the cut (conditional no-op at scale; r11, guide §2.5)
    toks = scoped_local_checkpoint(
        fan_out(docs).select(textqa.tokens(F.col("text")).alias("tk"))
    )
    # the count tables each feed the totals broadcast AND the scoring
    # join — persist so the explode+aggregate runs once per table (the
    # totals job populates the cache before the final join job reads it)
    uni = scoped_persist(
        toks.select(F.explode("tk").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    big = (
        toks.select(
            F.explode(
                F.expr(
                    # CASE-guarded: sequence(1, 0) DESCENDS in Spark, so
                    # 0/1-token docs need an explicit empty branch
                    "CASE WHEN size(tk) >= 2 THEN"
                    " transform(sequence(1, size(tk) - 1),"
                    " i -> struct(element_at(tk, i) AS w1,"
                    "             element_at(tk, i + 1) AS w2))"
                    " ELSE array() END"
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
    )
    big = scoped_persist(big)
    tot = uni.agg(F.sum("c").cast("double").alias("t_tok")).crossJoin(
        big.agg(F.sum("n_pair").cast("double").alias("t_pair"))
    )
    u1 = uni.select(F.col("term").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("term").alias("w2"), F.col("c").alias("c2"))
    return (
        big.where(F.col("n_pair") >= 5)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "n_pair",
            pround(
                F.log(
                    (F.col("n_pair").cast("double") / F.col("t_pair"))
                    / (
                        (F.col("c1").cast("double") / F.col("t_tok"))
                        * (F.col("c2").cast("double") / F.col("t_tok"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )


@query(
    "dedup_sorted_neighborhood",
    oracle="""
    -- sorted-neighborhood blocking over part names (window 4) + exact
    -- levenshtein verification <= 4: the merge/purge candidate generator
    -- for typo-duplicates; identical deterministic total order (p_name,
    -- p_partkey) on both engines, integer edit distance
    WITH r AS (
      SELECT p_partkey, p_name,
             row_number() OVER (ORDER BY p_name, p_partkey) AS rn
      FROM part
    )
    SELECT a.p_partkey AS a_id, b.p_partkey AS b_id,
           CAST(b.rn - a.rn AS BIGINT) AS gap,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS lev
    FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND 3
    WHERE levenshtein(a.p_name, b.p_name) <= 4
    """,
    tags=("dedup", "blocking", "sorted-neighborhood", "fuzzy"),
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood candidate pairs over part names
    (pipeline.dedup.sorted_neighborhood_pairs, window=4) verified with
    exact levenshtein <= 4 — the blocking flavor that catches sort-
    adjacent near-misses where hash blocking needs identical keys. The
    oracle's single-node row_number replays the same total order; the
    Spark side builds it distributed (range partition + prefix-sum
    offsets), pairs via one narrow rn equi-join, and emits O(window * n)
    candidates by construction."""
    tune(spark)
    part = load_table(spark, "part", sf_dir)
    pairs = dedup.sorted_neighborhood_pairs(
        part, id_col="p_partkey", key_col="p_name", window=4
    )
    return pairs.select(
        "a_id",
        "b_id",
        "gap",
        F.levenshtein("a_key", "b_key").cast("long").alias("lev"),
    ).where(F.col("lev") <= 4)


@query(
    "dedup_jaccard_exact_join",
    oracle="""
    -- ground truth for the PPJoin prefix-filtered similarity join: ALL
    -- pairs with word-4-gram-shingle Jaccard >= 0.6, exactly (prefix
    -- filtering has no false negatives). Inverted index: a pair that
    -- shares no shingle has Jaccard 0, so the self-join on the shingle
    -- finds every candidate and counts |A n B|; |A u B| = |A|+|B|-|A n B|
    -- over the distinct shingle sets
    WITH tt AS (
      SELECT doc_id,
             list_filter(string_split_regex(
               trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')),
               ' +'), w -> w <> '') AS tk
      FROM documents
    ), s AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(tk) - 3, 0) + 1),
               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]
             )) AS ss
      FROM tt
    ), sh AS (
      SELECT doc_id, unnest(ss) AS g FROM s
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS k
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b, jaccard FROM (
      SELECT i.id_a, i.id_b,
             (floor(i.k / CAST(len(a.ss) + len(b.ss) - i.k AS DOUBLE)
                    * 1e4 + 5e-1) / 1e4) AS jaccard
      FROM inter i
      JOIN s a ON a.doc_id = i.id_a
      JOIN s b ON b.doc_id = i.id_b
    ) WHERE jaccard >= 6e-1
    """,
    tags=("dedup", "similarity-join", "prefix-filter", "exact"),
)
def dedup_jaccard_exact_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT all-pairs similarity self-join at Jaccard >= 0.6 over word
    4-gram shingles (pipeline.dedup.jaccard_similarity_join) — PPJoin-
    style prefix filtering: each document exposes only its rarest
    s - ceil(t*s) + 1 shingles (global rarity order from a distributed
    zip-with-index), candidates come from one equi-join on those
    low-df shingles plus a length filter, and exact Jaccard verifies
    survivors. Provably zero false negatives, which is why the exact
    oracle (an inverted index over every shingle, no prefix filter)
    hash-matches; neither side materializes the O(n^2) pair space."""
    tune(spark)
    docs = load_table(spark, "documents", sf_dir)
    return dedup.jaccard_similarity_join(
        docs, id_col="doc_id", text_col="text", threshold=0.6, gram=4
    )


@query(
    "resolve_part_entities",
    oracle=f"""
    -- end-to-end entity resolution over part names: sorted-neighborhood
    -- blocking (window 4) -> levenshtein <= 2 match edges -> connected
    -- components -> canonical cluster certificate (min partkey, its name,
    -- member count); singletons included
    WITH r AS MATERIALIZED (
      SELECT p_partkey, p_name,
             row_number() OVER (ORDER BY p_name, p_partkey) AS rn
      FROM part
    ), pairs AS MATERIALIZED (
      SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
      FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND 3
      WHERE levenshtein(a.p_name, b.p_name) <= 2
    ), edges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    {_cc_levels(_CC_LEVELS, node_table="part", node_id="p_partkey")},
    cc AS (
      SELECT c.id AS p_partkey, c.label AS entity_id
      FROM l{_CC_LEVELS} c
    )
    SELECT cc.entity_id,
           CAST(count(*) AS BIGINT) AS n_members,
           min_by(p.p_name, p.p_partkey) AS canonical_name
    FROM cc JOIN part p USING (p_partkey)
    GROUP BY cc.entity_id
    """,
    tags=("entity-resolution", "dedup", "composition", "graph"),
)
def resolve_part_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution COMPOSED from the pipeline's own
    primitives: sorted-neighborhood blocking
    (dedup.sorted_neighborhood_pairs, window 4) generates O(window*n)
    candidates, levenshtein <= 2 keeps true matches, connected components
    (dedup.connected_components — the O(log d) pointer-jump loop) resolves
    transitive match chains into entities, and the certificate reports
    each entity's canonical (min-key) record, name, and size. The same
    merge/purge shape a catalog-cleaning job runs at 100 TB; every stage
    keeps its own scale story, and DuckDB replays the whole composition
    exactly."""
    tune(spark)
    part = load_table(spark, "part", sf_dir)
    pairs = dedup.sorted_neighborhood_pairs(
        part, id_col="p_partkey", key_col="p_name", window=4
    ).where(F.levenshtein("a_key", "b_key") <= 2).select(
        F.col("a_id").alias("id_a"), F.col("b_id").alias("id_b")
    )
    cc = dedup.connected_components(
        pairs, part.select("p_partkey"), id_col="p_partkey"
    ).select("p_partkey", F.col("component_id").alias("entity_id"))
    return (
        cc.join(part.select("p_partkey", "p_name"), "p_partkey")
        .groupBy("entity_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.min_by("p_name", "p_partkey").alias("canonical_name"),
        )
    )


# --------------------------------------------------------------------------
# Naive Bayes language classifier (pipeline/classify.py)
# --------------------------------------------------------------------------

_NB_GATE = _hash_gate_sql("doc_id", 0.8, seed="nb1")
_NB_TOKS = _TOKS.format(c="text")


@query(
    "nb_lang_confusion",
    oracle=f"""
    -- multinomial NB with Laplace smoothing, trained on the 80% md5
    -- gate, scored on the held-out 20%; every model term is integer
    -- counts through ln/IEEE division (bit-identical cross-engine), the
    -- per-(doc,class) sum carries the standard portable rounding before
    -- the argmax (ties by label asc)
    WITH train AS MATERIALIZED (
      SELECT doc_id, lang, text FROM documents WHERE {_NB_GATE}
    ),
    test AS MATERIALIZED (
      SELECT doc_id, lang, text FROM documents WHERE NOT ({_NB_GATE})
    ),
    twc AS MATERIALIZED (
      SELECT lang AS label, word, count(*) AS n FROM (
        SELECT lang, unnest({_NB_TOKS}) AS word FROM train
      ) GROUP BY 1, 2
    ),
    tpl AS (SELECT label, CAST(sum(n) AS BIGINT) AS t_l FROM twc GROUP BY 1),
    v AS (SELECT count(DISTINCT word) AS v FROM twc),
    den AS (SELECT tpl.label, tpl.t_l + v.v AS dn FROM tpl, v),
    stats AS (
      SELECT p.label, ln(p.d_l / CAST(t.d AS DOUBLE)) AS logprior
      FROM (SELECT lang AS label, count(*) AS d_l FROM train GROUP BY 1) p,
           (SELECT count(*) AS d FROM train) t
    ),
    dw AS MATERIALIZED (
      SELECT doc_id, word, count(*) AS n FROM (
        SELECT doc_id, unnest({_NB_TOKS}) AS word FROM test
      ) GROUP BY 1, 2
    ),
    tok AS (
      SELECT dw.doc_id, d.label,
             dw.n * ln((coalesce(c.n, 0) + 1) / CAST(d.dn AS DOUBLE)) AS part
      FROM dw
      CROSS JOIN den d
      LEFT JOIN twc c ON c.label = d.label AND c.word = dw.word
    ),
    sums AS (
      SELECT doc_id, label, sum(part) AS s FROM tok GROUP BY 1, 2
    ),
    scores AS (
      SELECT g.doc_id, g.label,
             {R('st.logprior + coalesce(m.s, 0e0)', 6)} AS score
      FROM (SELECT te.doc_id, st0.label FROM test te, stats st0) g
      JOIN stats st ON st.label = g.label
      LEFT JOIN sums m ON m.doc_id = g.doc_id AND m.label = g.label
    ),
    pred AS (
      SELECT doc_id, label AS pred_label FROM (
        SELECT doc_id, label,
               row_number() OVER (
                 PARTITION BY doc_id ORDER BY score DESC, label ASC) AS rn
        FROM scores
      ) WHERE rn = 1
    )
    SELECT te.lang AS true_lang, p.pred_label,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM test te JOIN pred p USING (doc_id)
    GROUP BY 1, 2
    """,
    tags=("classify", "naive-bayes", "lang-id", "pipeline"),
)
def nb_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier trained INSIDE the
    engine (pipeline/classify.py): an 80/20 md5-gated split, Laplace-
    smoothed token likelihoods, and a confusion matrix over the held-out
    docs. The model is three small aggregates (vocab x class
    likelihoods, priors) built with hash aggregations; scoring is one
    shuffle-hash join of test tokens against the model grid and one
    doc-keyed window for the argmax — the supervised twin of the
    stopword-heuristic lang_id, with no ML runtime anywhere.

    NOTE: the synthetic corpus's lang labels are nearly independent of
    its (uniformly tech-English) text, so the learned model hugs the
    class prior — the query validates the MECHANISM (model algebra,
    smoothing, argmax) against the oracle; genuine separation is
    demonstrated in tests/test_classify.py on a separable corpus."""
    from prajna_spark.pipeline.classify import nb_predict, nb_train
    from prajna_spark.pipeline.sampling import hash_gate

    docs = _docs(spark, sf_dir)
    gate = hash_gate(F.col("doc_id"), 0.8, seed="nb1")
    train = docs.where(gate)
    test = docs.where(~gate)
    word_ll, class_stats = nb_train(train, "text", "lang")
    pred = nb_predict(test, word_ll, class_stats, "doc_id", "text")
    return (
        test.select("doc_id", F.col("lang").alias("true_lang"))
        .join(pred, "doc_id")
        .groupBy("true_lang", "pred_label")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# --------------------------------------------------------------------------
# Vocabulary / encoding tier (pipeline/vocab.py)
# --------------------------------------------------------------------------

_TOKS_TEXT = _TOKS.format(c="text")


@query(
    "vocab_frequency_ranked",
    oracle=f"""
    -- frequency-ranked contiguous token ids; the oracle's single-node
    -- row_number is the semantic spec the distributed zip-with-index
    -- must reproduce exactly
    WITH w AS (
      SELECT unnest({_TOKS_TEXT}) AS token FROM documents
    ), c AS (
      SELECT token, CAST(count(*) AS BIGINT) AS cnt
      FROM w GROUP BY token HAVING count(*) >= 5
    )
    SELECT token, cnt,
           CAST(row_number() OVER (ORDER BY cnt DESC, token) - 1 AS BIGINT)
             AS token_id
    FROM c
    """,
    tags=("vocab", "tokenization", "ranking", "pipeline"),
)
def vocab_frequency_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary with frequency-ranked ids
    (pipeline.vocab.build_vocab): wordcount -> min_count cutoff ->
    contiguous 0-based ranks by (cnt desc, token). The rank is a global
    total order spelled via operators.zipindex (range-repartition +
    id-bit ordinals + #partitions-row offset prefix), so no single-task
    ORDER BY window anywhere — the plan that survives a 100 TB corpus."""
    from prajna_spark.pipeline.vocab import build_vocab

    tune(spark)
    docs = fan_out(load_table(spark, "documents", sf_dir).select("text"))
    return build_vocab(docs, "text", min_count=5)


@query(
    "encode_documents_ids",
    oracle=f"""
    -- end-to-end encode replay: vocab build + positional token->id map
    -- (generate_subscripts/unnest expand in lockstep in DuckDB)
    WITH docs AS (
      SELECT doc_id, {_TOKS_TEXT} AS toks FROM documents
    ), w AS (
      SELECT unnest(toks) AS token FROM docs
    ), c AS (
      SELECT token, count(*) AS cnt FROM w GROUP BY token HAVING count(*) >= 5
    ), v AS (
      SELECT token,
             CAST(row_number() OVER (ORDER BY cnt DESC, token) - 1 AS BIGINT)
               AS token_id
      FROM c
    ), e AS (
      SELECT doc_id,
             CAST(generate_subscripts(toks, 1) AS BIGINT) - 1 AS pos,
             unnest(toks) AS token
      FROM docs
    )
    SELECT e.doc_id, e.pos,
           COALESCE(v.token_id, CAST(-1 AS BIGINT)) AS token_id
    FROM e LEFT JOIN v USING (token)
    """,
    tags=("vocab", "encoding", "tokenization", "pipeline"),
)
def encode_documents_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents encoded to vocab ids (pipeline.vocab.encode_documents):
    tokens mapped through the broadcast vocab in position order, OOV ->
    -1. Output is the exploded (doc_id, pos, token_id) long form for the
    oracle compare; the operator itself returns packed id arrays (the
    input shape pipeline.packing.pack_sequences expects). The only
    data-sized shuffle is the positional re-assembly groupBy."""
    from prajna_spark.pipeline.vocab import build_vocab, encode_documents

    tune(spark)
    docs = fan_out(load_table(spark, "documents", sf_dir).select("doc_id", "text"))
    vocab = build_vocab(docs, "text", min_count=5)
    enc = encode_documents(docs, vocab, "doc_id", "text", oov_id=-1)
    return enc.select(
        "doc_id", F.posexplode("token_ids").alias("p", "tid")
    ).select(
        "doc_id",
        F.col("p").cast("long").alias("pos"),
        F.col("tid").alias("token_id"),
    )


@query(
    "bigram_lm_doc_nll",
    oracle=f"""
    -- add-k bigram LM replay: counts are integers, the smoothed
    -- probability is one IEEE division, ln is libm-identical — only the
    -- per-doc mean's sum order varies (rounded at 6)
    WITH docs AS (
      SELECT doc_id, {_TOKS_TEXT} AS toks FROM documents
    ), e AS (
      SELECT doc_id, CAST(generate_subscripts(toks, 1) AS BIGINT) AS pos,
             unnest(toks) AS w1
      FROM docs
    ), bg AS (
      SELECT doc_id, w1,
             lead(w1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
      FROM e
    ), b AS (
      SELECT doc_id, w1, w2 FROM bg WHERE w2 IS NOT NULL
    ), c12 AS (
      SELECT w1, w2, count(*) AS c12 FROM b GROUP BY 1, 2
    ), c1 AS (
      SELECT w1, count(*) AS c1 FROM b GROUP BY 1
    ), v AS (
      SELECT CAST(count(DISTINCT t) AS BIGINT) AS v_size
      FROM (SELECT unnest(toks) AS t FROM docs)
    ), s AS (
      SELECT b.doc_id,
             -ln((c12.c12 + 5e-1) / (c1.c1 + 5e-1 * v.v_size)) AS nll
      FROM b JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(nll), 6) AS avg_nll
    FROM s GROUP BY doc_id
    """,
    tags=("lm", "perplexity", "quality", "pipeline"),
)
def bigram_lm_doc_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean negative log-likelihood under the corpus's own
    add-k-smoothed bigram model (pipeline.lm.score_documents) — the
    classic cheap perplexity filter: improbable-transition documents are
    boilerplate/noise candidates. Bigrams are zipped map-side out of
    each doc's token array (no explode-then-window shuffle; r11); the
    model joins key on narrow token strings with map-combined counts; V
    is a one-row broadcast."""
    from prajna_spark.pipeline.lm import score_documents

    tune(spark)
    docs = fan_out(load_table(spark, "documents", sf_dir).select("doc_id", "text"))
    out = score_documents(docs, "doc_id", "text", k=0.5)
    return out.select(
        "doc_id", "n_bigrams", pround(F.col("avg_nll"), 6).alias("avg_nll")
    )


@query(
    "lsh_stream_candidates",
    oracle=f"""
    -- batch twin of live-index near-dup probing: band collisions between
    -- the probe set (doc_id < 25) and the whole corpus, self-matches out
    WITH sig AS MATERIALIZED (
      SELECT doc_id,
             {_minhash_sql(0)} AS m0, {_minhash_sql(1)} AS m1,
             {_minhash_sql(2)} AS m2, {_minhash_sql(3)} AS m3
      FROM documents
    ), bands AS MATERIALIZED (
      SELECT doc_id, 0 AS band_id, concat(m0, m1) AS band_val FROM sig
      UNION ALL
      SELECT doc_id, 1 AS band_id, concat(m2, m3) AS band_val FROM sig
    )
    SELECT DISTINCT q.doc_id AS query_id, d.doc_id AS doc_id
    FROM bands q JOIN bands d
      ON q.band_id = d.band_id AND q.band_val = d.band_val
         AND q.doc_id <> d.doc_id
    WHERE q.doc_id < 25
    """,
    tags=("dedup", "lsh", "streaming", "incremental-ingest"),
)
def lsh_stream_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous near-dup candidate detection end-to-end through the
    PERSISTED streaming LSH index (streaming.lsh_stream): readStream over
    documents -> minhash band rows appended under bucket partitions ->
    probe the drained index with a query set. The probe side broadcasts
    bands-of-queries so the index scan prunes to the probes' buckets —
    O(probe bands) cells read at any index size. Same signature
    arithmetic as the batch LSH tier, which is what the oracle replays."""
    from prajna_spark.streaming.lsh_stream import (
        search_lsh_index,
        start_incremental_lsh,
    )

    tune(spark)
    base = work_dir("lsh_stream_q", sf_dir)
    docs = stream_table(
        spark,
        "documents",
        sf_dir,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    import os as _os

    from prajna_spark.streaming.statestore import (
        parquet_row_estimate,
        scale_state_partitions,
    )

    est = parquet_row_estimate(_os.path.join(sf_dir, "documents.parquet"))
    # input-derived shuffle partitioning for the drain (r11): see
    # dedup_stream_watermark
    with scale_state_partitions(spark, est):
        q = start_incremental_lsh(docs, f"{base}/index", f"{base}/ckpt")
        q.awaitTermination()
    queries_df = load_table(spark, "documents", sf_dir).where(F.col("doc_id") < 25)
    return search_lsh_index(spark, f"{base}/index", queries_df)


_QM_PS = "[" + ", ".join(repr(i / 100) for i in range(101)) + "]"


@query(
    "quantile_map_doclen",
    oracle=f"""
    -- quantile-normalization replay: identical lattice (quantile_cont ==
    -- Spark percentile), identical integer rank arithmetic
    WITH g AS (
      SELECT quantile_cont(n_chars, {_QM_PS}) AS grid
      FROM documents WHERE lang = 'en'
    ), b AS (
      SELECT doc_id, n_chars FROM documents WHERE lang <> 'en'
    ), r AS (
      SELECT doc_id, n_chars,
             row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS rk,
             count(*) OVER () AS n
      FROM b
    )
    SELECT r.doc_id, r.n_chars,
           round(g.grid[CAST(least(floor(
                   (CAST(rk AS DOUBLE) / CAST(n - 1 AS DOUBLE)) * 100
                 ), 100) AS INT) + 1], 6) AS mapped
    FROM r, g
    """,
    tags=("features", "calibration", "quantile-normalization", "pipeline"),
)
def quantile_map_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source score calibration (pipeline.features.quantile_map):
    non-English documents' length scores re-expressed on the English
    subcorpus's distribution — each value lands at the ref quantile
    matching its own rank percentile. The ref lattice is one broadcast
    row; ranks come from the distributed zip-with-index (id-broken ties,
    no single-task ORDER BY), so the whole mapping is two tiny
    broadcasts over one ranked pass."""
    from prajna_spark.pipeline.features import quantile_map

    tune(spark)
    docs = load_table(spark, "documents", sf_dir)
    ref = docs.where(F.col("lang") == "en")
    b = docs.where(F.col("lang") != "en").select("doc_id", "n_chars")
    out = quantile_map(b, ref, "n_chars", "doc_id", grid=100)
    return out.select("doc_id", "n_chars", pround(F.col("mapped"), 6).alias("mapped"))


@query(
    "source_overlap_matrix",
    oracle=f"""
    -- per-source KMV sketches (60-bit fingerprint slices), pairwise
    -- merged-sketch Jaccard/intersection estimates — replayed with
    -- window ranks instead of Spark's array algebra, same numbers
    WITH f AS (
      SELECT DISTINCT source,
             CAST('0x' || substring(md5({_NORM.format(c='text')}), 1, 15)
                  AS BIGINT) AS h
      FROM documents
    ), r AS (
      SELECT source, h,
             row_number() OVER (PARTITION BY source ORDER BY h) AS rn
      FROM f
    ), sk AS (SELECT source, h FROM r WHERE rn <= 64),
    srcs AS (SELECT DISTINCT source FROM sk),
    pairs AS (
      SELECT a.source AS sa, b.source AS sb
      FROM srcs a JOIN srcs b ON a.source < b.source
    ), u AS (
      SELECT p.sa, p.sb, s.h
      FROM pairs p JOIN sk s ON s.source = p.sa OR s.source = p.sb
      GROUP BY p.sa, p.sb, s.h
    ), um AS (
      SELECT sa, sb, h,
             row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
      FROM u
    ), mk AS (SELECT sa, sb, h FROM um WHERE rn <= 64),
    stats AS (
      SELECT mk.sa, mk.sb,
             CAST(count(*) AS BIGINT) AS nm, max(mk.h) AS hk,
             CAST(sum(CASE WHEN ia.h IS NOT NULL AND ib.h IS NOT NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS ni
      FROM mk
      LEFT JOIN sk ia ON ia.source = mk.sa AND ia.h = mk.h
      LEFT JOIN sk ib ON ib.source = mk.sb AND ib.h = mk.h
      GROUP BY 1, 2
    )
    SELECT sa AS source_a, sb AS source_b,
           round(CASE WHEN nm > 0 THEN CAST(ni AS DOUBLE) / nm
                 ELSE 0e0 END, 6) AS jaccard_est,
           round((CASE WHEN nm > 0 THEN CAST(ni AS DOUBLE) / nm
                  ELSE 0e0 END)
                 * (CASE WHEN nm < 64 THEN CAST(nm AS DOUBLE)
                    ELSE (63e0 * 1152921504606846976) / hk END), 6)
             AS inter_est
    FROM stats
    """,
    tags=("dedup", "sketch", "kmv", "overlap", "diagnostics", "pipeline"),
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-source duplicate-content matrix
    (pipeline.dedup.source_overlap_kmv): which source pairs share enough
    exact-dup content to deserve a full cross-dedup pass. One corpus pass
    builds a <= 64-hash sketch per source; the pairwise stage is array
    arithmetic on the #sources-row sketch table self-crossed — S^2 tiny
    rows, the corpus never touched again."""
    from prajna_spark.pipeline.dedup import source_overlap_kmv

    docs = _docs(spark, sf_dir)
    return source_overlap_kmv(docs, "source", "text", k=64)


@query(
    "dedup_cluster_size_histogram",
    oracle=f"""
    -- dedup health report: how many exact-duplicate clusters exist at
    -- each multiplicity (size 1 = unique documents)
    WITH f AS (
      SELECT md5({_NORM.format(c='text')}) AS fp FROM documents
    ), c AS (
      SELECT fp, count(*) AS sz FROM f GROUP BY fp
    )
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters
    FROM c GROUP BY sz
    """,
    tags=("dedup", "reporting", "histogram", "pipeline"),
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup cluster-size distribution — the before/after dedup
    report every curation run publishes (duplication factor = 1 -
    n_clusters/n_docs). Two map-combined shuffles, both on narrow keys
    (fingerprint, then the size integer)."""
    docs = _docs(spark, sf_dir)
    return (
        docs.select(textqa.fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).cast("long").alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
    )


@query(
    "chunk_sentences_budget",
    oracle=f"""
    -- sentence-boundary chunking replay: same regex (Java/RE2
    -- intersection), same tokenizer, same start-offset chunk rule
    WITH s0 AS (
      SELECT doc_id,
             CAST(generate_subscripts(ss, 1) AS BIGINT) - 1 AS pos,
             unnest(ss) AS sent
      FROM (SELECT doc_id,
                   regexp_extract_all(text, '[^.!?]+[.!?]*') AS ss
            FROM documents)
    ), s AS (
      SELECT doc_id, pos,
             len({_TOKS.format(c='sent')}) AS nt
      FROM s0 WHERE trim(sent) <> ''
    ), r AS (
      SELECT doc_id, nt,
             row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS rn
      FROM s
    ), c AS (
      SELECT doc_id, rn, nt,
             coalesce(sum(nt) OVER (
               PARTITION BY doc_id ORDER BY rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM r
    )
    SELECT doc_id, CAST(floor(cb / 64) AS BIGINT) AS chunk_id,
           CAST(count(*) AS BIGINT) AS n_sentences,
           CAST(sum(nt) AS BIGINT) AS n_tokens
    FROM c GROUP BY 1, 2
    """,
    tags=("chunking", "sentences", "rag", "pipeline"),
)
def chunk_sentences_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-boundary chunking (pipeline.packing.chunk_by_sentence):
    64-token chunks that never split a sentence — the RAG ingestion
    shape, next to the fixed-window chunker. One linear regex pass plus
    a per-document window; nothing global."""
    from prajna_spark.pipeline.packing import chunk_by_sentence

    docs = _docs(spark, sf_dir)
    return chunk_by_sentence(docs, "doc_id", "text", budget=64)


def _cdc_oracle() -> str:
    from prajna_spark.pipeline.cdc_chunking import (
        MASK,
        cdc_fingerprint_sql,
        cdc_joins_sql,
    )

    return f"""
    -- content-defined chunking replay: closed-form Rabin fingerprints
    -- (an O(n*w) positional expansion checking the UDTF's O(n) rolling
    -- update), boundary where fp % {MASK} = 0
    WITH cs AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(text, '')) AS c,
             CAST(generate_subscripts(regexp_split_to_array(text, ''), 1)
                  AS BIGINT) AS p
      FROM documents
    ), ch AS (
      SELECT doc_id, p, CAST(unicode(c) AS BIGINT) AS code FROM cs
    ), d AS (
      SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n FROM documents
    ), fp AS (
      SELECT c0.doc_id, c0.p,
             {cdc_fingerprint_sql()} AS fp
      FROM {cdc_joins_sql()}
    ), bounds AS (
      SELECT doc_id, p FROM fp WHERE fp % {MASK} = 0
    ), starts AS (
      SELECT doc_id, CAST(1 AS BIGINT) AS start_pos FROM d WHERE n > 0
      UNION ALL
      SELECT b.doc_id, b.p + 1 FROM bounds b JOIN d USING (doc_id)
      WHERE b.p < d.n
    ), chunks AS (
      SELECT s.doc_id, s.start_pos,
             CAST(row_number() OVER (PARTITION BY s.doc_id
                                     ORDER BY s.start_pos) - 1
                  AS BIGINT) AS chunk_idx,
             coalesce(lead(s.start_pos) OVER (PARTITION BY s.doc_id
                                              ORDER BY s.start_pos),
                      d.n + 1) - s.start_pos AS n_chars
      FROM starts s JOIN d USING (doc_id)
    )
    SELECT c.doc_id, c.chunk_idx, c.start_pos, c.n_chars,
           md5(substring(d.text, CAST(c.start_pos AS INT),
                         CAST(c.n_chars AS INT))) AS chunk_md5
    FROM chunks c JOIN d USING (doc_id)
    """


@query(
    "cdc_chunk_documents",
    oracle=_cdc_oracle(),
    tags=("chunking", "cdc", "udtf", "dedup", "pipeline"),
)
def cdc_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (pipeline.cdc_chunking): Rabin
    rolling-hash boundaries so edits perturb chunk hashes only locally —
    the dedup-friendly chunking for incrementally edited corpora, and
    the catalog's native Python UDTF exemplar (Spark 4 ``@udtf`` +
    ``lateralJoin``; the boundary scan is a sequential per-document
    recurrence, the one shape that genuinely needs imperative Python).
    Per-document, O(1) state, output carries coords + md5 only. The
    oracle replays the same fingerprints via a closed-form O(n*w)
    positional expansion — rolling update and closed form check each
    other."""
    from prajna_spark.pipeline.cdc_chunking import chunk_content_defined

    docs = _docs(spark, sf_dir)
    return chunk_content_defined(docs, "doc_id", "text")


def _bpe_round_ctes(k: int) -> list[str]:
    """One BPE round: tokens with positions, the argmax pair, the
    POSITIONAL greedy merge (candidates = (tok, next) == pair; when
    left == right only even-parity candidates within an equal-token
    island merge; a token drops iff its predecessor merged), and the
    rebuilt token lists."""
    return [
        f"""t{k} AS MATERIALIZED (
      SELECT word, freq, unnest(toks) AS tok,
             generate_subscripts(toks, 1) AS pos
      FROM c{k - 1})""",
        f"""m{k} AS MATERIALIZED (
      SELECT a.tok AS la, b.tok AS lb,
             CAST(sum(a.freq) AS BIGINT) AS c
      FROM t{k} a JOIN t{k} b
        ON b.word = a.word AND b.pos = a.pos + 1
      GROUP BY 1, 2 ORDER BY c DESC, la, lb LIMIT 1)""",
        f"""x{k} AS (
      SELECT word, freq, pos, tok,
             lead(tok) OVER (PARTITION BY word ORDER BY pos) AS nxt,
             pos - row_number() OVER (PARTITION BY word, tok
                                      ORDER BY pos) AS isl
      FROM t{k})""",
        f"""y{k} AS (
      SELECT *, min(pos) OVER (PARTITION BY word, tok, isl) AS istart
      FROM x{k})""",
        f"""z{k} AS (
      SELECT word, freq, pos,
             CASE WHEN taken THEN la || lb
                  WHEN coalesce(lag(taken) OVER (PARTITION BY word
                                                 ORDER BY pos), FALSE)
                    THEN NULL
                  ELSE tok END AS tok_out
      FROM (
        SELECT y.*, m.la, m.lb,
               (y.tok = m.la AND y.nxt = m.lb
                AND (m.la <> m.lb OR (y.pos - y.istart) % 2 = 0))
                 AS taken
        FROM y{k} y, m{k} m
      ))""",
        f"""c{k} AS MATERIALIZED (
      SELECT word, freq, list(tok_out ORDER BY pos) AS toks
      FROM z{k} WHERE tok_out IS NOT NULL
      GROUP BY word, freq)""",
    ]


def _bpe_ctes(n: int = 8) -> list[str]:
    ctes = [
        """wf AS MATERIALIZED (
      SELECT w AS word, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      GROUP BY 1)""",
        r"""c0 AS (
      SELECT word, freq,
             string_split(trim(regexp_replace(word, '(.)', '\1 ', 'g')),
                          ' ') AS toks
      FROM wf)""",
    ]
    for k in range(1, n + 1):
        ctes.extend(_bpe_round_ctes(k))
    return ctes


def _bpe_oracle(n: int = 8) -> str:
    """Fixed-depth ladder replaying the deterministic BPE merge schedule
    (pipeline.bpe): each level recounts weighted adjacent pairs over the
    current segmentation, picks the (count desc, left, right) argmax,
    and applies the classic greedy-left merge via the positional
    island-parity spelling — identical window/array algebra on both
    engines."""
    finals = "\n    UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS round, la AS merge_left,"
        f" lb AS merge_right, c AS pair_count FROM m{k}"
        for k in range(1, n + 1)
    )
    joined = ",\n    ".join(_bpe_ctes(n))
    return f"WITH {joined}\n    {finals}"


@query(
    "bpe_learn_merges",
    oracle=_bpe_oracle(8),
    tags=("bpe", "tokenizer", "iterative", "text", "pipeline"),
)
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer training in-engine: the first 8 BPE merges learned from
    the word-frequency table (pipeline.bpe.learn_bpe_merges) — the third
    exactly-replayed iterative algorithm after k-means and PageRank. The
    corpus reduces to |vocab| (word, freq) rows in ONE aggregate — the
    100 TB shape — and each round counts freq-weighted adjacent symbol
    pairs over that reduced table; greedy-left merges are plain
    substring replaces with identical scan semantics on both engines, so
    the 8-level DuckDB ladder reproduces the merge list value-for-value.
    Driver state is the merge list itself (the model, like k-means
    centroids)."""
    tune(spark)
    from prajna_spark.pipeline.bpe import learn_bpe_merges

    docs = load_table(spark, "documents", sf_dir)
    wf = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    out = learn_bpe_merges(wf, "word", "freq", n_merges=8)
    return out.select(
        "round",
        F.col("left").alias("merge_left"),
        F.col("right").alias("merge_right"),
        "pair_count",
    )


def _bpe_seg_oracle(n: int = 8) -> str:
    """Ladder through c{n} (final segmentation), then per-document token
    accounting: chars vs BPE symbols, compression ratio."""
    joined = ",\n    ".join(_bpe_ctes(n))
    return f"""WITH {joined},
    seg AS (
      SELECT word, CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(length(word) AS BIGINT) AS n_chars
      FROM c{n}
    ), dw AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents
    )
    SELECT dw.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(seg.n_chars) AS BIGINT) AS n_chars,
           CAST(sum(seg.n_tokens) AS BIGINT) AS n_tokens,
           (floor((CAST(sum(seg.n_tokens) AS DOUBLE)
                   / CAST(sum(seg.n_chars) AS DOUBLE)) * 1e6 + 5e-1)
            / 1e6) AS tokens_per_char
    FROM dw JOIN seg USING (word)
    GROUP BY dw.doc_id
    """


@query(
    "bpe_encode_docs",
    oracle=_bpe_seg_oracle(8),
    tags=("bpe", "tokenizer", "encode", "text", "pipeline"),
)
def bpe_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE merges back to the corpus
    (pipeline.bpe.apply_merges): the 8-merge segmentation table is
    |vocab| rows, broadcast into a per-document token accounting —
    words, chars, BPE symbols, tokens-per-char. The learn->encode pair
    is the full tokenizer loop (and the compression readout is the
    metric BPE training optimizes); encoding itself is a pure column
    expression chain, zero extra jobs beyond the learner's rounds."""
    tune(spark)
    from prajna_spark.pipeline.bpe import apply_merges, learn_bpe_merges

    docs = load_table(spark, "documents", sf_dir)
    wf = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    merges = [
        (r["left"], r["right"])
        for r in learn_bpe_merges(wf, "word", "freq", n_merges=8)
        .orderBy("round")
        .collect()
    ]
    seg = apply_merges(wf.select("word"), "word", merges).select(
        "word",
        "n_tokens",
        F.length("word").cast("long").alias("n_chars"),
    )
    dw = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    return (
        dw.join(F.broadcast(seg), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_chars").alias("n_chars"),
            F.sum("n_tokens").alias("n_tokens"),
            pround(
                F.sum("n_tokens").cast("double")
                / F.sum("n_chars").cast("double"),
                6,
            ).alias("tokens_per_char"),
        )
    )
