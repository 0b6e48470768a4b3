"""Deduplication operators: exact, MinHash(+LSH banding), SimHash,
n-gram Jaccard.

Design for 100 TB:
- exact dedup is a hash-groupBy on a 128-bit fingerprint (shuffle carries
  (hash, id) pairs only, never the documents);
- MinHash-LSH turns all-pairs O(n^2) similarity into per-band equi-joins —
  candidate pairs come from band-bucket collisions, so the shuffle key is
  the band value and skew is bounded by bucket size;
- hash functions are md5-based column expressions (JVM codegen,
  engine-portable — identical hex on Spark and DuckDB, which is what makes
  the oracle checks exact rather than approximate).

Reference parity: none of this exists in Prajna; it is part of the
north-star LLM-pipeline surface (BASELINE.json).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from prajna_spark.functions.rounding import pround
from prajna_spark.operators.fanout import fan_out
from prajna_spark.operators.lifecycle import (
    iterate_checkpointed,
    release_local_checkpoint,
    scoped_local_checkpoint,
    scoped_persist,
)
from prajna_spark.pipeline.textqa import fingerprint, normalized, tokens

#: Cap on characters fed to shingling — bounds per-row work at scale while
#: keeping the signature stable for long documents.
MAX_SHINGLE_CHARS = 512


def shingles(col: Column, k: int = 5, max_chars: int = MAX_SHINGLE_CHARS) -> Column:
    """Character k-shingles of the normalized text (array<string>).

    For text shorter than k, the single truncated shingle is kept so every
    document has a non-empty signature.
    """
    t = F.substring(normalized(col), 1, max_chars)
    n = F.greatest(F.length(t) - (k - 1), F.lit(1))
    return F.transform(F.sequence(F.lit(1), n), lambda i: F.substring(t, i, k))


def minhash_sig(col: Column, seed: int, k: int = 5) -> Column:
    """One MinHash component: lexicographic min of seeded md5 over shingles.

    min(md5(seed || shingle)) is a valid min-wise hash per seed; using the
    hex string (not an int) keeps it bit-identical across engines.

    PERFORMANCE NOTE: this nested-HOF form re-evaluates ``col``'s whole
    expression tree per array element (Catalyst collapses projections back
    into lambdas), turning O(len) normalization into O(len^2) per row. It
    is kept for expression-level composition on already-cheap columns;
    bulk signatures must use :func:`minhash_signature` (explode-based,
    linear, spill-friendly).
    """
    return F.array_min(
        F.transform(shingles(col, k), lambda s: F.md5(F.concat(F.lit(f"{seed}|"), s)))
    )


def minhash_signature(
    df: DataFrame, id_col: str, text_col: str, n_hashes: int = 8, k: int = 5
) -> DataFrame:
    """Per-id MinHash signature (id_col, minhash_0..minhash_{n-1}).

    Fully relational, scale-first plan:
      1. one projection computes the normalized truncated text ONCE per row
         (single regex pass);
      2. explode(shingles) — the Generate node is an optimizer barrier, so
         normalization is NOT re-inlined per element; shingle rows
         distribute and spill like any other rows;
      3. n_hashes md5 columns per shingle row (codegen'd);
      4. groupBy(id).agg(min...) — partial aggregation collapses each
         partition's shingles to one candidate signature before the
         shuffle, so only (id, n_hashes x 32-hex) rows cross the network.
    """
    t = F.substring(normalized(F.col(text_col)), 1, MAX_SHINGLE_CHARS)
    # Fan the cheap (id, text) rows across all cores BEFORE the explode
    # multiplies work by ~MAX_SHINGLE_CHARS: a small doc table often scans
    # as a single input split, which would serialize the whole hash sweep.
    # (fan_out is conditional — on a many-split 100 TB table it's a no-op.)
    staged = fan_out(df.select(F.col(id_col), t.alias("__t")))
    n = F.greatest(F.length("__t") - (k - 1), F.lit(1))
    shingle_rows = staged.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(1), n), lambda i: F.substring(F.col("__t"), i, k)
            )
        ).alias("__sh"),
    )
    # ONE md5 per shingle; the n_hashes min-wise components are disjoint
    # hex slices of that digest (md5 bits are independent/uniform, so each
    # slice is its own hash function). vs n_hashes seeded digests this cuts
    # the hot loop's hashing by n_hashes x — the dominant cost at 100 TB.
    # When n_hashes * slice_len exceeds one digest (n_hashes > 8), further
    # seeded digests md5('<d>|' || shingle) extend the slice supply — never
    # silently truncate into empty-string components.
    slice_len = max(4, 32 // n_hashes)
    n_digests = (n_hashes * slice_len + 31) // 32
    digest_cols = [
        (
            F.md5("__sh")
            if d == 0
            else F.md5(F.concat(F.lit(f"{d}|"), F.col("__sh")))
        ).alias(f"__h{d}")
        for d in range(n_digests)
    ]
    hashed = shingle_rows.select(id_col, *digest_cols)
    components = []
    for j in range(n_hashes):
        bit_off = j * slice_len
        d, off = bit_off // 32, bit_off % 32
        components.append(
            F.min(F.substring(f"__h{d}", 1 + off, slice_len)).alias(f"minhash_{j}")
        )
    return hashed.groupBy(id_col).agg(*components)


def lsh_band_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    band_size: int = 2,
    k: int = 5,
) -> DataFrame:
    """``(id, band_id, band_val)`` LSH band rows — the signature split
    into bands of ``band_size`` concatenated hash slices. This IS the
    content of a persisted LSH index (streaming.lsh_stream appends
    exactly these rows); :func:`lsh_band_pairs` buckets them for
    self-join candidate generation."""
    if n_hashes % band_size:
        raise ValueError(
            f"n_hashes={n_hashes} must be a multiple of band_size={band_size} "
            "(remainder hashes would be silently dropped)"
        )
    sig = minhash_signature(df, id_col, text_col, n_hashes, k)
    n_bands = n_hashes // band_size
    band_vals = F.array(
        *[
            F.concat(
                *[F.col(f"minhash_{b * band_size + i}") for i in range(band_size)]
            )
            for b in range(n_bands)
        ]
    )
    return sig.select(
        F.col(id_col).alias("id"),
        F.posexplode(band_vals).alias("band_id", "band_val"),
    )


def lsh_band_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    band_size: int = 2,
    k: int = 5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via LSH banding.

    Signature is split into bands of ``band_size`` hashes; documents
    colliding on ANY band become a candidate pair (id_a < id_b, distinct).

    Plan (one signature evaluation, no self-join):
      1. posexplode the per-doc band values — (id, band_id, band_val) rows,
         O(n * n_bands) narrow rows regardless of document size;
      2. groupBy(band_id, band_val).collect_list(id) — ONE shuffle keyed on
         the band value; partial agg packs each partition's ids first;
      3. double-explode the per-bucket id list into ordered pairs — pair
         generation streams per bucket, so the signature subplan is never
         duplicated (a bands self-join evaluates it twice per side; this
         spelling evaluates it once).

    Skew guard: a hot bucket (b ids) emits O(b^2) pairs — all-identical
    corpora make one bucket the whole table. ``max_bucket_size`` drops
    buckets larger than the cap BEFORE pair expansion (a bucket that big is
    template/boilerplate text whose pairs exact-verification would reject
    wholesale, or that exact-dedup already collapsed — the standard
    recall-for-boundedness trade at corpus scale). None = exact/no cap,
    matching the DuckDB oracle.
    """
    bands = lsh_band_rows(df, id_col, text_col, n_hashes, band_size, k)
    buckets = bands.groupBy("band_id", "band_val").agg(
        F.collect_list("id").alias("ids")
    )
    if max_bucket_size is not None:
        buckets = buckets.where(F.size("ids") <= max_bucket_size)
    return (
        buckets.where(F.size("ids") > 1)
        .select(F.explode("ids").alias("id_a"), "ids")
        .select("id_a", F.explode("ids").alias("id_b"))
        .where(F.col("id_a") < F.col("id_b"))
        .distinct()
    )


def simhash16_df(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """16-bit SimHash per document from distinct-token md5 digit parities.

    bit_j weight for a token = +1 if the j-th hex digit of md5(token) is
    odd else -1; bit set where the summed weight is positive. The 16 bit
    sums are 16 integer aggregate expressions over the (doc, token) rows —
    ONE groupBy(doc) shuffle with map-side partial aggregation, instead of
    exploding each token 16x through a (doc, j) shuffle. Integer sums are
    order-independent, so the result is exact under any partitioning.
    """
    hexd = "0123456789abcdef"
    toks = fan_out(
        df.select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("__toks"))
    ).select("id", F.explode(F.array_distinct("__toks")).alias("tok"))
    hashed = toks.select("id", F.md5("tok").alias("h"))

    def weight(j: int) -> Column:
        return ((F.instr(F.lit(hexd), F.substring("h", j, 1)) - 1) % 2) * 2 - 1

    sums = hashed.groupBy("id").agg(
        *[F.sum(weight(j)).alias(f"__ws{j}") for j in range(1, 17)]
    )
    bits = [
        F.when(F.col(f"__ws{j}") > 0, F.lit(2 ** (j - 1))).otherwise(F.lit(0))
        for j in range(1, 17)
    ]
    simhash = bits[0]
    for b in bits[1:]:
        simhash = simhash + b
    return sums.select(
        F.col("id").alias(id_col), simhash.cast("long").alias("simhash16")
    )


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group exact duplicates by content fingerprint.

    Returns (fingerprint, canonical_id = min id, n_dups). Shuffles only
    (fingerprint, id) — at 100 TB the documents themselves never move.
    """
    from prajna_spark.pipeline.textqa import fingerprint

    return (
        df.select(fingerprint(F.col(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, other: DataFrame | None = None
) -> DataFrame:
    """Word-set Jaccard for adjacent-id pairs (cheap linear sweep used as
    the exact-similarity comparator for LSH candidates)."""
    words = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(tokens(F.col(text_col))).alias("ws"),
    )
    a = words.select(F.col("id").alias("id_a"), F.col("ws").alias("ws_a"))
    b = words.select(F.col("id").alias("id_b"), F.col("ws").alias("ws_b"))
    joined = a.join(b, a.id_a + 1 == b.id_b)
    inter = F.size(F.array_intersect("ws_a", "ws_b"))
    union = F.size(F.array_union("ws_a", "ws_b"))
    return joined.select(
        "id_a",
        "id_b",
        inter.cast("long").alias("n_common"),
        pround(inter / F.greatest(union, F.lit(1)), 4).alias("jaccard"),
    )


def ngram_hashes(
    df: DataFrame, id_col: str, text_col: str, n: int = 8
) -> DataFrame:
    """(id, g) rows: one md5 per exact n-token window of the normalized
    text. The shared candidate-key generator for substring-level dedup
    (:func:`ngram_collision_pairs`) and cross-corpus decontamination
    (:func:`decontaminate`). Narrow output — the text never leaves the
    producing task."""
    staged = fan_out(
        df.select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("__tk"))
    ).where(F.size("__tk") >= n)
    positions = staged.select(
        "id",
        "__tk",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.size("__tk") - (n - 1), F.lit(1)))
        ).alias("__i"),
    )
    return positions.select(
        "id",
        F.md5(F.concat_ws(" ", F.slice(F.col("__tk"), F.col("__i"), n))).alias("g"),
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Benchmark decontamination: drop every training document sharing any
    exact ``n``-token span with the evaluation corpus (the train/test
    overlap rule used for LLM pretraining sets — same criterion as
    substring dedup, applied ACROSS corpora).

    Plan: gram-hash both sides; eval grams are deduped and (by default)
    broadcast — eval suites are tiny next to a training corpus, so the
    contamination check is a map-side LEFT SEMI against a broadcast hash
    set, never a shuffle of the training grams; the final LEFT ANTI
    shuffles only contaminated ids (narrow). Set ``broadcast_eval=False``
    if the eval side is itself corpus-sized (falls back to a shuffled
    semi join on the gram hash)."""
    train_grams = ngram_hashes(train, id_col, text_col, n)
    eval_grams = ngram_hashes(eval_df, id_col, text_col, n).select("g").distinct()
    if broadcast_eval:
        eval_grams = F.broadcast(eval_grams)
    contaminated = (
        train_grams.join(eval_grams, "g", "left_semi").select("id").distinct()
    )
    return train.join(
        contaminated, train[id_col] == contaminated["id"], "left_anti"
    )


def repetition_scores(
    df: DataFrame, id_col: str, text_col: str, n: int = 2
) -> DataFrame:
    """Within-document repetition signal (the Gopher/MassiveText-style
    repeated-n-gram quality filter): per document, the fraction of n-gram
    occurrences taken by the single most frequent n-gram, plus the total
    occurrence count. High top-gram fraction = boilerplate/keyword-stuffed
    text a quality gate should drop.

    Two hash aggregations — (id, gram) counts, then per-id max/sum — both
    with map-side partials; only (id, 32-hex, count) rows ever shuffle.
    Documents with fewer than ``n`` tokens produce no row (no n-grams to
    measure — callers treat absence as 'no repetition evidence')."""
    grams = ngram_hashes(df, id_col, text_col, n)
    per_gram = grams.groupBy("id", "g").agg(F.count(F.lit(1)).alias("c"))
    return per_gram.groupBy("id").agg(
        (F.max("c").cast("double") / F.sum("c")).alias("top_gram_frac"),
        F.sum("c").alias("n_grams"),
    )


def ngram_collision_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Exact n-token-window collision pairs — substring-level dedup (the
    Lee et al. 2022 'Deduplicating Training Data' criterion: two docs are
    duplicates if they share ANY exact n-token span).

    Plan: explode window START POSITIONS (the Generate barrier keeps the
    tokenization evaluated once per row, not per window — the nested-HOF
    trap documented on minhash_sig), hash each window to 32 hex chars,
    then the same bucket/collect/double-explode pair expansion as
    LSH banding: one shuffle keyed on the gram hash, narrow (id, hash)
    rows only, ``max_bucket_size`` capping boilerplate grams.
    """
    grams = ngram_hashes(df, id_col, text_col, n)
    buckets = grams.groupBy("g").agg(F.collect_set("id").alias("ids"))
    if max_bucket_size is not None:
        buckets = buckets.where(F.size("ids") <= max_bucket_size)
    return (
        buckets.where(F.size("ids") > 1)
        .select(F.explode("ids").alias("id_a"), "ids")
        .select("id_a", F.explode("ids").alias("id_b"))
        .where(F.col("id_a") < F.col("id_b"))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components by min-label propagation — resolving near-dup
    candidate PAIRS into duplicate CLUSTERS (the dedup endgame: one
    canonical id per component).

    Each iteration every node takes min(own label, neighbours' labels),
    then POINTER-JUMPS: adopts its label's own label (labels are node ids,
    so ``label := label[label]`` is a self-equi-join). The jump halves the
    remaining chain length each round, so convergence is O(log diameter)
    iterations instead of O(diameter) — the difference between 4 and 40
    shuffles on a path-shaped component. Per iteration: edges⋈labels +
    groupBy min + the jump self-join, one checkpointed generation
    (:func:`~prajna_spark.operators.lifecycle.iterate_checkpointed`); the
    change flag is computed INLINE and its sum rides the checkpoint job
    via ``observe()`` — no extra count() job (or join) per round. On a
    real cluster use a reliable checkpoint dir for fault tolerance. For
    adversarial graphs at
    extreme scale the large-star/small-star alternation (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) is the same
    building blocks with the same O(log) round bound.

    Returns (id_col, component_id) for EVERY node; singletons map to
    themselves.
    """
    from prajna_spark.operators.symmetry import symmetrize

    # one-pass symmetrization: the union spelling executed the caller's
    # candidate-pair derivation (often a whole LSH pipeline) twice inside
    # this checkpoint job (r11)
    e = symmetrize(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")),
        "src",
        "dst",
    )
    e = e.transform(scoped_local_checkpoint)
    labels = nodes.select(
        F.col(id_col).alias("nid"), F.col(id_col).alias("label")
    ).transform(scoped_local_checkpoint)

    # Every join below is hinted SHUFFLE_HASH: the label/neighbour frames
    # are corpus-cardinality, so at scale a broadcast build is never the
    # right plan — and in local mode AQE's attempted driver-side broadcast
    # builds (one per iteration, inside each checkpoint job) exhausted the
    # shared heap on a dense 16M-edge graph. Shuffle-hash keeps per-round
    # memory bounded by a partition, not a table.
    def step(labels: DataFrame, _: int) -> DataFrame:
        neigh_min = (
            e.join(labels.hint("SHUFFLE_HASH"), e.src == labels.nid)
            .groupBy("dst")
            .agg(F.min("label").alias("nl"))
        )
        one_hop = labels.join(
            neigh_min.hint("SHUFFLE_HASH"), labels.nid == neigh_min.dst, "left"
        ).select(
            "nid",
            F.col("label").alias("old"),
            F.least(F.col("label"), F.coalesce("nl", F.col("label"))).alias("label"),
        )
        # Pointer jump: label := label-of-label. Labels are node ids, so
        # this is a left self-join on (label == nid); labels only decrease,
        # which keeps every intermediate label inside its own component.
        jump = one_hop.select(
            F.col("nid").alias("jnid"), F.col("label").alias("jlabel")
        )
        return one_hop.join(
            jump.hint("SHUFFLE_HASH"), one_hop.label == jump.jnid, "left"
        ).select(
            "nid",
            F.least(
                F.col("label"), F.coalesce("jlabel", F.col("label"))
            ).alias("label"),
            (
                F.least(F.col("label"), F.coalesce("jlabel", F.col("label")))
                < F.col("old")
            ).alias("__chg"),
        )

    labels, _ = iterate_checkpointed(
        labels,
        step,
        max_iter,
        stop=(F.sum(F.col("__chg").cast("long")), lambda chg, _: not chg),
    )
    release_local_checkpoint(e)
    return labels.select(
        F.col("nid").alias(id_col), F.col("label").alias("component_id")
    )


def verify_pairs_jaccard(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
) -> DataFrame:
    """Exact-similarity verification of candidate pairs: word-set Jaccard
    computed ONLY on the candidate pairs (the LSH funnel's second stage —
    candidates are a vanishing fraction of n^2, so the exact comparator
    runs on a tiny join). Token sets are attached via two equi-joins on
    the pair ids; the sets shuffle once each, never the documents. The
    narrow (id, tokens) frame is scope-persisted (spill-capable) so the
    corpus is scanned and tokenized ONCE for both join sides — the two
    joins key on different ids, so Catalyst cannot reuse one exchange for
    them and would otherwise recompute the scan per side.

    Both joins pin SHUFFLE_HASH: the token-set side is CORPUS-cardinality
    (one row per document, each carrying its word set), so a broadcast
    build is never the right plan — found live at 30x data, where AQE
    elected to broadcast it and the driver-side build died on
    spark.driver.maxResultSize (1 GiB of serialized token sets); the same
    per-executor ceiling the CC loop's hints already guard against."""
    words = scoped_persist(
        docs.select(
            F.col(id_col).alias("__wid"),
            F.array_distinct(tokens(F.col(text_col))).alias("__ws"),
        )
    )
    wa = words.withColumnRenamed("__wid", "id_a").withColumnRenamed("__ws", "ws_a")
    wb = words.withColumnRenamed("__wid", "id_b").withColumnRenamed("__ws", "ws_b")
    j = pairs.join(wa.hint("SHUFFLE_HASH"), "id_a").join(
        wb.hint("SHUFFLE_HASH"), "id_b"
    )
    inter = F.size(F.array_intersect("ws_a", "ws_b"))
    union = F.size(F.array_union("ws_a", "ws_b"))
    return (
        j.select(
            "id_a",
            "id_b",
            pround(inter / F.greatest(union, F.lit(1)), 4).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def blocked_pairs(
    df: DataFrame,
    block_col: str,
    id_col: str,
    payload_cols: tuple[str, ...] = (),
    max_block_size: int | None = None,
) -> DataFrame:
    """Generic blocking -> in-block ordered pairs, with a block-size cap.

    The entity-resolution / fuzzy-dedup candidate generator: rows sharing a
    block key become candidate pairs (id_a < id_b); ``payload_cols`` ride
    along as ``<col>_a`` / ``<col>_b`` so the caller can apply an exact
    comparator (edit distance, cosine, ...) without re-joining.

    Scale shape is identical to ``lsh_band_pairs``: ONE shuffle keyed on the
    block value, collect_list per block, pair expansion streams per bucket.
    ``max_block_size`` drops blocks larger than the cap BEFORE the O(b^2)
    pair expansion — a degenerate block (every record sharing the key) is
    boilerplate the comparator would reject wholesale; dropping it bounds
    the worst bucket at cap^2 pairs regardless of corpus size.
    """
    item = F.struct(
        F.col(id_col).alias("id"), *[F.col(c).alias(c) for c in payload_cols]
    )
    blocks = df.groupBy(block_col).agg(F.collect_list(item).alias("items"))
    if max_block_size is not None:
        blocks = blocks.where(F.size("items") <= max_block_size)
    pairs = (
        blocks.where(F.size("items") > 1)
        .select(F.explode("items").alias("a"), "items")
        .select("a", F.explode("items").alias("b"))
        .where(F.col("a.id") < F.col("b.id"))
    )
    return pairs.select(
        F.col("a.id").alias(f"{id_col}_a"),
        F.col("b.id").alias(f"{id_col}_b"),
        *[F.col(f"a.{c}").alias(f"{c}_a") for c in payload_cols],
        *[F.col(f"b.{c}").alias(f"{c}_b") for c in payload_cols],
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    key_col: str,
    window: int = 3,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo): order records by
    a sort key and emit each record paired with its next ``window - 1``
    neighbours — the classic merge/purge candidate generator for typo-ish
    duplicates that hash blocking (identical-key buckets) misses, since
    near-misses sort adjacently.

    Scale shape: the global order comes from ``zip_with_index`` (range
    partition + per-partition ordinals + a #partitions-row prefix sum —
    NEVER a single-task global window), neighbour offsets are a tiny
    explode, and pairing is ONE equi-join on the long ``rn`` index —
    output is exactly (window-1) * n rows minus the tail, bounded by
    construction (contrast: ``blocked_pairs`` caps quadratic buckets).
    Returns (a_id, a_key, b_id, b_key, gap) with gap in [1, window-1];
    exact verification (levenshtein/jaccard) composes downstream.
    """
    from prajna_spark.operators.zipindex import zip_with_index

    if window < 2:
        raise ValueError("window must be >= 2 to produce any pairs")
    idx = zip_with_index(
        df.select(F.col(id_col), F.col(key_col)),
        order_by=[key_col, id_col],
        index_col="rn",
    )
    left = idx.select(
        F.col(id_col).alias("a_id"),
        F.col(key_col).alias("a_key"),
        "rn",
        F.explode(
            F.sequence(F.lit(1), F.lit(int(window) - 1))
        ).alias("gap"),
    ).withColumn("rn2", F.col("rn") + F.col("gap"))
    right = idx.select(
        F.col("rn").alias("rn2"),
        F.col(id_col).alias("b_id"),
        F.col(key_col).alias("b_key"),
    )
    return left.join(right, "rn2").select(
        "a_id", "a_key", "b_id", "b_key", F.col("gap").cast("long").alias("gap")
    )


def word_shingle_sets(
    docs: DataFrame, id_col: str, text_col: str, gram: int = 4
) -> DataFrame:
    """Distinct word ``gram``-gram shingle set per document:
    ``(__sid, __ss array<string>, __sz)``. Pure JVM (element_at over the
    token array); documents shorter than ``gram`` tokens get an empty set."""
    tk = tokens(F.col(text_col))
    # CASE-guarded: Spark's sequence(1, 0) DESCENDS to [1, 0] instead of
    # being empty (unlike DuckDB range), so short documents need an
    # explicit empty-array branch (found by the hypothesis differential).
    joined = F.expr(
        "CASE WHEN size(__tk) >= {gram} THEN"
        " transform(sequence(1, size(__tk) - {g}),"
        " i -> concat_ws(' ', {parts}))"
        " ELSE array() END".format(
            gram=gram,
            g=gram - 1,
            parts=", ".join(f"element_at(__tk, i + {j})" for j in range(gram)),
        )
    )
    return (
        docs.select(F.col(id_col).alias("__sid"), tk.alias("__tk"))
        .select("__sid", F.array_distinct(joined).alias("__ss"))
        .withColumn("__sz", F.size("__ss"))
    )


def jaccard_similarity_join(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    gram: int = 4,
    jaccard_decimals: int = 4,
) -> DataFrame:
    """EXACT set-similarity self-join (PPJoin-style prefix filtering,
    Xiao et al., WWW'08): all pairs with word-``gram``-shingle Jaccard >=
    ``threshold`` — provably NO false negatives, unlike the MinHash/LSH
    funnel whose recall is probabilistic.

    Why it scales: order the shingle universe globally by ascending
    document frequency (rarest first — a distributed ``zip_with_index``,
    never a single-task window); a document of set size s only exposes its
    first s - ceil(t*s) + 1 rarest shingles (if two sets with J >= t
    shared none of their prefixes, their >= ceil(t*s) common shingles
    would all sit in the suffixes of length ceil(t*s) - 1 — contradiction).
    Candidates come from ONE equi-join on those rare prefix shingles (low
    df == small buckets, the inverse of LSH's hot bands), a length filter
    (t*|x| <= |y| <= |x|/t) prunes further, and the exact Jaccard
    comparator runs only on survivors. The prefix uses a slightly relaxed
    t' = threshold - 1e-3 so the portable 4-decimal rounding of the final
    Jaccard can never round a true near-threshold pair into a set the
    prefix already excluded.

    Returns (id_a, id_b, jaccard) with id_a < id_b.

    Build-time job and lifetime: the shingle-set frame is materialized
    by an EAGER ``scoped_local_checkpoint`` while this function runs (one
    job over ``docs``, before any action on the result). The returned
    frame reads that checkpoint, whose lineage is truncated and whose
    blocks are freed when the enclosing ``persist_scope`` exits — so
    consume the result (collect, write, or checkpoint it) inside the
    scope that was active when this was called. Outside any scope the
    blocks live for the session.
    """
    from prajna_spark.operators.zipindex import zip_with_index

    sets = scoped_local_checkpoint(word_shingle_sets(docs, id_col, text_col, gram))
    vocab = (
        sets.select(F.explode("__ss").alias("sh"))
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    ranked = zip_with_index(vocab, order_by=["df", "sh"], index_col="trank").select(
        "sh", "trank"
    )
    t_relaxed = threshold - 1e-3
    prefix_len = (F.col("__sz") - F.ceil(F.col("__sz") * t_relaxed) + 1).cast("int")
    w = Window.partitionBy("__sid").orderBy("trank")
    # SHUFFLE_HASH: the ranked vocabulary is one row per DISTINCT SHINGLE
    # — it grows with the corpus (billions at 100 TB), so broadcasting it
    # is the same driver-collect ceiling verify_pairs_jaccard hit at 30x
    # explicit-count repartition: AQE sizes the join output for its BYTES
    # and coalesced the per-doc window sort to ONE task (measured: 0.8 s
    # serial each time the subtree runs, while the count scales with the
    # input's scan parallelism, not a core constant — r11, guide §2.5)
    # guarded partition read: a post-shuffle caller frame returns None
    # instead of eagerly materializing query stages (r11 VERDICT item 8)
    from prajna_spark.operators.fanout import scan_partition_count

    n_spread = max(
        docs.sparkSession.sparkContext.defaultParallelism,
        scan_partition_count(docs) or 0,
    )
    prefix = (
        sets.select("__sid", "__sz", F.explode("__ss").alias("sh"))
        .join(ranked.hint("SHUFFLE_HASH"), "sh")
        .repartition(n_spread, "__sid")
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= prefix_len)
        .select("sh", "__sid", "__sz")
    )
    a = prefix.select(
        F.col("sh"), F.col("__sid").alias("id_a"), F.col("__sz").alias("sz_a")
    )
    b = prefix.select(
        F.col("sh"), F.col("__sid").alias("id_b"), F.col("__sz").alias("sz_b")
    )
    cand = (
        a.join(b, "sh")
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("sz_b") * t_relaxed <= F.col("sz_a"))
            & (F.col("sz_a") * t_relaxed <= F.col("sz_b"))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sets.select(F.col("__sid").alias("id_a"), F.col("__ss").alias("ss_a"))
    sb = sets.select(F.col("__sid").alias("id_b"), F.col("__ss").alias("ss_b"))
    inter = F.size(F.array_intersect("ss_a", "ss_b"))
    union = F.size(F.array_union("ss_a", "ss_b"))
    # SHUFFLE_HASH: the shingle-set sides are corpus-cardinality — same
    # AQE-broadcast ceiling verify_pairs_jaccard hit live at 30x
    return (
        cand.join(sa.hint("SHUFFLE_HASH"), "id_a")
        .join(sb.hint("SHUFFLE_HASH"), "id_b")
        .where(union > 0)
        .select(
            "id_a",
            "id_b",
            pround(inter / union.cast("double"), jaccard_decimals).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def source_overlap_kmv(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    k: int = 64,
    est_decimals: int = 6,
) -> DataFrame:
    """Pairwise content overlap between corpus SOURCES from per-source
    KMV sketches — the inter-source dedup prioritization matrix: which
    source pairs share enough exact-duplicate content to be worth a full
    cross-dedup pass. ``(source_a, source_b, jaccard_est, inter_est)``
    for every unordered pair.

    Plan shape at 100 TB: ONE pass builds a <= k-hash sketch per source
    (distinct + WindowGroupLimit rank — only (source, 8-byte hash) rows
    shuffle); the pairwise stage is pure ARRAY arithmetic on the
    #sources-row sketch table self-crossed (broadcast) — S^2 tiny rows,
    the corpus is never touched again. The hash is a 60-bit slice of the
    content fingerprint itself (already md5), so the whole matrix is
    deterministic and oracle-replayable."""
    from prajna_spark.operators.sketch_rollup import _KMV_SPACE, _k_smallest

    h = F.conv(F.substring(fingerprint(F.col(text_col)), 1, 15), 16, 10).cast("long")
    sketches = _k_smallest(
        docs.select(F.col(source_col).alias("src"), h.alias("h")), ["src"], k
    )
    a = sketches.select(F.col("src").alias("source_a"), F.col("sketch").alias("sa"))
    b = sketches.select(F.col("src").alias("source_b"), F.col("sketch").alias("sb"))
    pairs = a.crossJoin(F.broadcast(b)).where(F.col("source_a") < F.col("source_b"))
    mk = F.slice(F.array_sort(F.array_union("sa", "sb")), 1, k)
    both = F.array_intersect(F.array_intersect(mk, F.col("sa")), F.col("sb"))
    nm = F.size(mk)
    j = F.when(nm > 0, F.size(both).cast("double") / nm.cast("double")).otherwise(
        F.lit(0.0)
    )
    union_est = F.when(nm < k, nm.cast("double")).otherwise(
        F.lit(float(k - 1) * _KMV_SPACE) / F.element_at(mk, k).cast("double")
    )
    return pairs.select(
        "source_a",
        "source_b",
        F.round(j, est_decimals).alias("jaccard_est"),
        F.round(j * union_est, est_decimals).alias("inter_est"),
    )
