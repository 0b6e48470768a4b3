"""BPE merge learning — tokenizer training as a dataflow.

Byte-pair encoding trains on the WORD-FREQUENCY table, not the raw
corpus: a 100 TB corpus reduces to |vocab| rows (word, freq) in one
aggregate, and every merge round then counts adjacent symbol pairs over
that reduced table weighted by freq — the shape that makes tokenizer
training a Spark job instead of a single-machine pass.

Merging uses classic BPE greedy-left non-overlapping semantics, spelled
POSITIONALLY so it is a pure window/array computation identical on both
engines: a position is a candidate iff (tok, next) == (la, lb); when
la != lb candidates can never be adjacent, so every candidate merges;
when la == lb candidates form runs inside maximal equal-token islands
and greedy takes every OTHER one from the island start (even relative
parity). A token is dropped iff its predecessor merged. (A first cut
spelled the merge as a substring replace over spaced symbols; the
hypothesis differential against a local greedy learner caught that
replace consumes the shared boundary — ``a a a a`` became ``[aa, a, a]``
instead of BPE's ``[aa, aa]`` — and the DuckDB oracle shared the
blindspot. The positional spelling is exact.)

Driver state is the merge list itself (n_merges rows — the MODEL, same
adjudication as k-means centroids); pair counting stays distributed.

Reference parity: Prajna has no text tooling at all (SURVEY §2.10);
this is north-star LLM-pipeline surface alongside pipeline.vocab.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from prajna_spark.operators.lifecycle import (
    iterate_checkpointed,
    persist_scope,
    scoped_local_checkpoint,
)


def char_tokens(word) -> F.Column:
    """array<string> of the word's characters."""
    return F.split(
        F.trim(F.regexp_replace(word, "(.)", "$1 ")), " "
    )


def merge_tokens(toks: F.Column, la: str, lb: str) -> F.Column:
    """Greedy-left non-overlapping merge of adjacent (la, lb) inside ONE
    token array — a pure left fold (``aggregate``), no explode, no
    window, no shuffle.

    Fold state is (acc, last_merged): merge fires when the last element
    of acc equals ``la``, the incoming token equals ``lb``, and the last
    element was not itself produced by a merge in this scan (the
    non-overlap rule — a consumed right symbol cannot serve as a new
    left). This is EXACTLY the positional island-parity spelling the
    previous row-per-token implementation computed (proved equivalent:
    when la != lb candidates can never be adjacent so every candidate
    merges; when la == lb the fold's merge-then-skip walk takes every
    other candidate from each equal-token island start — the same even
    relative parity), and the r11 pytest property suite plus the DuckDB
    ladder oracle pin the behavior. Rewritten because the positional
    spelling cost ~3 word-keyed shuffles of the exploded token frame PER
    MERGE ROUND (posexplode + 4 windows + re-collect); a merge is a
    per-row array computation and now costs zero data movement
    (guide §2.4 / §1.2 step 1)."""
    merged = F.lit(la + lb)
    return F.aggregate(
        toks,
        F.struct(
            F.array().cast("array<string>").alias("acc"),
            F.lit(False).alias("lm"),
        ),
        lambda st, x: F.when(
            (~st["lm"])
            & (F.size(st["acc"]) > 0)
            & (F.element_at(st["acc"], -1) == F.lit(la))
            & (x == F.lit(lb)),
            F.struct(
                F.concat(
                    F.slice(st["acc"], 1, F.size(st["acc"]) - 1),
                    F.array(merged),
                ).alias("acc"),
                F.lit(True).alias("lm"),
            ),
        ).otherwise(
            F.struct(
                F.concat(st["acc"], F.array(x)).alias("acc"),
                F.lit(False).alias("lm"),
            )
        ),
        lambda st: st["acc"],
    )


def merge_pair(corpus: DataFrame, la: str, lb: str) -> DataFrame:
    """Apply ONE greedy-left merge of (la, lb) to a (word, freq, toks)
    frame — a single map-side projection (see :func:`merge_tokens`)."""
    return corpus.select(
        "word", "freq", merge_tokens(F.col("toks"), la, lb).alias("toks")
    )


def _top_pair(corpus: DataFrame):
    """Most frequent adjacent pair (freq-weighted), ties to smallest
    (left, right). Returns a one-row list or [].

    Adjacent pairs are zipped out of each word's token array MAP-SIDE
    (slice+zip_with) — the previous spelling posexploded to token rows
    and self-joined on (word, pos), an extra word-keyed shuffle of the
    whole exploded frame per round for what is a per-row computation.
    The only shuffle left is the pair-keyed count, map-side-combined to
    distinct pairs per partition."""
    n1 = F.greatest(F.size("toks") - 1, F.lit(0))
    pairs = corpus.select(
        "freq",
        F.explode(
            F.zip_with(
                F.slice("toks", 1, n1),
                F.slice("toks", 2, n1),
                lambda x, y: F.struct(x.alias("left"), y.alias("right")),
            )
        ).alias("p"),
    )
    return (
        pairs.groupBy(
            F.col("p.left").alias("left"), F.col("p.right").alias("right")
        )
        .agg(F.sum("freq").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), "left", "right")
        .limit(1)
        .collect()
    )


def learn_bpe_merges(
    words: DataFrame,
    word_col: str,
    freq_col: str,
    n_merges: int = 8,
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges from a (word, freq)
    table. Returns (round, left, right, pair_count) — the ordered merge
    list that defines the tokenizer."""
    merges = []

    def step(corpus: DataFrame, rnd: int) -> DataFrame | None:
        top = _top_pair(corpus)
        if not top:
            return None
        la, lb, c = top[0]["left"], top[0]["right"], top[0]["pair_count"]
        merges.append((rnd, la, lb, int(c)))
        # the merge list is complete: the last merged corpus is never read
        return merge_pair(corpus, la, lb) if rnd < n_merges else None

    # the merge list is driver-side, so every corpus generation — the
    # last one included — is released when the scope closes
    with persist_scope():
        corpus = words.select(
            F.col(word_col).alias("word"),
            F.col(freq_col).cast("long").alias("freq"),
            char_tokens(F.col(word_col)).alias("toks"),
        ).transform(scoped_local_checkpoint)
        iterate_checkpointed(corpus, step, n_merges)
    return words.sparkSession.createDataFrame(
        merges, "round long, left string, right string, pair_count long"
    )


def apply_merges(words: DataFrame, word_col: str, merges: list) -> DataFrame:
    """Segment each word with an ordered merge list [(left, right), ...]
    — the same positional greedy merge the learner ran, applied round by
    round. Adds ``bpe_tokens`` and ``n_tokens``."""
    corpus = words.select(
        F.col(word_col).alias("word"),
        F.lit(1).cast("long").alias("freq"),
        char_tokens(F.col(word_col)).alias("toks"),
    )
    for la, lb in merges:
        corpus = merge_pair(corpus, la, lb)
    return (
        corpus.select(
            F.col("word").alias(word_col),
            F.col("toks").alias("bpe_tokens"),
            F.size("toks").cast("long").alias("n_tokens"),
        )
    )
