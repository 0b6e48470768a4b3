"""Shuffle VOLUME regression guards for the dedup tier.

The plan lints (test_plans) catch shape regressions; these tests catch
volume regressions by measuring actual stage metrics
(plans.metrics.stage_totals): the dedup operators' shuffles must carry
narrow keys (ids, digest slices, band buckets) — NEVER document text —
so shuffle volume must be independent of document LENGTH and linear in
document COUNT. Those two properties are exactly what keeps the tier
viable at 100 TB: a corpus 1000x wider in bytes shuffles the same rows.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from prajna_spark.pipeline import dedup
from prajna_spark.plans.metrics import stage_totals, totals_delta


def _measure(spark, df):
    before = stage_totals(spark)
    df.write.format("noop").mode("overwrite").save()
    delta = totals_delta(before, stage_totals(spark))
    if not delta["available"]:
        pytest.skip("AppStatusStore metrics unavailable on this Spark build")
    return delta


def _measure_build(spark, build):
    """Measure a thunk that BUILDS and drains a DataFrame — required for
    the iterative operators, whose eager localCheckpoints run their
    whole loop at construction time, before any sink action."""
    before = stage_totals(spark)
    build().write.format("noop").mode("overwrite").save()
    delta = totals_delta(before, stage_totals(spark))
    if not delta["available"]:
        pytest.skip("AppStatusStore metrics unavailable on this Spark build")
    return delta


def _corpus(spark, n_docs: int, repeat: int):
    """n_docs synthetic docs; ``repeat`` scales LENGTH without changing
    content entropy per position (distinct shingles still ~length)."""
    base = (
        "the quick brown fox jumps over the lazy dog %d "
        "pack my box with five dozen liquor jugs %d "
    )
    rows = [(i, (base % (i, i * 7)) * repeat) for i in range(n_docs)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_shuffle_independent_of_doc_length(spark):
    short = _corpus(spark, 400, repeat=2)    # ~180 chars/doc
    long_ = _corpus(spark, 400, repeat=16)   # ~1.5k chars/doc (8x bytes)
    d_short = _measure(spark, dedup.minhash_signature(short, "doc_id", "text"))
    d_long = _measure(spark, dedup.minhash_signature(long_, "doc_id", "text"))

    # 8x the text bytes must NOT mean 8x the shuffle: partial aggregation
    # collapses shingles to one signature row per (doc, partition) before
    # the exchange. Identical record counts; bytes within noise.
    assert d_long["shuffle_write_records"] == d_short["shuffle_write_records"]
    assert d_long["shuffle_write_bytes"] <= 1.5 * d_short["shuffle_write_bytes"]


def test_minhash_shuffle_rows_are_narrow_and_linear_in_docs(spark):
    small = _corpus(spark, 400, repeat=4)
    big = _corpus(spark, 1600, repeat=4)
    d_small = _measure(spark, dedup.minhash_signature(small, "doc_id", "text"))
    d_big = _measure(spark, dedup.minhash_signature(big, "doc_id", "text"))

    # records O(#docs) with a small constant (fan_out + partial-agg rows)
    assert d_small["shuffle_write_records"] <= 10 * 400
    assert d_big["shuffle_write_records"] <= 10 * 1600
    ratio = d_big["shuffle_write_records"] / max(1, d_small["shuffle_write_records"])
    # ~4x docs -> ~4x rows; bounds are loose because stage metrics count
    # task ATTEMPTS — under machine load, retried/speculated tasks inflate
    # one side (observed once under a parallel-job stress run)
    assert 2.0 <= ratio <= 8.0
    # narrow rows: id + 8 digest slices, never the text
    assert d_big["shuffle_write_bytes"] / d_big["shuffle_write_records"] < 300


def _random_edges(spark, n_nodes: int, n_edges: int, seed: int = 0):
    """Deterministic pseudo-random directed edge list (hash-mixed, no
    RNG state — retry/speculation stable like the samplers). Edge i's
    endpoints come from md5(seed, i), so distinct edges grow with
    ``n_edges``; an affine map of i mod n_nodes would repeat with period
    n_nodes and give every larger ``n_edges`` the same edge set."""
    rows = []
    for i in range(n_edges):
        h = hashlib.md5(f"{seed}|{i}".encode()).digest()
        u = int.from_bytes(h[:8], "little") % n_nodes
        v = int.from_bytes(h[8:], "little") % n_nodes
        if u != v:
            rows.append((u, v))
    return spark.createDataFrame(rows, "src long, dst long")


def test_pagerank_shuffle_linear_in_edges(spark):
    """Per-iteration PageRank shuffle carries edge-cardinality messages +
    node-cardinality aggregates — doubling |E| at fixed |V| must scale
    shuffle records ~2x, never quadratically, and rows stay key-width."""
    from prajna_spark.operators.pagerank import pagerank

    n_iter = 3
    small = _random_edges(spark, 500, 3000)
    big = _random_edges(spark, 500, 6000)
    d_small = _measure_build(spark, lambda: pagerank(small, n_iter=n_iter))
    d_big = _measure_build(spark, lambda: pagerank(big, n_iter=n_iter))

    ratio = d_big["shuffle_write_records"] / max(1, d_small["shuffle_write_records"])
    # 2x edges -> ~2x records; wide slack for the node-cardinality terms
    # (constant across the two runs) and task-attempt noise
    assert 1.2 <= ratio <= 3.5, (ratio, d_small, d_big)
    # absolute bound: c * n_iter * |E| for a small constant c — each
    # iteration is one edge-message shuffle + one narrow aggregate, plus
    # setup (node derivation, degrees, checkpoint re-exchanges)
    assert d_big["shuffle_write_records"] <= 12 * n_iter * 6000, d_big
    assert (
        d_big["shuffle_write_bytes"] / max(1, d_big["shuffle_write_records"]) < 200
    )


def test_labelprop_shuffle_linear_in_edges(spark):
    from prajna_spark.operators.labelprop import label_propagation

    n_iter = 3
    small = _random_edges(spark, 500, 3000, seed=3)
    big = _random_edges(spark, 500, 6000, seed=3)
    d_small = _measure_build(spark, lambda: label_propagation(small, n_iter=n_iter))
    d_big = _measure_build(spark, lambda: label_propagation(big, n_iter=n_iter))

    ratio = d_big["shuffle_write_records"] / max(1, d_small["shuffle_write_records"])
    assert 1.2 <= ratio <= 3.5, (ratio, d_small, d_big)
    # per iteration: symmetrized-edge label join + (node, lbl) counts +
    # the per-node min_by argmax — all O(|E|) rows (sym = 2|E|)
    assert d_big["shuffle_write_records"] <= 16 * n_iter * 6000, d_big
    assert (
        d_big["shuffle_write_bytes"] / max(1, d_big["shuffle_write_records"]) < 200
    )


def test_triangle_wedges_bounded_on_skewed_hub(spark):
    """Degree-ordered wedge closure (Suri-Vassilvitskii): a hub's edges
    orient leaf -> hub, so a 2000-leaf star closes ZERO wedges at the
    hub — total stage volume stays O(|E| + sum oriented-outdeg^2), not
    the naive O(deg(hub)^2) = 4M. A volume regression (losing the
    orientation) blows the record bound by ~2 orders of magnitude."""
    from prajna_spark.operators.lifecycle import persist_scope
    from prajna_spark.operators.triangles import triangle_count

    hub_edges = [(0, i) for i in range(1, 2001)]  # star: deg(hub)=2000
    clique = [(u, v) for u in range(3000, 3020) for v in range(3000, 3020) if u < v]
    edges = spark.createDataFrame(hub_edges + clique, "src long, dst long")

    with persist_scope():
        d = _measure_build(spark, lambda: triangle_count(edges))

    n_edges = 2000 + len(clique)  # 2190
    # oriented out-degrees: leaves 1 (toward the hub), hub 0; clique
    # nodes at most 19 -> sum od^2 <= 2000 + 20*19^2 = 9220. Allow a
    # generous constant for the orientation joins, degree aggregates,
    # checkpoint exchanges, and the semi-join probe.
    sum_od2_bound = 2000 + 20 * 19 * 19
    assert d["shuffle_write_records"] <= 8 * (n_edges + sum_od2_bound), d
    # sanity floor: the measurement saw the real work, not a no-op
    assert d["shuffle_write_records"] >= n_edges


def test_lsh_band_pairs_shuffle_bounded(spark):
    docs = _corpus(spark, 400, repeat=4)
    # inject exact-duplicate groups so candidate pairs exist
    dupes = docs.where(F.col("doc_id") < 40).select(
        (F.col("doc_id") + 10_000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(dupes)
    pairs = dedup.lsh_band_pairs(corpus, "doc_id", "text", max_bucket_size=50)
    d = _measure(spark, pairs)
    n_docs = 440
    # band rows are O(#docs x n_bands) and pair rows are capped per bucket;
    # the whole stage must stay within a small multiple of the corpus size
    # and its rows must be key-width, not text-width.
    assert d["shuffle_write_records"] <= 40 * n_docs
    assert d["shuffle_write_bytes"] / max(1, d["shuffle_write_records"]) < 300
