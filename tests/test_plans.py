"""Physical-plan assertions — the 100 TB contract, enforced in CI.

Correctness tests prove the small-SF answer; these prove the PLAN is the
one we'd want on a 1000-executor cluster: filters/columns pushed into the
parquet scan, small dims broadcast, no data-sized single-partition funnel.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prajna_spark import plans
from prajna_spark.queries import queries
from prajna_spark.sources import load_table

CATALOG = queries()


@pytest.fixture(scope="module")
def catalog_plans(spark, sf_dir) -> dict[str, str]:
    """Every catalog query's executed physical plan, built ONCE for all
    the catalog-wide lints below — a build runs the query's eager
    collects and checkpoints, so each extra sweep costs minutes."""
    return {
        name: fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        for name, fn in queries().items()
    }


def test_pricing_summary_pushdown_and_pruning(spark, sf_dir):
    df = CATALOG["pricing_summary"](spark, sf_dir)
    # date filter reaches the scan; scan reads only the 7 needed columns
    plans.assert_pushdown(df, ["l_shipdate"], max_read_cols=7)


def test_region_rollup_broadcasts_dims(spark, sf_dir):
    df = CATALOG["join_inner_region_rollup"](spark, sf_dir)
    plans.assert_broadcast_join(df, expect=1)


def test_scan_prunes_columns_for_projection(spark, sf_dir):
    li = load_table(spark, "lineitem", sf_dir)
    two = li.select("l_orderkey", "l_quantity")
    cols = plans.read_schema_columns(two)
    assert cols, "expected a parquet scan in the plan"
    for _, read in cols.items():
        assert sorted(read) == ["l_orderkey", "l_quantity"]


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    orders = load_table(spark, "orders", sf_dir)
    f = orders.where(F.col("o_orderstatus") == "F").select("o_orderkey")
    assert any("o_orderstatus" in p for p in plans.pushed_filters(f))


def test_topk_has_no_global_sort_exchange(spark, sf_dir):
    # TakeOrderedAndProject: per-partition heaps + driver merge of k rows —
    # never a data-sized single-partition exchange.
    df = CATALOG["binsort_topk_orders"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "SinglePartition" not in plan


def test_headline_queries_are_jvm_only(spark, sf_dir):
    """EVERY bench headline query stays JVM-side — zero Python-eval nodes
    of any flavor. The explicitly-Python surfaces (mapInPandas decode,
    applyInPandas grouped map) are exercised by their own catalog queries,
    not the bench headline."""
    import bench

    for name in bench.HEADLINE:
        df = CATALOG[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        for node in (
            "BatchEvalPython",
            "ArrowEvalPython",
            "MapInPandas",
            "FlatMapGroupsInPandas",
        ):
            assert node not in plan, f"{name} drops to Python ({node})"


def test_kmeans_centroids_partition_all_vectors(spark, sf_dir):
    from prajna_spark.pipeline.similarity import kmeans_centroids
    from prajna_spark.sources import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    out = kmeans_centroids(emb, k=8, n_iter=2).collect()
    assert len(out) == 8
    assert sum(r.n_assigned for r in out) == emb.count()  # exact partition
    assert all(len(r.centroid) == 64 for r in out)


def test_q3_uses_takeordered_and_pushdown(spark, sf_dir):
    df = CATALOG["q3_shipping_priority"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # top-20, never a global sort
    pf = " ".join(plans.pushed_filters(df))
    assert "c_mktsegment" in pf and "o_orderdate" in pf and "l_shipdate" in pf


def test_q5_broadcasts_dims(spark, sf_dir):
    df = CATALOG["q5_local_supplier_volume"](spark, sf_dir)
    plans.assert_broadcast_join(df, expect=1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_no_accidental_cartesian_anywhere_in_catalog(catalog_plans):
    """Catalog-wide plan lint: no CartesianProduct / BroadcastNestedLoopJoin
    in ANY query except the ones whose operator IS a cross join (or a
    broadcast cross join by design: brute-force kNN, IVF assignment,
    k-means assignment — all bounded by a broadcast side)."""
    allowed = {
        "crossjoin_nation_region",
        "crossjoin_fold_supplier_pairs",
        "knn_bruteforce_cosine",
        "knn_label_consistency",
        "ann_ivf_topk",
        "ann_recall_eval",
        "ivf_kmeans_centroids",
        # ADC recall: broadcast cross of 20 queries x candidates, the
        # same bounded shape as knn_bruteforce
        "pq_adc_knn_recall",
    }
    for name, plan in catalog_plans.items():
        if name in allowed:
            continue
        assert "CartesianProduct" not in plan, f"{name} has a cartesian product"


def test_no_python_eval_anywhere_in_catalog(catalog_plans):
    """Catalog-wide JVM-discipline lint (extends the headline-only check):
    NO query may drop to row-at-a-time or Arrow Python evaluation except
    the ones whose operator IS a pandas UDF by design — the Arrow-batched
    multimodal decodes (image meta, audio WAV encode/decode/RMS), the
    Misra-Gries partition sketch, and the grouped-pandas zscore (kept as
    the documented applyInPandas exemplar; its JVM twin
    window_zscore_events is the headline spelling)."""
    allowed = {
        "grouped_zscore_pandas",
        "multimodal_decode_meta",
        "audio_chunk_plan",
        "audio_chunk_rms",
        "heavy_hitters_users",
        # image tier: BMP encode/decode + dHash are Arrow-batched numpy by
        # design; everything after the 16-byte (doc_id, dhash) projection
        # is JVM (banding, grouping, hamming join)
        "image_bmp_meta",
        "image_dhash_dedup",
        "image_dhash_hamming_pairs",
        # stdlib PNG codec (zlib + filter reconstruction) is Arrow-batched
        # Python by design, like the BMP twin above
        "image_png_roundtrip_meta",
        # decode -> numpy resize -> re-encode is Arrow-batched by design
        "image_resize_half_meta",
        # PCA's single corpus pass is numpy matmul per Arrow batch by
        # design; everything downstream is driver-bounded dim x dim algebra
        "pca_top_component_embeddings",
        # the native Python UDTF exemplar: the CDC boundary scan is a
        # sequential per-document recurrence — imperative by design
        "cdc_chunk_documents",
        # video tier: container build + per-keyframe BMP decode/dHash are
        # Arrow-batched numpy by design; keyframe SLICING is JVM substring
        # arithmetic and everything after the (doc, frame, hash) rows is
        # JVM (window, hamming)
        "video_keyframe_dhash",
        # §2 mapByCollection through the DSet surface IS mapInPandas by
        # definition (the reference's collection == our Arrow batch);
        # the JVM twin is mapreduce_priority_histogram
        "map_by_collection_stats",
    }
    for name, plan in catalog_plans.items():
        if name in allowed:
            continue
        for node in (
            "BatchEvalPython",
            "ArrowEvalPython",
            "MapInPandas",
            "FlatMapGroupsInPandas",
        ):
            assert node not in plan, f"{name} drops to Python ({node})"


def test_quantized_recall_broadcasts_the_bounded_knn_side(spark, sf_dir):
    """quantized_knn_recall joins two k x #queries aggregates; the hint on
    the quantized side must survive to a BroadcastHashJoin (r4 review nit:
    the small-side-ness was asserted only by construction). A sort-merge
    join here would mean Catalyst dropped the hint and both bounded
    frames took an unnecessary exchange."""
    plan = (
        CATALOG["quantized_knn_recall"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, plan


def test_verify_joins_never_broadcast_the_corpus_side(spark, sf_dir):
    """The dedup verify joins attach per-document token/shingle SETS to
    candidate pairs — a corpus-cardinality side that must never become a
    broadcast build: at 30x data AQE elected to broadcast it and the
    driver-side build died on spark.driver.maxResultSize (round-8 hunt).
    The SHUFFLE_HASH pins must survive to the physical plan in BOTH
    funnel spellings — on the pair-id verify joins AND on the PPJoin
    prefix's ranked-vocabulary join (one row per distinct shingle, also
    corpus-scale). The only broadcasts allowed are zip_with_index's
    __pid boundary tables, which are partition-count-sized forever."""
    for q in ("dedup_lsh_verified", "dedup_jaccard_exact_join"):
        plan = (
            CATALOG[q](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "ShuffledHashJoin" in plan, f"{q}: hint dropped\n{plan}"
        for key in ("id_", "sh#"):
            assert f"BroadcastHashJoin [{key}" not in plan, (
                f"{q}: a corpus-sized side ({key}) is being broadcast\n{plan}"
            )
