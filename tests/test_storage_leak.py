"""Cross-query session hygiene: after real catalog queries the driver
JVM returns to baseline (r9 VERDICT task #6, promoting the
tools/pressure_probe.py finding into a pinned invariant).

The r9 root-cause work showed that after a sequence of heavy queries +
forced GC, registered shuffles drop back to the steady floor and cached
RDD/broadcast blocks release (shuffles 12→4, heap 20 GB→90 MB at 100x).
If any operator starts pinning state past its persist_scope — a
checkpoint that release misses, a broadcast kept reachable, a shuffle
whose RDD survives in a module-level cache — this test catches it at
test scale, without needing the 100x fixture.
"""

from __future__ import annotations

import os

from prajna_spark.operators.lifecycle import persist_scope
from prajna_spark.plans.jvmstate import drain_to_baseline, jvm_state_snapshot

# Shuffle/persist/checkpoint-heavy spread: iterative graph (checkpoint
# generations), LSH verify (scoped persists + pinned SHUFFLE_HASH joins),
# cascade rollup (internal persists), windowed agg, broadcast-heavy join.
QUERIES = [
    "dedup_connected_components",
    "triangle_count_parts",
    "cascade_rollup_events",
    "dedup_lsh_verified",
    "q5_local_supplier_volume",
    "rolling_distinct_users_24h",
]


def test_catalog_sequence_returns_jvm_state_to_baseline(spark, sf_dir):
    from prajna_spark.queries import queries

    cat = queries()
    # settle whatever earlier tests left behind, then take the baseline
    baseline = drain_to_baseline(
        spark, {"shuffles_registered": 0, "rdd_blocks": 0, "broadcast_blocks": 0},
        timeout_sec=30,
    )
    # All three gauges must be readable (>= 0): an unreadable gauge reads
    # -1 and every -1 <= -1 leak assertion below would pass without
    # measuring anything (r10 advisory) — the invariant this test pins
    # would silently become a no-op.
    for gauge in ("shuffles_registered", "rdd_blocks", "broadcast_blocks"):
        assert baseline[gauge] >= 0, f"probe gauge {gauge} must be readable"

    for name in QUERIES:
        with persist_scope():
            cat[name](spark, sf_dir).write.mode("overwrite").format("noop").save()

    grown = jvm_state_snapshot(spark)
    final = drain_to_baseline(spark, baseline, timeout_sec=90)
    assert final["rdd_blocks"] <= baseline["rdd_blocks"], (
        f"cached RDD blocks leaked past persist_scope: "
        f"baseline={baseline} grown={grown} final={final}"
    )
    assert (
        final["shuffles_registered"] <= baseline["shuffles_registered"]
    ), (
        f"registered shuffles did not drain after GC (ContextCleaner debt "
        f"now outlives collection): baseline={baseline} grown={grown} "
        f"final={final}"
    )
    assert final["broadcast_blocks"] <= baseline["broadcast_blocks"] + 2, (
        f"broadcast blocks leaked: baseline={baseline} grown={grown} "
        f"final={final}"
    )


def test_streaming_query_rebuild_leaves_one_scratch_dir(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A catalog query that drains a stream into an on-disk store keeps
    ONE scratch directory per query, scale and thread: a rebuild wipes
    and reuses it instead of leaving a store and checkpoint behind per
    build."""
    import tempfile

    from prajna_spark.queries import queries

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    build = queries()["anomaly_stream_alerts"]
    counts = [build(spark, sf_dir).count() for _ in range(2)]
    assert counts[0] == counts[1] > 0
    assert len(os.listdir(tmp_path)) == 1, os.listdir(tmp_path)
