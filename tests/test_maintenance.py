"""operators.maintenance — compaction atomicity + retention by
partition drop."""

from __future__ import annotations

import os

from prajna_spark.operators.maintenance import (
    compact,
    expire_partitions,
    list_partitions,
)


def _parquet_files(path):
    return sorted(f for f in os.listdir(path) if f.endswith(".parquet"))


def test_compact_reduces_files_preserves_rows(spark, tmp_path):
    path = str(tmp_path / "many")
    spark.range(10000).repartition(37).write.parquet(path)
    assert len(_parquet_files(path)) == 37
    before = sorted(r["id"] for r in spark.read.parquet(path).collect())
    n = compact(spark, path, target_mb=128)
    assert n == len(_parquet_files(path)) == 1
    after = sorted(r["id"] for r in spark.read.parquet(path).collect())
    assert after == before
    # no temp/old residue
    assert not os.path.exists(path + ".__compact_tmp__")
    assert not os.path.exists(path + ".__compact_old__")


def test_compact_one_partition_of_partitioned_table(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i % 3) for i in range(300)], "id long, p int"
    ).repartition(11)
    df.write.partitionBy("p").parquet(path)
    target = os.path.join(path, "p=1")
    n_before = len(_parquet_files(target))
    assert n_before > 1
    compact(spark, target, target_mb=128)
    assert len(_parquet_files(target)) == 1
    got = sorted(r["id"] for r in spark.read.parquet(path).where("p = 1").collect())
    assert got == [i for i in range(300) if i % 3 == 1]


def test_expire_partitions_drops_only_aged(spark, tmp_path):
    path = str(tmp_path / "dated")
    df = spark.createDataFrame(
        [(i, d) for i in range(20) for d in ("2026-01-01", "2026-02-01", "2026-03-01")],
        "id long, day string",
    )
    df.write.partitionBy("day").parquet(path)
    dropped = expire_partitions(path, "day", keep_if=lambda v: v >= "2026-02-01")
    assert dropped == ["2026-01-01"]
    assert [v for v, _ in list_partitions(path, "day")] == [
        "2026-02-01", "2026-03-01"
    ]
    assert spark.read.parquet(path).count() == 40


def test_compact_partitioned_root_preserves_layout(spark, tmp_path):
    """Compacting a partitioned ROOT must recurse per partition directory
    — a flat rewrite folds the partition column into the data files and
    silently destroys pruning and directory-level retention."""
    from prajna_spark.operators.maintenance import compact, list_partitions

    path = str(tmp_path / "ptab")
    df = spark.createDataFrame(
        [(i, str(i % 3)) for i in range(30)], "v long, day string"
    )
    df.repartition(6).write.partitionBy("day").parquet(path)
    before = {v for v, _ in list_partitions(path, "day")}
    compact(spark, path, target_mb=128)
    assert {v for v, _ in list_partitions(path, "day")} == before
    got = spark.read.parquet(path)
    assert got.count() == 30 and "day" in got.columns


def _race_one_append(monkeypatch, path, append):
    """Make the rewrite's first listing of ``path`` (taken before it reads
    the store) run ``append`` right after: a sink landing mid-rewrite."""
    import prajna_spark.operators.maintenance as m

    real = m._parquet_files
    state = {"n": 0}

    def racy(p):
        out = real(p)
        if p == path and state["n"] == 0:
            state["n"] = 1
            append()
        return out

    monkeypatch.setattr(m, "_parquet_files", racy)


def test_compact_aborts_on_concurrent_append(spark, tmp_path, monkeypatch):
    """A file appended between compact's read and its swap must abort the
    compaction (store untouched), not vanish with the old layout."""
    import prajna_spark.operators.maintenance as m
    import pytest

    path = str(tmp_path / "race")
    spark.createDataFrame([(1,)], "v long").write.parquet(path)
    extra = spark.createDataFrame([(2,)], "v long")
    _race_one_append(
        monkeypatch, path,
        lambda: extra.coalesce(1).write.mode("append").parquet(path),
    )
    with pytest.raises(RuntimeError, match="concurrent modification"):
        m.compact(spark, path)
    # nothing lost: both rows still present
    assert spark.read.parquet(path).count() == 2


def test_sketch_compaction_aborts_on_concurrent_batch(spark, tmp_path, monkeypatch):
    """The streamed sketch stores compact through the same guarded
    rewrite: a micro-batch landing mid-compaction aborts it with every
    batch's deltas still in the store."""
    import pytest

    from prajna_spark.streaming.rollup_stream import compact_store
    from prajna_spark.streaming.sink import write_batch

    path = str(tmp_path / "rollup_store")
    schema = "epoch_start long, k string, n_events long, total_value double"
    for batch_id in (0, 1):
        delta = spark.createDataFrame([(0, "a", 1, 1.0)], schema)
        write_batch(delta, batch_id, path)
    late = spark.createDataFrame([(0, "a", 1, 1.0)], schema)
    _race_one_append(monkeypatch, path, lambda: write_batch(late, 2, path))
    with pytest.raises(RuntimeError, match="concurrent modification"):
        compact_store(spark, path, ["k"])
    got = spark.read.parquet(path)
    assert sorted(r.ingest_batch for r in got.collect()) == [0, 1, 2]


def test_compact_heals_interrupted_swap(spark, tmp_path):
    """Crash window between the two renames: only __compact_old__ exists.
    The next compact() restores it instead of letting a streaming
    bootstrap treat the store as absent."""
    import os

    from prajna_spark.operators.maintenance import compact

    path = str(tmp_path / "healed")
    spark.createDataFrame([(i,) for i in range(5)], "v long").write.parquet(path)
    os.rename(path, path + ".__compact_old__")  # simulate the crash window
    compact(spark, path)
    assert spark.read.parquet(path).count() == 5
    assert not os.path.isdir(path + ".__compact_old__")


def test_compact_rejects_remote_uri(spark):
    import pytest

    from prajna_spark.operators.maintenance import compact

    with pytest.raises(NotImplementedError, match="driver-local"):
        compact(spark, "s3a://bucket/store")
