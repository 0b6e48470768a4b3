"""Table maintenance — store rewrites and retention for parquet layouts.

Streaming sinks and micro-batch appends accumulate small files and
per-batch partial rows; retention policies drop aged partitions. Both
are routine at 100 TB and both are provided here as plain
filesystem+DataFrame operators (no table-format dependency):

- :func:`rewrite_store` — the one crash-safe store rewrite: replace a
  store with a fold over it. :func:`compact` (file-size compaction, per
  partition directory) and the streamed sketch stores' compactions
  (rollup, KMV, histogram, heavy hitters: every ``ingest_batch`` folded
  into one ``ingest_batch=-1`` layer) all go through it.
- :func:`expire_partitions` — drop whole ``col=value`` partition
  directories older than a cutoff. Deleting a partition is a directory
  remove — zero data rewrite, the reason date-partitioned layouts are
  the retention-friendly shape.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def _parquet_files(path: str) -> set[str]:
    return {
        os.path.join(dp, f)
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    }


def _siblings(path: str) -> tuple[str, str]:
    """The staging and swapped-out directories of the store at ``path``."""
    base = path.rstrip("/")
    return base + ".__compact_tmp__", base + ".__compact_old__"


def _heal_interrupted_swap(path: str) -> None:
    """Refuse remote URIs, then recover from a rewrite killed mid-swap:
    if only the ``old`` snapshot exists the first rename landed but the
    second did not — restore it (nothing was lost; the tmp result is
    discarded). If both exist the swap completed and ``old`` is
    releasable residue."""
    if "://" in path:
        raise NotImplementedError(
            "store rewrites are driver-local-POSIX only (rename swap); for "
            "object stores use a transactional table format's OPTIMIZE instead"
        )
    tmp, old = _siblings(path)
    if os.path.isdir(old) and not os.path.isdir(path):
        os.rename(old, path)
    elif os.path.isdir(old):
        shutil.rmtree(old)
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)


def rewrite_store(
    spark: SparkSession,
    path: str,
    fold: Callable[[DataFrame], DataFrame],
    *partition_cols: str,
) -> int:
    """Replace the parquet store at ``path`` with ``fold(store)``,
    written ``partitionBy(*partition_cols)``. Returns the rows written.

    - Crash-safe: an interrupted previous swap is healed on entry, and
      the result is staged in a sibling directory; the store is only
      touched by the final two-rename swap, whose brief missing-path
      window the next call heals (single-maintainer contract, same as
      every non-transactional layout).
    - Row-count check: the staged copy must re-read to exactly the rows
      the fold emitted (counted by ``observe()`` on the write itself, no
      extra job), or the rewrite aborts with the store untouched.
    - Concurrent-append guard: the file set is listed before the read
      and re-listed immediately before the swap; if a sink appended in
      between, the rewrite ABORTS (tmp discarded, store untouched)
      rather than silently dropping the new files. Run rewrites from the
      same scheduler slot as the sink's trigger, not beside it.
    - Driver-local filesystems only (os.rename swap); remote URIs fail
      loudly up front instead of after a full rewrite.
    """
    _heal_interrupted_swap(path)
    before = _parquet_files(path)
    tmp, old = _siblings(path)
    obs = Observation()
    out = fold(spark.read.parquet(path)).observe(obs, F.count(F.lit(1)).alias("n"))
    out.write.mode("overwrite").partitionBy(*partition_cols).parquet(tmp)
    # explicit schema: a zero-row partitioned write leaves no footer
    n_rows = spark.read.schema(out.schema).parquet(tmp).count()
    if n_rows != obs.get["n"]:
        shutil.rmtree(tmp)
        raise RuntimeError(f"compaction row-count mismatch for {path}")
    if _parquet_files(path) != before:
        shutil.rmtree(tmp)
        raise RuntimeError(
            f"concurrent modification of {path} during compaction; aborted"
        )
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return n_rows


def compact(
    spark: SparkSession,
    path: str,
    target_mb: int = 128,
) -> int:
    """Rewrite ``path``'s parquet files into ~``target_mb``-sized files
    through :func:`rewrite_store` (crash-safe, row-count checked,
    aborts on a concurrent append). Returns the new file count.

    A PARTITIONED root (``col=value`` subdirectories) is compacted one
    partition directory at a time, preserving the layout exactly — a
    flat rewrite of the root would fold the partition columns into the
    data files and silently destroy pruning/retention.
    """
    _heal_interrupted_swap(path)
    part_dirs = [
        os.path.join(path, name)
        for name in sorted(os.listdir(path))
        if "=" in name and os.path.isdir(os.path.join(path, name))
    ]
    if part_dirs:
        return sum(compact(spark, d, target_mb) for d in part_dirs)

    def to_target_size(store: DataFrame) -> DataFrame:
        size = sum(os.path.getsize(f) for f in _parquet_files(path))
        return store.coalesce(max(1, -(-size // (target_mb * 1024 * 1024))))

    rewrite_store(spark, path, to_target_size)
    return sum(
        1 for f in os.listdir(path) if f.endswith(".parquet")
    )


def list_partitions(path: str, partition_col: str) -> list[tuple[str, str]]:
    """(value, dirpath) for each ``partition_col=value`` leaf directory."""
    prefix = f"{partition_col}="
    out = []
    for name in sorted(os.listdir(path)):
        full = os.path.join(path, name)
        if os.path.isdir(full) and name.startswith(prefix):
            out.append((name[len(prefix):], full))
    return out


def expire_partitions(
    path: str,
    partition_col: str,
    keep_if,
) -> list[str]:
    """Drop partition directories whose VALUE fails ``keep_if(value)``
    (values are the directory-name strings, e.g. '2026-01-03'; lexical
    comparison is correct for ISO dates and zero-padded numbers).
    Returns the dropped values. Directory removal only — no rewrite of
    surviving data."""
    dropped = []
    for value, full in list_partitions(path, partition_col):
        if not keep_if(value):
            shutil.rmtree(full)
            dropped.append(value)
    return dropped
