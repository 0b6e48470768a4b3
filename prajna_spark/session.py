"""SparkSession factory.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the configs
below are chosen to also be the right defaults on a large cluster:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  broadcast demotion) — at 100 TB the static plan is always wrong somewhere.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE's coalescePartitions makes a large initial number safe.
- Arrow execution for any pandas-UDF path (the slow path; the catalog's
  hot queries are 100% JVM built-ins).
- Session timezone pinned to UTC so date/time semantics match the DuckDB
  oracle regardless of host timezone.
- PySpark's per-call call-site capture off
  (``spark.python.sql.dataFrameDebugging.enabled``): left on, every Column
  and DataFrame call makes about four extra py4j round trips and a Python
  stack walk. An error keeps its error class and message and loses only
  the Python ``file:line`` in its "DataFrame query context" section.
  Sessions passed to ``tune()`` keep their own setting.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(app_name: str = "prajna-spark") -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # Every cache/checkpoint this engine takes is MEMORY_AND_DISK —
        # spill-safe by construction — so the default 50% of unified
        # memory PROTECTED from eviction (spark.memory.storageFraction)
        # is exactly wrong at scale: iterative graph operators pin a
        # corpus-sized edge checkpoint in the protected region and
        # starve the 32 concurrent shuffle-hash tasks sharing the heap.
        # Found live at 100x (kcore_parts_dense: hard executor OOM in
        # the first peeling round on a 24 GB heap; green in 388 s at
        # 0.1 on the same heap). Eviction costs a disk write; the
        # protected default costs the job. Static conf — must be set at
        # JVM build, so it lives here and not in tune().
        .config("spark.memory.storageFraction", "0.1")
    )
    # ContextCleaner acts only when driver GC enqueues dead weak
    # references; on a large heap the old gen may never collect within a
    # multi-query run, so shuffle/broadcast cleanup debt accumulates
    # (tools/pressure_probe.py measures this). Env hook so the probe can
    # A/B the periodic-GC cadence without forking the factory.
    gc_interval = os.environ.get("SPARK_GRAFT_PERIODIC_GC")
    if gc_interval:
        builder = builder.config("spark.cleaner.periodicGC.interval", gc_interval)
    return builder.getOrCreate()


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable configs to a session we did not create.

    The driver passes us its own SparkSession; these confs are safe to set
    after JVM start and are required for oracle parity (UTC) and for the
    plans we want (AQE).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    # every catalog query runs tune() at entry, so resetting the
    # pre-coalesce shuffle granularity here bounds any leak from a prior
    # query's scale_shuffle_partitions() call in the same session
    spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        str(DEFAULT_SHUFFLE_PARTITIONS),
    )
    # events.parquet stores ts as TIMESTAMP(NANOS) which the Spark parquet
    # reader rejects; read as raw nanos and convert in the catalog.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark


def scale_shuffle_partitions(
    spark: SparkSession,
    sf_dir: str,
    table: str = "lineitem",
    rows_per_partition: int = 35_000,
    cap: int = 2048,
) -> int:
    """Size the PRE-COALESCE shuffle granularity to the input, from
    parquet footers only (no job). AQE's coalescePartitions merges small
    reducers back down at runtime, so raising
    ``initialPartitionNum`` is free at small scale — but it is the only
    dial that bounds PER-TASK working sets as data grows: with a fixed
    32-partition shuffle, each reduce task's buffered rows scale
    linearly with the corpus until the heap dies. Found live on the 30x
    graph fixture (round 7): the wedge-closure shuffle OOM'd an 8 GB
    heap at 32 partitions and completed at 512. The memory-heavy
    iterative/wedge operators call this after ``tune()`` (which resets
    the granularity, bounding cross-query leaks); sizing from row count
    is deliberately coarse — the point is the ORDER of task count, AQE
    owns the fine-tuning."""
    import glob as _glob
    import os as _os

    import pyarrow.parquet as _pq

    path = _os.path.join(sf_dir, f"{table}.parquet")
    files = (
        sorted(_glob.glob(_os.path.join(path, "*.parquet")))
        if _os.path.isdir(path)
        else [path]
    )
    try:
        n = sum(_pq.ParquetFile(f).metadata.num_rows for f in files)
    except OSError:
        n = 0
    parts = min(cap, max(DEFAULT_SHUFFLE_PARTITIONS, n // rows_per_partition))
    spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum", str(parts)
    )
    return parts
