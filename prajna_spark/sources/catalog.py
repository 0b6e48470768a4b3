"""Table catalog over the driver's parquet testdata.

Reference parity: Prajna's sources are ``DSet.loadSource`` (re-open a named
stored DSet, /root/reference/src/CoreLib/DSetGenerics.fs:367-384) and
``DSet.store/saveToHDD`` (ibid:206-366, 519-547). Here a "named DSet" is a
parquet table; ``spark.read.parquet`` gives us columnar scan with predicate
pushdown + column pruning for free — on 100 TB the scan reads only the
row-groups and columns the query touches (verify with
``plans.assert_pushdown``).

Re-opening is metadata-only after the first time. ``spark.read.parquet``
without a schema infers one from the footers in a Spark job (~60 ms per
load); :func:`read_parquet` pays that once per file version and then
reads with ``.schema(cached)``, which launches no job and plans the same
scan (a given schema and an inferred one both go through ``asNullable``).
The memo key is the resolved path, ``(st_ino, st_size, st_mtime_ns,
st_ctime_ns)`` of every file under it (a rewrite with a new schema is
seen even inside one mtime tick) and the reader confs that change what
inference returns (``SCHEMA_CONFS``). Only paths the local filesystem
can ``stat`` are memoised: for a remote path (a URI, or any path when
the default filesystem is not local) ``os.stat`` cannot prove the file
unchanged, and a missing path must still raise Spark's own error, so
both read exactly as ``spark.read.parquet`` does.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor (they grow
# sublinearly or are fixed-size in TPC-H-ish generators).
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)

# (resolved path, conf values) -> (file versions, inferred StructType).
# One entry per path and conf setting: a new file version replaces the
# old entry. Python objects only, no JVM references; two threads that
# miss together both infer, and either result is the right one. Versions
# are read before inference, so a rewrite racing it costs one more
# inference, never a stale schema.
_SCHEMAS: dict[tuple, tuple[tuple, StructType]] = {}


def _file_versions(path: str) -> tuple | None:
    """``(relative name, ino, size, mtime_ns, ctime_ns)`` of every file
    under ``path`` (the file itself if it is one); None if the path cannot
    be stat'ed (a URI, a glob or a missing path)."""
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return (("", st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns),)
        out = []
        for root, _dirs, files in os.walk(path):
            for f in files:
                full = os.path.join(root, f)
                st = os.stat(full)
                out.append((os.path.relpath(full, path), st.st_ino, st.st_size,
                            st.st_mtime_ns, st.st_ctime_ns))
    except OSError:
        return None
    return tuple(sorted(out))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per file
    version (see the module docstring for the memo key)."""
    versions = _file_versions(path)
    if versions is None or not spark.sparkContext._jsc.hadoopConfiguration().get(
        "fs.defaultFS", "file:///"
    ).startswith("file:"):
        return spark.read.parquet(path)
    key = (os.path.realpath(path), tuple(spark.conf.get(c) for c in SCHEMA_CONFS))
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == versions:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (versions, df.schema)
    return df


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # ts arrives as raw nanos (TIMESTAMP(NANOS) parquet type);
            # convert losslessly via integer division to micros. `div` stays
            # exact where a double division would lose precision at ~1.7e18.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # Plain parquet TIMESTAMP (isAdjustedToUTC=false) reads as NTZ;
            # NTZ cannot cast to numeric, so normalize to session-local
            # (UTC-pinned) timestamp here so downstream epoch math works and
            # matches DuckDB's naive-timestamp epoch().
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def stream_table(
    spark: SparkSession, name: str, sf_dir: str, schema: str
) -> DataFrame:
    """``readStream`` twin of :func:`load_table`, handling BOTH fixture
    shapes: driver testdata tables are single FILES
    (``<sf_dir>/<name>.parquet``), while scaled fixtures and rewrite
    scenarios are DIRECTORIES of part files (tools/gen_scale.py,
    driver_sim's INT96 rewrite). A directory streams directly; a file
    streams via a glob filter over the parent (the file source's basePath
    must be a directory). Streaming always needs the explicit ``schema``
    — there is no inference pass. The caller owns any events-style ts
    normalization (see streaming/telemetry.py)."""
    reader = spark.readStream.schema(schema)
    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):
        return reader.parquet(path)
    return reader.option("pathGlobFilter", f"{name}.parquet").parquet(sf_dir)


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load the full star schema as a dict of DataFrames (lazy scans)."""
    return {name: load_table(spark, name, sf_dir) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every table as a temp view so the full catalog is
    queryable through ``spark.sql`` — the engine's SQL front door (the
    reference has no SQL surface at all; SURVEY §0)."""
    for name in TABLES:
        load_table(spark, name, sf_dir).createOrReplaceTempView(name)
