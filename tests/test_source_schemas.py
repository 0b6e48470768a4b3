"""The input-table schema memo (``sources.catalog.read_parquet``) and the
session's call-site capture default.

A warm query build must launch no Spark job: the footer-inference job is
paid once per file version, and a rewrite, a reader conf that changes
what inference returns, or a missing path must still behave as a plain
``spark.read.parquet``. Job counts are read under each case's own job
group after the listener bus drains.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import threading
import uuid
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from prajna_spark.queries import registry
from prajna_spark.session import get_spark, tune
from prajna_spark.sources.catalog import load_table, read_parquet

NANOS = "spark.sql.legacy.parquet.nanosAsLong"


@contextmanager
def jobs_in_group(spark):
    """Yield a list that, on exit, holds the ids of the Spark jobs the
    calling thread launched inside the block."""
    sc = spark.sparkContext
    group = f"schema-memo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    ids: list[int] = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def own_sf_dir(sf_dir, tmp_path):
    """A private copy of the test tables: a path no other test has loaded,
    so its first load is a memo miss."""
    out = tmp_path / "sf"
    shutil.copytree(sf_dir, out)
    return str(out)


def test_rewrite_at_same_path_is_inferred_again(spark, tmp_path):
    sf = str(tmp_path)
    path = os.path.join(sf, "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["a", "b"]}), path)
    assert load_table(spark, "region", sf).columns == ["r_regionkey", "r_name"]
    # rewritten in place (same inode), well inside one mtime tick
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_comment": [1.5, 2.5]}), path)
    df = load_table(spark, "region", sf)
    assert df.dtypes == [("r_regionkey", "bigint"), ("r_comment", "double")]
    assert sorted(df.collect()) == [(0, 1.5), (1, 2.5)]


def test_schema_conf_flip_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "nanos.parquet")
    ts = pa.array(np.array([1, 2], dtype="datetime64[ns]"))
    pq.write_table(pa.table({"id": [1, 2], "ts": ts}), path, coerce_timestamps=None)
    try:
        spark.conf.set(NANOS, "true")
        with jobs_in_group(spark) as first:
            assert read_parquet(spark, path).dtypes == [("id", "bigint"), ("ts", "bigint")]
        # a stale memo would answer bigint again; inference rejects the type
        spark.conf.set(NANOS, "false")
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            read_parquet(spark, path)
        spark.conf.set(NANOS, "true")
        with jobs_in_group(spark) as again:
            assert read_parquet(spark, path).dtypes == [("id", "bigint"), ("ts", "bigint")]
    finally:
        spark.conf.set(NANOS, "true")
    assert len(first) == 1 and again == []


def test_second_build_launches_no_job(spark, own_sf_dir):
    build = registry()["pricing_summary"].fn
    with jobs_in_group(spark) as first:
        build(spark, own_sf_dir)
    with jobs_in_group(spark) as second:
        df = build(spark, own_sf_dir)
    assert len(first) == 1  # lineitem's one footer-inference job
    assert second == []
    with jobs_in_group(spark) as run:
        df.collect()
    assert run  # the memo skips inference, not execution


def test_memoised_read_plans_like_an_inferred_one(spark, own_sf_dir):
    path = os.path.join(own_sf_dir, "orders.parquet")
    read_parquet(spark, path)
    memo = read_parquet(spark, path).where(F.col("o_orderkey") < 10)
    plain = spark.read.parquet(path).where(F.col("o_orderkey") < 10)
    assert memo.schema == plain.schema

    def plan(df):
        return re.sub(r"#\d+", "#N", df._jdf.queryExecution().executedPlan().toString())

    assert plan(memo) == plan(plain)
    assert "PushedFilters: [IsNotNull(o_orderkey), LessThan(o_orderkey,10)]" in plan(memo)


def test_missing_table_raises_sparks_error(spark, tmp_path):
    with pytest.raises(AnalysisException) as err:
        load_table(spark, "region", str(tmp_path / "nowhere"))
    assert err.value.getCondition() == "PATH_NOT_FOUND"


def test_concurrent_first_loads_agree(spark, own_sf_dir):
    barrier = threading.Barrier(2)
    schemas = [None, None]

    def load(i):
        barrier.wait()
        schemas[i] = load_table(spark, "nation", own_sf_dir).schema

    threads = [threading.Thread(target=load, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    plain = spark.read.parquet(os.path.join(own_sf_dir, "nation.parquet")).schema
    assert schemas[0] == schemas[1] == plain


# A driver's own session: built without get_spark, so call-site capture is
# at PySpark's default, then handed to tune() as the driver does.
DRIVER_SESSION = """
import json, sys
from pyspark.sql import SparkSession
from prajna_spark.session import tune
from test_source_schemas import ansi_divide_by_zero
spark = SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false").getOrCreate()
tune(spark)
print(json.dumps({"capture": spark.conf.get(sys.argv[1]), "error": ansi_divide_by_zero(spark)}))
"""


def ansi_divide_by_zero(spark) -> list[str]:
    """Error class and message (the text before the DataFrame query
    context) of a divide by zero under ANSI mode."""
    before = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        spark.range(1).select((F.col("id") + 1) / 0).collect()
    except Exception as e:  # noqa: BLE001 - the class is what is compared
        return [e.getCondition(), str(e).split("== DataFrame ==")[0]]
    finally:
        spark.conf.set("spark.sql.ansi.enabled", before)
    raise AssertionError("no error raised")


def test_call_site_capture_off_keeps_error_class(spark):
    """``get_spark`` turns call-site capture off; ``tune()`` leaves a
    driver's session at its own setting; an ANSI runtime error raises the
    same class and message either way (only the Python ``file:line`` of
    the DataFrame query context is lost)."""
    key = "spark.python.sql.dataFrameDebugging.enabled"
    assert get_spark().conf.get(key) == "false"
    here = os.path.dirname(os.path.abspath(__file__))
    out = subprocess.run(
        [sys.executable, "-c", DRIVER_SESSION, key],
        env=dict(os.environ, PYTHONPATH=os.pathsep.join([os.path.dirname(here), here])),
        check=True, capture_output=True, text=True, timeout=300,
    )
    driver = json.loads(out.stdout.strip().splitlines()[-1])
    assert driver["capture"] == "true"
    assert driver["error"] == ansi_divide_by_zero(spark)
    assert driver["error"][0] == "DIVIDE_BY_ZERO"
