"""DuckDB-oracle equivalence for every catalog query (SURVEY §5 rebuild
test strategy). Runs at sf0.001 for speed; the driver's gate runs the same
comparison at sf0.01 (tools/check_parity.py replicates it exactly — this
test reuses that comparator so pytest and the gate can't drift)."""

from __future__ import annotations

import duckdb
import pytest

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from check_parity import compare  # noqa: E402

from prajna_spark.queries import registry
from prajna_spark.sources.catalog import TABLES

SPECS = registry()


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_matches_oracle(name, spark, sf_dir, oracle_con):
    spec = SPECS[name]
    spark_pdf = spec.fn(spark, sf_dir).toPandas()
    if spec.oracle is None:
        assert len(spark_pdf) >= 0  # rows-only check (non-SQL-expressible op)
        return
    oracle_pdf = oracle_con.execute(spec.oracle).df()
    problems = compare(spark_pdf, oracle_pdf)
    assert not problems, f"{name}: {problems}"
