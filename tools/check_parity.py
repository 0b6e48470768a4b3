"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs every catalog query on Spark and its oracle SQL on DuckDB at the given
sf dir, compares row count, column names, and order-insensitive values
(columns sorted by name, rows sorted, floats rounded) and prints a verdict
per query.

Usage: python tools/check_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

# the tree THIS file sits in, so a second checkout checks its own library
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from prajna_spark.operators.lifecycle import persist_scope  # noqa: E402
from prajna_spark.queries import registry  # noqa: E402
from prajna_spark.session import get_spark  # noqa: E402
from prajna_spark.sources.catalog import TABLES  # noqa: E402

FLOAT_DECIMALS = 6


def reject_complex_cells(df: pd.DataFrame, side: str) -> list[str]:
    """The driver's canonicalizer CRASHES on list/array/dict-valued cells
    (pandas sort of unhashable cells — r6's one red row,
    pq_encode_embeddings). Stringifying here would mask exactly that
    contract violation, so fail loudly instead: queries must serialize
    complex outputs (concat_ws digest or posexplode long form) per the
    catalog convention header."""
    problems = []
    for c in df.columns:
        if df[c].dtype == object:
            # full scan, not a head sample — a mostly-scalar column with
            # array cells further down must not escape the guard (r7
            # ADVICE); these frames are already driver-side pandas, so
            # scanning every value is cheap.
            vals = df[c].dropna()
            if vals.map(
                lambda v: isinstance(v, (list, tuple, dict, np.ndarray))
            ).any():
                problems.append(
                    f"col {c} ({side}): complex-typed cells — the driver "
                    "canonicalizer cannot hash these; serialize to scalar "
                    "(concat_ws/md5) or posexplode to long form"
                )
    return problems


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(FLOAT_DECIMALS)
        elif np.issubdtype(df[c].dtype, np.datetime64):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    problems = reject_complex_cells(spark_pdf, "spark") + reject_complex_cells(
        oracle_pdf, "oracle"
    )
    if problems:
        return problems
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        problems.append(
            f"columns differ: spark={sorted(spark_pdf.columns)} oracle={sorted(oracle_pdf.columns)}"
        )
        return problems
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} oracle={len(oracle_pdf)}")
    a, b = canonicalize(spark_pdf), canonicalize(oracle_pdf)
    for c in a.columns:
        if str(a[c].dtype) != str(b[c].dtype):
            problems.append(f"col {c}: dtype spark={a[c].dtype} oracle={b[c].dtype}")
    if len(a) == len(b):
        for c in a.columns:
            if not a[c].equals(b[c]):
                neq = (~(a[c].eq(b[c]) | (a[c].isna() & b[c].isna()))).sum()
                if neq:
                    ex_a = a.loc[~a[c].eq(b[c]), c].head(3).tolist()
                    ex_b = b.loc[~a[c].eq(b[c]), c].head(3).tolist()
                    problems.append(f"col {c}: {neq} mismatches, e.g. {ex_a} vs {ex_b}")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    spark = get_spark("parity-check")
    specs = registry()
    failed = []
    for name, spec in sorted(specs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            # scope releases operators' internal persists (cascade,
            # zip-index, prefix-sum) so an 80-query run doesn't
            # accumulate executor storage
            with persist_scope():
                spark_pdf = spec.fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failed.append(name)
            continue
        if spec.oracle is None:
            print(f"SKIP {name}: no oracle (rows={len(spark_pdf)}) [{time.time()-t0:.1f}s]")
            continue
        try:
            oracle_pdf = con.execute(spec.oracle).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            failed.append(name)
            continue
        problems = compare(spark_pdf, oracle_pdf)
        if problems:
            print(f"FAIL {name} [{time.time()-t0:.1f}s]")
            for p in problems:
                print(f"     {p}")
            failed.append(name)
        else:
            print(f"PASS {name} rows={len(spark_pdf)} [{time.time()-t0:.1f}s]")
    print(f"\n{len(failed)} failed of {len(specs) if not only else len(only)}")
    if failed:
        print("failed:", " ".join(failed))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
