#!/usr/bin/env python3
"""Write perfbench/golden.json: one entry per benchmark query.

Each query runs once at sf0.1 under the benchmark's pinned session. Its
output is compared with the query's DuckDB oracle by
``tools/check_parity.py``'s ``compare``; only an output that matches gets a
golden digest. A query without an oracle gets a rows-only entry. A query
whose output does not match is left out and reported, so every run of the
benchmark counts it as failed.

    python3 perfbench/make_golden.py            # every workload's queries
    python3 perfbench/make_golden.py NAME ...   # just these (merged in)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import threading
import time

import run

ORACLE_TIMEOUT_S = 300


def oracle_df(con, sql: str):
    """DuckDB result, interrupted after ORACLE_TIMEOUT_S."""
    timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
    timer.start()
    try:
        return con.execute(sql).df()
    finally:
        timer.cancel()


def main() -> int:
    sys.path.insert(0, str(run.ROOT))
    sys.path.insert(1, str(run.ROOT / "tools"))
    names = sys.argv[1:] or sorted(
        {q for w in run.CONFIG["workloads"].values() for q in w["queries"]})
    path = run.HERE / "golden.json"
    golden = json.loads(path.read_text()) if path.exists() else {}
    run_dir = run.OUT / f"golden-{os.getpid()}"
    run.OUT.mkdir(exist_ok=True)
    run.pin_environment(run_dir)
    try:
        import duckdb
        from check_parity import compare

        spark, reg, _, _ = run.setup()
        from prajna_spark.operators.lifecycle import persist_scope
        from prajna_spark.sources.catalog import DEFAULT_SF_DIR, TABLES

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{DEFAULT_SF_DIR}/{t}.parquet')")
        bad = []
        for name in names:
            t0 = time.perf_counter()
            with persist_scope():
                pdf = reg[name].fn(spark, DEFAULT_SF_DIR).toPandas()
            spark.catalog.clearCache()
            entry = {"rows": len(pdf), "columns": sorted(pdf.columns)}
            if reg[name].oracle is None:
                entry["check"] = "rows"
            else:
                problems = compare(pdf, oracle_df(con, reg[name].oracle))
                if problems:
                    print(f"MISMATCH {name}: {problems}")
                    golden.pop(name, None)
                    bad.append(name)
                    continue
                entry["check"] = "oracle"
                entry["digest"] = run.digest(pdf)
            golden[name] = entry
            print(f"{entry['check']:6s} {name} rows={len(pdf)} "
                  f"[{time.perf_counter() - t0:.1f}s]", flush=True)
        run.stop_spark(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    path.write_text(json.dumps(dict(sorted(golden.items())), indent=1) + "\n")
    if bad:
        print("no golden (output differs from the oracle):", " ".join(bad))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
