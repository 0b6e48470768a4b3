"""Driver simulation — verify at the __spark_entry__ boundary.

Hostile conditions the real driver may impose, each exercised as a
SCENARIO in its own subprocess (TZ/locale must be set before the JVM
starts, so scenarios cannot share a process):

- ``hostile_tz``    non-UTC host timezone, plain SparkSession (none of
                    prajna_spark.session's confs).
- ``locale_c``      non-UTF8 POSIX locale on top of the hostile TZ —
                    catches byte-vs-str and encoding assumptions.
- ``tz_conf``       the driver's session arrives with its OWN
                    ``spark.sql.session.timeZone`` (half-hour-offset zone);
                    our tune() must re-pin UTC or every epoch extraction
                    shifts.
- ``int96``         events.parquet rewritten with INT96 timestamps (the
                    third historical ts physical type after
                    TIMESTAMP(NANOS)→bigint and plain TIMESTAMP→NTZ);
                    the scan boundary must normalize all three.
- ``bench_tail``    artifact-legibility guard (round-5 regression: the
                    shuffle map pushed the timing JSON out of the
                    driver's ~2 KB stdout tail). Runs bench.py in smoke
                    mode and asserts the LAST stdout line parses as the
                    timing JSON; also statically asserts the
                    full-catalog compact line stays under the tail cap.

Checks per scenario: entry(spark) runs with a stable schema; a TZ/nanos-
sensitive sample of queries() is hash-compared vs DuckDB at sf0.01 with
the same canonicalization as tools/check_parity.py.

Run ``python tools/driver_sim.py`` for all scenarios, or pass scenario
names (e.g. ``python tools/driver_sim.py int96 locale_c``).
"""

from __future__ import annotations

import os
import subprocess
import sys

# the tree THIS file sits in, so a second checkout checks its own library
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = "/root/testdata/sf0.01"
SAMPLE = [
    "window_lag_events",
    "telemetry_hourly_rollup",
    "scalar_date_orders",
    "session_window_users",
    "window_running_revenue",
    "asof_join_purchase_view",
    # the stateful persisted paths: streaming drains + temp stores must
    # also behave under a hostile session
    "rollup_stream_hourly",
    "dedup_stream_firstseen",
    # round-5 ts-arithmetic additions (epoch bucketing, streamed sketch
    # store, stateful throttle twin's batch query)
    "kmv_stream_distinct_daily",
    "trend_hourly_events",
    "debounce_user_events",
    # second round-5 wave: epoch-second CUSUM fold, day-bucketed TWA,
    # grid LOCF carry, and the stateful streaming chart's drain
    "cusum_event_bursts",
    "twa_daily_value",
    "telemetry_locf_hours",
    "cusum_stream_alarms",
]
# events-reading subset for the INT96 rewrite scenario
SAMPLE_EVENTS = [
    "window_lag_events",
    "telemetry_hourly_rollup",
    "session_window_users",
    "rollup_stream_hourly",
    "kmv_stream_distinct_daily",
    "cusum_stream_alarms",
]

SCENARIOS = {
    "hostile_tz": {"TZ": "America/New_York"},
    "locale_c": {"TZ": "America/New_York", "LC_ALL": "C", "LANG": "C",
                 "PYTHONIOENCODING": "ascii:replace"},
    "tz_conf": {"TZ": "America/New_York"},
    "int96": {"TZ": "America/New_York"},
    "bench_tail": {},
}

# The real driver keeps roughly this much stdout; the timing JSON must fit.
DRIVER_TAIL_BYTES = 2000


def run_bench_tail() -> None:
    """Assert bench.py's output contract: (a) the full-catalog compact
    timing line fits the driver's stdout tail (static — no Spark), and
    (b) an end-to-end smoke run's LAST stdout line parses as the timing
    JSON with the contract keys."""
    import json

    import bench

    worst = json.dumps(
        {
            "metric": "headline_suite_total_sec",
            "value": 99999.999,
            "unit": "sec",
            "queries": {n: 9999.999 for n in bench.HEADLINE},
            "extended_total_sec": 99999.999,
            "sf": 0.1,
        }
    )
    assert len(worst) + 1 <= DRIVER_TAIL_BYTES, (
        f"compact timing line {len(worst)}B would overflow the driver's "
        f"{DRIVER_TAIL_BYTES}B stdout tail — trim HEADLINE or move keys "
        "to the sidecar lines"
    )
    print(f"[bench_tail] static: compact line {len(worst)}B <= {DRIVER_TAIL_BYTES}B")

    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_BENCH_SMOKE="3",
        SPARK_GRAFT_BENCH_REPS="1",
    )
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py")],
        env=env,
        capture_output=True,
        text=True,
        check=True,
    )
    tail = out.stdout[-DRIVER_TAIL_BYTES:]
    last = [ln for ln in tail.splitlines() if ln.strip()][-1]
    parsed = json.loads(last)
    for key in ("metric", "value", "unit", "queries", "sf"):
        assert key in parsed, f"timing JSON missing {key!r}: {last[:200]}"
    assert parsed["metric"] == "headline_suite_total_sec"
    assert all(v > 0 for v in parsed["queries"].values()), parsed["queries"]
    print(f"[bench_tail] smoke: last line parses, value={parsed['value']}s")
    print("driver-sim[bench_tail]: all green")

FLOAT_DECIMALS = 6


def canonicalize(df):
    import numpy as np

    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(FLOAT_DECIMALS)
        elif np.issubdtype(df[c].dtype, np.datetime64):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _build_int96_dir(spark) -> str:
    """Mirror SF_DIR into a temp dir, rewriting events.parquet with INT96
    timestamps (spark.sql.parquet.outputTimestampType=INT96). Returns the
    new sf_dir; events becomes a directory of part files — both engines
    glob it."""
    import tempfile

    base = tempfile.mkdtemp(prefix="sf_int96_")
    for t in ("region nation customer supplier part orders lineitem "
              "documents embeddings").split():
        os.symlink(f"{SF_DIR}/{t}.parquet", f"{base}/{t}.parquet")
    from prajna_spark.sources import load_table

    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    ev = load_table(spark, "events", SF_DIR)  # ts normalized to TIMESTAMP
    ev.coalesce(1).write.mode("overwrite").parquet(f"{base}/events.parquet")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    return base


def run_scenario(name: str) -> None:
    import time

    time.tzset()

    import duckdb
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName(f"driver-sim-{name}").master("local[4]")
    if name == "tz_conf":
        # half-hour offset catches sign AND magnitude errors
        builder = builder.config("spark.sql.session.timeZone", "Asia/Kolkata")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e

    out = e.entry(spark)
    n = out.count()
    print(f"[{name}] entry(): {n} rows, schema={[f.name for f in out.schema.fields]}")
    assert n >= 0

    qs, oracles = e.queries(), e.oracle_sql()
    print(f"[{name}] queries: {len(qs)}, oracles: {len(oracles)}")

    sf_dir, sample = SF_DIR, SAMPLE
    if name == "int96":
        sf_dir, sample = _build_int96_dir(spark), SAMPLE_EVENTS

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        path = f"{sf_dir}/{t}.parquet"
        glob = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{glob}'")

    failed = []
    for qname in sample:
        spark_pdf = canonicalize(qs[qname](spark, sf_dir).toPandas())
        oracle_pdf = canonicalize(con.execute(oracles[qname]).df())
        ok = (
            list(spark_pdf.columns) == list(oracle_pdf.columns)
            and len(spark_pdf) == len(oracle_pdf)
            and spark_pdf.astype(str).equals(oracle_pdf.astype(str))
        )
        print(("PASS" if ok else "FAIL"), qname, f"rows={len(spark_pdf)}")
        if not ok:
            failed.append(qname)
    if failed:
        raise SystemExit(f"driver-sim[{name}] FAILED: {failed}")
    print(f"driver-sim[{name}]: all green")


def main() -> None:
    args = sys.argv[1:]
    if args and args[0] == "--run":
        if args[1] == "bench_tail":
            run_bench_tail()
            return
        os.environ["TZ"] = os.environ.get("TZ", "America/New_York")
        run_scenario(args[1])
        return
    names = args or list(SCENARIOS)
    for name in names:
        env = dict(os.environ)
        env.update(SCENARIOS[name])
        print(f"=== scenario: {name} {SCENARIOS[name]} ===", flush=True)
        rc = subprocess.call(
            [sys.executable, os.path.abspath(__file__), "--run", name], env=env
        )
        if rc != 0:
            raise SystemExit(f"driver-sim scenario {name} failed (rc={rc})")
    print(f"driver-sim: all scenarios green: {names}")


if __name__ == "__main__":
    main()
