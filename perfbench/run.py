#!/usr/bin/env python3
"""Closed-loop benchmark of the prajna_spark query catalog.

One Python process drives one SparkSession at local[N] and runs a
workload's queries one at a time over the read-only sf0.1 tables:

1. set-up, timed from the fresh process's first import (package import,
   ``get_spark``, catalog import, one warm-up query);
2. a cold pass in the listed order: each query's first build + plan +
   run (noop sink), then, untimed, the same frame collected and checked
   against its golden digest;
3. warm rounds, each query once per round. The round count is
   ``--seconds`` over the workload's nominal round time (``round_s`` in
   config.json), so every run of a workload makes the same number of
   reps and a slower machine takes longer rather than measuring less.

Every rep runs inside ``persist_scope()`` and is followed by
``spark.catalog.clearCache()``, so no rep reads frames cached by an
earlier one. JVM and Python GC run, untimed, between passes. The seed
only permutes the query order of each warm round: the tables are fixed
input.

    python3 perfbench/run.py --workload relational_batch --seed 1 --seconds 30 --trace 0

``--trace 1`` alternates untraced and traced warm rounds and prints the
per-layer metrics (see perfbench/README.md). The last stdout line is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import random
import resource
import shutil
import signal
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".perfbench_out"
CONFIG = json.loads((HERE / "config.json").read_text())
CPUS = 4  # local[N]
DRIVER_MEMORY = "2g"


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def pin_environment(run_dir: Path) -> None:
    """Everything a run leaves on disk goes under ``run_dir``; N, the
    driver heap and the import path are fixed for every process the run
    starts (Spark's Python workers import prajna_spark too). The heap
    starts at its maximum: left to grow, G1 resized it at different
    moments in each run and the JVM's high-water RSS moved by 10%."""
    tmp, local = run_dir / "tmp", run_dir / "local"
    tmp.mkdir(parents=True)
    local.mkdir()
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Xms{DRIVER_MEMORY} pyspark-shell")
    os.environ.pop("SPARK_GRAFT_PERIODIC_GC", None)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    import tempfile

    tempfile.tempdir = None


def setup():
    """The wait before a user's first query: import, session, catalog,
    one warm-up query. Returns (spark, registry, seconds, session_s).

    The warm-up scans a table and shuffles it, so the one-off cost of the
    first parquet scan and the first exchange lands here rather than on
    whichever query the seed puts first in the cold pass."""
    t0 = time.perf_counter()
    from prajna_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t1
    from prajna_spark.queries import registry
    from prajna_spark.sources.catalog import load_table

    reg = registry()
    load_table(spark, "nation").groupBy("n_regionkey").count().collect()
    return spark, reg, time.perf_counter() - t0, session_s


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    started) to exit, so nothing of this run overlaps the next one."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        proc.wait(timeout=60)


def digest(pdf) -> str:
    """Order-insensitive digest of a query result, over the same
    canonical form ``tools/check_parity.py`` compares with DuckDB."""
    import pandas as pd
    from check_parity import canonicalize

    canon = canonicalize(pdf)
    h = hashlib.sha256()
    h.update(json.dumps([[c, str(canon[c].dtype)] for c in canon.columns]).encode())
    h.update(pd.util.hash_pandas_object(canon, index=False).values.tobytes())
    return h.hexdigest()


def check_output(pdf, golden: dict) -> str | None:
    """None when the output matches its golden entry, else the reason."""
    if golden.get("rows") != len(pdf):
        return f"rows {len(pdf)} != golden {golden.get('rows')}"
    if golden.get("digest") and digest(pdf) != golden["digest"]:
        return "digest differs from golden"
    return None


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat:
    steal is time the hypervisor gave this machine's vCPUs to others."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def percentile(values: list[float], pct: int) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


def jvm_gc(spark) -> None:
    gc.collect()
    spark._jvm.System.gc()


def peak_rss_mb(spark) -> tuple[float, float]:
    """High-water resident memory of the JVM and of this driver, in MB."""
    pid = spark._jvm.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return jvm_kb / 1024.0, own_kb / 1024.0


class Bench:
    def __init__(self, spark, reg, workload: str, seed: int, seconds: float, trace: bool):
        from prajna_spark.operators.lifecycle import persist_scope
        from prajna_spark.sources.catalog import DEFAULT_SF_DIR

        spec = CONFIG["workloads"][workload]
        self.spark, self.reg, self.trace = spark, reg, trace
        self.persist_scope = persist_scope
        self.sf_dir = DEFAULT_SF_DIR
        self.queries = list(spec["queries"])
        # a traced run alternates untraced and traced rounds: two at least
        self.rounds = max(2 if trace else 1, round(seconds / spec["round_s"]))
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failures: list[dict] = []

    def order(self) -> list[str]:
        return self.rng.sample(self.queries, len(self.queries))

    def record_failure(self, name: str, phase: str, why: str) -> None:
        self.failures.append({"query": name, "phase": phase, "error": why[-1000:]})
        print(f"FAILED {phase} {name}: {why[-300:]}", file=sys.stderr)

    def rep(self, name: str, phase: str, golden: dict | None = None) -> float:
        """One clean build + plan + run with the noop sink; its seconds.

        With ``golden``, the same frame is then collected, untimed and
        still inside the scope, and checked against its golden entry; the
        check counts as one more operation."""
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        self.attempted += 1
        why = "not checked: the timed rep failed"
        t0 = time.perf_counter()
        try:
            with self.persist_scope():
                df = self.reg[name].fn(self.spark, self.sf_dir)
                df.write.format("noop").mode("overwrite").save()
                elapsed = time.perf_counter() - t0
                if golden is not None:
                    try:
                        why = check_output(df.toPandas(), golden.get(name, {}))
                    except Exception as exc:
                        why = repr(exc)
        except Exception as exc:  # a failed rep stays in the samples
            elapsed = time.perf_counter() - t0
            self.record_failure(name, phase, repr(exc))
        self.spark.catalog.clearCache()
        if golden is not None:
            self.attempted += 1
            if why:
                self.record_failure(name, "check", why)
        return elapsed

    def run(self, golden: dict, tracer_run) -> dict:
        # The cold pass keeps the listed order: whichever query runs first
        # also pays for starting the Python workers and the first stream,
        # and a seed-dependent first query would make that noise.
        t0 = time.perf_counter()
        cold = {name: self.rep(name, "cold", golden) for name in self.queries}
        jvm_gc(self.spark)
        t1 = time.perf_counter()

        warm: dict[str, list[float]] = {q: [] for q in self.queries}
        for round_no in range(self.rounds):
            for name in self.order():
                if self.trace and round_no % 2 == 1:
                    tracer_run.rep(self, name, round_no)
                else:
                    warm[name].append(self.rep(name, "warm"))
            jvm_gc(self.spark)
        pool = [t for q in self.queries for t in warm[q]]
        phases = {"cold_and_check": t1 - t0, "warm": time.perf_counter() - t1}
        return {"cold": cold, "warm": warm, "rounds": self.rounds, "pool": pool,
                "phase_wall_s": phases}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ROOT / "prajna_spark" / "__init__.py").is_file():
        fail(f"no prajna_spark package next to {HERE.name}/; run from a checkout")
    sys.path.insert(0, str(ROOT))
    sys.path.insert(1, str(ROOT / "tools"))
    if args.workload not in CONFIG["workloads"]:
        fail(f"unknown workload {args.workload!r}; one of {sorted(CONFIG['workloads'])}")
    golden = json.loads((HERE / "golden.json").read_text())

    load_avg = os.getloadavg()
    ticks0 = cpu_ticks()
    OUT.mkdir(exist_ok=True)
    run_dir = OUT / f"run-{os.getpid()}-{time.time_ns()}"
    pin_environment(run_dir)
    try:
        spark, reg, setup_s, session_s = setup()
        try:
            bench = Bench(spark, reg, args.workload, args.seed, args.seconds, bool(args.trace))
            tracer_run = None
            if args.trace:
                from layers import TracedRun

                tracer_run = TracedRun(spark, CPUS)
            res = bench.run(golden, tracer_run)
            rss = peak_rss_mb(spark)
            traced = tracer_run.finish(res, session_s) if tracer_run else None
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    ticks1 = cpu_ticks()
    steal_share = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
    spec = CONFIG["workloads"][args.workload]
    warm_med = {q: statistics.median(v) for q, v in res["warm"].items() if v}
    failed = len(bench.failures)
    e2e = {
        "setup_s": (setup_s, "s"),
        "cold_pass_s": (sum(res["cold"].values()), "s"),
        "warm_pass_s": (sum(warm_med.values()), "s"),
        "query_p50_s": (statistics.median(res["pool"]), "s"),
        "query_tail_s": (percentile(res["pool"], spec["tail_percentile"]), "s"),
        "peak_rss_mb": (sum(rss), "MB"),
        "ok_ratio": ((bench.attempted - failed) / bench.attempted, "ratio"),
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": CPUS, "nproc": os.cpu_count(),
        "driver_memory": DRIVER_MEMORY, "load_avg_start": load_avg,
        "cpu_steal_share": steal_share, "phase_wall_s": res["phase_wall_s"],
        "rounds": res["rounds"], "samples": len(res["pool"]),
        "tail_percentile": spec["tail_percentile"], "peak_rss_jvm_driver_mb": rss,
        "cold_s": res["cold"], "warm_s": res["warm"], "warm_median_s": warm_med,
        "failures": bench.failures,
        "end_to_end": {k: v[0] for k, v in e2e.items()},
    }
    print(f"{args.workload} seed={args.seed} rounds={res['rounds']} "
          f"samples={len(res['pool'])} load_avg={load_avg[0]:.2f} "
          f"steal={steal_share:.3f}")
    for q in bench.queries:
        print(f"  {q:32s} cold {res['cold'][q]:7.3f}  warm median "
              f"{warm_med.get(q, float('nan')):7.3f}  reps {len(res['warm'][q])}")
    metrics = e2e
    if traced is not None:
        metrics, layer_record = traced
        record.update(layer_record)
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    (OUT / f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.time_ns()}.json"
     ).write_text(json.dumps(record, indent=1, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": bench.attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
