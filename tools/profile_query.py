"""Per-query stage-level profiler for the optimization rounds.

For each named catalog query: run it once against the noop sink inside a
persist_scope, then attribute wall time to STAGES via AppStatusStore —
per-stage duration, task count, shuffle bytes, and the stage's first line
of call-site description. Also records the job count (scheduling overhead
at sf0.1 is per-job, so a 20-job query pays ~20 fixed latencies even when
every stage is tiny).

Usage: python tools/profile_query.py [sf_dir] query [query ...]
Output: JSON lines, one per query, to stdout; human summary to stderr.
"""

from __future__ import annotations

import json
import os
import sys
import time

# the tree THIS file sits in, not a hardcoded path — so `cd <old-tree> &&
# python tools/profile_query.py` profiles that tree (a hardcoded checkout
# path once made an old-vs-new profile comparison profile the new tree
# twice)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from prajna_spark.operators.lifecycle import persist_scope  # noqa: E402
from prajna_spark.queries import queries  # noqa: E402
from prajna_spark.session import get_spark  # noqa: E402


def stage_rows(spark):
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jvm = spark._jvm
    empty = jvm.java.util.ArrayList()
    quantiles = sc._gateway.new_array(jvm.double, 0)
    stages = store.stageList(empty, False, False, quantiles, empty)
    out = {}
    it = stages.iterator()
    while it.hasNext():
        s = it.next()
        sid = int(s.stageId())
        sub = s.submissionTime()
        comp = s.completionTime()
        dur = -1.0
        try:
            if sub.isDefined() and comp.isDefined():
                dur = (comp.get().getTime() - sub.get().getTime()) / 1000.0
        except Exception:
            pass
        row = {
            "dur_s": dur,
            "tasks": int(s.numCompleteTasks()),
            "sw_mb": round(s.shuffleWriteBytes() / 1e6, 2),
            "sr_mb": round(s.shuffleReadBytes() / 1e6, 2),
            "in_mb": round(s.inputBytes() / 1e6, 2),
            "desc": str(s.name())[:160],
        }
        prev = out.get(sid)
        if prev is None or row["dur_s"] > prev["dur_s"]:
            out[sid] = row
    return out


def job_count(spark) -> int:
    store = spark.sparkContext._jsc.sc().statusStore()
    jvm = spark._jvm
    empty = jvm.java.util.ArrayList()
    jobs = store.jobsList(empty)
    n = 0
    it = jobs.iterator()
    while it.hasNext():
        it.next()
        n += 1
    return n


def main() -> None:
    args = sys.argv[1:]
    if args and os.path.isdir(args[0]):
        sf_dir, names = args[0], args[1:]
    else:
        sf_dir, names = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"), args
    spark = get_spark("prajna-profile")
    spark.sparkContext.setLogLevel("ERROR")
    catalog = queries()
    # warm-up
    catalog["fold_global_stats"](spark, sf_dir).write.mode("overwrite").format(
        "noop"
    ).save()
    for name in names:
        before_stages = set(stage_rows(spark))
        before_jobs = job_count(spark)
        spark.sparkContext.setJobDescription(f"profile:{name}")
        t0 = time.time()
        with persist_scope():
            catalog[name](spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
        wall = time.time() - t0
        spark.sparkContext.setJobDescription(None)
        after = stage_rows(spark)
        jobs = job_count(spark) - before_jobs
        new = {
            sid: r for sid, r in after.items() if sid not in before_stages
        }
        stage_sum = sum(r["dur_s"] for r in new.values() if r["dur_s"] > 0)
        rec = {
            "query": name,
            "wall_s": round(wall, 3),
            "jobs": jobs,
            "stages": len(new),
            "stage_time_sum_s": round(stage_sum, 3),
            "top_stages": sorted(
                (
                    {"id": sid, **r}
                    for sid, r in new.items()
                ),
                key=lambda r: -r["dur_s"],
            )[:12],
        }
        print(json.dumps(rec), flush=True)
        print(
            f"{name}: wall {wall:.2f}s jobs={jobs} stages={len(new)} "
            f"stage-sum {stage_sum:.2f}s",
            file=sys.stderr,
        )


if __name__ == "__main__":
    main()
