"""Executed-plan VOLUME instrumentation — shuffle/input bytes per action.

The plan lints in ``plans.inspect`` catch SHAPE regressions (a Cartesian
product, a Python eval in the hot path); this module catches VOLUME
regressions: an operator whose plan looks right but shuffles the corpus
instead of its narrow keys. It reads Spark's ``AppStatusStore`` (the store
behind the status REST API — populated by ``AppStatusListener`` whether or
not the UI is enabled), summing stage-level shuffle/input/output metrics.

Usage::

    before = stage_totals(spark)
    df.write.format("noop").mode("overwrite").save()
    delta = totals_delta(before, stage_totals(spark))
    assert delta["shuffle_write_bytes"] < some_bound

Attribution is by before/after snapshot, so callers must not run
concurrent jobs on the session while measuring (true for bench.py and the
test suite). Accessing the store goes through py4j internals; every entry
degrades to zeros with ``available: False`` if the interface changes, so
measurement can never break the bench itself.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

METRIC_KEYS = (
    "shuffle_write_bytes",
    "shuffle_write_records",
    "shuffle_read_bytes",
    "shuffle_read_records",
    "input_bytes",
    "input_records",
    "output_bytes",
)


def stage_totals(spark: SparkSession) -> dict[str, int]:
    """Snapshot of stage metrics: cumulative totals over the RETAINED
    stages plus ``max_stage_id``. The store evicts old stages past
    ``spark.ui.retainedStages`` (default 1000), so aggregate
    before-minus-after subtraction silently corrupts once an app has run
    enough jobs (found live: the suite-long pytest session crossed the
    limit and the dedup volume guards measured eviction noise) —
    ``totals_delta`` therefore attributes by STAGE ID, summing only
    stages newer than the before-snapshot's max."""
    totals = dict.fromkeys(METRIC_KEYS, 0)
    per_stage: dict[int, dict[str, int]] = {}
    max_id = -1
    try:
        sc = spark.sparkContext
        store = sc._jsc.sc().statusStore()
        jvm = spark._jvm
        empty = jvm.java.util.ArrayList()
        quantiles = sc._gateway.new_array(jvm.double, 0)
        stages = store.stageList(empty, False, False, quantiles, empty)
        it = stages.iterator()
        while it.hasNext():
            s = it.next()
            row = {
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "shuffle_write_records": s.shuffleWriteRecords(),
                "shuffle_read_bytes": s.shuffleReadBytes(),
                "shuffle_read_records": s.shuffleReadRecords(),
                "input_bytes": s.inputBytes(),
                "input_records": s.inputRecords(),
                "output_bytes": s.outputBytes(),
            }
            sid = int(s.stageId())
            prev = per_stage.get(sid)
            if prev is None:
                per_stage[sid] = row
            else:  # retried attempt: keep the larger contribution
                per_stage[sid] = {
                    k: max(prev[k], row[k]) for k in METRIC_KEYS
                }
            max_id = max(max_id, sid)
        # Aggregate totals from the DEDUPLICATED per-stage rows so the
        # stage-id delta path and the aggregate-subtraction fallback agree
        # on windows containing a retried stage (a raw per-attempt sum
        # double-counts the retried attempt; max-per-stage does not).
        for row in per_stage.values():
            for k in METRIC_KEYS:
                totals[k] += row[k]
        totals["available"] = True
    except Exception:  # py4j surface drift — degrade, never break the caller
        totals["available"] = False
    totals["max_stage_id"] = max_id
    totals["stages"] = per_stage
    return totals


def totals_delta(before: dict[str, int], after: dict[str, int]) -> dict[str, int]:
    """Metrics attributable to the stages run BETWEEN the snapshots.

    Primary path: sum the after-snapshot's stages with id greater than
    the before-snapshot's ``max_stage_id`` — immune to the store evicting
    old stages mid-measurement. Falls back to aggregate subtraction when
    either snapshot lacks per-stage detail (older pickled snapshots)."""
    avail = bool(before.get("available")) and bool(after.get("available"))
    if avail and isinstance(after.get("stages"), dict) and "max_stage_id" in before:
        cut = before["max_stage_id"]
        delta = dict.fromkeys(METRIC_KEYS, 0)
        for sid, row in after["stages"].items():
            if sid > cut:
                for k in METRIC_KEYS:
                    delta[k] += row[k]
        delta["available"] = True
        return delta
    delta = {k: after.get(k, 0) - before.get(k, 0) for k in METRIC_KEYS}
    delta["available"] = avail
    return delta


def stage_task_skew(
    spark: SparkSession,
    quantiles: tuple[float, ...] = (0.0, 0.5, 1.0),
    min_tasks: int = 4,
    min_stage_id: int = -1,
) -> dict[int, dict[str, list[float]]]:
    """Per-stage TASK-level quantiles — the skew diagnostic the
    stage-total metrics above can't see: stage totals are identical for
    a balanced stage and one where a single hot task did all the work,
    but the task-quantile spread (max/median run time or shuffle-read
    bytes) exposes it. Reads ``AppStatusStore.taskSummary`` (the data
    behind the UI's task-summary table), keyed by stage id; stages with
    fewer than ``min_tasks`` completed tasks are skipped (a 1-task stage
    has no distribution). ``min_stage_id`` restricts to stages newer
    than a prior snapshot's ``max_stage_id`` — the same attribution
    pattern as :func:`totals_delta`. Degrades to ``{}`` on py4j surface
    drift, like everything else in this module."""
    out: dict[int, dict[str, list[float]]] = {}
    try:
        sc = spark.sparkContext
        store = sc._jsc.sc().statusStore()
        jvm = spark._jvm
        empty = jvm.java.util.ArrayList()
        q0 = sc._gateway.new_array(jvm.double, 0)
        stages = store.stageList(empty, False, False, q0, empty)
        q = sc._gateway.new_array(jvm.double, len(quantiles))
        for i, v in enumerate(quantiles):
            q[i] = float(v)

        def seq(s) -> list[float]:
            return [float(s.apply(i)) for i in range(s.length())]

        it = stages.iterator()
        while it.hasNext():
            s = it.next()
            sid = int(s.stageId())
            if sid <= min_stage_id or int(s.numCompleteTasks()) < min_tasks:
                continue
            opt = store.taskSummary(sid, int(s.attemptId()), q)
            if not opt.isDefined():
                continue
            d = opt.get()
            out[sid] = {
                "quantiles": [float(x) for x in quantiles],
                "run_ms": seq(d.executorRunTime()),
                "shuffle_read_bytes": seq(d.shuffleReadMetrics().readBytes()),
                "input_bytes": seq(d.inputMetrics().bytesRead()),
                "n_tasks": [float(s.numCompleteTasks())],
            }
    except Exception:  # py4j surface drift — degrade, never break the caller
        return {}
    return out


def max_skew_ratio(
    skew: dict[int, dict[str, list[float]]], metric: str = "shuffle_read_bytes"
) -> float:
    """Worst max/median ratio of ``metric`` across the summarized stages
    (quantiles must include 0.5 and 1.0 — the stage_task_skew default).
    Returns 0.0 when nothing qualifies."""
    worst = 0.0
    for row in skew.values():
        qs = row["quantiles"]
        if 0.5 not in qs or 1.0 not in qs:
            continue
        med = row[metric][qs.index(0.5)]
        mx = row[metric][qs.index(1.0)]
        if med > 0:
            worst = max(worst, mx / med)
    return worst
