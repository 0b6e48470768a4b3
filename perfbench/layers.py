"""Layer tracing from outside the library.

``Tracer.install()`` replaces the public functions of the library's layer
packages with timing wrappers. A module that did ``from x import f`` at
import time holds its own reference to ``f``; every such reference is
rebound to the wrapper too, and ``uninstall()`` puts the originals back.
Spans (name, layer, start, end, parent, query id) stay in memory until the
run writes them out. Around every call into ``operators.lifecycle`` the
tracer also reads how much storage persisted and checkpointed frames hold,
so a query's peak includes generations released before it ends.

The Spark-side layers are read from Spark itself: Catalyst phases from the
query's ``QueryPlanningTracker``, executor work from the status store
(``JobData``/``StageData``), streaming progress from a
``StreamingQueryListener``.
"""

from __future__ import annotations

import functools
import inspect
import statistics
import sys
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

# Library packages traced as layers, in the order their names are matched.
LAYER_PACKAGES = (
    ("prajna_spark.dset", "dset"),
    ("prajna_spark.sources", "sources"),
    ("prajna_spark.operators", "operators"),
    ("prajna_spark.pipeline", "pipeline"),
    ("prajna_spark.streaming", "streaming"),
    ("prajna_spark.queries", "queries"),
)

# Physical operators that cross into a Python worker.
PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "PythonMapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInPandasWithState",
    "AggregateInPandas",
    "WindowInPandas",
    "ArrowWindowPython",
    "ArrowAggregatePython",
)

MB = 1024.0 * 1024.0


def layer_of(module_name: str) -> str | None:
    for prefix, layer in LAYER_PACKAGES:
        if module_name == prefix or module_name.startswith(prefix + "."):
            return layer
    return None


def _traceable(fn) -> bool:
    # Context managers and generators return before their work is done,
    # so a span around the call would time nothing.
    return inspect.isfunction(fn) and not inspect.isgeneratorfunction(
        inspect.unwrap(fn)
    )


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []  # (name, layer, start, end, parent, qid)
        self.query_id: str | None = None
        self._local = threading.local()
        self._undo: list[tuple] = []
        self.storage_probe = None  # () -> MB held by cached RDDs now
        self.cached_peak_mb = 0.0

    # -- wrappers -----------------------------------------------------

    def _wrap(self, fn, layer: str):
        name = f"{fn.__module__}.{fn.__qualname__}"
        lifecycle = fn.__module__ == "prajna_spark.operators.lifecycle"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if lifecycle:
                self.sample_storage()
            with self.span(name, layer):
                out = fn(*args, **kwargs)
            if lifecycle:
                self.sample_storage()
            return out

        return traced

    def sample_storage(self) -> None:
        if self.storage_probe is not None:
            self.cached_peak_mb = max(self.cached_peak_mb, self.storage_probe())

    def install(self) -> None:
        """Wrap every public function of the layer modules and rebind
        every module-level reference to one of them."""
        originals: dict[int, object] = {}
        modules = [
            (mname, m)
            for mname, m in list(sys.modules.items())
            if m is not None and layer_of(mname)
        ]
        for mname, mod in modules:
            layer = layer_of(mname)
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_"):
                    continue
                if _traceable(obj) and obj.__module__ == mname:
                    originals[id(obj)] = self._wrap(obj, layer)
                elif inspect.isclass(obj) and obj.__module__ == mname and layer == "dset":
                    self._wrap_class(obj, layer)
        # Rebind: the defining module and every `from m import f` copy.
        for mname, mod in list(sys.modules.items()):
            if mod is None or not mname.startswith("prajna_spark"):
                continue
            for attr, obj in list(vars(mod).items()):
                wrapper = originals.get(id(obj))
                if wrapper is not None and getattr(wrapper, "__wrapped__", None) is obj:
                    self._undo.append((mod, attr, obj))
                    setattr(mod, attr, wrapper)

    def _wrap_class(self, cls, layer: str) -> None:
        for attr, raw in list(vars(cls).items()):
            if attr.startswith("_"):
                continue
            if isinstance(raw, (classmethod, staticmethod)) and _traceable(raw.__func__):
                wrapped = type(raw)(self._wrap(raw.__func__, layer))
            elif _traceable(raw):
                wrapped = self._wrap(raw, layer)
            else:
                continue
            self._undo.append((cls, attr, raw))
            setattr(cls, attr, wrapped)

    def uninstall(self) -> None:
        for owner, attr, obj in reversed(self._undo):
            setattr(owner, attr, obj)
        self._undo.clear()

    def span(self, name: str, layer: str):
        """Context manager recording one span opened by the benchmark."""
        return _Span(self, name, layer)

    # -- reduction ----------------------------------------------------

    def self_times(self, qid: str) -> dict[str, float]:
        """Per-layer self time of one query's spans: each span's duration
        minus the part covered by its direct children."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s is not None and s[5] == qid and s[4] is not None:
                child_time[s[4]] += s[3] - s[2]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s is not None and s[5] == qid:
                out[s[1]] += (s[3] - s[2]) - child_time.get(i, 0.0)
        return dict(out)

    def count(self, qid: str, suffix: str) -> int:
        return sum(1 for s in self.spans if s is not None and s[5] == qid and s[0].endswith(suffix))

    def dump(self) -> list[dict]:
        return [
            {"name": s[0], "layer": s[1], "start": s[2], "end": s[3],
             "parent": s[4], "query": s[5]}
            for s in self.spans
            if s is not None
        ]


class _Span:
    def __init__(self, tracer: Tracer, name: str, layer: str) -> None:
        self.tracer, self.name, self.layer = tracer, name, layer

    def __enter__(self):
        t = self.tracer
        stack = getattr(t._local, "stack", None)
        if stack is None:
            stack = t._local.stack = []
        self.idx = len(t.spans)
        t.spans.append(None)
        self.parent = stack[-1] if stack else None
        stack.append(self.idx)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        t = self.tracer
        self.end = time.perf_counter()
        t.spans[self.idx] = (
            self.name, self.layer, self.start, self.end, self.parent, t.query_id
        )
        t._local.stack.pop()
        return False


# -- Spark status store ---------------------------------------------------


class StatusStore:
    """New jobs and their stages since the last call, read from Spark's
    AppStatusStore. One query runs at a time, so every job newer than
    the previous snapshot belongs to the current phase. The store is
    filled asynchronously by the listener bus, so every read first waits
    until the bus has delivered all events posted so far."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.bus = spark.sparkContext._jsc.sc().listenerBus()
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self._empty = spark._jvm.java.util.ArrayList()
        self._quantiles = spark.sparkContext._gateway.new_array(spark._jvm.double, 0)
        self.last_job = -1
        self.new_jobs()

    def drain(self) -> None:
        self.bus.waitUntilEmpty()

    def new_jobs(self) -> list:
        self.drain()
        jobs = []
        it = self.store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            if int(j.jobId()) > self.last_job:
                jobs.append(j)
        if jobs:
            self.last_job = max(int(j.jobId()) for j in jobs)
        return jobs

    def summarize(self, jobs: list) -> tuple[dict[str, float], list[int]]:
        """Wall time covered by the jobs (union of their intervals), the
        sums of their stages' executor metrics, and the stage ids."""
        intervals, stage_ids = [], set()
        for j in jobs:
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
            ids = j.stageIds()
            for i in range(ids.size()):
                stage_ids.add(int(ids.apply(i)))
        out = dict.fromkeys(
            ("stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
             "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "input_mb",
             "failed_tasks"), 0.0)
        out["jobs"] = float(len(jobs))
        out["run_s"] = _union_ms(intervals) / 1000.0
        for sid in sorted(stage_ids):
            attempts = self.store.stageData(sid, False, self._empty, False, self._quantiles)
            for k in range(attempts.size()):
                s = attempts.apply(k)
                if str(s.status()) == "SKIPPED" or int(s.numTasks()) == 0:
                    continue
                if k == 0:
                    out["stages"] += 1
                out["tasks"] += int(s.numCompleteTasks()) + int(s.numFailedTasks())
                out["task_run_s"] += s.executorRunTime() / 1000.0
                out["task_cpu_s"] += s.executorCpuTime() / 1e9
                out["gc_s"] += s.jvmGcTime() / 1000.0
                out["shuffle_write_mb"] += s.shuffleWriteBytes() / MB
                out["shuffle_read_mb"] += s.shuffleReadBytes() / MB
                out["spill_mb"] += s.diskBytesSpilled() / MB
                out["input_mb"] += s.inputBytes() / MB
                out["failed_tasks"] += int(s.numFailedTasks())
        return out, sorted(stage_ids)


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def catalyst_phases(qe) -> dict[str, float]:
    """Seconds spent per planning phase by this QueryExecution so far."""
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


def plan_counts(plan_text: str) -> dict[str, int]:
    """Exchanges and Python-worker nodes in an executed plan. An adaptive
    plan prints its final plan and then its initial plan; only the first
    is counted."""
    exchanges = python_nodes = 0
    for line in plan_text.split("== Initial Plan ==")[0].splitlines():
        node = line.lstrip(" :+-*(0123456789)").split(" ", 1)[0]
        if node.endswith("Exchange"):
            exchanges += 1
        elif node in PYTHON_NODES:
            python_nodes += 1
    return {"exchanges": exchanges, "python_plan_nodes": python_nodes}


class ProgressListener(StreamingQueryListener):
    """Keeps every streaming progress event; the run assigns each to the
    query whose wall interval holds the batch's trigger time."""

    def __init__(self) -> None:
        self.events: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        d = p.durationMs or {}
        state = p.stateOperators or []
        row = {
            "epoch_s": _iso_to_epoch(p.timestamp),
            "input_rows": float(p.numInputRows),
            "add_batch_s": d.get("addBatch", 0) / 1000.0,
            "query_planning_s": d.get("queryPlanning", 0) / 1000.0,
            "commit_s": (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000.0,
            "state_rows": float(sum(s.numRowsTotal for s in state)),
            "state_mb": sum(s.memoryUsedBytes for s in state) / MB,
        }
        with self._lock:
            self.events.append(row)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self, start_epoch: float, end_epoch: float) -> list[dict]:
        with self._lock:
            return [e for e in self.events if start_epoch <= e["epoch_s"] <= end_epoch]


def _iso_to_epoch(ts: str) -> float:
    from datetime import datetime, timezone

    return (
        datetime.strptime(ts.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def storage_mb(spark) -> float:
    """Memory plus disk held by persisted and checkpointed RDDs now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum((i.memSize() + i.diskSize()) for i in infos) / MB


# Per-layer metrics: (unit, how queries combine). Each query's value is
# the median over its traced reps; "sum" adds queries up, "max" keeps the
# worst query.
LAYER_METRICS = {
    "queries.build_s": ("s", "sum"),
    "queries.build_self_s": ("s", "sum"),
    "queries.build_jobs": ("count", "sum"),
    "sources.call_s": ("s", "sum"),
    "dset.call_s": ("s", "sum"),
    "operators.call_s": ("s", "sum"),
    "operators.lifecycle.checkpoints": ("count", "sum"),
    "operators.lifecycle.persists": ("count", "sum"),
    "operators.lifecycle.release_s": ("s", "sum"),
    "operators.lifecycle.cached_mb_peak": ("MB", "max"),
    "pipeline.call_s": ("s", "sum"),
    "pipeline.python_plan_nodes": ("count", "sum"),
    "streaming.call_s": ("s", "sum"),
    "streaming.batches": ("count", "sum"),
    "streaming.input_rows": ("rows", "sum"),
    "streaming.add_batch_s": ("s", "sum"),
    "streaming.query_planning_s": ("s", "sum"),
    "streaming.commit_s": ("s", "sum"),
    "streaming.state_rows_peak": ("rows", "max"),
    "streaming.state_mb_peak": ("MB", "max"),
    "catalyst.analysis_s": ("s", "sum"),
    "catalyst.optimization_s": ("s", "sum"),
    "catalyst.planning_s": ("s", "sum"),
    "catalyst.exchanges": ("count", "sum"),
    "executor.run_s": ("s", "sum"),
    "executor.jobs": ("count", "sum"),
    "executor.stages": ("count", "sum"),
    "executor.tasks": ("count", "sum"),
    "executor.task_run_s": ("s", "sum"),
    "executor.task_cpu_s": ("s", "sum"),
    "executor.gc_s": ("s", "sum"),
    "executor.shuffle_write_mb": ("MB", "sum"),
    "executor.shuffle_read_mb": ("MB", "sum"),
    "executor.spill_mb": ("MB", "sum"),
    "executor.input_mb": ("MB", "sum"),
    "executor.skew_max": ("ratio", "max"),
    "executor.failed_tasks": ("count", "sum"),
}

# A query's traced wall must be accounted for within this share by its
# build, Catalyst optimization and planning, and executor job time.
ACCOUNTING_TOLERANCE = 0.05


class TracedRun:
    """Runs traced reps and reduces them to per-layer metrics."""

    def __init__(self, spark, cpus: int) -> None:
        self.spark, self.cpus = spark, cpus
        self.tracer = Tracer()
        self.tracer.storage_probe = lambda: storage_mb(spark)
        self.status = StatusStore(spark)
        self.listener = ProgressListener()
        spark.streams.addListener(self.listener)
        self.rows: list[dict] = []

    def rep(self, bench, name: str, round_no: int) -> None:
        """One clean rep with every layer traced: build (spans), plan
        (``executedPlan``), run (the planned query's RDD, counted)."""
        spark, tracer = self.spark, self.tracer
        qid = f"{name}#{round_no}"
        tracer.query_id = qid
        tracer.cached_peak_mb = 0.0
        spark.sparkContext.setJobGroup(name, name)
        bench.attempted += 1
        self.status.new_jobs()
        tracer.install()
        epoch0, t0 = time.time(), time.perf_counter()
        try:
            with bench.persist_scope():
                try:
                    with tracer.span(name, "queries"):
                        df = bench.reg[name].fn(spark, bench.sf_dir)
                    t1 = time.perf_counter()
                    # the wait for the listener bus is left out of the wall
                    build_jobs = self.status.new_jobs()
                    t1b = time.perf_counter()
                    qe = df._jdf.queryExecution()
                    qe.executedPlan()
                    t2 = time.perf_counter()
                    qe.toRdd().count()
                    t3 = time.perf_counter()
                finally:
                    tracer.uninstall()
                epoch1 = time.time()
                tracer.sample_storage()
                r0 = time.perf_counter()
            release = time.perf_counter() - r0
        except Exception as exc:
            bench.record_failure(name, "traced", repr(exc))
            spark.catalog.clearCache()
            return
        spark.catalog.clearCache()

        selft = tracer.self_times(qid)
        phases = catalyst_phases(qe)
        plan = plan_counts(qe.executedPlan().toString())
        ex, stage_ids = self.status.summarize(self.status.new_jobs())
        row = {
            "query": name, "round": round_no, "epoch": (epoch0, epoch1),
            "stage_ids": stage_ids, "wall_s": (t1 - t0) + (t3 - t1b), "plan_s": t2 - t1b,
            "exec_s": t3 - t2,
            "queries.build_s": t1 - t0,
            "queries.build_self_s": selft.get("queries", 0.0),
            "queries.build_jobs": float(len(build_jobs)),
            "operators.lifecycle.checkpoints": float(
                tracer.count(qid, "lifecycle.scoped_local_checkpoint")),
            "operators.lifecycle.persists": float(
                tracer.count(qid, "lifecycle.scoped_persist")),
            "operators.lifecycle.release_s": release,
            "operators.lifecycle.cached_mb_peak": tracer.cached_peak_mb,
            "pipeline.python_plan_nodes": float(plan["python_plan_nodes"]),
            "catalyst.analysis_s": phases["analysis"],
            "catalyst.optimization_s": phases["optimization"],
            "catalyst.planning_s": phases["planning"],
            "catalyst.exchanges": float(plan["exchanges"]),
        }
        for layer in ("sources", "dset", "operators", "pipeline", "streaming"):
            row[f"{layer}.call_s"] = selft.get(layer, 0.0)
        for k, v in ex.items():
            row[f"executor.{k}"] = v
        self.rows.append(row)

    def _attach_streaming(self) -> None:
        self.status.drain()  # progress events are delivered asynchronously
        for row in self.rows:
            events = self.listener.take(*row["epoch"])
            row["streaming.batches"] = float(len(events))
            for key in ("input_rows", "add_batch_s", "query_planning_s", "commit_s"):
                row[f"streaming.{key}"] = sum(e[key] for e in events)
            row["streaming.state_rows_peak"] = max((e["state_rows"] for e in events), default=0.0)
            row["streaming.state_mb_peak"] = max((e["state_mb"] for e in events), default=0.0)

    def _attach_skew(self) -> None:
        from prajna_spark.plans.metrics import max_skew_ratio, stage_task_skew

        first = min((min(r["stage_ids"]) for r in self.rows if r["stage_ids"]), default=0)
        skew = stage_task_skew(self.spark, min_stage_id=first - 1)
        for row in self.rows:
            mine = {sid: skew[sid] for sid in row["stage_ids"] if sid in skew}
            row["executor.skew_max"] = max_skew_ratio(mine)

    def finish(self, res: dict, session_s: float) -> tuple[dict, dict]:
        """Per-layer metrics, and the record of spans, self times, the
        accounting check and the tracing overhead."""
        self._attach_streaming()
        self._attach_skew()
        by_query: dict[str, list[dict]] = defaultdict(list)
        for row in self.rows:
            by_query[row["query"]].append(row)

        def med(rows, key):
            return statistics.median(r[key] for r in rows)

        per_query = {
            q: {k: med(rows, k) for k in [*LAYER_METRICS, "wall_s", "plan_s", "exec_s"]}
            for q, rows in by_query.items()
        }
        out: dict[str, tuple[float, str]] = {"session.start_s": (session_s, "s")}
        for key, (unit, how) in LAYER_METRICS.items():
            vals = [pq[key] for pq in per_query.values()]
            out[key] = ((max(vals, default=0.0) if how == "max" else sum(vals)), unit)
        run_s = out["executor.run_s"][0]
        out["executor.busy_ratio"] = (
            out["executor.task_run_s"][0] / (run_s * self.cpus) if run_s else 0.0, "ratio")

        accounting, misses = {}, []
        for q, pq in per_query.items():
            parts = (pq["queries.build_s"] + pq["catalyst.optimization_s"]
                     + pq["catalyst.planning_s"] + pq["executor.run_s"])
            share = parts / pq["wall_s"]
            accounting[q] = {
                "wall_s": pq["wall_s"], "accounted_s": parts, "share": share,
                # driver time inside the plan and run calls that no span,
                # Catalyst phase or job covers (AQE re-planning between
                # stages, job submission, result handling)
                "plan_gap_s": pq["plan_s"] - pq["catalyst.optimization_s"]
                - pq["catalyst.planning_s"],
                "run_gap_s": pq["exec_s"] - pq["executor.run_s"],
            }
            if abs(1.0 - share) > ACCOUNTING_TOLERANCE:
                misses.append(q)
        traced_warm = sum(pq["wall_s"] for pq in per_query.values())
        untraced_warm = sum(
            statistics.median(v) for q, v in res["warm"].items() if v and q in per_query)
        out["trace.overhead_s"] = (traced_warm - untraced_warm, "s")
        out["trace.accounting_misses"] = (float(len(misses)), "count")
        record = {
            "traced_warm_pass_s": traced_warm,
            "untraced_warm_pass_s": untraced_warm,
            "accounting": accounting,
            "accounting_misses": sorted(misses),
            "layer_self_s": {
                q: {k: pq[k] for k in ("queries.build_self_s", "sources.call_s",
                                       "dset.call_s", "operators.call_s",
                                       "pipeline.call_s", "streaming.call_s",
                                       "catalyst.optimization_s",
                                       "catalyst.planning_s", "executor.run_s")}
                for q, pq in per_query.items()
            },
            "traced_reps": [{k: v for k, v in r.items() if k != "stage_ids"} for r in self.rows],
            "spans": self.tracer.dump(),
        }
        return out, record
