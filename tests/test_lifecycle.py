"""persist_scope: operators that cache internally release on scope exit.

Assertions track the SPECIFIC cached-RDD ids created inside the scope —
comparing raw counts races with the async ContextCleaner collecting other
tests' leftover caches.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from prajna_spark.dset import DSet
from prajna_spark.operators.lifecycle import persist_scope, scoped_persist
from prajna_spark.operators.rollup_cascade import cascade_rollup
from prajna_spark.operators.zipindex import zip_with_index


def _cached_ids(spark) -> set[int]:
    return {
        info.id() for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }


def test_cascade_rollup_releases_on_scope_exit(spark):
    base = _cached_ids(spark)
    ev = spark.range(1000).selectExpr(
        "id * 60 AS ts", "CAST(id % 3 AS STRING) AS k", "CAST(id AS DOUBLE) AS v"
    )
    with persist_scope():
        out = cascade_rollup(ev, "ts", ["k"], "v", [3600, 86400])
        assert out.count() > 0
        created = _cached_ids(spark) - base
        assert created  # levels really were cached
    assert not (_cached_ids(spark) & created)  # ...and really were released


def test_bypass_and_zipindex_release_on_scope_exit(spark):
    base = _cached_ids(spark)
    with persist_scope():
        a, b = DSet(spark.range(100).selectExpr("id", "id % 5 AS k")).bypass(2)
        assert a.count() == 100 and b.count() == 100
        idx = zip_with_index(spark.range(50).toDF("x"), ["x"])
        assert idx.count() == 50
        created = _cached_ids(spark) - base
        assert created
    assert not (_cached_ids(spark) & created)


def test_unscoped_persist_is_session_owned(spark):
    """Outside a scope nothing changes: the cache stays until unpersist."""
    base = _cached_ids(spark)
    df = scoped_persist(spark.range(10).toDF("x"))
    try:
        df.count()
        created = _cached_ids(spark) - base
        assert len(created) == 1
    finally:
        df.unpersist(blocking=True)
    assert not (_cached_ids(spark) & created)


def test_scopes_nest_independently(spark):
    base = _cached_ids(spark)
    with persist_scope():
        outer = scoped_persist(spark.range(10).toDF("x"))
        outer.count()
        outer_ids = _cached_ids(spark) - base
        with persist_scope():
            inner = scoped_persist(spark.range(20).toDF("y"))
            inner.count()
            inner_ids = _cached_ids(spark) - base - outer_ids
            assert inner_ids
        assert not (_cached_ids(spark) & inner_ids)  # inner released
        assert outer_ids <= _cached_ids(spark)  # outer kept
    assert not (_cached_ids(spark) & outer_ids)


def test_release_local_checkpoint_actually_frees_blocks(spark):
    """Dataset.unpersist() is a silent no-op on localCheckpoint'd frames
    (the CacheManager never registered the checkpoint RDD) — probed here
    so an engine change flips the test, then release_local_checkpoint is
    asserted to truly free the blocks, including through a projection."""
    from prajna_spark.operators.lifecycle import release_local_checkpoint

    base = _cached_ids(spark)
    cp = spark.range(50).toDF("x").localCheckpoint(eager=True)
    created = _cached_ids(spark) - base
    assert created, "localCheckpoint should pin an RDD"
    cp.unpersist(blocking=True)
    assert created <= _cached_ids(spark), "engine change: unpersist works now"
    release_local_checkpoint(cp.select("x"), blocking=True)
    assert not (created & _cached_ids(spark))


def test_iterative_operators_leave_bounded_checkpoints(spark):
    """Every checkpointed loop operator releases its superseded
    generations and loop-invariant inputs: after a call, at most ONE new
    pinned RDD (the returned frame's own checkpoint) remains. BPE's
    result is driver-side, so it must not even keep that one pinned for
    long — it used to leave one per round (``unpersist`` is a no-op on a
    checkpoint)."""
    from prajna_spark.operators.bfs import bounded_sssp, multi_source_bfs
    from prajna_spark.operators.labelprop import label_propagation
    from prajna_spark.operators.lifecycle import release_local_checkpoint
    from prajna_spark.operators.pagerank import pagerank
    from prajna_spark.operators.triangles import k_core
    from prajna_spark.pipeline.bpe import learn_bpe_merges
    from prajna_spark.pipeline.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], "id long")
    pr_edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 1)], "src long, dst long"
    )
    # K4 plus a pendant: a 3-core that takes one peeling round
    kc_edges = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(a + 1, 4)] + [(3, 4)],
        "src long, dst long",
    )
    w_edges = pr_edges.withColumn("w", F.lit(1.5))
    seeds = spark.createDataFrame([(1,)], "nid long")
    words = spark.createDataFrame(
        [("lower", 5), ("lowest", 2), ("newer", 6), ("banana", 4)],
        "word string, freq long",
    )
    cases = {
        "connected_components": (lambda: connected_components(edges, nodes), 6),
        "pagerank": (lambda: pagerank(pr_edges, n_iter=6), 4),
        "multi_source_bfs": (lambda: multi_source_bfs(pr_edges, seeds, 5), 3),
        "bounded_sssp": (lambda: bounded_sssp(w_edges, seeds, 4), 3),
        "k_core": (lambda: k_core(kc_edges, 3), 4),
        "label_propagation": (lambda: label_propagation(pr_edges, n_iter=5), 4),
        "learn_bpe_merges": (
            lambda: learn_bpe_merges(words, "word", "freq", n_merges=6),
            6,
        ),
    }
    for name, (run, n_rows) in cases.items():
        base = _cached_ids(spark)
        out = run()
        assert out.count() == n_rows, name
        new = _cached_ids(spark) - base
        assert len(new) <= 1, f"{name} left {len(new)} pinned RDDs"
        release_local_checkpoint(out, blocking=True)


def test_iterate_checkpointed_contract(spark):
    """The one checkpointed loop: at most two generations are pinned
    mid-loop, ``stop`` ends it early with no Spark job beyond the
    rounds' own checkpoints, and running out of rounds is reported."""
    from prajna_spark.operators.lifecycle import (
        iterate_checkpointed,
        release_local_checkpoint,
        scoped_local_checkpoint,
    )

    sc = spark.sparkContext
    rounds: list[int] = []
    live: list[int] = []

    def step(state, i):
        rounds.append(i)
        live.append(len(_cached_ids(spark) - base))
        return state.select((F.col("x") + 1).alias("x"))

    def jobs_of(group, **kw):
        sc.setJobGroup(group, group)
        try:
            start = scoped_local_checkpoint(spark.range(0, 8, 1, 2).toDF("x"))
            out, stopped = iterate_checkpointed(start, step, **kw)
            return out, stopped, len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    base = _cached_ids(spark)
    out, stopped, _ = jobs_of("iterate_exhaust", max_rounds=6)
    assert not stopped
    assert rounds == [1, 2, 3, 4, 5, 6]
    assert sorted(r.x for r in out.collect()) == list(range(6, 14))
    assert 1 <= max(live) <= 2, live  # superseded generations released
    assert len(_cached_ids(spark) - base) == 1  # only the final one stays
    release_local_checkpoint(out, blocking=True)

    out, _, fixed_jobs = jobs_of("iterate_fixed", max_rounds=3)
    release_local_checkpoint(out, blocking=True)
    rounds.clear()
    out, stopped, stop_jobs = jobs_of(
        "iterate_stop",
        max_rounds=10,
        stop=(F.max("x"), lambda top, i: top >= 10),
    )
    assert stopped and rounds == [1, 2, 3]
    assert sorted(r.x for r in out.collect()) == list(range(3, 11))
    # the stop metric rides the checkpoint jobs: no extra job per round
    assert stop_jobs == fixed_jobs, (stop_jobs, fixed_jobs)
    release_local_checkpoint(out, blocking=True)


def test_bpe_does_not_materialize_the_unread_last_round(spark, monkeypatch):
    """``learn_bpe_merges``' merge list is complete after round n's
    top-pair collect, so n merges materialize n-1 merged corpus
    generations: the last round's corpus is never read."""
    import prajna_spark.operators.lifecycle as lifecycle
    from prajna_spark.pipeline.bpe import learn_bpe_merges

    made: list[int] = []
    real = lifecycle.scoped_local_checkpoint

    def counting(df, *args, **kwargs):
        made.append(1)
        return real(df, *args, **kwargs)

    # iterate_checkpointed resolves the name in its own module, so this
    # counts the loop's generations only (not BPE's initial checkpoint)
    monkeypatch.setattr(lifecycle, "scoped_local_checkpoint", counting)
    words = spark.createDataFrame(
        [("lower", 5), ("lowest", 2), ("newer", 6), ("wider", 3), ("banana", 4)],
        "word string, freq long",
    )
    merges = learn_bpe_merges(words, "word", "freq", n_merges=8)
    assert [r["round"] for r in merges.collect()] == list(range(1, 9))
    assert len(made) == 7, made


def test_persist_scopes_are_per_thread(spark):
    """Thread A persists inside its own scope while thread B opens and
    closes another: B's exit must not release A's frame (module-global
    scope stacks registered A's persist into B's scope, then B's exit
    freed it), and A's exit still does."""
    import threading

    a_in, b_in, a_persisted, b_out = (threading.Event() for _ in range(4))
    seen: dict[str, set[int]] = {}
    errors: list[BaseException] = []

    def thread_a():
        try:
            with persist_scope():
                a_in.set()
                assert b_in.wait(60)
                before = _cached_ids(spark)
                df = scoped_persist(spark.range(30).toDF("a"))
                df.count()
                seen["a"] = _cached_ids(spark) - before
                a_persisted.set()
                assert b_out.wait(60)
                seen["after_b"] = _cached_ids(spark)
        except Exception as exc:  # reported by the main thread below
            errors.append(exc)
            a_persisted.set()

    def thread_b():
        try:
            assert a_in.wait(60)
            with persist_scope():
                b_in.set()
                assert a_persisted.wait(60)
        except Exception as exc:  # reported by the main thread below
            errors.append(exc)
        finally:
            b_out.set()

    threads = [threading.Thread(target=t) for t in (thread_a, thread_b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(120)
        assert not t.is_alive(), "scope threads did not finish"
    assert not errors, errors
    assert seen["a"], "thread A's persist should be cached"
    assert seen["a"] <= seen["after_b"], "B's scope exit released A's frame"
    assert not (_cached_ids(spark) & seen["a"])  # A's own exit released it


def test_scope_exit_tolerates_concurrent_removal(spark, caplog):
    """Under periodic GC the ContextCleaner can race scope exit's
    blocking unpersist ("Block rdd_N_M does not exist" from the
    removeRdd RPC, observed live at 100x) — a query whose work
    succeeded must not fail in cleanup. The tolerant release retries
    non-blocking, then swallows. Only the KNOWN race is silent: any
    other failure must leave a warning signal (r10 advisory — a dead
    gateway leaving storage above baseline used to be invisible)."""
    import logging

    from prajna_spark.operators.lifecycle import _release_tolerant

    calls = []

    def racy_release(blocking):
        calls.append(blocking)
        if blocking:
            raise RuntimeError("Block rdd_9_9 does not exist")

    with caplog.at_level(logging.WARNING, "prajna_spark.operators.lifecycle"):
        _release_tolerant(racy_release)  # must not raise
    assert calls == [True, False]
    assert not caplog.records, "the known race must stay silent"

    def always_fails(blocking):
        calls.append(blocking)
        raise RuntimeError("gone")

    calls.clear()
    caplog.clear()
    with caplog.at_level(logging.WARNING, "prajna_spark.operators.lifecycle"):
        _release_tolerant(always_fails)  # still must not raise
    assert calls == [True, False]
    # unknown blocking failure + failed retry -> two warning signals
    assert len(caplog.records) == 2
    assert "retrying non-blocking" in caplog.records[0].getMessage()
    assert "gone" in caplog.records[1].getMessage()

    # and the happy path stays blocking-only and silent
    calls.clear()
    caplog.clear()
    _release_tolerant(lambda b: calls.append(b))
    assert calls == [True]
    assert not caplog.records


def test_scoped_local_checkpoint_blocks_are_serialized(spark):
    # localCheckpoint's JVM default caches DESERIALIZED row objects whose
    # block sizes are only estimated — the 100x kcore OOM (r9). The
    # helper must pin the serialized level so blocks are exact byte
    # buffers the memory manager can account and evict.
    from prajna_spark.operators.lifecycle import (
        persist_scope,
        scoped_local_checkpoint,
    )

    with persist_scope():
        c = scoped_local_checkpoint(spark.range(0, 1000, 1, 4))
        # the cached RDD is the LogicalRDD leaf the checkpoint planted
        # (c._jdf.rdd() would be a fresh uncached derivation of the plan)
        leaves = c._jdf.queryExecution().analyzed().collectLeaves()
        rdds = [
            leaves.apply(i).rdd()
            for i in range(leaves.size())
            if leaves.apply(i).getClass().getSimpleName() == "LogicalRDD"
        ]
        assert rdds, "checkpoint must plant a LogicalRDD leaf"
        lvl = rdds[0].getStorageLevel()
        assert lvl.useMemory() and lvl.useDisk()
        assert not lvl.deserialized(), (
            "checkpoint blocks must be SERIALIZED (exact accounting)"
        )
        assert c.count() == 1000
