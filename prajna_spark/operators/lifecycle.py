"""Persist lifecycle for operators that cache internally.

``cascade_rollup``, ``DSet.bypass`` and ``zip_with_index`` persist
intermediates by design (their plans read the same partials more than
once). Persisted blocks outlive the returned DataFrame — in a long-lived
driver (a service, the driver's repeated catalog runs) every call leaks
executor storage for the session lifetime.

``persist_scope`` is the ownership contract: operators route their
internal ``persist`` through ``scoped_persist``, and a caller who wants
deterministic release wraps use in the scope::

    with persist_scope():
        out = cascade_rollup(events, "ts", ["event_type"], "value", RES)
        out.write.parquet(...)          # consume INSIDE the scope
    # exit -> every internal persist is unpersisted

Outside any scope the behavior is unchanged (the session owns the cache
until it dies — fine for one-shot jobs, the driver gate, and tests that
reuse the frames). Scopes nest; each persist belongs to the innermost
active scope of the calling thread.
"""

from __future__ import annotations

import logging
from collections.abc import Callable
from contextlib import contextmanager
from contextvars import ContextVar
from typing import Any

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation

_log = logging.getLogger(__name__)

# open scopes, innermost last: an immutable stack of (persists,
# checkpoints) bags per thread, so no thread registers into another's
_SCOPES: ContextVar[tuple] = ContextVar("persist_scopes", default=())


def scoped_persist(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    """persist() that registers with the innermost persist_scope (no-op
    registration when no scope is active)."""
    p = df.persist(level)
    scopes = _SCOPES.get()
    if scopes:
        scopes[-1][0].append(p)
    return p


def scoped_local_checkpoint(
    df: DataFrame, eager: bool = True, parent: bool = False
) -> DataFrame:
    """localCheckpoint() that registers with the innermost persist_scope.

    ``unpersist`` is a silent no-op for checkpointed frames (see
    :func:`release_local_checkpoint`), so scope exit releases these via
    the LogicalRDD leaf directly: a loop's FINAL generation — which
    once outlived the query until an eventual JVM GC, the r7
    label-propagation leak — is freed at scope exit (double-release of
    a superseded one is a no-op). Outside any scope the behavior is
    plain localCheckpoint (session-lifetime blocks).

    ``parent=True`` registers with the ENCLOSING scope instead: for a
    checkpoint that materializes a function's RETURN VALUE inside that
    function's own persist_scope — a checkpointed frame CANNOT be
    recomputed (lineage is truncated), so releasing it at the inner
    scope's exit would break the caller; its lifetime belongs to the
    caller's scope.

    Storage level: SERIALIZED memory+disk, overriding localCheckpoint's
    JVM-side default of DESERIALIZED object caching. A checkpointed
    UnsafeRow cached as a JVM object graph costs ~5x its data bytes and
    — decisively — its block size is only ESTIMATED by the memory
    manager, so a corpus-sized edge checkpoint blows the heap past the
    unified-memory accounting entirely: kcore at 100x died with raw
    java.lang.OutOfMemoryError inside MemoryStore's unroll of a
    Java-serialized checkpoint partition (r9 probe), unreachable by
    eviction tuning because the overrun was never accounted. Serialized
    blocks are exact byte buffers: compact, evictable, and deserialized
    incrementally on read."""
    c = df.localCheckpoint(eager=eager, storageLevel=StorageLevel.MEMORY_AND_DISK)
    scopes = _SCOPES.get()[:-1] if parent else _SCOPES.get()
    if scopes:
        scopes[-1][1].append(c)
    return c


def _release_tolerant(release) -> None:
    """Blocking release that tolerates CONCURRENT removal.

    Under ``spark.cleaner.periodicGC.interval`` the ContextCleaner can
    remove the very blocks a scope is releasing, between the blocking
    ``removeRdd`` RPC's enumeration and its per-block removal — the RPC
    then fails with "Block rdd_N_M does not exist" and ``awaitResult``
    rethrows at scope exit, failing a query whose WORK already succeeded
    (observed live: labelprop at 100x with periodicGC=300s; BASELINE.md
    round-10 appendix). The end state — blocks gone — is exactly what
    the scope wanted, so on failure retry non-blocking (async removal;
    Spark logs-and-ignores its errors) and continue.

    Only the KNOWN race is downgraded silently: any other blocking
    failure (dead gateway, leaked handle) still retries non-blocking —
    best-effort release is the scope's contract either way — but logs a
    warning with the swallowed exception, so a genuine release failure
    that leaves storage above baseline has a signal (r10 advisory)."""
    try:
        release(True)
    except Exception as exc:
        if "does not exist" not in str(exc):
            _log.warning(
                "persist_scope: blocking release failed (%r); "
                "retrying non-blocking", exc,
            )
        try:
            release(False)
        except Exception as exc2:
            _log.warning(
                "persist_scope: non-blocking release also failed (%r); "
                "storage may stay above baseline until ContextCleaner "
                "acts", exc2,
            )


@contextmanager
def persist_scope():
    """Unpersist every scoped_persist and release every
    scoped_local_checkpoint made inside the block on exit."""
    bag: list[DataFrame] = []
    ckpts: list[DataFrame] = []
    token = _SCOPES.set(_SCOPES.get() + ((bag, ckpts),))
    try:
        yield bag
    finally:
        _SCOPES.reset(token)
        for df in bag:
            # blocking: scope exit is the deterministic release point —
            # callers rely on storage being back at baseline right after
            _release_tolerant(lambda b, d=df: d.unpersist(blocking=b))
        for df in ckpts:
            _release_tolerant(
                lambda b, d=df: release_local_checkpoint(d, blocking=b)
            )


def release_local_checkpoint(df: DataFrame, blocking: bool = False) -> None:
    """Actually free the storage blocks behind a ``localCheckpoint``'d
    DataFrame.

    ``Dataset.unpersist()`` is a silent NO-OP for checkpointed frames: it
    only consults the CacheManager, which never registered the checkpoint
    RDD (probed empirically on this Spark — the RDD stays in
    ``getPersistentRDDs`` after ``unpersist(blocking=True)``). The blocks
    belong to the ``LogicalRDD`` leaf the checkpoint planted, so release
    goes through that leaf's RDD directly.

    Call it on the checkpointed frame (or a narrow projection of one)
    once nothing reachable needs it (:func:`iterate_checkpointed`'s
    superseded generations, a loop's invariant inputs after the loop).

    Only ``LogicalRDD`` leaves are touched; any other plan shape is left
    alone. Do NOT call it on a frame that JOINS a still-needed
    checkpoint — every LogicalRDD leaf in the plan is released.
    """
    logical = df._jdf.queryExecution().analyzed()
    leaves = logical.collectLeaves()
    for i in range(leaves.size()):
        node = leaves.apply(i)
        if node.getClass().getSimpleName() == "LogicalRDD":
            node.rdd().unpersist(blocking)


def iterate_checkpointed(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame | None],
    max_rounds: int,
    stop: tuple[Column, Callable[[Any, int], bool]] | None = None,
) -> tuple[DataFrame, bool]:
    """The checkpointed driver loop: ``state = step(state, i)`` for
    ``i = 1..max_rounds``, one materialized generation per round.
    Returns ``(final_state, stopped)``; ``stopped`` is False when the
    loop ran out of rounds.

    ``state`` is a checkpointed frame (or a projection of one) that
    nothing else reads. ``step`` builds the next generation LAZILY from
    it; the loop materializes that with ONE eager
    :func:`scoped_local_checkpoint` job, then releases the generation it
    replaces. Why every generation is checkpointed and released:

    - ``persist`` does not truncate lineage: a chain of per-round joins
      grows a plan Catalyst cannot even print, and it overflows its
      stack near 15 rounds. A checkpoint keeps plan AND lineage O(1);
    - at most TWO generations stay pinned (the one being read and the
      one just written). In local mode driver and executors share one
      heap, and unbounded pinned generations starved AQE's broadcast
      builds at 10x data (the dense-graph OOM of commit be7318d);
    - ``Dataset.unpersist()`` is a silent no-op on a checkpoint, so the
      release goes through :func:`release_local_checkpoint`.

    ``stop=(aggregate, done)`` ends the loop early. The aggregate rides
    the checkpoint job through ``observe()`` — no extra ``count()`` job
    per round — and ``done(value, i)`` reads it after round ``i``. A
    ``step`` that returns None (nothing left to do) also ends the loop,
    with ``state`` unchanged."""
    for i in range(1, max_rounds + 1):
        nxt = step(state, i)
        if nxt is None:
            return state, True
        if stop is not None:
            obs = Observation()
            nxt = nxt.observe(obs, stop[0].alias("__stop"))
        nxt = scoped_local_checkpoint(nxt)
        release_local_checkpoint(state)
        state = nxt
        if stop is not None and stop[1](obs.get["__stop"], i):
            return state, True
    return state, False
