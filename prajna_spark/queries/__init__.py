"""Named query catalog — the driver/judge contract.

Every operator family declared in SURVEY.md §2 (plus the LLM-pipeline
extensions) is exercised by at least one named query here. Each query is a
``(spark, sf_dir) -> DataFrame`` callable plus, where SQL-expressible, a
DuckDB oracle SQL string producing identical column names and values.

Conventions enforced across the catalog (driver hash-compares values after
sorting columns by name):
- every computed column is aliased IDENTICALLY in Spark and oracle SQL;
- floats are rounded explicitly on BOTH sides (aggregation-order fp drift);
- timestamps never leave a query raw: epoch seconds / extracted fields;
- ties in any top-k / rank are broken by a unique key so results are
  deterministic on both engines.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "QuerySpec"] = {}


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Register a catalog query. ``oracle`` is DuckDB SQL over the
    pre-registered views (region nation customer supplier part orders
    lineitem events documents embeddings); None → driver runs the weaker
    rows-only check (reserved for genuinely non-SQL-expressible ops)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, tags=tuple(tags))
        return fn

    return deco


def work_dir(prefix: str, sf_dir: str) -> str:
    """Deterministic scratch dir for one query, scale and calling thread,
    WIPED on entry. Catalog queries that build a store, index or stream
    checkpoint on disk use it instead of ``mkdtemp``: repeated runs
    (driver gate, scale smoke, bench) would otherwise leave one full copy
    per invocation behind — unbounded disk growth. A fixed path +
    rm-then-recreate bounds usage at one live copy per query, scale and
    thread; the thread is part of the key so concurrent callers never
    share (or wipe) a directory. The caller's read plan is built after
    the rebuild, so nothing dangles."""
    import hashlib
    import shutil
    import tempfile
    import threading

    key = f"{sf_dir}|{threading.get_ident()}"
    tag = hashlib.md5(key.encode()).hexdigest()[:8]
    path = f"{tempfile.gettempdir()}/prajna_{prefix}_{tag}"
    shutil.rmtree(path, ignore_errors=True)
    return path


def _load_all() -> None:
    # Import side-effect registers every module's queries exactly once.
    # Import order is NOT load-bearing: registry() reorders by recorded
    # driver coverage (_staleness_order), so the driver's bounded
    # correctness window rotates by data rather than hand-tuned module
    # placement.
    from prajna_spark.queries import (  # noqa: F401
        windows,
        vectors,
        tpch_shapes,
        text,
        sampling,
        retrieval,
        graph,
        multimodal,
        scalars,
        relational,
        intervals,
        funnels,
    )


def correctness_ledgers() -> dict[int, dict[str, dict]]:
    """The CORRECTNESS_r*.json correctness ledgers from the repo root,
    by round: {round: {query name: record}}. A record is hash-verified when
    ``hash_match`` is true; ``err == "no_oracle"`` marks the rows-only
    check. Unreadable files are skipped; a fresh checkout has none, so
    every query counts as never-recorded."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    ledgers: dict[int, dict[str, dict]] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        try:
            with open(path) as f:
                ledgers[int(m.group(1))] = json.load(f)
        except (OSError, ValueError):
            continue
    return ledgers


def _staleness_order(names: list[str]) -> list[str]:
    """Order queries never-recorded first, then by oldest last-recorded
    round, ties by name. The correctness gate records a bounded prefix
    of the registry each round, so every query's staleness stays
    bounded by ceil(catalog_size / window_size) rounds, with no coupling
    to import order. ``tools/coverage_ledger.py`` prints the same
    ledger."""
    last: dict[str, int] = {}
    for rnd, data in correctness_ledgers().items():
        for name in data:
            last[name] = max(rnd, last.get(name, rnd))
    return sorted(names, key=lambda n: (n in last, last.get(n, 0), n))


def registry() -> dict[str, QuerySpec]:
    _load_all()
    ordered = _staleness_order(list(_REGISTRY))
    return {name: _REGISTRY[name] for name in ordered}


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in registry().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in registry().items() if spec.oracle is not None
    }
