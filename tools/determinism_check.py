"""Run-to-run determinism + storage-leak net for the catalog.

The oracle gate compares Spark vs DuckDB once; this tool compares Spark
vs ITSELF — every catalog query executed twice in one session, results
canonicalized exactly like the parity gate and hash-compared. It catches
the class the oracle can mask: tie-breaking that happens to match DuckDB
on one run but is partition-order-dependent (nondeterministic sampling,
unordered first()/collect-order leaks, monotonically_increasing_id
misuse), which would make the driver's recorded hash flaky.

It ALSO asserts post-query storage cleanliness (r7 VERDICT item 4): after
each query's persist_scope closes, ``getPersistentRDDs()`` must be empty —
every internal persist AND localCheckpoint released. The r5 label-
propagation edge-checkpoint leak survived two rounds of green gates
because nothing asserted this; it would have printed here as
``LEAK labelprop_part_communities: 1 persistent RDDs after scope exit``.
Leaked RDDs are force-unpersisted after reporting so one leak doesn't
cascade into every later query's report.

Usage: python tools/determinism_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import pandas as pd

# the tree THIS file sits in, so a second checkout checks its own library
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from prajna_spark.operators.lifecycle import persist_scope  # noqa: E402
from prajna_spark.queries import registry  # noqa: E402
from prajna_spark.session import get_spark  # noqa: E402
from check_parity import canonicalize  # noqa: E402


def frame_hash(pdf: pd.DataFrame) -> str:
    from pandas.util import hash_pandas_object

    c = canonicalize(pdf)
    return f"{len(c)}:{hash_pandas_object(c, index=False).sum():x}"


def leaked_rdds(spark) -> list[str]:
    """Persistent RDD descriptions after a query's scope closed — must be
    empty; anything here outlives the query and compounds across a
    long-lived session (the r5 labelprop failure mode)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    out = []
    it = jmap.entrySet().iterator()
    while it.hasNext():
        e = it.next()
        out.append(f"id={e.getKey()} {e.getValue().toString()[:90]}")
    return out


def force_release(spark) -> None:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    it = jmap.values().iterator()
    while it.hasNext():
        it.next().unpersist(True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    specs = registry()
    unknown = only - set(specs)
    if unknown:  # a typo must not report a green no-op run
        print(f"unknown queries: {sorted(unknown)}")
        return 2
    spark = get_spark("determinism-check")
    spark.sparkContext.setLogLevel("ERROR")
    failed = []
    for name, spec in sorted(specs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        hashes = []
        try:
            for rep in range(2):
                with persist_scope():
                    hashes.append(frame_hash(spec.fn(spark, sf_dir).toPandas()))
        except Exception as e:
            print(f"FAIL {name}: error: {e}")
            failed.append(name)
            continue
        leaks = leaked_rdds(spark)
        if leaks:
            print(f"LEAK {name}: {len(leaks)} persistent RDDs after scope exit")
            for l in leaks:
                print(f"     {l}")
            failed.append(name)
            force_release(spark)  # isolate: one leak must not taint the rest
            continue
        if hashes[0] != hashes[1]:
            print(f"FAIL {name}: nondeterministic ({hashes[0]} vs {hashes[1]})")
            failed.append(name)
        else:
            print(f"PASS {name} [{time.time()-t0:.1f}s]")
    print(f"\n{len(failed)} nondeterministic/errored/leaked" + (f": {sorted(failed)}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
