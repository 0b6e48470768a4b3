"""Catalog-wide physical-plan audit -> PLANS.md.

For every catalog query, count the plan features that matter at 100 TB:
shuffle exchanges, broadcast exchanges, whole-stage-codegen spans, Python
evaluation nodes, cartesian products, and partition-pruned scans. The
table makes plan regressions reviewable in diffs the same way
BENCH_r*.json makes time regressions reviewable — shape, not seconds.

Usage: python tools/plan_report.py [sf_dir] [out_md]
"""

from __future__ import annotations

import os
import re
import sys

# the tree THIS file sits in, so a second checkout checks its own library
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from prajna_spark.operators.lifecycle import persist_scope  # noqa: E402
from prajna_spark.queries import registry  # noqa: E402
from prajna_spark.session import get_spark  # noqa: E402


def audit(plan: str) -> dict[str, int | str]:
    return {
        "shuffles": len(re.findall(r"\bExchange (?:hash|range|SinglePartition|rebalance)", plan)),
        # round-robin exchanges (fan_out's conditional repartition and any
        # other plain .repartition(n)) are data movement too — counted in
        # their own column so the key-partitioning audit above stays
        # diff-stable while fan-outs remain visible (r8 review finding:
        # the _emb/bootstrap fan_out was invisible to this table)
        "fanouts": len(re.findall(r"\bExchange RoundRobinPartitioning", plan)),
        "broadcasts": len(re.findall(r"\bBroadcastExchange\b", plan)),
        "scans": len(re.findall(r"\bFileScan parquet\b", plan)),
        "python": len(
            re.findall(
                r"\b(?:BatchEvalPython|ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas)\b",
                plan,
            )
        ),
        "cartesian": len(re.findall(r"\bCartesianProduct\b", plan)),
        "pruned_scan": "yes"
        if "dynamicpruning" in plan
        or (
            "PartitionFilters: [" in plan
            and re.search(r"PartitionFilters: \[[^\]]", plan)
        )
        else "",
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else os.path.join(ROOT, "PLANS.md")
    spark = get_spark("prajna-plan-report")
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for name, spec in sorted(registry().items()):
        try:
            with persist_scope():
                df = spec.fn(spark, sf_dir)
                plan = df._jdf.queryExecution().executedPlan().toString()
            rows.append((name, audit(plan)))
        except Exception as exc:  # report, keep auditing
            rows.append((name, {"error": str(exc)[:60]}))

    with open(out, "w") as f:
        f.write(
            "# Physical-plan audit (generated by tools/plan_report.py)\n\n"
            f"Catalog at `{sf_dir}`: per query, the plan shapes that matter "
            "at scale. `shuffles` counts hash/range exchanges (the wide "
            "dependencies), `broadcasts` the small-side builds, `scans` the "
            "parquet scans feeding the plan, `python` the Arrow/pandas "
            "evaluation nodes (allowed only for by-design UDF operators), "
            "`cartesian` unbounded products (allowed only for by-design "
            "bounded cross joins), `fanouts` round-robin exchanges (the "
            "conditional fan_out staging small scans across cores — a "
            "scale no-op by construction, but still data movement at "
            "audit scale), `pruned` whether a scan carries "
            "non-empty partition filters.\n\n"
            "CAVEAT — iterative operators are OPAQUE here: queries built "
            "on localCheckpoint loops (pagerank_part_supplier, "
            "dedup_connected_components, resolve_part_entities, "
            "ivf_kmeans_centroids) run their per-iteration shuffles "
            "EAGERLY during checkpointing, so their audited plan is the "
            "post-checkpoint tail and reports ~0 shuffles/scans. Their "
            "plan discipline is enforced by dedicated tests instead "
            "(shuffle-hash hints + bounded checkpoint generations: "
            "tests/test_plans.py, test_pagerank.py) and their traffic "
            "shows in BENCH shuffle-volume metrics, not this table.\n\n"
            "| query | shuffles | fanouts | broadcasts | scans | python | cartesian | pruned |\n"
            "|---|---|---|---|---|---|---|---|\n"
        )
        for name, a in rows:
            if "error" in a:
                f.write(f"| {name} | ERROR: {a['error']} | | | | | | |\n")
                continue
            f.write(
                f"| {name} | {a['shuffles']} | {a['fanouts']} | {a['broadcasts']} | {a['scans']} "
                f"| {a['python']} | {a['cartesian']} | {a['pruned_scan']} |\n"
            )
    n_err = sum("error" in a for _, a in rows)
    print(f"wrote {out}: {len(rows)} queries, {n_err} errors")


if __name__ == "__main__":
    main()
