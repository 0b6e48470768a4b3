"""Capture .explain("formatted") output for catalog queries.

Usage: python tools/capture_plans.py [--normalize] <out_dir> <suffix> query [query ...]
Writes <out_dir>/<query>_<suffix>.txt for each query (the optimization
rounds' before/after plan evidence; the judge checks plan claims against
these files).

``--normalize`` writes each plan through :func:`normalize`, which
rewrites everything that differs between two captures of one tree in two
JVMs, so "the plans are identical" is a plain ``diff -r`` of two output
directories (tests/test_tools.py pins the two-JVM byte identity).
"""

from __future__ import annotations

import os
import re
import sys
import tempfile

# the tree THIS file sits in, not a hardcoded path — so the tool can
# capture an old tree's plans from a git-archive copy (r12)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# (pattern, replacement): per-JVM counters and run-specific paths
_COUNTERS = [
    (r"#\d+", "#N"),  # expression ids
    (r"plan_id=\d+", "plan_id=N"),
    (r"\b(lambda [A-Za-z]+)_\d+", r"\1_N"),  # lambda variable ids
    (r"_common_expr_\d+", "_common_expr_N"),
    (r"(RDD)\[\d+\]", r"\1[N]"),  # RDD ids
    # scratch stores and checkpoints: mkdtemp names, per-thread work dirs
    (rf"(file:)?{re.escape(tempfile.gettempdir())}/[^/\s,\]\)]+", "<tmp>"),
    # checkpoint call site: `<unknown>:0` or `NativeMethodAccessorImpl.java:0`
    (r" at [\w<>$.]+:\d+", " at <site>"),
]
_COUNTERS = [(re.compile(p), r) for p, r in _COUNTERS]
_GID = re.compile(r"\(gid#N = \d+\)")
_INNERMOST = re.compile(r"\[([^\[\]]*)\]")


def _items(body: str) -> list[str]:
    """Split a list body on the ", " separators outside parentheses."""
    out, depth, start = [], 0, 0
    for i, ch in enumerate(body):
        depth += (ch == "(") - (ch == ")")
        if depth == 0 and body.startswith(", ", i):
            out.append(body[start:i])
            start = i + 2
    return [*out, body[start:]]


def _canonical_list(m: re.Match) -> str:
    items = ["G" if i.isdigit() else i for i in _items(m.group(1))]
    return "\x00" + ", ".join(sorted(items)) + "\x01"


def _sort_hash_keys(plan: str) -> str:
    """Sort the key expressions of every ``hashpartitioning(keys..., n)``."""
    out, pos, tag = [], 0, "hashpartitioning("
    while (at := plan.find(tag, pos)) >= 0:
        start = at + len(tag)
        depth, end = 1, start
        while depth:
            depth += (plan[end] == "(") - (plan[end] == ")")
            end += 1
        *keys, n = _items(plan[start : end - 1])
        out.append(plan[pos:start] + ", ".join([*sorted(keys), n]) + ")")
        pos = end
    return "".join(out) + plan[pos:]


def normalize(plan: str) -> str:
    """Blank per-JVM counters and run-specific paths. In a plan with an
    ``Expand`` (the RewriteDistinctAggregates rewrite, whose distinct
    groups come in a hash order that changes with the expression ids)
    the group ids are blanked to ``G``, hash-partitioning keys are
    sorted and so is every bracketed list, innermost first."""
    for pat, rep in _COUNTERS:
        plan = pat.sub(rep, plan)
    if "Expand (" not in plan:
        return plan
    plan = _sort_hash_keys(_GID.sub("(gid#N = G)", plan))
    while True:
        out = _INNERMOST.sub(_canonical_list, plan)
        if out == plan:
            return out.replace("\x00", "[").replace("\x01", "]")
        plan = out


def main() -> None:
    args = sys.argv[1:]
    norm = "--normalize" in args
    if norm:
        args.remove("--normalize")
    out_dir, suffix, names = args[0], args[1], args[2:]
    from prajna_spark.operators.lifecycle import persist_scope
    from prajna_spark.queries import queries
    from prajna_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("prajna-plans")
    spark.sparkContext.setLogLevel("ERROR")
    catalog = queries()
    for name in names:
        try:
            with persist_scope():
                df = catalog[name](spark, sf_dir)
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
        except Exception as exc:  # noqa: BLE001
            plan = f"PLAN CAPTURE FAILED: {exc}"
        if norm:
            plan = normalize(plan)
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)", file=sys.stderr)


if __name__ == "__main__":
    main()
