#!/usr/bin/env python3
"""Explicit driver-coverage ledger for the query catalog.

The external driver records a bounded window of the catalog per round in
``CORRECTNESS_r{N}.json``. This tool makes that coverage explicit instead
of implicit-in-registration-order: for every registered query it reports
which rounds recorded it, its most recent driver verdict, and staleness
(rounds since last recorded). Queries never recorded by any round are
listed first so each round's registration rotation can be driven by data,
not hand-tuning.

Usage:
    python tools/coverage_ledger.py            # human table
    python tools/coverage_ledger.py --json     # machine-readable
    python tools/coverage_ledger.py --order    # staleness-first name list
"""
from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from prajna_spark.queries import correctness_ledgers, registry  # noqa: E402


def build_ledger() -> dict:
    rounds = correctness_ledgers()
    latest = max(rounds) if rounds else 0
    names = list(registry().keys())
    ledger = {}
    for name in names:
        seen = sorted(r for r, data in rounds.items() if name in data)
        last = seen[-1] if seen else None
        verdict = None
        if last is not None:
            row = rounds[last][name]
            if row.get("err") == "no_oracle":
                verdict = "rows_only"
            elif row.get("hash_match"):
                verdict = "pass"
            else:
                verdict = "FAIL"
        ledger[name] = {
            "rounds_recorded": seen,
            "last_round": last,
            "last_verdict": verdict,
            "staleness": (latest - last) if last is not None else None,
        }
    return {"latest_round": latest, "queries": ledger}


def main() -> int:
    ledger = build_ledger()
    if "--json" in sys.argv:
        print(json.dumps(ledger, indent=2))
        return 0
    if "--order" in sys.argv:
        # the rotation order: the correctness gate records a prefix of it
        for n in ledger["queries"]:
            print(n)
        return 0
    rows = ledger["queries"]
    never = [n for n, r in rows.items() if r["last_round"] is None]
    fails = [n for n, r in rows.items() if r["last_verdict"] == "FAIL"]
    print(f"catalog: {len(rows)} queries; latest driver round: r{ledger['latest_round']}")
    print(f"never driver-recorded: {len(never)}" + (f" -> {never}" if never else ""))
    print(f"driver FAIL at last record: {len(fails)}" + (f" -> {fails}" if fails else ""))
    by_staleness: dict[int, list[str]] = {}
    for n, r in rows.items():
        if r["staleness"] is not None:
            by_staleness.setdefault(r["staleness"], []).append(n)
    for s in sorted(by_staleness, reverse=True):
        print(f"staleness {s} (last recorded r{ledger['latest_round'] - s}): "
              f"{len(by_staleness[s])} queries")
        if s > 0:
            for n in sorted(by_staleness[s]):
                print(f"  {n} [{rows[n]['last_verdict']}]")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
