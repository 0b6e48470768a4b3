"""Unit tests for the bench/scale tooling rules — no Spark session in
this process (the plan-capture test starts its own JVMs).

These pin the r10-advisory/VERDICT fixes at the rule level: the bless
gate's dual-average requirement and scale_smoke's argv contract. The
tools themselves are exercised end-to-end by the per-round runs; these
tests keep the RULES from silently regressing.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
)

from tools.bless_bench import is_blessable  # noqa: E402
from tools.scale_smoke import parse_args  # noqa: E402


def _prov(**over):
    base = {
        "reference_grade": True,
        "quiet_load_max": 4.0,
        "loadavg_start_1m": 1.0,
        "loadavg_start_5m": 2.0,
    }
    base.update(over)
    return base


class TestBlessGate:
    def test_quiet_run_blesses(self):
        assert is_blessable(_prov())

    def test_stamp_says_loaded_refuses(self):
        assert not is_blessable(_prov(reference_grade=False))

    def test_loaded_1m_refuses_even_with_true_stamp(self):
        # a hand-edited or buggy stamp can't override the raw averages
        assert not is_blessable(_prov(loadavg_start_1m=9.0))

    def test_loaded_5m_refuses(self):
        # the r10 hole: 1m quiet (1.67) while 5m read 9.24 — must refuse
        assert not is_blessable(_prov(loadavg_start_5m=9.24))

    def test_5m_allowance_is_2x(self):
        assert is_blessable(_prov(loadavg_start_5m=8.0))
        assert not is_blessable(_prov(loadavg_start_5m=8.01))

    def test_old_stamp_format_without_5m_refuses(self):
        # pre-r11 sidecars have no loadavg_start_5m — must not bless
        # under the old single-average rule
        prov = _prov()
        del prov["loadavg_start_5m"]
        assert not is_blessable(prov)

    def test_unreadable_gauges_refuse(self):
        assert not is_blessable(_prov(loadavg_start_1m=-1.0))


class TestScaleSmokeArgs:
    def test_defaults(self):
        assert parse_args([]) == ("/tmp/prajna_scale/sf1.0", [], [])

    def test_leading_skip_not_eaten_as_sf_dir(self):
        # the r10 advisory: `scale_smoke.py --skip foo` used to sweep
        # directory '--skip' with 'foo' as an include filter
        assert parse_args(["--skip", "foo"]) == (
            "/tmp/prajna_scale/sf1.0",
            [],
            ["foo"],
        )

    def test_full_form(self):
        assert parse_args(["/tmp/d", "a", "b", "--skip", "c", "d"]) == (
            "/tmp/d",
            ["a", "b"],
            ["c", "d"],
        )

    def test_unknown_flag_rejected(self):
        with pytest.raises(SystemExit):
            parse_args(["--bogus"])


def test_capture_plans_normalize_is_stable_across_jvms(sf_dir, tmp_path):
    """Two ``capture_plans --normalize`` runs in two JVMs, building the
    queries in opposite orders (so expression ids, and with them the
    RewriteDistinctAggregates group order, differ), write byte-identical
    plans."""
    import subprocess

    names = ["profile_orders_columns", "q21_waiting_suppliers"]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_DRIVER_MEM="1g")
    for run, order in (("a", names), ("b", names[::-1])):
        subprocess.run(
            [sys.executable, os.path.join(root, "tools", "capture_plans.py"),
             "--normalize", str(tmp_path / run), "plan", *order],
            env=env, check=True, capture_output=True, timeout=600,
        )
    for name in names:
        a = (tmp_path / "a" / f"{name}_plan.txt").read_text()
        b = (tmp_path / "b" / f"{name}_plan.txt").read_text()
        assert "FAILED" not in a and "Expand" in a, a[:300]
        assert a == b, name


def test_tools_resolve_their_own_tree():
    """No tool names a fixed checkout: an absolute ``sys.path`` entry or an
    absolute path to a file of the tree makes a tool run from a second
    checkout (a parent-vs-change gate) silently use the other tree."""
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    entries = "|".join(
        re.escape(n) for n in sorted(os.listdir(root)) if not n.startswith(".")
    )
    absolute_syspath = re.compile(r"sys\.path\.(?:insert|append)\([^)]*[\"'][/~]")
    into_tree = re.compile(rf"[\"'](?:/[^\"'\s/]+)+/(?:{entries})(?:/[^\"']*)?[\"']")
    tools = os.path.join(root, "tools")
    bad = []
    for name in sorted(os.listdir(tools)):
        if not name.endswith(".py"):
            continue
        with open(os.path.join(tools, name)) as f:
            for i, line in enumerate(f, 1):
                if root in line or absolute_syspath.search(line) or into_tree.search(line):
                    bad.append(f"{name}:{i}: {line.strip()}")
    assert not bad, bad
