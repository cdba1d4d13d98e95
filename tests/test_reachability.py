"""Guard against test-only code: every package top-level def or constant
that no root (the query registry, bench, perfbench, tools) reaches must be
listed in ``tools/reachability.py``'s ``KEPT`` table with its reason, and
every ``KEPT`` entry must still be unreached."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

import reachability  # noqa: E402


def test_unreached_defs_are_exactly_the_kept_ones():
    dead = reachability.unreached()
    assert sorted(set(dead) - set(reachability.KEPT)) == [], "unreached and not in KEPT: delete or keep with a reason"
    assert sorted(set(reachability.KEPT) - set(dead)) == [], "stale KEPT entries: reached now, or gone"


def test_kept_reasons_name_one_of_the_grounds():
    grounds = ("(a) s4 parity", "(b) test reference", "(c) test fixture")
    for name, reason in reachability.KEPT.items():
        assert reason.startswith(grounds), name


def test_no_package_module_is_a_root():
    """Roots are entry points only: a package module counted as a root
    would mark every def in it reached and hide its test-only code."""
    package = reachability.REPO / reachability.PACKAGE
    inside = [p for p in reachability._root_paths() if p.is_relative_to(package)]
    assert inside == []
