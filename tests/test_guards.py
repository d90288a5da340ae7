"""Shared decisions live in one place each.

The catalyst size-estimate gate is ``guards.size_gate``: operators with
a direct and a scale form ask it, never the optimized plan's stats
directly.  The exact-clone key and election are ``llm/collapse.py``."""

from __future__ import annotations

import glob
import os

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = os.path.join(_REPO, "tweetdb_spark")
_STATS_READ = "optimizedPlan().stats().sizeInBytes()"


def test_stats_gate_read_only_in_guards():
    hits = {
        os.path.relpath(p, _PKG)
        for p in glob.glob(os.path.join(_PKG, "**", "*.py"), recursive=True)
        if _STATS_READ in open(p, encoding="utf-8").read()
    }
    assert hits == {"guards.py"}, hits


_CLONE_DECISION = ('F.md5("text")', 'partitionBy("h")', "groupBy(F.md5(")


def test_clone_decision_only_in_collapse():
    """The exact-clone key and election live in ``llm/collapse.py``:
    no other module hashes the text into a clone key or elects over it
    (oracle SQL spells ``md5(text)`` without ``F.`` and is not matched)."""
    hits = {
        (os.path.relpath(p, _PKG), pat)
        for p in glob.glob(os.path.join(_PKG, "**", "*.py"), recursive=True)
        for pat in _CLONE_DECISION
        if pat in open(p, encoding="utf-8").read()
    }
    assert {f for f, _ in hits} == {os.path.join("llm", "collapse.py")}, hits
    src = open(os.path.join(_PKG, "llm", "collapse.py"), encoding="utf-8").read()
    assert src.count(_CLONE_DECISION[0]) == 1
