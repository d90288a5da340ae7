"""The catalyst size-estimate gate lives in one place:
``guards.size_gate``.  Operators with a direct and a scale form ask it,
never the optimized plan's stats directly."""

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

