"""Shared decisions live in one place each.

The catalyst size-estimate gate is ``guards.size_gate``: operators with
a direct and a scale form ask it, never the optimized plan's stats
directly.  The exact-clone key and election are ``llm/collapse.py``.
Vector scoring is ``llm/similarity.py``'s one dot product, one norm
and one cosine kernel."""

from __future__ import annotations

import ast
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


def _calls(root):
    """``(relpath, enclosing function, call node)`` for every call in
    the ``.py`` files under ``root`` (code only: SQL text inside a
    string is not a call)."""
    for p in glob.glob(os.path.join(root, "**", "*.py"), recursive=True):
        tree = ast.parse(open(p, encoding="utf-8").read())
        stack = [(tree, None)]
        while stack:
            node, fn = stack.pop()
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                fn = node.name
            if isinstance(node, ast.Call):
                yield os.path.relpath(p, _PKG), fn, node
            stack.extend((c, fn) for c in ast.iter_child_nodes(node))


def _name(call):
    """The called function's own name, however it is qualified
    (``F.zip_with`` and a bare ``zip_with`` are both ``zip_with``)."""
    f = call.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


_SIM = os.path.join("llm", "similarity.py")


def test_one_cosine_kernel():
    """``dot`` holds the only ``F.zip_with`` in ``llm/``, ``with_norm``
    the only ``l2_norm`` call, and only the ``cosine`` kernel divides
    by a product of norms."""
    calls = list(_calls(_PKG))
    zips = [
        (f, fn) for f, fn, c in calls
        if _name(c) == "zip_with" and f.startswith("llm")
    ]
    assert zips == [(_SIM, "dot")], zips
    norms = [(f, fn) for f, fn, c in calls if _name(c) == "l2_norm"]
    assert norms == [(_SIM, "with_norm")], norms
    norm_divs = {
        (f, fn) for f, fn, c in calls
        if _name(c) == "try_divide"
        and len(c.args) == 2
        and isinstance(c.args[1], ast.BinOp)
        and isinstance(c.args[1].op, ast.Mult)
    }
    assert norm_divs == {(_SIM, "cosine")}, norm_divs
