"""Shared decisions live in one place each.

The catalyst size-estimate gate is ``guards.size_gate``: operators with
a direct and a scale form ask it, never the optimized plan's stats
directly.  The exact-clone key, election and member-pair expansion are
``llm/collapse.py``.
Vector scoring is ``llm/similarity.py``'s one dot product, one norm
and one cosine kernel.  Keys are run from ``tools/`` by one runner."""

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


_DOT_PRODUCT = "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)"


def test_one_cosine_kernel():
    """``dot`` holds the one dot-product fold in ``llm/``: one SQL
    expression with one ``zip_with(``, and neither an ``F.zip_with``
    call nor another copy of its product lambda anywhere else in
    ``llm/``.  ``with_norm`` makes the only ``l2_norm`` call, and only
    the ``cosine`` kernel divides by a product of norms.  No ``dot``
    call sits inside a Python ``lambda`` (a higher-order function's
    body runs once per element, so the dot would too)."""
    calls = list(_calls(_PKG))
    zips = [
        (f, fn) for f, fn, c in calls
        if _name(c) == "zip_with" and f.startswith("llm")
    ]
    assert zips == [], zips
    products = {
        os.path.relpath(p, _PKG): n
        for p in glob.glob(os.path.join(_PKG, "llm", "*.py"))
        if (n := open(p, encoding="utf-8").read().count(_DOT_PRODUCT))
    }
    assert products == {_SIM: 1}, products
    sim = open(os.path.join(_PKG, _SIM), encoding="utf-8").read()
    (dot_src,) = (
        ast.get_source_segment(sim, n)
        for n in ast.walk(ast.parse(sim))
        if isinstance(n, ast.FunctionDef) and n.name == "dot"
    )
    assert dot_src.count("zip_with(") == 1 and _DOT_PRODUCT in dot_src
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
    dots_in_lambdas = [
        (os.path.relpath(p, _PKG), lam.lineno)
        for p in glob.glob(os.path.join(_PKG, "llm", "*.py"))
        for lam in ast.walk(ast.parse(open(p, encoding="utf-8").read()))
        if isinstance(lam, ast.Lambda)
        and any(
            isinstance(c, ast.Call) and _name(c) == "dot" for c in ast.walk(lam.body)
        )
    ]
    assert dots_in_lambdas == [], dots_in_lambdas


def _col_name(node):
    """The string argument of an ``F.col("...")`` call, else None."""
    if (
        isinstance(node, ast.Call)
        and _name(node) == "col"
        and len(node.args) == 1
        and isinstance(node.args[0], ast.Constant)
        and isinstance(node.args[0].value, str)
    ):
        return node.args[0].value
    return None


def _alias_compares(cond):
    """``(op, column)`` for every comparison in the ``&``-chain ``cond``
    of two ``F.col("alias.column")`` sides naming one column under two
    different aliases (``x.rep_id == y.rep_id`` is ``(Eq, "rep_id")``)."""
    if isinstance(cond, ast.BinOp) and isinstance(cond.op, ast.BitAnd):
        return _alias_compares(cond.left) + _alias_compares(cond.right)
    if isinstance(cond, ast.Compare) and len(cond.ops) == 1:
        a, b = _col_name(cond.left), _col_name(cond.comparators[0])
        if a and b and "." in a and "." in b:
            (qa, ca), (qb, cb) = a.split(".", 1), b.split(".", 1)
            if ca == cb and qa != qb:
                return [(type(cond.ops[0]), ca)]
    return []


def _within_legs(tree):
    """Join conditions of a member-pair within leg: a self-join equal on
    a rep id and ordered by ``<`` on another column (the member id)."""
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.BinOp) and isinstance(node.op, ast.BitAnd)
        and any(op is ast.Eq and "rep" in c for op, c in _alias_compares(node))
        and any(op is ast.Lt and "rep" not in c for op, c in _alias_compares(node))
    ]


_DUCK_FP_BODY = "CAST(SUM(CASE WHEN s > 0"


def test_one_member_pair_expansion_and_one_fingerprint_cte():
    """``collapse._expand_rep_pairs`` is the one member-pair expansion:
    no other module self-joins a member map on its rep id with
    ``doc_id <``.  The DuckDB simhash fingerprint CTE is written once in
    ``llm/dedup.py`` and interpolated into each simhash oracle."""
    legs = {}
    for p in glob.glob(os.path.join(_PKG, "**", "*.py"), recursive=True):
        n = len(_within_legs(ast.parse(open(p, encoding="utf-8").read())))
        if n:
            legs[os.path.relpath(p, _PKG)] = n
    assert legs == {os.path.join("llm", "collapse.py"): 1}, legs
    dedup = open(os.path.join(_PKG, "llm", "dedup.py"), encoding="utf-8").read()
    assert dedup.count(_DUCK_FP_BODY) == 1, dedup.count(_DUCK_FP_BODY)


def _assigns_load_tables(tree) -> bool:
    """Whether ``tree`` assigns a ``load_tables`` attribute, directly or
    through ``setattr`` / ``monkeypatch.setattr``."""
    for node in ast.walk(tree):
        targets = (
            node.targets if isinstance(node, ast.Assign)
            else [node.target] if isinstance(node, (ast.AugAssign, ast.AnnAssign))
            else []
        )
        if any(isinstance(t, ast.Attribute) and t.attr == "load_tables" for t in targets):
            return True
        if (
            isinstance(node, ast.Call)
            and _name(node) == "setattr"
            and any(isinstance(a, ast.Constant) and a.value == "load_tables" for a in node.args)
        ):
            return True
    return False


def test_tools_run_keys_through_one_runner():
    """``tools/keys.py`` is the one runner of keys.  Its watchdog cancels
    by job tag, which leaves a caller's job group alone, so no tool sets
    a job group.  A substitute catalog (the edge-riddled fixture) is an
    ordinary fixture dir read through the real ``catalog.load_tables``,
    so neither ``tools/`` nor ``tests/`` swaps that function out."""
    tools = glob.glob(os.path.join(_REPO, "tools", "*.py"))
    assert [p for p in tools if "setJobGroup" in open(p, encoding="utf-8").read()] == []
    patched = [
        os.path.relpath(p, _REPO)
        for p in tools + glob.glob(os.path.join(_REPO, "tests", "*.py"))
        if _assigns_load_tables(ast.parse(open(p, encoding="utf-8").read()))
    ]
    assert patched == [], patched
