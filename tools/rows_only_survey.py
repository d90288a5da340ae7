"""Rows-only twin edge survey (r12 verdict ask #5 / r13 delivery).

The 232 hash-oracled keys get NULL/empty-injection coverage from
``tools/keys.py check --edge`` (engine vs DuckDB oracle on the same
riddled fixture).  The 33 rows-only keys have no ANSI oracle — their
correctness evidence is batch-TWIN EQUALITY pytests (streaming key ==
its batch twin, approx tier ⊆/≈ its exact twin).  This tool runs
exactly those twin tests under the SAME deterministic injection, in
both modes, so the rows-only family gets the edge coverage the
hash-checked family already has:

  TEST_EDGE_MODE=null   — NULLs into nullable non-key columns (+ NULL
                          event keys): tests/conftest.py points SF_DIR
                          at tools/keys.riddled's copy of the fixture
  TEST_EDGE_MODE=empty  — ''/array() into string/array columns

Test selection is DYNAMIC: every test function in tests/ whose source
references a rows-only registry key by name ("<key>") is selected, so
new twins join the survey automatically and a key whose twin test
disappears is reported as UNCOVERED (exit 1) instead of silently
dropping out of the matrix.

Usage:
    python tools/rows_only_survey.py              # both modes
    python tools/rows_only_survey.py null         # one mode
Output: the pytest summary per mode plus a per-key coverage table.
Exit: non-zero if any selected test FAILS in any mode, or a rows-only
key has no covering test.
"""

from __future__ import annotations

import ast
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)


def rows_only_keys() -> list[str]:
    import tweetdb_spark

    tweetdb_spark.load_all_operators()
    from tweetdb_spark.registry import ordered_queries

    queries, oracles = ordered_queries()
    return [k for k in queries if k not in oracles]


def covering_tests(keys: list[str]) -> dict[str, list[str]]:
    """key -> list of pytest node ids whose function source mentions
    the key as a string literal."""
    cov: dict[str, list[str]] = {k: [] for k in keys}
    test_dir = os.path.join(HERE, "tests")
    for fn in sorted(os.listdir(test_dir)):
        if not (fn.startswith("test_") and fn.endswith(".py")):
            continue
        path = os.path.join(test_dir, fn)
        with open(path) as fh:
            src = fh.read()
        tree = ast.parse(src)
        lines = src.splitlines()
        for node in ast.walk(tree):
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef)
            ) or not node.name.startswith("test_"):
                continue
            body = "\n".join(lines[node.lineno - 1 : node.end_lineno])
            for k in keys:
                if f'"{k}"' in body or f"'{k}'" in body:
                    cov[k].append(f"tests/{fn}::{node.name}")
    return cov


def main() -> int:
    modes = sys.argv[1:] or ["null", "empty"]
    keys = rows_only_keys()
    cov = covering_tests(keys)

    uncovered = [k for k in keys if not cov[k]]
    node_ids = sorted({n for tests in cov.values() for n in tests})
    print(f"# {len(keys)} rows-only keys, {len(node_ids)} twin tests selected")
    for k in keys:
        print(f"# {k}: {len(cov[k])} test(s)" + ("  <-- UNCOVERED" if not cov[k] else ""))
    if uncovered:
        print(f"# UNCOVERED rows-only keys: {uncovered}")

    failed = False
    for mode in modes:
        print(f"\n### TEST_EDGE_MODE={mode}", flush=True)
        env = dict(os.environ, TEST_EDGE_MODE=mode)
        r = subprocess.run(
            [sys.executable, "-m", "pytest", "-q", *node_ids],
            cwd=HERE,
            env=env,
        )
        if r.returncode != 0:
            failed = True
    return 1 if (failed or uncovered) else 0


if __name__ == "__main__":
    sys.exit(main())
