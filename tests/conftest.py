from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


def _session():
    from tweetdb_spark.session import get_spark

    return get_spark("tweetdb-tests", shuffle_partitions=8)


# TEST_EDGE_MODE=null|empty serves every test an edge-riddled copy of
# the fixture (tools/keys.py's riddled(), the copy the hash keys' edge
# check reads): SF_DIR points at it, so the rows-only keys'
# twin-equality tests run under the same injection.  Intended for the
# twin-test subset that tools/rows_only_survey.py selects, not the
# full suite.
EDGE_MODE = os.environ.get("TEST_EDGE_MODE")
if EDGE_MODE:
    from tools.keys import riddled

    SF_DIR = riddled(_session(), SF_DIR, EDGE_MODE)


@pytest.fixture(scope="session")
def spark():
    yield _session()


@pytest.fixture(scope="session")
def tables(spark):
    from tweetdb_spark.catalog import load_tables

    return load_tables(spark, SF_DIR)


@pytest.fixture(scope="session")
def registry():
    import tweetdb_spark

    tweetdb_spark.load_all_operators()
    return tweetdb_spark


def forced_gate_forms(registry, spark, monkeypatch, key):
    """Run ``key`` with ``guards.size_gate`` forced to the direct form,
    then to the scale form; return both results as row multisets
    (Counter: NULL-safe, no sorted()).

    Also asserts the two executed plans differ, so an equality test
    built on this cannot pass vacuously because the gate ignored the
    override and both runs took the same branch.  Expression ids and
    plan ids are masked first: they differ between any two builds.
    """
    import re
    from collections import Counter

    from tweetdb_spark import guards

    rows, plans = [], []
    for min_bytes in (1 << 60, 0):
        monkeypatch.setattr(guards, "TWO_PASS_MIN_BYTES", min_bytes)
        df = registry.QUERIES[key](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        plans.append(re.sub(r"#\d+|plan_id=\d+", "", plan))
        rows.append(Counter(map(tuple, df.collect())))
    assert plans[0] != plans[1], f"{key}: forcing the size gate left the plan unchanged"
    return rows


def sf_tables(spark, sf_dir=SF_DIR):
    """What a registered operator receives: the loaded tables plus the
    sf_dir they came from (what the ``ensure_*`` functions take)."""
    from tweetdb_spark.catalog import load_tables
    from tweetdb_spark.registry import Tables

    t = Tables(load_tables(spark, sf_dir))
    t.sf_dir = sf_dir
    return t
