from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")

# TEST_EDGE_MODE=null|empty serves EVERY test from an edge-riddled copy
# of the catalog (tools/null_survey.py's deterministic injection) — the
# rows-only keys' twin-equality tests then run under the same injection
# the 232 hash keys get from the tools-level surveys (r11 verdict ask
# #5).  Intended for the curated twin-test subset driven by
# tools/rows_only_survey.py, not the full suite.
EDGE_MODE = os.environ.get("TEST_EDGE_MODE")


def _patch_edge_catalog(spark, mode: str) -> None:
    import tempfile

    import tweetdb_spark.catalog as cat
    import tweetdb_spark.registry as reg
    import tweetdb_spark.streaming.sources as ssrc
    from tools.null_survey import INJECT, KEYCOL, nullify

    src = cat.load_tables(spark, SF_DIR)
    out = tempfile.mkdtemp(prefix=f"edge_{mode}_")
    paths = {}
    for name, df in src.items():
        if name in INJECT:
            df = nullify(df, INJECT[name], KEYCOL[name], mode=mode)
        p = f"{out}/{name}.parquet"
        df.coalesce(1).write.mode("overwrite").parquet(p)
        paths[name] = p

    def patched(spark_arg, _sf, subset=None, *a, **kw):
        d = {}
        for n in list(subset) if subset else list(paths):
            d[n] = spark_arg.read.parquet(paths[n])
            d[n].createOrReplaceTempView(n)
        return d

    cat.load_tables = patched
    reg.load_tables = patched
    # sources.py binds load_tables by name at import time
    ssrc.load_tables = patched
    # the staged-events dir is fingerprinted on the SOURCE fixture;
    # edge catalogs must stage separately from (and never reuse) the
    # clean vintage of the same sf_dir
    orig_staging = ssrc._staging
    ssrc._staging = lambda d, n, kind: orig_staging(d, n, f"{kind}_edge_{mode}")


@pytest.fixture(scope="session")
def spark():
    from tweetdb_spark.session import get_spark

    s = get_spark("tweetdb-tests", shuffle_partitions=8)
    if EDGE_MODE:
        _patch_edge_catalog(s, EDGE_MODE)
    yield s


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
