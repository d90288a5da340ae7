"""``tools/keys.py`` self-checks.

The runner must fail safe: a run that checked nothing must not read as
a pass, and one runaway key must neither end the run nor leave work
behind for the keys after it.
"""

from __future__ import annotations

import time

import duckdb

from tests.conftest import SF_DIR
from tools import keys


def test_zero_fixture_dirs_exits_2(capsys):
    rc = keys.main(["check", "--sf", "/nonexistent/a", "--sf", "/nonexistent/b", "agg_grouped"])
    assert rc == 2, "zero fixture dirs checked must NOT read as a pass"
    assert "nothing was checked" in capsys.readouterr().err


def test_no_keys_is_a_usage_error():
    assert keys.main(["check", "--sf", SF_DIR]) == 2
    assert keys.main(["check", "--sf", SF_DIR, "no_such_key"]) == 2


def test_missing_fixture_dir_is_skipped(monkeypatch, spark):
    """Of one real dir and one missing dir, only the real one runs."""
    ran = []
    monkeypatch.setattr(keys, "session", lambda vanilla=False: spark)
    monkeypatch.setattr(keys, "run", lambda s, d, *a, **kw: ran.append(d) or [])
    assert keys.main(["check", "--sf", SF_DIR, "--sf", "/nonexistent/x", "agg_grouped"]) == 0
    assert ran == [SF_DIR]


def test_watchdog_times_out_one_key_and_the_next_passes(spark, registry):
    """A key that overruns the timeout reads TIME: its tagged job is
    cancelled and the stream it started is stopped.  The caller's own
    job group survives, and the next key in the same session PASSes."""
    from pyspark.sql import functions as F

    def runaway(spark, sf_dir):
        spark.readStream.format("rate").load().writeStream.format("memory").queryName(
            "mem_watchdog_test"
        ).start()
        hang = F.udf(lambda x: time.sleep(600) or x, "long")
        return spark.range(1).select(hang("id").alias("id"))

    sc = spark.sparkContext
    con = duckdb.connect()
    keys.register_duck_views(con, SF_DIR)
    queries = {"runaway": runaway, "agg_grouped": registry.QUERIES["agg_grouped"]}
    oracles = {"agg_grouped": registry.ORACLES["agg_grouped"]}
    sc.setJobGroup("caller", "the caller's own group")
    try:
        records = keys.run(
            spark, SF_DIR, list(queries), queries, keys.check(con, oracles), timeout=10, con=con
        )
        assert [r.verdict for r in records] == ["TIME", "PASS"], records
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller"
        assert spark.streams.active == []
        deadline = time.time() + 30
        while sc.statusTracker().getActiveJobsIds() and time.time() < deadline:
            time.sleep(0.5)
        assert sc.statusTracker().getActiveJobsIds() == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        con.close()
