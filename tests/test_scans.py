"""Scan / sink side-effect semantics (file layout assertions that the
oracle hash can't see — the hash proves content, these prove files)."""

from __future__ import annotations

import glob

import pytest

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def q(registry, spark):
    def run(name):
        return registry.QUERIES[name](spark, SF_DIR)

    return run


def test_compact_files_reduces_file_count(q):
    """The compaction rewrite must actually shrink the file count; the
    oracle hash already proves losslessness."""
    from tweetdb_spark import scratch

    q("compact_files").collect()
    frags = scratch.own_dirs("tweetdb_frag")
    compacts = scratch.own_dirs("tweetdb_compact")
    assert frags and compacts
    n_frag = len(glob.glob(f"{frags[-1]}/*.parquet"))
    n_compact = len(glob.glob(f"{compacts[-1]}/*.parquet"))
    assert n_compact <= 4 < n_frag


def test_snapshot_time_travel_versions(spark, tables):
    """v0 read is byte-stable after v1's commit; v1 applies the COW
    reprice to exactly the F group; untouched file groups are SHARED
    between the two manifests (copy-on-write, not copy-everything)."""
    import json
    import os

    from tweetdb_spark.operators.scans import _snapshot_root, read_snapshot

    root = _snapshot_root(spark, tables)
    v0 = read_snapshot(spark, root, 0)
    v1 = read_snapshot(spark, root, 1)
    assert v0.count() == v1.count() == tables["orders"].count()
    # v0 matches the source table exactly
    src = {
        (r.o_orderkey, r.o_totalprice)
        for r in tables["orders"].select("o_orderkey", "o_totalprice").collect()
    }
    assert {(r.o_orderkey, r.o_totalprice) for r in v0.collect()} == src
    # v1: F rows repriced, O/P rows untouched
    changed = {
        r.o_orderkey: r.o_totalprice
        for r in v1.where("o_orderstatus = 'F'").collect()
    }
    orig = {
        r.o_orderkey: r.o_totalprice
        for r in tables["orders"].where("o_orderstatus = 'F'").collect()
    }
    assert set(changed) == set(orig)
    import math

    assert all(
        abs(changed[k] - math.floor(orig[k] * 1.1 * 100 + 0.5) / 100) < 1e-9
        for k in orig
    )
    # manifests share the untouched O/P files
    mdir = os.path.join(root, "_manifests")
    f0 = set(json.load(open(os.path.join(mdir, "v0.json")))["files"])
    f1 = set(json.load(open(os.path.join(mdir, "v1.json")))["files"])
    shared = f0 & f1
    assert shared and all("v0_F" not in f for f in f1)


def test_snapshot_expire_deletes_only_unreferenced_files(spark, tables):
    """Expiry must delete exactly the files exclusive to dropped
    versions: v0's manifest and its pre-reprice 'F' file go, the
    'O'/'P' files v1 re-listed survive, v1 still reads, v0 cannot."""
    import glob
    import os

    import pytest as _pytest

    from tweetdb_spark.operators.scans import (
        _snapshot_root,
        expire_snapshots,
        read_snapshot,
    )

    root = _snapshot_root(spark, tables)
    before = set(glob.glob(os.path.join(root, "data", "*", "*.parquet")))
    report = expire_snapshots(root, keep_last=1)
    after = set(glob.glob(os.path.join(root, "data", "*", "*.parquet")))
    assert report["removed_manifests"] == 1
    assert report["removed_files"] >= 1
    gone = before - after
    assert gone and all("v0_F" in f for f in gone)  # only v0-exclusive files
    assert any("v0_O" in f for f in after) and any("v0_P" in f for f in after)
    assert read_snapshot(spark, root, 1).count() == tables["orders"].count()
    with _pytest.raises(FileNotFoundError):
        read_snapshot(spark, root, 0)


def test_jsonl_shards_respect_record_cap(q):
    """sink_jsonl_sharded's layout contract: ≥4 shard files (the
    repartition count at 500 docs) and no file over the 200-record
    maxRecordsPerFile cap — exactly one JSON doc per line.  Also the
    sink_parquet_part scratch layout."""
    from tweetdb_spark import scratch

    q("sink_jsonl_sharded").collect()
    outs = scratch.own_dirs("tweetdb_jsonl")
    assert outs
    files = [
        f for f in glob.glob(f"{outs[-1]}/part-*")
        if not f.endswith(".crc")
    ]
    assert len(files) >= 4
    total = 0
    for f in files:
        with open(f, "rb") as fh:
            n = sum(1 for _ in fh)
        assert 0 < n <= 200
        total += n
    assert total == 500
    # sink_parquet_part's dir is pid-tagged scratch too: a second call
    # reaps the first, leaving one dir with one dir per event_type
    for _ in range(2):
        q("sink_parquet_part").collect()
    (part,) = scratch.own_dirs("tweetdb_sink_part")
    assert glob.glob(f"{part}/event_type=*")


def test_jdbc_read_is_partitioned_and_pushes_filter(q):
    """The JDBC source must split into the 4 declared range partitions
    (parallel cursors), and the price predicate must reach the
    database as a pushed filter, not a Spark-side post-filter."""
    df = q("ingest_jdbc")
    assert df.rdd.getNumPartitions() == 4
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters:" in plan and "price_cents" in plan.split("PushedFilters:")[1].splitlines()[0], plan


def test_observed_metrics_match_direct_aggregates(q, spark):
    """After the action, the observation must report exactly the
    pre-filter scan's row count and cent total — collected in the
    same job, no second pass."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_DIR
    from tweetdb_spark.catalog import load_tables
    from tweetdb_spark.operators.scans import LAST_OBSERVATION

    q("scan_observed").collect()  # action triggers the observation
    got = LAST_OBSERVATION["scan_observed"].get
    li = load_tables(spark, SF_DIR)["lineitem"]
    want = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("c"),
    ).collect()[0]
    assert got["rows_scanned"] == want.n
    assert got["total_price_cents"] == want.c
    assert got["null_flags"] == 0


def test_codec_matrix_all_roundtrip(q):
    """Every codec's read-back must be lossless and row-complete."""
    rows = q("sink_parquet_codec").collect()
    assert {r.codec for r in rows} == {"gzip", "snappy", "zstd"}
    assert all(r.roundtrip_ok for r in rows)
    assert len({r.n_rows for r in rows}) == 1


def test_custom_python_sink_two_phase_commit(q, spark):
    """The committed directory must contain only final part files (no
    _tmp orphans — write/commit are separate phases), one per
    partition, and the read-back must cover the full table."""
    import glob
    import os

    df = q("sink_custom_python")
    rows = df.collect()
    assert len(rows) == 25
    # locate the sink dir from the read path
    files = df.inputFiles()
    d = os.path.dirname(files[0].replace("file:", ""))
    assert len(glob.glob(os.path.join(d, "part-*.jsonl"))) == 4
    assert not glob.glob(os.path.join(d, "_tmp-*"))
