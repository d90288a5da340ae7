"""Cached per-corpus artifacts follow source CONTENT, not (session, path).

The table catalog, the three ANN indexes and the bucketed join tables
are all cached per session by ``scratch.derived``.  Rewriting a source
file in place under a live session must give the same answer a fresh
session gives over the same files, and repeated rebuilds must not pile
up dirs or catalog tables.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from tests.conftest import SF_DIR, sf_tables


def _results(spark, sf):
    """One comparable result per cached artifact (an exception counts
    as a result, so every stale cache is reported, not just the
    first)."""
    from tweetdb_spark.catalog import load_tables
    from tweetdb_spark.registry import QUERIES

    def ann(key):
        return lambda: [r.vec_id for r in QUERIES[key](spark, sf).collect()]

    runs = {
        "sim_ann_ivf": ann("sim_ann_ivf"),
        "sim_ann_lsh": ann("sim_ann_lsh"),
        "sim_ann_ivf_pq": ann("sim_ann_ivf_pq"),
        "join_bucketed_colocated": lambda: sorted(
            map(tuple, QUERIES["join_bucketed_colocated"](spark, sf).collect())
        ),
        "load_tables": lambda: tuple(
            load_tables(spark, sf)[n].count() for n in ("embeddings", "orders")
        ),
    }
    out = {}
    for name, run in runs.items():
        try:
            out[name] = run()
        except Exception as e:  # noqa: BLE001 - a stale read may raise
            out[name] = f"{type(e).__name__}: {str(e)[:80]}"
    return out


def _rewrite(sf, name, table):
    """Rewrite a source in place in its own shape.  Embeddings are a
    dir of 100-row part files (a rewrite adds or removes files); orders
    is one file of 100-row row groups (a listing frozen at the old file
    size silently drops the row groups past it)."""
    path = f"{sf}/{name}.parquet"
    if name != "embeddings":
        pq.write_table(table, path, row_group_size=100)
        return
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    for i in range(0, table.num_rows, 100):
        pq.write_table(table.slice(i, 100), f"{path}/part-{i // 100:05d}.parquet")


def _copy_fixture(dst):
    shutil.copytree(SF_DIR, dst)
    for f in os.listdir(dst):
        os.chmod(os.path.join(dst, f), 0o644)
    emb = pq.read_table(f"{dst}/embeddings.parquet")
    os.remove(f"{dst}/embeddings.parquet")
    _rewrite(dst, "embeddings", emb)
    return str(dst)


def _own_prefix(path_or_table):
    """The scratch prefix a derived dir (or the table named after it)
    was made under: the name minus its ``_<pid>_<time_ns>`` suffix."""
    return os.path.basename(path_or_table).rsplit("_", 2)[0]


def _index_dirs(spark, sf):
    """Every dir the session's indexes and bucketed tables live in."""
    import tempfile

    from tweetdb_spark.llm.similarity import (
        ensure_ivf_index,
        ensure_lsh_index,
        ensure_pq_index,
    )
    from tweetdb_spark.operators.physical import ensure_bucketed_tables

    t = sf_tables(spark, sf)
    tables = ensure_bucketed_tables(spark, t)
    return [
        *ensure_ivf_index(spark, t),
        ensure_lsh_index(spark, t),
        *ensure_pq_index(spark, t),
        *(os.path.join(tempfile.gettempdir(), n) for n in tables),
    ]


def test_caches_follow_in_place_source_rewrites(registry, spark, tmp_path):
    from tweetdb_spark import scratch

    sf = _copy_fixture(tmp_path / "sf")
    emb = pq.read_table(f"{sf}/embeddings.parquet")
    orders = pq.read_table(f"{sf}/orders.parquet")
    # every vector gains a twin under a new id, the query vector too
    twins = emb.set_column(0, "vec_id", pc.add(emb["vec_id"], emb.num_rows))
    rewrites = {
        "shrink": [
            ("embeddings", emb.filter(pc.less(emb["vec_id"], 100))),
            ("orders", orders.slice(0, orders.num_rows // 2)),
        ],
        "grow": [
            ("embeddings", pa.concat_tables([emb, twins])),
            ("orders", pa.concat_tables([orders, orders])),
        ],
    }

    before = _results(spark, sf)
    stale = {}
    for direction, files in rewrites.items():
        for name, table in files:
            _rewrite(sf, name, table)
        same = _results(spark, sf)
        fresh = _results(spark.newSession(), sf)
        stale.update(
            {
                f"{direction}/{k}": (same[k], fresh[k])
                for k in same
                if same[k] != fresh[k]
            }
        )
        # every rewrite really changes each answer (no vacuous pass)
        assert all(fresh[k] != before[k] for k in fresh), (direction, fresh)
        before = fresh
    assert not stale, f"stale cache results (same session, fresh): {stale}"

    # Leaks: a third rewrite round leaves one dir per index prefix and
    # no extra catalog tables.
    n_tables = len(spark.catalog.listTables())
    _rewrite(sf, "embeddings", emb)
    _rewrite(sf, "orders", orders)
    _results(spark, sf)
    dirs_a = _index_dirs(spark, sf)
    assert len(spark.catalog.listTables()) == n_tables
    for d in dirs_a:
        assert scratch.own_dirs(_own_prefix(d)) == [d]

    # A second corpus in the same session never reaps the first one's.
    sf_b = _copy_fixture(tmp_path / "sf_b")
    dirs_b = _index_dirs(spark, sf_b)
    assert not set(dirs_b) & set(dirs_a)
    assert all(os.path.isdir(d) for d in dirs_a + dirs_b)
    assert _index_dirs(spark, sf) == dirs_a  # still cache hits


def test_uri_source_is_never_served_stale(spark, tmp_path):
    """A ``file:`` source lists no local file to fingerprint, so the
    table catalog over it is rebuilt on every load, never cached per
    (session, path)."""
    from tweetdb_spark.catalog import load_tables

    sf = _copy_fixture(tmp_path / "sf")
    uri = f"file://{sf}"
    orders = pq.read_table(f"{sf}/orders.parquet")
    assert load_tables(spark, uri)["orders"].count() == orders.num_rows
    _rewrite(sf, "orders", pa.concat_tables([orders, orders]))
    assert load_tables(spark, uri)["orders"].count() == 2 * orders.num_rows
