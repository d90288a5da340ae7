"""Regression lock for the r11 registry-wide NULL / empty-value surveys.

``tools/keys.py check --edge`` runs every oracle-backed key over an
edge-riddled copy of the fixture, in two modes: NULL injection and
empty-value injection ('' strings, array() vectors).  The first such
sweeps found 9 crashes + 28 semantic divergences in total, all fixed
(final sweeps: 232/232 PASS in BOTH modes).  This module re-runs exactly the
keys that were broken, per mode — the full sweeps stay tools-level
checks (~5 min each); this subset keeps the fixed bug classes from
regressing at pytest speed.
"""

from __future__ import annotations

import duckdb
import pytest

from tests.conftest import SF_DIR
from tools.keys import register_duck_views, riddled, rows_multiset
from tweetdb_spark.catalog import load_tables

# keys the NULL-mode surveys caught (crash or divergence)
NULL_FIXED_KEYS = [
    "dedup_minhash_banded",
    "dedup_incremental_minhash",
    "udf_cogrouped_map",
    "ingest_binary_files",
    "multimodal_features",
    "multimodal_decode_stub",
    "cte_recursive_chain",
    "win_frame_rows",
    "fn_string",
    "ingest_json_corrupt",
    "scan_merge_schema",
    "ingest_xml",
    "join_asof_nearest",
    "sketch_distinct_merge",
    "sketch_quantile_merge",
    "sketch_quantile_grouped",
    "agg_incremental",
    "pandas_api_bridge",
    "win_distribution",
    "agg_mode",
    "value_histogram",
    "mask_format_preserving",
    "fn_aes_roundtrip",
    "corpus_interleave",
    "stream_topk_windowed",
    "udaf_pandas_agg",
    "win_first_last",
    "win_frame_range",
    "snapshot_time_travel",
    "snapshot_expire",
    "join_incremental",
]

# keys the empty-value survey caught
EMPTY_FIXED_KEYS = [
    "fn_array",
    "embed_project_jl",
    "embed_quantize_i8",
    "sim_pairwise_label",
    "sim_pairwise_label_sampled",
    "dedup_embedding_cosine",
    "udaf_pandas_agg",
    "multimodal_norm",
    "ingest_json",
    "fn_map_json",
    "mask_format_preserving",
    "corpus_interleave",
    "sink_parquet_part",
    "ingest_csv",
    "ingest_json_corrupt",
    "ingest_binary_files",
    "snapshot_time_travel",
    "snapshot_expire",
    "fn_variant_json",
    "doc_fingerprint",
    "dedup_ngram_jaccard",
    "events_interpolate",
    "fn_url_parse",
    "corpus_url_filter",
]


@pytest.fixture(scope="module", params=["null", "empty"])
def edge_catalog(spark, request):
    """The riddled copy of the fixture and a DuckDB connection over it."""
    d = riddled(spark, SF_DIR, request.param)
    con = duckdb.connect()
    register_duck_views(con, d)
    yield request.param, d, con
    con.close()
    load_tables(spark, SF_DIR)  # point the temp views back at the fixture


_ALL = sorted(set(NULL_FIXED_KEYS) | set(EMPTY_FIXED_KEYS))


@pytest.mark.parametrize("key", _ALL)
def test_fixed_key_matches_oracle_on_edge_catalog(key, edge_catalog, spark, registry):
    mode, sf_dir, con = edge_catalog
    relevant = NULL_FIXED_KEYS if mode == "null" else EMPTY_FIXED_KEYS
    if key not in relevant:
        pytest.skip(f"{key} was a {('empty' if mode == 'null' else 'null')}-mode catch")
    from tweetdb_spark.registry import ordered_queries

    queries, oracles = ordered_queries()
    sdf = queries[key](spark, sf_dir)
    s_rows = [tuple(r) for r in sdf.collect()]
    res = con.execute(oracles[key])
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    assert len(s_rows) == len(d_rows), (
        f"{key}: {len(s_rows)} vs {len(d_rows)} rows on the {mode} catalog"
    )
    assert rows_multiset(sdf.columns, s_rows) == rows_multiset(d_cols, d_rows), (
        key,
        mode,
    )


def test_interpolate_half_boundary_is_engine_exact(spark, registry, tmp_path):
    """r14 second-seed survey catch (NULL_SEED=77002331): when linear
    interpolation lands exactly on a 4th-decimal HALF, the engines'
    double-ROUND pipelines could disagree by one final digit even with
    matched float op order (Spark 155.8203 vs DuckDB 155.8202).  The
    fix computes round-half-away-from-zero on the exact int64 rational
    on BOTH sides.  This pins a constructed tie: purchases of 100.00
    at hour 0 and 100.01 at hour 8 put the hour-1 interpolation at
    exactly 100.00125 -> 100.0013 (away from zero), identical in both
    engines."""
    from tweetdb_spark.operators.events import events_interpolate
    from tweetdb_spark.registry import ORACLES

    ev = spark.createDataFrame(
        [
            (1, "2024-01-01 00:10:00", 7, "purchase", 100.00, "{}"),
            (2, "2024-01-01 08:10:00", 7, "purchase", 100.01, "{}"),
        ],
        "event_id long, ts_s string, user_id long, event_type string, "
        "value double, props string",
    ).selectExpr(
        "event_id", "CAST(ts_s AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value", "props",
    )
    p = str(tmp_path / "events.parquet")
    ev.coalesce(1).write.parquet(p)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{p}/*.parquet')")
    s = {
        r.hour_start: r.revenue_interp
        for r in events_interpolate(spark, {"events": spark.read.parquet(p)}).collect()
    }
    d = {r[0]: r[2] for r in con.execute(ORACLES["events_interpolate"]).fetchall()}
    assert s == d, (s, d)
    import datetime

    tie_hour = datetime.datetime(2024, 1, 1, 1, 0)
    assert s[tie_hour] == 100.0013, s[tie_hour]
