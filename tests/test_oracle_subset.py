"""In-pytest oracle parity for a fast subset of hash-checked keys.

The full sweep is ``tools/keys.py check``; this guards the same
contract for anyone running only `pytest` — one key per operator
family, at sf0.001 for speed.
"""

from __future__ import annotations

import duckdb
import pytest

from tests.conftest import SF_DIR
from tools.keys import register_duck_views, rows_multiset

FAST_KEYS = [
    "scan_pruned",
    "project_arith",
    "join_multiway",
    "agg_grouped",
    "win_rank_topk",
    "setop_union",
    "fn_datetime",
    "udf_pandas_scalar",
    "dedup_exact",
    "sim_topk_cosine",
    "text_stats",
    "events_tumbling",
    "multimodal_meta",
    "merge_upsert",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    register_duck_views(con, SF_DIR)
    return con


@pytest.mark.parametrize("key", FAST_KEYS)
def test_oracle_parity(key, registry, spark, duck):
    sdf = registry.QUERIES[key](spark, SF_DIR)
    s_rows = [tuple(r) for r in sdf.collect()]
    res = duck.execute(registry.ORACLES[key])
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    assert len(s_rows) == len(d_rows), f"{key}: rowcount"
    assert sorted(sdf.columns) == sorted(d_cols), f"{key}: schema"
    assert rows_multiset(sdf.columns, s_rows) == rows_multiset(d_cols, d_rows), key
