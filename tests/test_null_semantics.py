"""NULL-semantics parity on inputs the sf fixtures can't reach.

The generated events fixture has no NULLs in user_id/ts/event_type, so
it masks the divergence classes round-10's verdict flagged as latent:
COUNT(DISTINCT x) excludes NULL x while count(*)-after-distinct counts
it, and DuckDB's `||` propagates NULL while concat_ws skips it.  These
tests run the RAW operator bodies on a purpose-built NULL-riddled events
table and compare against the registered DuckDB oracle on the same
parquet — the driver's parity bar, on inputs the driver never sends.
"""

from __future__ import annotations

import datetime as dt

import duckdb
import pytest

from tools.keys import rows_multiset

_TS = dt.datetime(2024, 3, 1, 12, 0, 0)


def _t(minutes: int) -> dt.datetime:
    return _TS + dt.timedelta(minutes=minutes)


# (event_id, ts, user_id, event_type, value, props) — exercises:
#  - NULL user_id inside a group that also has real users ("click")
#  - a group whose user_ids are ALL NULL ("ghost": distinct_users must
#    be 0, and the group must survive the decomposed join)
#  - NULL ts (NULL day) inside "click"
#  - NULL event_type (a NULL GROUP BY key in both engines, and a path
#    segment concat_ws would silently skip)
#  - NULL value (SUM skips it in both engines)
NULL_EVENTS = [
    (1, _t(0), 10, "click", 1.0, None),
    (2, _t(1), None, "click", 2.0, None),      # NULL user in mixed group
    (3, None, 11, "click", 3.0, None),         # NULL ts → NULL day
    (4, _t(2), 10, "click", None, None),       # NULL value
    (5, _t(3), None, "ghost", 4.0, None),      # all-NULL-user group
    (6, _t(4), None, "ghost", 5.0, None),
    (7, _t(5), 12, None, 6.0, None),           # NULL event_type group
    (8, _t(6), 12, None, 7.0, None),
    # user 20: a 5-step journey with a NULL event_type in the middle —
    # the NULL must break the 3-gram on BOTH sides, not be skipped
    (9, _t(10), 20, "a", 1.0, None),
    (10, _t(11), 20, "b", 1.0, None),
    (11, _t(12), 20, None, 1.0, None),
    (12, _t(13), 20, "c", 1.0, None),
    (13, _t(14), 20, "d", 1.0, None),
    # user 21: clean 4-step journey → paths a>b>c and b>c>d
    (14, _t(20), 21, "a", 1.0, None),
    (15, _t(21), 21, "b", 1.0, None),
    (16, _t(22), 21, "c", 1.0, None),
    (17, _t(23), 21, "d", 1.0, None),
    # user 22: NULL-ts event in a 4-step journey — Spark sorts NULLs
    # FIRST ascending, DuckDB defaults them LAST; the oracle pins
    # NULLS FIRST so both engines read the journey x>y>z>w
    (18, None, 22, "x", 1.0, None),
    (19, _t(30), 22, "y", 1.0, None),
    (20, _t(31), 22, "z", 1.0, None),
    (21, _t(32), 22, "w", 1.0, None),
]


@pytest.fixture(scope="module")
def null_events(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("nullsem") / "events.parquet")
    df = spark.createDataFrame(
        NULL_EVENTS,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(path)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    return {"events": spark.read.parquet(path)}, con


def _parity(key, fn, fixture, spark):
    t, con = fixture
    import tweetdb_spark

    tweetdb_spark.load_all_operators()
    from tweetdb_spark.registry import ORACLES

    sdf = fn(spark, t)
    s_rows = [tuple(r) for r in sdf.collect()]
    res = con.execute(ORACLES[key])
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    assert len(s_rows) == len(d_rows), f"{key}: rowcount {len(s_rows)} vs {len(d_rows)}"
    assert rows_multiset(sdf.columns, s_rows) == rows_multiset(d_cols, d_rows), key
    return s_rows


def test_agg_multi_distinct_decomposed_null_parity(null_events, spark):
    """distinct_users/distinct_days must exclude NULLs (COUNT(DISTINCT)
    semantics), an all-NULL-user group must still appear with count 0,
    and the NULL event_type group must survive the decomposed joins."""
    from tweetdb_spark.operators.aggregates import agg_multi_distinct_decomposed

    rows = _parity(
        "agg_multi_distinct_decomposed",
        agg_multi_distinct_decomposed,
        null_events,
        spark,
    )
    by_type = {r[0]: r for r in rows}
    # (event_type, distinct_users, distinct_days, n_events, sum_cents)
    assert by_type["click"][1] == 2       # users 10, 11 — NULL excluded
    assert by_type["click"][2] == 1       # one real day — NULL ts excluded
    assert by_type["click"][3] == 4
    assert by_type["ghost"][1] == 0       # all-NULL users → 0, group kept
    assert by_type["ghost"][2] == 1
    assert None in by_type                # NULL group key kept
    assert by_type[None][1] == 2          # users 12 and 20 (event 11)


def test_events_top_paths_null_parity(null_events, spark):
    """A NULL event_type mid-journey must break the 3-gram identically
    on both engines — concat_ws must never synthesize a 2-segment path
    the oracle's NULL-propagating `||` would reject."""
    from tweetdb_spark.operators.events import events_top_paths

    rows = _parity("events_top_paths", events_top_paths, null_events, spark)
    paths = {r[0] for r in rows}
    # user 21's clean journey yields both 3-grams; user 20's NULL-broken
    # journey contributes no 3-gram (a>b interrupted, c>d too short) —
    # crucially no second "a>b>c" from skipping the NULL.  The NULL
    # *user* partition (events 2, 5, 6 — both engines group NULL
    # user_ids into one window partition) yields click>ghost>ghost.
    assert paths == {
        "a>b>c",
        "b>c>d",
        "click>ghost>ghost",
        # user 22: the NULL-ts event sorts FIRST in both engines (the
        # oracle pins NULLS FIRST to match Spark's ascending default),
        # so the journey is x>y>z>w
        "x>y>z",
        "y>z>w",
    }
    assert all(r[1] == 1 for r in rows)


def test_events_pattern_detect_null_parity(null_events, spark):
    """A user whose event_types are ALL NULL has a NULL journey: Spark's
    regexp_extract propagates NULL while the oracle's no-match COALESCE
    used to turn it into '' (r11 NULL-survey catch)."""
    from tweetdb_spark.operators.events import events_pattern_detect

    rows = _parity("events_pattern_detect", events_pattern_detect, null_events, spark)
    by_user = {r[0]: r for r in rows}
    # user 12: both events have NULL event_type → NULL journey → every
    # derived column NULL (including first_path)
    assert by_user[12][1:] == (None, None, None, None)


def test_events_sliding_null_ts_dropped(null_events, spark):
    """Spark's window(ts, ...) generates NO window for a NULL event
    time; the oracle's raw bucket arithmetic must not keep a NULL-window
    group (r11 NULL-survey catch)."""
    from tweetdb_spark.operators.events import events_sliding

    rows = _parity("events_sliding", events_sliding, null_events, spark)
    assert all(r[0] is not None for r in rows)


def test_events_funnel_zero_signups_null_rates(null_events, spark):
    """No signup events → n_signup = 0: rates must be NULL on both
    engines (DuckDB x/0 is NULL; Spark needs try_divide — the plain `/`
    crashed with ANSI DIVIDE_BY_ZERO, r11 NULL-survey catch)."""
    from tweetdb_spark.operators.events import events_funnel

    rows = _parity("events_funnel", events_funnel, null_events, spark)
    assert len(rows) == 1
    n_signup, n_view, n_purchase, view_rate, purchase_rate = rows[0]
    assert n_signup == 0
    assert view_rate is None and purchase_rate is None


# events_funnel edges: t1 = first signup; a view counts in (t1, t1+7d],
# a purchase in (t2, t2+7d]; later steps join on user_id.
_DAY = 1440
FUNNEL_EVENTS = [
    (1, _t(0), None, "signup", None, None),  # NULL-user signup: n_signup only
    (2, _t(60), None, "view", None, None),  # never joins a NULL user
    (3, None, 1, "signup", None, None),  # only signup has NULL ts
    (4, _t(60), 1, "view", None, None),
    (5, _t(-60), 2, "view", None, None),  # before the signup
    (6, _t(0), 2, "signup", None, None),
    (7, _t(0), 2, "view", None, None),  # at exactly t1: out
    (8, _t(0), 3, "signup", None, None),
    (9, _t(7 * _DAY), 3, "view", None, None),  # at t1 + 7d: in, t2
    (10, _t(14 * _DAY) + dt.timedelta(microseconds=1), 3, "purchase", None, None),
    (11, _t(0), 4, "signup", None, None),  # converts at every step
    (12, _t(_DAY), 4, "view", None, None),
    (13, _t(8 * _DAY), 4, "purchase", None, None),  # at t2 + 7d: in
    (14, _t(0), 5, "signup", None, None),  # t1 is the FIRST signup:
    (15, _t(3 * _DAY), 5, "signup", None, None),  # 9d after t1, 6d
    (16, _t(9 * _DAY), 5, "view", None, None),  # after this one: out
]


def test_events_funnel_null_and_boundary_parity(spark, tmp_path):
    """One user_id pass keeps the oracle's step semantics: a NULL
    user_id group is a signup that never joins a view; a user whose
    only signup has a NULL ts is a signup with no t1; views at t1 and
    before it are out, one at t1 + 7d is in; a purchase 1 µs after
    t2 + 7d is out."""
    from tweetdb_spark.operators.events import events_funnel

    path = str(tmp_path / "events.parquet")
    spark.createDataFrame(
        FUNNEL_EVENTS,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.parquet(path)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    fixture = ({"events": spark.read.parquet(path)}, con)
    rows = _parity("events_funnel", events_funnel, fixture, spark)
    # signups: NULL user and users 1-5; views: 3 and 4; purchase: 4
    assert rows == [(6, 2, 1, 0.3333, 0.1667)]


_CLONE = "the fast big merge spill error skew slow small"
# (doc_id, text): two NULL texts, two '' texts, a clone group of three
# and a singleton whose text contains the clones' (a containment pair)
CLONE_DOCS = [
    (7, None),
    (2, ""),
    (5, _CLONE),
    (4, None),
    (3, _CLONE),
    (8, ""),
    (6, _CLONE),
    (1, _CLONE + " and a tail of its own"),
]


def test_collapse_null_rule_parity(spark, tmp_path):
    """A NULL text equals nothing: each NULL-text doc is its own clone
    group, the least doc_id represents every group, and the text keys
    that collapse clones keep their oracle answers on NULL, empty and
    cloned texts.  dedup_minhash_verdicts gives each NULL-text doc its
    own kept component."""
    from tweetdb_spark.llm.collapse import collapse
    from tweetdb_spark.llm.dedup import dedup_containment, dedup_minhash_verdicts
    from tweetdb_spark.llm.text import (
        doc_fingerprint,
        text_lang_id,
        text_quality,
        text_segment_dedup,
    )

    path = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        [(i, s, "en", "web", None if s is None else len(s)) for i, s in CLONE_DOCS],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(path)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    t = {"documents": spark.read.parquet(path)}

    mem, reps = collapse(t["documents"].select("doc_id", "text"))
    assert sorted((r.doc_id, r.rep_id, r.n_docs) for r in mem.collect()) == [
        (1, 1, 1), (2, 2, 2), (3, 3, 3), (4, 4, 1),
        (5, 3, 3), (6, 3, 3), (7, 7, 1), (8, 2, 2),
    ]
    assert sorted(r.doc_id for r in reps.collect()) == [1, 2, 3, 4, 7]

    for key, fn in [
        ("text_quality", text_quality),
        ("text_lang_id", text_lang_id),
        ("doc_fingerprint", doc_fingerprint),
        ("text_segment_dedup", text_segment_dedup),
        ("dedup_containment", dedup_containment),
    ]:
        _parity(key, fn, (t, con), spark)

    verdicts = {r.doc_id: r for r in dedup_minhash_verdicts(spark, t).collect()}
    assert sorted(verdicts) == [1, 2, 3, 4, 5, 6, 7, 8]
    for i in (4, 7):
        v = verdicts[i]
        assert (v.component_id, v.keep, v.keep_doc_id, v.reason) == (
            i, True, i, "kept"
        )
    assert {verdicts[i].component_id for i in (3, 5, 6)} == {3}


# (vec_id, embedding): three ordinary vectors, an all-zero vector and
# an empty one.  The values are small dyadic rationals, so every
# product and sum is exact on both engines.  In the "equal" corpus the
# ordinary vectors are cyclic shifts with one cosine to the mean, so
# the scores' stddev is 0.
OUTLIER_VECS = {
    "distinct": [[1.0, 0.0, 0.5, 0.25], [0.5, 1.0, 0.0, 0.0], [0.0, 0.5, 1.0, 0.75]],
    "equal": [[1.0, 0.0, 0.5, 0.25], [0.5, 1.0, 0.0, 0.25], [0.0, 0.5, 1.0, 0.25]],
}


@pytest.mark.parametrize("corpus", sorted(OUTLIER_VECS))
def test_embed_outlier_mean_zero_and_empty_vector_parity(spark, tmp_path, corpus):
    """A vector with no direction has a NULL cosine to the mean and a
    NULL z-score on both engines: the all-zero vector must not raise
    DIVIDE_BY_ZERO, and the empty one stays NULL.  Equal scores give a
    NULL z, not a crash."""
    from tweetdb_spark.llm.similarity import embed_outlier_mean

    vecs = OUTLIER_VECS[corpus] + [[0.0] * 4, []]
    path = str(tmp_path / "embeddings.parquet")
    spark.createDataFrame(
        [(i, v, 0) for i, v in enumerate(vecs, 1)],
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.parquet(path)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    fixture = ({"embeddings": spark.read.parquet(path)}, con)
    rows = _parity("embed_outlier_mean", embed_outlier_mean, fixture, spark)
    rows = {r[0]: r for r in rows}
    assert rows[4][1:] == (None, None, None)
    assert rows[5][1:] == (None, None, None)
    assert all(rows[i][1] is not None for i in (1, 2, 3))
    assert all((rows[i][2] is None) == (corpus == "equal") for i in (1, 2, 3))
