"""Operator-semantics unit tests at sf0.001 (SURVEY.md §5.3).

The DuckDB hash parity for every declared key is exercised by
``tools/keys.py check`` (and ``__spark_entry__``'s CORRECTNESS check);
these tests assert *semantic* properties the hash can't see: ordering,
algebraic invariants, determinism across runs.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR, forced_gate_forms


@pytest.fixture(scope="module")
def q(registry, spark):
    def run(name):
        return registry.QUERIES[name](spark, SF_DIR)

    return run


def test_topk_global_is_sorted_desc(q):
    rows = q("topk_global").collect()
    assert len(rows) == 10
    prices = [r.o_totalprice for r in rows]
    assert prices == sorted(prices, reverse=True)


def test_sort_multicol_order(q):
    rows = q("sort_multicol").collect()
    keys = [(r.s_nationkey, -r.s_acctbal, r.s_suppkey) for r in rows]
    assert keys == sorted(keys)


def test_win_rank_topk_at_most_3_per_customer(q):
    from collections import Counter

    rows = q("win_rank_topk").collect()
    per_cust = Counter(r.o_custkey for r in rows)
    assert max(per_cust.values()) <= 3
    assert all(1 <= r.rn <= 3 for r in rows)


def test_dedup_exact_idempotent(q):
    """Dedup of an already-deduped set keeps every row (L1 invariant)."""
    df = q("dedup_exact")
    n = df.count()
    assert df.select("text_hash").distinct().count() == n
    assert df.where("n_copies < 1").count() == 0


def test_jaccard_bounds_and_symmetry(q):
    rows = q("dedup_near_jaccard").collect()
    for r in rows:
        assert 0.8 <= r.jaccard <= 1.0
        assert r.doc_a < r.doc_b


def test_cosine_self_similarity_is_1(spark, registry):
    """cos(v, v) == 1 for the query vector against itself (L4 invariant)."""
    from pyspark.sql import functions as F

    from tweetdb_spark.catalog import load_tables
    from tweetdb_spark.llm.similarity import cosine, dot, with_norm

    t = load_tables(spark, SF_DIR)
    e = with_norm(t["embeddings"].limit(20))
    rows = e.select(
        cosine(dot("embedding", "embedding"), F.col("norm"), F.col("norm")).alias("c")
    ).collect()
    for r in rows:
        assert abs(r.c - 1.0) < 1e-12


def test_asof_join_signup_not_after_purchase(q):
    rows = q("join_asof").collect()
    assert rows, "expected at least one purchase with a prior signup"
    for r in rows:
        assert r.signup_ts <= r.purchase_ts


def test_interval_join_within_hour(q):
    import datetime

    rows = q("join_interval").collect()
    assert rows


def test_setops_consistency(q):
    inter = {r.nationkey for r in q("setop_intersect").collect()}
    exc = {r.nationkey for r in q("setop_except").collect()}
    assert not (inter & exc)


def test_grouping_sets_matches_union_of_groupbys(q, spark, tables):
    n_lang = tables["documents"].select("lang").distinct().count()
    n_src = tables["documents"].select("source").distinct().count()
    assert q("agg_grouping_sets").count() == n_lang + n_src + 1


def test_udtf_handles_null_text(spark):
    """TokenizeUDTF must yield nothing for NULL input, not crash
    (the fixture corpus has no nulls, so this branch needs a crafted
    row)."""
    from tweetdb_spark.functions.udfs import TokenizeUDTF

    spark.udtf.register("tokenize_nulltest", TokenizeUDTF)
    spark.createDataFrame(
        [(1, "a b"), (2, None)], "doc_id long, text string"
    ).createOrReplaceTempView("nulldocs")
    rows = spark.sql(
        "SELECT d.doc_id, tk.token, tk.pos "
        "FROM nulldocs d, LATERAL tokenize_nulltest(d.text) tk"
    ).collect()
    assert sorted((r.doc_id, r.token, r.pos) for r in rows) == [
        (1, "a", 1),
        (1, "b", 2),
    ]


def test_resample_ffill_leading_gap_stays_null(spark):
    """Hours before the first observation have nothing to forward-fill
    — revenue_ffill must stay NULL there, then fill after the first
    value (crafted data; operator functions take (spark, tables))."""
    import datetime as dt

    from tweetdb_spark.operators import events as E

    rows = [
        # first purchase at 12:00; grid is built from purchases only,
        # so craft one earlier purchase-hour gap by spreading values
        (1, dt.datetime(2024, 1, 1, 12, 5), 7, "purchase", 10.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 15, 5), 7, "purchase", 20.0, "{}"),
    ]
    crafted = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = {
        r.hour_start.hour: (r.revenue, r.revenue_ffill, r.was_gap)
        for r in E.events_resample_ffill(spark, {"events": crafted}).collect()
    }
    assert set(out) == {12, 13, 14, 15}
    assert out[12] == (10.0, 10.0, 0)
    assert out[13] == (None, 10.0, 1)   # gap carries 12:00's value
    assert out[14] == (None, 10.0, 1)
    assert out[15] == (20.0, 20.0, 0)


def test_same_result_across_runs(q):
    """Determinism: two executions of a rank query give identical rows."""
    a = sorted(map(tuple, q("win_rank_dense").collect()))
    b = sorted(map(tuple, q("win_rank_dense").collect()))
    assert a == b


def test_setop_all_multiplicity(q):
    """Bag-semantics identities: |A ∩all B| + |A \\all B| = |A| per key,
    and the DISTINCT forms are the support of the ALL forms."""
    from collections import Counter

    inter_all = Counter(r.nationkey for r in q("setop_intersect_all").collect())
    except_all = Counter(r.nationkey for r in q("setop_except_all").collect())
    union_rows = q("setop_union").collect()
    left = Counter(r.nationkey for r in union_rows if r.kind == "cust")
    right = Counter(r.nationkey for r in union_rows if r.kind == "supp")
    for k, n in left.items():
        assert inter_all[k] == min(n, right.get(k, 0)), k
        assert except_all[k] == max(0, n - right.get(k, 0)), k
    assert set(Counter(r.nationkey for r in q("setop_intersect").collect())) == {
        k for k, v in inter_all.items() if v > 0
    }


def test_union_byname_null_fills(q):
    """unionByName fills columns missing on one side with NULL, never
    misaligns by position."""
    rows = q("setop_union_byname").collect()
    cust = [r for r in rows if r.nationkey is None]
    supp = [r for r in rows if r.mktsegment is None]
    assert len(cust) + len(supp) == len(rows)
    assert all(r.mktsegment is not None for r in cust)
    assert all(r.nationkey is not None for r in supp)


def test_zorder_buckets_are_local_in_both_dims(q):
    """The z-order locality property: a top-4-bit z bucket fixes the 2
    high bits of EACH dimension, so every bucket spans at most 1/4 of
    each 0..255 range — that bound is what makes min/max file skipping
    work on either column."""
    rows = q("zorder_layout").collect()
    assert rows, "no buckets"
    for r in rows:
        assert r.x_span <= 63, (r.zbucket, r.x_span)
        assert r.y_span <= 63, (r.zbucket, r.y_span)
        assert r.x_max - r.x_min == r.x_span


def test_dq_expectations_rates_consistent(q):
    """Violation rate must equal n_violations/total; the NOT NULL rule
    on l_shipdate must hold on the fixture."""
    rows = {r.rule: r for r in q("dq_expectations").collect()}
    assert len(rows) == 6
    assert rows["shipdate_not_null"].n_violations == 0
    assert rows["returnflag_in_A_N"].n_violations > 0
    total = None
    for r in rows.values():
        if r.n_violations:
            implied = r.n_violations / r.violation_rate
            total = total or implied
            assert abs(implied - total) / total < 1e-3


def test_interpolate_midpoint_and_copies_known(spark):
    """On a synthetic series with one missing hour exactly between two
    known points, the interpolated value is their midpoint; known
    hours pass through unchanged."""
    import tweetdb_spark.operators.events as ev
    from tweetdb_spark.registry import QUERIES, Tables

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:30:00", 7, "purchase", 10.0, "{}"),
            (2, "2024-01-01 02:30:00", 7, "purchase", 30.0, "{}"),
        ],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value", "props"
    )
    # @query returns the undecorated (spark, t) function, so the module
    # attribute is callable with an in-memory Tables dict directly
    t = Tables({"events": df})
    out = {r.hour_start.hour: r for r in ev.events_interpolate(spark, t).collect()}
    assert out[0].revenue_interp == 10.0 and out[0].was_gap == 0
    assert out[2].revenue_interp == 30.0 and out[2].was_gap == 0
    assert out[1].was_gap == 1
    assert abs(out[1].revenue_interp - 20.0) < 1e-9


def test_approx_top_freq_matches_exact_twin(registry, spark):
    """Sketch ≫ cardinality ⇒ counts exact; only tie ORDER may differ."""
    from tests.conftest import SF_DIR

    exact = {
        (r.l_partkey, r.cnt)
        for r in registry.QUERIES["agg_top_freq"](spark, SF_DIR).collect()
    }
    approx = {
        (r.l_partkey, r.cnt)
        for r in registry.QUERIES["agg_approx_top_freq"](spark, SF_DIR).collect()
    }
    # count multisets agree; item sets may differ only at the tie boundary
    assert sorted(c for _, c in exact) == sorted(c for _, c in approx)
    boundary = min(c for _, c in exact)
    assert {p for p, c in exact if c > boundary} == {
        p for p, c in approx if c > boundary
    }


def test_table_diff_classification_partitions(q, tables):
    """Diff classes are disjoint and keyed exactly by the synthesized
    mutations: %11 keys deleted, %7 (surviving) keys changed, %13 keys
    re-keyed as adds — and no 'unchanged' rows leak into the output."""
    rows = q("table_diff").collect()
    by_change = {}
    for r in rows:
        by_change.setdefault(r.change, set()).add(r.o_orderkey)
    base_keys = {
        r.o_orderkey for r in tables["orders"].select("o_orderkey").collect()
    }
    assert by_change["deleted"] == {k for k in base_keys if k % 11 == 0}
    assert by_change["changed"] == {
        k for k in base_keys if k % 11 != 0 and k % 7 == 0
    }
    assert by_change["added"] == {
        k + 100000000 for k in base_keys if k % 13 == 0
    }
    # changed rows carry both prices; added/deleted carry exactly one
    for r in rows:
        if r.change == "changed":
            assert r.old_totalprice is not None and r.new_totalprice is not None
            assert abs(r.new_totalprice - 1.1 * r.old_totalprice) < 0.01
        elif r.change == "added":
            assert r.old_totalprice is None and r.new_totalprice is not None
        else:
            assert r.new_totalprice is None and r.old_totalprice is not None


def test_dq_k_anonymity_group_math(q, tables):
    """group_n sums to |customer| and at_risk == (group_n < 5)."""
    rows = q("dq_k_anonymity").collect()
    assert sum(r.group_n for r in rows) == tables["customer"].count()
    assert all(r.at_risk == (r.group_n < 5) for r in rows)
    # QI tuples are unique in the report
    assert len({(r.c_nationkey, r.c_mktsegment) for r in rows}) == len(rows)


def test_cms_upper_bound_and_linear_merge(q, spark, tables):
    """sketch_cms_merge's two contracts beyond the oracle hash:
    (1) CMS never undercounts (overcount ≥ 0 on every probe);
    (2) the per-day-merged counter grid is BIT-IDENTICAL to a grid
    built in one pass over the raw events — counter addition is the
    whole merge, so 'sketch per shard, sum later' loses nothing."""
    from pyspark.sql import functions as F

    from tweetdb_spark.operators.aggregates import _cms_hashes

    rows = q("sketch_cms_merge").collect()
    assert rows
    assert all(r.overcount >= 0 for r in rows)
    assert all(r.cms_est >= r.exact_cnt for r in rows)

    ev = tables["events"].select("user_id", F.to_date("ts").alias("day"))
    bucketed = ev.select(
        "day", F.explode(_cms_hashes(F.col("user_id"))).alias("h")
    ).select("day", "h.j", "h.bucket")
    merged = (
        bucketed.groupBy("day", "j", "bucket")
        .agg(F.count("*").alias("c"))
        .groupBy("j", "bucket")
        .agg(F.sum("c").alias("c"))
    )
    direct = bucketed.groupBy("j", "bucket").agg(F.count("*").alias("c"))
    assert merged.exceptAll(direct).count() == 0
    assert direct.exceptAll(merged).count() == 0


def test_quantile_sketch_monotone_and_linear_merge(q, spark, tables):
    """sketch_quantile_merge: estimates must be non-decreasing in q and
    exact-bracketing (within_width is also oracle-pinned); the per-day
    histogram grids must merge to exactly the one-pass grid."""
    from pyspark.sql import functions as F

    rows = sorted(q("sketch_quantile_merge").collect(), key=lambda r: r.q)
    assert [r.q for r in rows] == [25, 50, 75, 90, 99]
    assert all(r.within_width for r in rows)
    ests = [r.est_hi_cents for r in rows]
    assert ests == sorted(ests)
    exacts = [r.exact_cents for r in rows]
    assert exacts == sorted(exacts)

    ev = tables["events"].select(
        F.to_date("ts").alias("day"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("v"),
    )
    b = ev.agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    ).withColumn("width", F.expr("greatest(1L, (hi - lo + 256) DIV 256)"))
    bucketed = ev.crossJoin(F.broadcast(b)).select(
        "day", F.expr("least(255, (v - lo) DIV width)").alias("bucket")
    )
    merged = (
        bucketed.groupBy("day", "bucket")
        .agg(F.count("*").alias("c"))
        .groupBy("bucket")
        .agg(F.sum("c").alias("c"))
    )
    direct = bucketed.groupBy("bucket").agg(F.count("*").alias("c"))
    assert merged.exceptAll(direct).count() == 0
    assert direct.exceptAll(merged).count() == 0


def test_asof_nearest_never_farther_than_backward(q, spark):
    """The backward match is one of nearest's candidates, so per
    purchase the nearest distance can never exceed the backward
    distance (and both keys must cover the same purchases that have
    any signup at all — backward misses purchases with only LATER
    signups, nearest doesn't)."""
    from pyspark.sql import functions as F

    nearest = q("join_asof_nearest").select(
        "purchase_id", F.col("abs_us").alias("nearest_us")
    )
    backward = q("join_asof").select(
        "purchase_id",
        (
            F.unix_micros("purchase_ts") - F.unix_micros("signup_ts")
        ).alias("backward_us"),
    )
    j = nearest.join(backward, "purchase_id")
    assert j.where(F.col("nearest_us") > F.col("backward_us")).count() == 0
    # backward's matches are a subset of nearest's
    assert backward.join(nearest, "purchase_id", "left_anti").count() == 0


def test_cogrouped_map_handles_one_sided_groups(spark):
    """A key present on only one cogroup side must still produce a row
    with the other side zeroed — the empty-DataFrame branch of the
    merge fn."""
    from tweetdb_spark.functions.udfs import udf_cogrouped_map

    cust = spark.createDataFrame(
        [(1, 10.0), (1, 5.5), (2, 7.0)], "c_nationkey long, c_acctbal double"
    )
    supp = spark.createDataFrame(
        [(2, 3.0), (3, 1.0)], "s_nationkey long, s_acctbal double"
    )
    out = {
        r.nationkey: r
        for r in udf_cogrouped_map(spark, {"customer": cust, "supplier": supp}).collect()
    }
    assert out[1].n_cust == 2 and out[1].n_supp == 0 and out[1].supp_bal_cents == 0
    assert out[1].cust_bal_cents == 1550
    assert out[2].n_cust == 1 and out[2].n_supp == 1
    assert out[3].n_cust == 0 and out[3].cust_bal_cents == 0


def test_map_arrow_filter_stays_pushed_to_scan(q):
    """The price predicate must reach the parquet scan as a pushed
    filter — mapInArrow is an optimizer black box, so the plan shape
    proves the filter was kept OUTSIDE the UDF."""
    df = q("udf_map_arrow")
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice,150000" in plan, plan


def test_gap_islands_on_planted_streaks(spark):
    """Hand-checkable corpus: user 1 has days {1,2,3, 6,7} → 2 streaks,
    longest 3; user 2 has one day → 1 streak of 1."""
    import datetime

    rows = []
    base = datetime.datetime(2024, 3, 1, 12, 0, 0)
    for day in [0, 1, 2, 5, 6, 5]:  # dup day 5 must not split a streak
        rows.append((1, base + datetime.timedelta(days=day)))
    rows.append((2, base))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    from tweetdb_spark.operators.events import events_gap_islands

    out = {r.user_id: r for r in events_gap_islands(spark, {"events": df}).collect()}
    assert out[1].n_active_days == 5
    assert out[1].n_streaks == 2 and out[1].longest_streak == 3
    assert out[2].n_streaks == 1 and out[2].longest_streak == 1


def test_rolling_quantile_median_hand_check(spark):
    """Trailing-10 median on a planted series: first row's frame is
    itself, a 2-row frame interpolates to the midpoint."""
    import datetime

    base = datetime.datetime(2024, 3, 1)
    rows = [
        (1, 7, base + datetime.timedelta(minutes=i), float(v))
        for i, v in enumerate([1.00, 2.00, 10.00])
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp, value double")
    from tweetdb_spark.operators.windows import win_rolling_quantile

    out = sorted(
        win_rolling_quantile(spark, {"events": df}).collect(),
        key=lambda r: r.event_id,
    )
    assert [r.rolling_median_cents for r in out] == [100.0, 150.0, 200.0]


def test_collation_sees_both_spellings(q):
    """n_raw_spellings == 2 for populated groups proves the collated
    predicate really unified distinct binary spellings (not a
    single-case vacuous match)."""
    rows = q("fn_collation").collect()
    assert rows and any(r.n_raw_spellings == 2 for r in rows)
    assert all(r.n_raw_spellings in (1, 2) for r in rows)


def test_impute_mode_fill_uses_group_mode(spark):
    """Planted groups: nation 1's mode is 'A' (2 vs 1), so its holed
    row fills to 'A'; non-holed rows pass through untouched."""
    rows = [
        (11, 1, "A"), (12, 1, "A"), (13, 1, "B"),
        (22, 1, "ignored"),  # 22 % 11 == 0 -> planted NULL, must become A
        (14, 2, "C"), (33, 2, "ignored"),  # 33 -> NULL, fills to C
    ]
    df = spark.createDataFrame(rows, "c_custkey long, c_nationkey long, c_mktsegment string")
    from tweetdb_spark.operators.analytics import impute_mode_fill

    out = {r.c_custkey: r for r in impute_mode_fill(spark, {"customer": df}).collect()}
    assert out[22].seg_filled == "A" and out[22].was_imputed
    assert out[33].seg_filled == "C" and out[33].was_imputed
    assert out[13].seg_filled == "B" and not out[13].was_imputed


def test_try_arithmetic_nulls_instead_of_raising(q):
    """Zero discounts must produce NULL ratios (not inf/error), and no
    returnflag parses as an integer."""
    rows = q("fn_try_arithmetic").collect()
    assert rows
    assert any(r.price_per_disc is None for r in rows)
    assert all(r.flag_as_int is None for r in rows)
    assert all(r.date_not_numeric for r in rows)


def test_win_count_distinct_monotone_and_bounded(q):
    """Per user, the running distinct count must be non-decreasing in
    event order and end at the user's true distinct-type count."""
    from collections import defaultdict

    rows = q("win_count_distinct").collect()
    seq = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r.user_id, r.event_id)):
        seq[r.user_id].append(r.distinct_types_to_date)
    assert seq
    for u, xs in seq.items():
        assert xs[0] == 1
        assert all(b - a in (0, 1) for a, b in zip(xs, xs[1:]))
        assert xs[-1] <= 5


def test_join_incremental_identity_on_planted_deltas(spark):
    """The IVM union must equal the monolithic join on a corpus where
    every quadrant (A×B, ΔA×B, A×ΔB, ΔA×ΔB) is populated."""
    import datetime

    old, new = datetime.date(1995, 1, 1), datetime.date(1997, 1, 1)
    orders = spark.createDataFrame(
        [(1, old, 10.0), (1, new, 20.0), (2000, old, 40.0), (2000, new, 80.0)],
        "o_custkey long, o_orderdate date, o_totalprice double",
    )
    cust = spark.createDataFrame(
        [(1, "SEG_OLD"), (2000, "SEG_NEW")],
        "c_custkey long, c_mktsegment string",
    )
    from tweetdb_spark.operators.joins import join_incremental

    out = {r.c_mktsegment: r for r in join_incremental(
        spark, {"orders": orders, "customer": cust}).collect()}
    assert out["SEG_OLD"].n_orders == 2 and out["SEG_OLD"].total_cents == 3000
    assert out["SEG_NEW"].n_orders == 2 and out["SEG_NEW"].total_cents == 12000


def test_bitmap_native_agrees_with_array_form(q):
    """Built-in bitmap aggregates and the array-set form must report
    identical per-day and total distinct counts."""
    native = {r.day: (r.n_daily, r.n_total) for r in q("agg_bitmap_native").collect()}
    arr = {r.day: (r.n_daily, r.merged_total) for r in q("agg_bitmap_distinct").collect()}
    assert native == arr
    assert all(r.rollup_lossless for r in q("agg_bitmap_native").collect())


def test_sql_udf_inlines_into_codegen(q):
    """The SQL UDF must leave no UDF node in the physical plan — it is
    inlined (the whole point vs a Python UDF), so the plan shows only
    projections inside WholeStageCodegen."""
    df = q("fn_sql_udf")
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # '*'-starred operators are inside WholeStageCodegen; the inlined
    # CASE body is visible in the Project, no function-call node left
    assert "* Project" in plan and "ELSE standard END" in plan


def test_keyset_page_is_gapless_and_disjoint(q, spark):
    """Pages 1 and 2 must be disjoint, and their union must equal the
    top-40 of the same total order — no skipped or repeated rows at
    the page boundary (the keyset invariant)."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_DIR
    from tweetdb_spark.catalog import load_tables

    page2 = [(r.cents, r.o_orderkey) for r in q("topk_keyset_page").collect()]
    orders = load_tables(spark, SF_DIR)["orders"]
    ranked = orders.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    top40 = [
        (r.cents, r.o_orderkey)
        for r in ranked.orderBy(F.col("cents").desc(), "o_orderkey")
        .limit(40)
        .collect()
    ]
    assert page2 == top40[20:]


def test_filtered_agg_measures_are_conditioned(q):
    """Filtered measures must be bounded by the unconditioned ones."""
    rows = q("agg_filtered").collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_urgent <= r.n_orders
        assert r.recent_cents >= 0


def test_pattern_detect_on_planted_journey(spark):
    """Hand-checkable journeys: 'svvp' matches s[cv]*p with the full
    string; 'pvs' doesn't; 'spsp' counts 2 direct conversions."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = []
    for uid, seq in [(1, "svvp"), (2, "pvs"), (3, "spsp")]:
        names = {"s": "signup", "v": "view", "p": "purchase", "c": "click"}
        for i, ch in enumerate(seq):
            rows.append((uid * 100 + i, base + datetime.timedelta(minutes=i), uid, names[ch], 1.0))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    from tweetdb_spark.operators.events import events_pattern_detect

    out = {r.user_id: r for r in events_pattern_detect(spark, {"events": df}).collect()}
    assert out[1].has_conversion_path and out[1].first_path == "svvp"
    assert not out[2].has_conversion_path and out[2].first_path == ""
    assert out[3].n_direct_conversions == 2 and out[3].first_path == "sp"


def test_geo_grid_blocking_is_complete_on_planted_edges(spark):
    """The grid join's center-0 hit count must equal a pure-Python
    all-pairs reference over 5000 derived points — on/off-radius and
    diagonal-neighbor-cell cases all occur in that range, so a 3x3
    neighborhood gap would show up as a count mismatch."""
    import datetime

    from tweetdb_spark.operators.joins import join_geo_grid, _GEO_R

    hits = 0
    for eid in range(5000):
        plat, plon = (eid * 37) % 1700, (eid * 73) % 1700
        if (plat - 200) ** 2 + (plon - 300) ** 2 <= _GEO_R * _GEO_R:
            hits += 1
    base = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(eid, base, 1, "click", 1.0) for eid in range(5000)],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    out = {r.center_id: r.n_within for r in join_geo_grid(spark, {"events": df}).collect()}
    assert out.get(0, 0) == hits


def test_url_parse_dissects_planted_url(spark):
    """parse_url must agree with a hand-decomposed URL: host/path split,
    full query, keyed param extraction, and %20 decoding."""
    df = spark.createDataFrame(
        [(42, "body", "en", "src3", 4)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    from tweetdb_spark.functions.scalar import fn_url_parse

    r = fn_url_parse(spark, {"documents": df}).collect()[0]
    assert r.url == "https://src3.example.com/docs/en/42?q=en%20src3&page=0"
    assert r.host == "src3.example.com"
    assert r.path == "/docs/en/42"
    assert r.query == "q=en%20src3&page=0"
    assert r.q_raw == "en%20src3"
    assert r.q_decoded == "en src3"
    assert r.page == 0


def test_nested_struct_variants_and_field_surgery(spark):
    """withField/dropFields/inline must emit exactly two variants per
    order: part 1 verbatim cents, part 2 lower-cased + doubled; the
    dropped float price must not survive into the output schema."""
    df = spark.createDataFrame(
        [(50, "O", 12.345), (100, "F", 2.0)],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    from tweetdb_spark.functions.scalar import fn_nested_struct

    out = fn_nested_struct(spark, {"orders": df})
    assert set(out.columns) == {"o_orderkey", "part", "status", "cents"}
    rows = {(r.o_orderkey, r.part): r for r in out.collect()}
    assert len(rows) == 4
    assert rows[(50, 1)].status == "O" and rows[(50, 1)].cents == 1235
    assert rows[(50, 2)].status == "o" and rows[(50, 2)].cents == 2470
    assert rows[(100, 2)].cents == 400


def test_embed_outlier_flags_planted_antipode(spark):
    """A vector pointing opposite a tight cluster must be the unique
    outlier: most-negative z and is_outlier set; cluster members not."""
    base = [1.0] + [0.1] * 7
    anti = [-1.0] + [-0.1] * 7
    rows = [(i, [v + 0.001 * i for v in base], 0) for i in range(40)]
    rows.append((99, anti, 1))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    from tweetdb_spark.llm.similarity import embed_outlier_mean

    out = {r.vec_id: r for r in embed_outlier_mean(spark, {"embeddings": df}).collect()}
    assert out[99].is_outlier
    assert min(out.values(), key=lambda r: r.z).vec_id == 99
    assert all(not out[i].is_outlier for i in range(40))


def test_value_histogram_two_pass_equals_ntile_window(
    registry, spark, monkeypatch
):
    """r16 optimization round: the bucketed closed-form decile (rank
    base + within-bucket row_number, NTile's remainder arithmetic) must
    be row-identical to the direct per-type ntile window."""
    direct, two = forced_gate_forms(registry, spark, monkeypatch, "value_histogram")
    assert direct == two
