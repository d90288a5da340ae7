"""Physical-plan assertions (SURVEY.md §4) — the 100 TB posture checks.

Correctness says *what* came back; these tests pin *how*: filters
reach the parquet scan, projections prune columns, small dims
broadcast, top-k avoids a global sort, per-group top-k is pushed
below the shuffle.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR
from tools.plan_audit import broadcasts


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def q(registry, spark):
    def run(name):
        return registry.QUERIES[name](spark, SF_DIR)

    return run


def test_scan_pruned_pushes_filters_and_prunes_columns(q):
    plan = _plan(q("scan_pruned"))
    assert "PushedFilters: [" in plan
    assert "LessThan(l_quantity" in plan
    # l_discount is in neither the projection nor the predicates:
    assert "l_discount" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_scan_parquet_prunes_readschema(q):
    plan = _plan(q("scan_parquet"))
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema


def test_join_inner_broadcast_uses_bhj(q):
    plan = _plan(q("join_inner_broadcast"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_join_multiway_broadcasts_dims(q):
    plan = _plan(q("join_multiway"))
    assert plan.count("BroadcastHashJoin") >= 3  # supplier, nation, region


@pytest.mark.parametrize("key", ["join_multiway", "q3_top_orders"])
def test_tpch_joins_stream_lineitem(q, key):
    """lineitem is the streamed side of every join: Spark sizes a pruned
    parquet scan from compressed bytes, so a lineitem join input can
    fall under the broadcast threshold and get built on the driver.
    The final adaptive plan must broadcast no lineitem scan."""
    built = [tables for _, _, tables in broadcasts(q(key))]
    assert built and not any("lineitem" in t for t in built), built


def test_events_funnel_one_scan_no_broadcast(q):
    """The funnel is one user_id aggregation over one events scan, not
    a scan and a join per step with broadcast step results."""
    import re

    df = q("events_funnel")
    assert len(re.findall(r"\(\d+\) Scan parquet", _plan(df))) == 1
    assert broadcasts(df) == []


def test_topk_global_is_take_ordered(q):
    plan = _plan(q("topk_global"))
    assert "TakeOrderedAndProject" in plan


def test_win_rank_topk_pushes_group_limit(q):
    plan = _plan(q("win_rank_topk"))
    assert "WindowGroupLimit" in plan


def test_agg_grouped_is_two_phase_hash(q):
    plan = _plan(q("agg_grouped"))
    assert plan.count("HashAggregate") >= 2


def test_negative_pairs_single_skinny_shuffle_no_candidate_sort(q):
    """corpus_negative_pairs (r16 form) must shuffle only the Θ(n)
    SKINNY (doc_id, lang, bucket) frame once and draw per-bucket in an
    Arrow kernel — the r13-r15 join+window form materialized the
    Θ(n·c) candidate mass through a per-partition Sort even under the
    optimal Partial-WindowGroupLimit plan (1.19B sorted rows at sf100,
    82% of the key's wall; sweeps/neg_pairs_attrib_r16.log).  Locks:
    no join, no WindowGroupLimit, exactly one non-broadcast exchange
    (the bucket shuffle), the kernel node present, and the scan pruned
    to the two input columns with the lang filter pushed down."""
    plan = _plan(q("corpus_negative_pairs"))
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "WindowGroupLimit" not in plan, plan
    assert "Join" not in plan, plan
    lines = plan.splitlines()
    ex = [ln for ln in lines if "Exchange (" in ln and "Broadcast" not in ln]
    assert len(ex) == 1, plan
    assert "PushedFilters: [IsNotNull(lang)]" in plan, plan
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan, plan


def test_whole_stage_codegen_covers_flagship(q):
    # AQE hides WSCG in the formatted plan pre-execution; codegen mode
    # compiles the initial plan and reports the fused subtrees.
    df = q("agg_grouped")
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "codegen"
    )
    assert "WholeStageCodegen" in plan


def test_join_interval_is_not_nested_loop(q):
    # equi conjunct on user_id must make this a hash/SMJ join, not BNLJ
    plan = _plan(q("join_interval"))
    assert "NestedLoop" not in plan


def test_join_theta_bucketed_is_not_nested_loop(q):
    # the whole point of the rewrite: bin equi-join, not BNLJ
    plan = _plan(q("join_theta_bucketed"))
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_levenshtein_blocked_is_equi_join(q):
    # candidate generation must be the (slot, l, sub) equi-join;
    # supp_a < supp_b and the distance check are post-join filters
    plan = _plan(q("fn_levenshtein_blocked"))
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_subquery_exists_decorrelates_to_semi_join(q):
    # RewritePredicateSubquery: EXISTS must become a semi join on
    # l_orderkey, never a per-row subquery or nested loop
    plan = _plan(q("subquery_exists"))
    assert "LeftSemi" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_subquery_scalar_corr_decorrelates_to_aggregate_join(q):
    # correlated AVG must be computed once per partkey then joined back
    plan = _plan(q("subquery_scalar_corr"))
    assert "HashAggregate" in plan
    assert "Subquery" not in plan  # fully de-correlated
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_subquery_in_decorrelates_to_semi_join(q):
    plan = _plan(q("subquery_in"))
    assert "LeftSemi" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def _bucketed_join(spark):
    """(bucketed join, plain join) of orders and lineitem on orderkey;
    the bucketed side reads the tables the engine itself writes."""
    from pyspark.sql import functions as F

    from tests.conftest import sf_tables
    from tweetdb_spark.operators.physical import ensure_bucketed_tables

    t = sf_tables(spark)
    o_tbl, l_tbl = ensure_bucketed_tables(spark, t)
    on = F.col("o_orderkey") == F.col("l_orderkey")
    return (
        spark.table(o_tbl).join(spark.table(l_tbl), on),
        t["orders"].join(t["lineitem"], on),
    )


def test_join_bucketed_colocated_smj_has_no_exchange(registry, spark):
    # Force the big-big path bucketing exists for: with broadcast off,
    # the co-located SortMergeJoin must need NO Exchange of any kind —
    # both sides' bucket layout already satisfies the join distribution
    # — and must return exactly the plain join's rows.
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bucketed, plain = _bucketed_join(spark)
        plan = _plan(bucketed)
        n_bucketed = bucketed.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, plan
    assert "Bucketed: true" in plan, plan
    assert n_bucketed == plain.count()


def test_join_bucketed_colocated_never_shuffles(registry, spark):
    # Default settings: Spark may pick BroadcastHashJoin at test scale
    # (orders side is tiny) — that's fine; what bucketing must guarantee
    # is the absence of a *shuffle* exchange on the join keys.  NOTE:
    # formatted mode renders a shuffle as "Exchange (N)" + a separate
    # "Arguments: hashpartitioning(key#id, n)" line — the two-word
    # literal "Exchange hashpartitioning" can never occur there, so the
    # assertion must target the Arguments rendering of the join keys.
    plan = _plan(_bucketed_join(spark)[0])
    assert "hashpartitioning(o_orderkey" not in plan, plan
    assert "hashpartitioning(l_orderkey" not in plan, plan


def test_join_dpp_partitioned_prunes_at_runtime(q):
    plan = _plan(q("join_dpp_partitioned"))
    assert "dynamicpruning" in plan, plan


def test_sample_group_fixed_k_pushes_group_limit(q):
    plan = _plan(q("sample_group_fixed_k"))
    assert "WindowGroupLimit" in plan


def test_join_null_safe_is_hash_join(q):
    # eqNullSafe must remain a hash-joinable key (EqualNullSafe is a
    # valid equi-join expression), never degrade to a nested loop
    plan = _plan(q("join_null_safe"))
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan


def test_sim_topk_cosine_batch_pushes_group_limit(q):
    # batch ANN's per-query top-3 must run as a pre-shuffle partial
    # top-k (InferWindowGroupLimit), and the query side must broadcast
    plan = _plan(q("sim_topk_cosine_batch"))
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_runtime_bloom_filter_on_shuffle_join(spark, tables):
    # At cluster scale, a selective filter on the build side of a
    # shuffle join injects a bloom filter into the probe side's scan
    # (runtime row-level filtering) — the shuffle then moves only rows
    # that can match.  The fixture sits below the default size
    # thresholds and the dim would broadcast, so the test pins the
    # OPTIMIZER BEHAVIOR by lowering them; production defaults fire in
    # exactly the big-shuffle regime the fixture can't reach.
    from pyspark.sql import functions as F

    overrides = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {}
    for k, v in overrides.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        dim = tables["orders"].where(F.col("o_orderpriority") == "1-URGENT")
        df = (
            tables["lineitem"]
            .join(dim, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )
        plan = _plan(df)
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "bloom_filter_agg" in plan, plan
    assert "might_contain" in plan.lower() or "bloomFilter" in plan, plan


def test_ann_ivf_pq_candidates_partition_pruned(q):
    # the PQ codes read must be a parquet partition-pruned scan of the
    # probed cells, like the IVF/LSH probes — never a full-index scan
    plan = _plan(q("sim_ann_ivf_pq"))
    frags = [
        seg.splitlines()[0] for seg in plan.split("PartitionFilters:")[1:]
    ]
    assert any("cell#" in f for f in frags), plan


def test_zorder_layout_prunes_both_dimensions(spark, tables):
    """Z-order bounds BOTH (custkey, orderdate) per file, so footer
    min/max stats prune files for a filter on EITHER dim; a
    custkey-only sort leaves every file spanning the full date range
    (zero date pruning).  Measured on the actual parquet footers."""
    import glob

    import pyarrow.parquet as pq

    from tweetdb_spark import scratch
    from tweetdb_spark.operators.physical import write_zorder_layout

    zdir = write_zorder_layout(spark, tables, n_files=16)
    sdir = scratch.fresh_dir("tweetdb_singlesort")
    (
        tables["orders"]
        .repartitionByRange(16, "o_custkey")
        .sortWithinPartitions("o_custkey")
        .write.mode("overwrite")
        .parquet(sdir)
    )

    def file_ranges(d, col):
        out = []
        for f in sorted(glob.glob(f"{d}/*.parquet")):
            md = pq.ParquetFile(f).metadata
            lo, hi = None, None
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col and c.statistics:
                        s = c.statistics
                        # µs-timestamp stats come back tz-aware (UTC);
                        # collected rows are naive UTC wall-clock
                        mn = s.min.replace(tzinfo=None)
                        mx = s.max.replace(tzinfo=None)
                        lo = mn if lo is None else min(lo, mn)
                        hi = mx if hi is None else max(hi, mx)
            if lo is not None:  # zero-row files survive no filter
                out.append((lo, hi))
        return out

    # box filter: middle ~25% of each dim
    dates = sorted(
        r.o_orderdate
        for r in tables["orders"].select("o_orderdate").collect()
    )
    d_lo, d_hi = dates[len(dates) // 2], dates[5 * len(dates) // 8]

    def surviving(d):
        rng = file_ranges(d, "o_orderdate")
        return sum(1 for lo, hi in rng if lo <= d_hi and hi >= d_lo), len(rng)

    z_hit, z_total = surviving(zdir)
    s_hit, s_total = surviving(sdir)
    # custkey-sorted: every file spans the full date range -> no pruning
    assert s_hit == s_total
    # z-order: a real fraction of files is pruned on the date dim
    assert z_hit < z_total
    assert z_hit / z_total <= 0.8


def test_sample_weighted_is_take_ordered_not_global_sort(q):
    """The E-S top-k must plan as TakeOrderedAndProject (per-partition
    heap + driver merge of k) — a global Sort would shuffle the whole
    corpus to rank 1000 rows."""
    plan = _plan(q("sample_weighted"))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_corpus_shuffle_single_exchange(q):
    """The permutation costs exactly the one hash exchange a sharded
    write performs anyway (plus its per-shard sort)."""
    plan = _plan(q("corpus_shuffle"))
    # formatted mode prints each node once in the tree and once in the
    # detail list — count the detail headers "(n) Exchange"
    import re

    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_aqe_skew_join_split_fires_on_skewed_fact(q, registry, spark):
    """SCALE.md's joins header claims "AQE converts to skew-join on hot
    keys" — this pins it: execute join_skewed_fact's shape with skew
    thresholds lowered into fixture range (production defaults fire in
    exactly the oversized-partition regime the fixture can't reach),
    broadcast disabled so the join actually shuffles, and assert the
    final adaptive plan marks the join skew=true (AQE split the hot
    partition into multiple tasks at runtime)."""
    overrides = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        # fixture shuffle blocks compress to bytes, so thresholds must
        # drop to byte scale for any partition to register as skewed;
        # coalescing must stay ENABLED — the skew split rides the same
        # AQEShuffleRead machinery and never fires with it disabled
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "100",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "100",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "10",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {}
    for k, v in overrides.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        df = registry.QUERIES["join_skewed_fact"](spark, SF_DIR)
        df.collect()  # AQE re-plans at runtime; must execute
        final = df._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "isFinalPlan=true" in final, final[:2000]
    assert "skew=true" in final, final[:4000]


def test_cms_merge_broadcasts_grid_and_pushes_probe_filter(q):
    """sketch_cms_merge's scale posture: the merged ≤4096-row counter
    grid and the 50-row estimate side must BROADCAST (never a
    fact-sized shuffle join), and the probe predicate must reach the
    parquet scan."""
    plan = _plan(q("sketch_cms_merge"))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "LessThan(user_id,50)" in plan


def test_lateral_subquery_decorrelates_to_group_limit(q):
    """subquery_lateral's correlated LIMIT must plan as a broadcast
    join + WindowGroupLimit (partial below the shuffle), never a
    per-outer-row subquery execution."""
    plan = _plan(q("subquery_lateral"))
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan
    assert "Subquery" not in plan


def test_shuffle_hash_hint_takes_effect(q):
    """The SHUFFLE_HASH hint must produce a ShuffledHashJoin (build
    side = customer) where the unhinted plan would sort-merge — the
    no-sort strategy the docstring claims."""
    plan = _plan(q("join_shuffle_hash_hint"))
    assert "ShuffledHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_not_in_compiles_to_null_aware_anti_join(q):
    """The NOT IN over a NULL-laden set must become Spark's null-aware
    anti join (NAAJ-flagged broadcast), while the NOT EXISTS twin
    stays a plain anti join — the two plans ARE the semantic
    difference."""
    df = q("subquery_not_in")
    simple = df._jdf.queryExecution().executedPlan().toString()
    # trailing boolean on BroadcastHashJoin = isNullAwareAntiJoin
    assert "LeftAnti, BuildRight, true" in simple, simple
    assert "LeftAnti, BuildRight, false" in simple, simple
    row = df.collect()[0]
    assert row.inner_has_nulls
    # ANSI: NOT IN over a NULL-laden set can never be TRUE
    assert row.n_not_in == 0
    # NOT EXISTS ignores the NULLs (0 here only because the sf0.001
    # fixture is referentially complete — every customer has orders)
    assert row.n_not_exists >= 0


def test_agg_multi_distinct_decomposed_avoids_expand(q, spark):
    """The decomposed multi-distinct plan must NOT contain Expand, and
    every one of its exchanges must sit above a partial HashAggregate
    (map-side dedup/combine before any shuffle).  The naive 2-distinct
    form DOES plan an Expand (row replication per distinct column) —
    asserted as the contrast; the 1-distinct form doesn't need either
    trick (two-phase rewrite), also asserted so the docstring's claim
    stays true on Spark upgrades."""
    from pyspark.sql import functions as F
    from tweetdb_spark.catalog import load_tables

    plan = _plan(q("agg_multi_distinct_decomposed"))
    assert "Expand" not in plan

    ev = load_tables(spark, SF_DIR)["events"]
    naive2 = ev.groupBy("event_type").agg(
        F.count_distinct("user_id"),
        F.count_distinct(F.to_date("ts")),
        F.count("*"),
    )
    assert "Expand" in _plan(naive2)

    naive1 = ev.groupBy("event_type").agg(
        F.count_distinct("user_id"), F.count("*")
    )
    assert "Expand" not in _plan(naive1)


def test_events_top_paths_single_window_and_takeordered(q):
    """Both lead() columns must collapse into ONE Window node (same
    partition+order spec), and the top-20 must be TakeOrderedAndProject,
    not a global sort of the 3-gram counts."""
    import re

    plan = _plan(q("events_top_paths"))
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1
    assert "TakeOrderedAndProject" in plan


def test_ann_ivf_pq_batch_query_prep_is_distributed(q):
    """r11 (round-10 verdict ask #5): the batch PQ probe must derive
    per-query LUTs/probe cells in an Arrow-batched pandas UDF over the
    query DataFrame — query vectors never collect to the driver — while
    keeping the codes read partition-pruned to the probed cells."""
    plan = _plan(q("sim_ann_ivf_pq_batch"))
    assert "ArrowEvalPython" in plan, plan  # the _qprep pandas UDF
    frags = [
        seg.splitlines()[0] for seg in plan.split("PartitionFilters:")[1:]
    ]
    assert any("cell#" in f for f in frags), plan


def test_corpus_interleave_two_pass_has_no_member_scale_single_partition(
    registry, spark, monkeypatch
):
    """r16 optimization round: forced above its size gate,
    corpus_interleave's global row_number must run bucket-parallel —
    every SinglePartition exchange left in the plan feeds from a
    partial HashAggregate (the tiny per-bucket offsets frame), never
    from the member-scale Project the single-sort form funnels."""
    import re

    from tweetdb_spark import guards

    monkeypatch.setattr(guards, "TWO_PASS_MIN_BYTES", 0)
    plan = _plan(registry.QUERIES["corpus_interleave"](spark, SF_DIR))
    sp_ops = [
        int(m.group(1))
        for m in re.finditer(
            r"^\((\d+)\) Exchange\b(?:(?!^\(\d+\)).)*?SinglePartition",
            plan,
            re.M | re.S,
        )
    ]
    assert sp_ops, "expected the tiny offsets aggregate to remain"
    # Child lookup via the plan TREE, not operator-id adjacency (r17,
    # r16 ADVICE: "(n) feeds (n+1)" only holds on linear chains).  In
    # the formatted tree each operator line ends with "(<id>)"; an
    # Exchange is unary, so its child is the next tree line, whatever
    # id that line carries.
    tree = plan.split("\n\n")[0].splitlines()
    id_of = [
        (idx, int(m.group(1)))
        for idx, line in enumerate(tree)
        for m in [re.search(r"\((\d+)\)\s*$", line)]
        if m
    ]
    line_by_id = {opid: idx for idx, opid in id_of}
    for n in sp_ops:
        child_line = tree[line_by_id[n] + 1]
        assert "HashAggregate" in child_line, (
            f"SinglePartition exchange op {n} fed by {child_line.strip()} "
            f"(member-scale funnel)"
        )
