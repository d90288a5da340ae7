"""Statistical / reshaping analytics operators (beyond the SURVEY §2
minimum): moment statistics, exact percentiles, pivot/unpivot,
positional explode, edit-distance.

These round out "a user of the reference could run every query they
run today": the SQL surface an analyst expects from the backing
RDBMS, executed Spark-side.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tweetdb_spark.registry import query


@query(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           -- every ROUNDed moment gets "+ 0": a stat landing on zero
           -- can round to -0.0 on one engine and +0.0 on the other
           -- (equal as floats, distinct in the driver's repr hash —
           -- r01 agg_stats fail); IEEE -0.0 + 0 = +0.0 on both
           ROUND(stddev_samp(l_quantity), 4) + 0 AS sd_qty,
           ROUND(var_samp(l_quantity), 4) + 0 AS var_qty,
           ROUND(corr(l_quantity, l_extendedprice), 4) + 0 AS corr_qty_price,
           ROUND(covar_samp(l_discount, l_tax), 6) + 0 AS cov_disc_tax,
           -- DuckDB skewness()/kurtosis() are bias-corrected SAMPLE
           -- statistics; Spark's are POPULATION — undo the corrections
           -- so both sides compute the same statistic (inversions
           -- verified numerically to 1e-15)
           ROUND(skewness(l_extendedprice)
                 * (count(*) - 2) / sqrt(count(*) * (count(*) - 1.0)), 4)
             + 0 AS skew_price,
           ROUND((kurtosis(l_extendedprice)
                  * (count(*) - 2) * (count(*) - 3) / (count(*) - 1.0) - 6)
                 / (count(*) + 1), 4) + 0 AS kurt_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_stats(spark, t):
    """Moment statistics: stddev/variance/correlation/covariance/skew.

    All single-pass two-phase aggregates (partial moments combine
    map-side).  Rounded to absorb cross-engine accumulation-order
    noise in the higher moments.
    """
    return t["lineitem"].groupBy("l_returnflag").agg(
        (F.round(F.stddev_samp("l_quantity"), 4) + 0).alias("sd_qty"),
        (F.round(F.var_samp("l_quantity"), 4) + 0).alias("var_qty"),
        (F.round(F.corr("l_quantity", "l_extendedprice"), 4) + 0).alias("corr_qty_price"),
        (F.round(F.covar_samp("l_discount", "l_tax"), 6) + 0).alias("cov_disc_tax"),
        (F.round(F.skewness("l_extendedprice"), 4) + 0).alias("skew_price"),
        (F.round(F.kurtosis("l_extendedprice"), 4) + 0).alias("kurt_price"),
    )


@query(
    "agg_percentile",
    oracle="""
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 4) AS p50,
           ROUND(quantile_cont(value, 0.95), 4) AS p95,
           ROUND(quantile_cont(value, 0.99), 4) AS p99,
           MAX(value) AS max_value
    FROM events
    GROUP BY event_type
    """,
)
def agg_percentile(spark, t):
    """Exact interpolated percentiles per group (p50/p95/p99).

    Spark ``percentile`` and DuckDB ``quantile_cont`` share the linear
    interpolation definition.  Exact percentile needs the group's
    values together (sort-based); the 100 TB default is
    ``approx_percentile`` (t-digest-style sketch, map-side mergeable)
    — same API shape, declared separately below.
    """
    return t["events"].groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("value", F.lit(0.95)), 4).alias("p95"),
        F.round(F.percentile("value", F.lit(0.99)), 4).alias("p99"),
        F.max("value").alias("max_value"),
    )


@query("agg_approx_percentile", oracle=None)  # sketch-based → rows-only
def agg_approx_percentile(spark, t):
    """Approximate percentiles — the sketch twin of agg_percentile
    (fixed-size state, no per-group sort; the scale path)."""
    return t["events"].groupBy("event_type").agg(
        F.approx_percentile("value", F.lit(0.5), F.lit(10000)).alias("p50_approx"),
        F.approx_percentile("value", F.lit(0.95), F.lit(10000)).alias("p95_approx"),
    )


@query(
    "agg_mode",
    oracle="""
    WITH counts AS (
      SELECT lang, source, count(*) AS n FROM documents GROUP BY lang, source
    ), ranked AS (
      SELECT lang, source, n,
             row_number() OVER (
               -- NULLS FIRST pins the tie-break: Spark's ASC default
               -- puts a NULL source first, DuckDB's puts it last —
               -- divergent winner on count ties (r11 NULL-survey)
               PARTITION BY lang ORDER BY n DESC, source NULLS FIRST
             ) AS rn
      FROM counts
    )
    SELECT lang, source AS mode_source, n AS mode_count
    FROM ranked WHERE rn = 1
    """,
)
def agg_mode(spark, t):
    """Deterministic MODE: most frequent source per language.

    Built as count → per-group argmax with an explicit tie-break
    (alphabetical) instead of the builtin ``mode()``, whose tie
    behavior is engine-dependent — determinism is part of the
    operator contract here.
    """
    from pyspark.sql.window import Window

    counts = t["documents"].groupBy("lang", "source").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("source"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "lang",
            F.col("source").alias("mode_source"),
            F.col("n").alias("mode_count"),
        )
    )


@query(
    "merge_upsert",
    oracle="""
    WITH updates AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             FLOOR(o_totalprice * 1.1 * 100 + 0.5) / 100 AS o_totalprice, 2 AS version
      FROM orders WHERE o_orderkey % 7 = 0
    ), base AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, 1 AS version
      FROM orders
    ), unioned AS (
      SELECT * FROM base UNION ALL SELECT * FROM updates
    ), ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY o_orderkey ORDER BY version DESC
             ) AS rn
      FROM unioned
    )
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, version
    FROM ranked WHERE rn = 1
    """,
)
def merge_upsert(spark, t):
    """MERGE/upsert semantics on plain parquet (SCD-1 latest-wins).

    Without a transactional table format, upsert = union(base, changes)
    → per-key latest by version via window rank — the standard
    snapshot-merge.  One shuffle on the merge key; at 100 TB, write
    the result partitioned/bucketed by the key so the next merge
    co-locates, and promote to Delta/Iceberg MERGE INTO when a
    transactional format is available (same logical semantics).
    Changes here are synthesized deterministically (every 7th order
    re-priced at +10%) so the result is oracle-checkable.
    """
    from pyspark.sql.window import Window

    base = t["orders"].select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.lit(1).alias("version"),
    )
    updates = (
        t["orders"]
        .where(F.col("o_orderkey") % 7 == 0)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            # explicit half-up via floor: round() diverges cross-engine on
            # exact half-cents (decimal-string vs binary rounding)
            (F.floor(F.col("o_totalprice") * 1.1 * 100 + 0.5) / 100).alias(
                "o_totalprice"
            ),
            F.lit(2).alias("version"),
        )
    )
    w = Window.partitionBy("o_orderkey").orderBy(F.col("version").desc())
    return (
        base.unionAll(updates)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "pivot_wide",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1 END), 0) AS BIGINT) AS click,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'error' THEN 1 END), 0) AS BIGINT) AS error,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 END), 0) AS BIGINT) AS purchase,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'signup' THEN 1 END), 0) AS BIGINT) AS signup,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'view' THEN 1 END), 0) AS BIGINT) AS view
    FROM events
    GROUP BY 1
    """,
)
def pivot_wide(spark, t):
    """PIVOT: daily event counts, one column per event_type.

    The pivot value list is explicit — with it, Spark skips the extra
    distinct-values job and plans a single two-phase aggregate with
    one output column per (value × agg).  Never pivot on an unbounded
    column at scale; the value list IS the schema.
    """
    return (
        t["events"]
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .pivot("event_type", _EVENT_TYPES)
        .count()
        .na.fill(0, _EVENT_TYPES)
    )


@query(
    "unpivot_long",
    oracle="""
    SELECT l_orderkey, l_linenumber, metric, amount
    FROM (
      SELECT l_orderkey, l_linenumber, 'price' AS metric, l_extendedprice AS amount
      FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem
    )
    """,
)
def unpivot_long(spark, t):
    """UNPIVOT/melt: wide measure columns → (metric, amount) rows.

    ``unpivot`` is a Generate-style expansion (no shuffle); the oracle
    is the equivalent UNION ALL, which is also the portable SQL form.
    """
    return t["lineitem"].unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "amount",
    ).withColumn(
        "metric",
        F.when(F.col("metric") == "l_extendedprice", "price")
        .when(F.col("metric") == "l_discount", "discount")
        .otherwise("tax"),
    )


@query(
    "fn_posexplode",
    oracle="""
    SELECT doc_id,
           CAST(unnest(range(0, len(string_split(text, ' ')))) AS INTEGER) AS pos,
           unnest(string_split(text, ' ')) AS token
    FROM documents
    """,
)
def fn_posexplode(spark, t):
    """posexplode: token with 0-based ordinal (DuckDB: zipped unnests)."""
    return t["documents"].select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    )


# All-pairs edit-distance SQL — shared by fn_levenshtein (its own
# oracle) and fn_levenshtein_blocked (whose correctness proof is that
# the segment-blocked rewrite hash-matches THIS query).
_LEV_ORACLE = """
    SELECT a.s_suppkey AS supp_a, b.s_suppkey AS supp_b,
           levenshtein(a.s_name, b.s_name) AS edit_dist
    FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
    WHERE levenshtein(a.s_name, b.s_name) <= 2
    """


@query(
    "fn_levenshtein",
    oracle=_LEV_ORACLE,
)
def fn_levenshtein(spark, t):
    """Edit-distance fuzzy matching — entity-resolution primitive.

    All-pairs on a dim-sized table; kept as the ground-truth twin for
    fn_levenshtein_blocked, the candidate-then-verify scale path.
    Size-guarded: refuses >50k rows.
    """
    from tweetdb_spark.guards import exact_twin_input

    s = exact_twin_input(
        t["supplier"], "fn_levenshtein", "fn_levenshtein_blocked"
    ).select("s_suppkey", "s_name")
    a, b = s.alias("a"), s.alias("b")
    dist = F.levenshtein(F.col("a.s_name"), F.col("b.s_name"))
    return (
        a.join(b, F.col("a.s_suppkey") < F.col("b.s_suppkey"))
        .where(dist <= 2)
        .select(
            F.col("a.s_suppkey").alias("supp_a"),
            F.col("b.s_suppkey").alias("supp_b"),
            dist.alias("edit_dist"),
        )
    )


# --- PassJoin-style segment blocking for edit distance <= 2 ------------
#
# Completeness (Li, Deng, Feng: "PassJoin", PVLDB 2011): partition a
# string x into k+1 segments; any y with edit(x, y) <= k must contain
# at least one segment of x EXACTLY, at a start position shifted by at
# most k (<= k net indels can precede it).  So with k = 2 and 3
# segments, emitting (slot, len(x), segment) for the partitioned side
# and every length-matched substring at |shift| <= 2 for the probe
# side makes the equi-join on (slot, l, sub) a provable superset of
# all qualifying pairs; the exact distance then verifies candidates.
#
# Segment scheme for a partition length lp (1-indexed, even split with
# the remainder spread left-to-right):
#   len_i = lp div 3 + (1 if lp % 3 > i else 0)
#   p_i   = 1 + i * (lp div 3) + least(i, lp % 3)
_LEV_IDX_KEYS = """
    transform(sequence(0, 2), i -> named_struct(
      'slot', CAST(i AS INT),
      'l', CAST(length(s_name) AS INT),
      'sub', substring(s_name,
               CAST(1 + i * (length(s_name) div 3)
                    + least(i, length(s_name) % 3) AS INT),
               CAST((length(s_name) div 3)
                    + IF(length(s_name) % 3 > i, 1, 0) AS INT))))
"""
_LEV_PRB_KEYS = """
    array_distinct(flatten(transform(
      sequence(greatest(0, length(s_name) - 2), length(s_name) + 2), lp ->
        flatten(transform(sequence(0, 2), i ->
          transform(
            filter(sequence(-2, 2), d ->
              i * (lp div 3) + least(i, lp % 3) + d >= 0
              AND i * (lp div 3) + least(i, lp % 3) + d
                  + (lp div 3) + IF(lp % 3 > i, 1, 0) <= length(s_name)),
            d -> named_struct(
              'slot', CAST(i AS INT),
              'l', CAST(lp AS INT),
              'sub', substring(s_name,
                       CAST(1 + i * (lp div 3) + least(i, lp % 3) + d AS INT),
                       CAST((lp div 3) + IF(lp % 3 > i, 1, 0) AS INT)))))))))
"""


@query(
    "fn_levenshtein_blocked",
    oracle=_LEV_ORACLE,
)
def fn_levenshtein_blocked(spark, t):
    """The scale path for fn_levenshtein, proven exact.

    Candidate-then-verify: segment blocking (see _LEV_IDX_KEYS note)
    turns the all-pairs O(N^2) edit-distance join into an equi-join on
    (slot, l, segment) — per string, 3 index keys and at most
    3 slots x 5 lengths x 5 shifts = 75 probe keys, so the shuffle is
    O(N) keys of ~6 chars, never the cross product.  Candidates are
    deduped (equal substrings at different shifts collide) and
    verified with the exact levenshtein filter.  THE ORACLE IS THE
    ALL-PAIRS QUERY — the hash check proves the blocked rewrite
    returns byte-identical results.  Same candidate-generation shape
    as the dedup ladder (simhash bands / LSH buckets / IVF cells).
    """
    from pyspark.sql import Window as _W

    s = t["supplier"].select("s_suppkey", "s_name")
    # Exact-collapse-first (r13, sf10 rung catch): identical names
    # share every index AND probe key, so the blocked join was
    # quadratic in name multiplicity on clone-heavy data (the sf10
    # fixture's ~100-clone name groups stalled the candidate join).
    # Block and verify one representative per distinct name, then
    # expand rep pairs to member pairs: identical names always
    # collide in the naive form (the identity probe lp=len, d=0 IS
    # the index key) at edit distance 0, and a cross-group member
    # pair is a candidate with the same distance iff its rep pair is
    # (same two names).  NULL names produce NULL join keys in the
    # naive form and never pair — the member map drops them so the
    # within leg cannot fabricate NULL-name pairs.  The all-pairs
    # oracle is unchanged; the hash check proves the collapse exact.
    s = s.withColumn("rep", F.min("s_suppkey").over(_W.partitionBy("s_name")))
    mem = s.where(F.col("s_name").isNotNull()).select("s_suppkey", "rep")
    reps = s.where(F.col("s_suppkey") == F.col("rep")).select(
        "s_suppkey", "s_name"
    )
    a = reps.select(
        F.col("s_suppkey").alias("supp_a"),
        F.col("s_name").alias("name_a"),
        F.explode(F.expr(_LEV_IDX_KEYS)).alias("k"),
    ).select("supp_a", "name_a", "k.slot", "k.l", "k.sub")
    b = reps.select(
        F.col("s_suppkey").alias("supp_b"),
        F.col("s_name").alias("name_b"),
        F.explode(F.expr(_LEV_PRB_KEYS)).alias("k"),
    ).select("supp_b", "name_b", "k.slot", "k.l", "k.sub")
    cand = (
        a.join(b, ["slot", "l", "sub"])
        .where(F.col("supp_a") < F.col("supp_b"))
        .select("supp_a", "name_a", "supp_b", "name_b")
        .distinct()
    )
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"))
    rep_pairs = cand.where(dist <= 2).select(
        F.col("supp_a").alias("rep_a"),
        F.col("supp_b").alias("rep_b"),
        dist.alias("edit_dist"),
    )
    ma = mem.select(F.col("rep").alias("rep_a"), F.col("s_suppkey").alias("ka"))
    mb = mem.select(F.col("rep").alias("rep_b"), F.col("s_suppkey").alias("kb"))
    cross = (
        # rebalance before the broadcast expansion joins (r16, sf10
        # catch): 142k rep pairs expand to 1.4B member pairs; without
        # the round-robin shuffle the whole expansion inherits the ~1
        # AQE-coalesced input partition and runs in one task (see
        # llm/collapse.py _expand_rep_pairs for the full reasoning)
        rep_pairs.repartition(
            rep_pairs.sparkSession.sparkContext.defaultParallelism
        )
        .join(ma, "rep_a")
        .join(mb, "rep_b")
        .select(
            F.least("ka", "kb").alias("supp_a"),
            F.greatest("ka", "kb").alias("supp_b"),
            "edit_dist",
        )
    )
    within = (
        mem.alias("x")
        .join(
            mem.alias("y"),
            (F.col("x.rep") == F.col("y.rep"))
            & (F.col("x.s_suppkey") < F.col("y.s_suppkey")),
        )
        .select(
            F.col("x.s_suppkey").alias("supp_a"),
            F.col("y.s_suppkey").alias("supp_b"),
            F.lit(0).cast("int").alias("edit_dist"),
        )
    )
    return cross.unionAll(within)


@query(
    "scd2_build",
    oracle="""
    SELECT user_id, event_type AS state, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
             AS valid_to,
           CASE WHEN lead(ts) OVER (
                  PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
                ) IS NULL THEN 1 ELSE 0 END AS is_current
    FROM events
    """,
)
def scd2_build(spark, t):
    """SCD Type-2 dimension build: each user's event stream becomes
    validity intervals (valid_from, valid_to, is_current).

    The warehouse change-tracking primitive.  One shuffle to
    partition by the business key, then lead() closes each interval —
    the standard snapshot-to-history transform.  At 100 TB the
    business key is the partition key already (no extra exchange when
    the source is bucketed by user), and incremental refresh only
    re-windows keys present in the new batch.  Deterministic
    tie-break (ts, event_id) keeps both engines' lead() aligned.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return t["events"].select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        F.when(nxt.isNull(), 1).otherwise(0).alias("is_current"),
    )


_PROFILE_COLS = ['l_quantity', 'l_extendedprice', 'l_discount', 'l_tax']


@query(
    "table_profile",
    oracle="""
    SELECT 'l_quantity' AS col_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT l_quantity) AS BIGINT) AS ndv,
           CAST(MIN(l_quantity) AS DOUBLE) AS min_val,
           CAST(MAX(l_quantity) AS DOUBLE) AS max_val
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice' AS col_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT l_extendedprice) AS BIGINT) AS ndv,
           CAST(MIN(l_extendedprice) AS DOUBLE) AS min_val,
           CAST(MAX(l_extendedprice) AS DOUBLE) AS max_val
    FROM lineitem
    UNION ALL
    SELECT 'l_discount' AS col_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT l_discount) AS BIGINT) AS ndv,
           CAST(MIN(l_discount) AS DOUBLE) AS min_val,
           CAST(MAX(l_discount) AS DOUBLE) AS max_val
    FROM lineitem
    UNION ALL
    SELECT 'l_tax' AS col_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN l_tax IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT l_tax) AS BIGINT) AS ndv,
           CAST(MIN(l_tax) AS DOUBLE) AS min_val,
           CAST(MAX(l_tax) AS DOUBLE) AS max_val
    FROM lineitem
    """,
)
def table_profile(spark, t):
    """ANALYZE-style column statistics in one pass: row count, null
    count, exact NDV, min, max per numeric column, long format.

    The catalog/statistics primitive (CBO inputs, data-quality
    monitoring).  Spark computes ALL columns' stats in a single
    aggregation over one scan (multi-aggregate + stack to long form);
    the oracle re-derives each column independently.  At 100 TB swap
    exact NDV for approx_count_distinct — same plan, sketch state.
    """
    aggs = [F.count("*").cast("bigint").alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias(f"nulls_{c}"),
            F.countDistinct(c).cast("bigint").alias(f"ndv_{c}"),
            F.min(c).cast("double").alias(f"min_{c}"),
            F.max(c).cast("double").alias(f"max_{c}"),
        ]
    row = t["lineitem"].agg(*aggs)
    stack = (
        "stack({n}, {body}) as (col_name, n_nulls, ndv, min_val, max_val)"
    ).format(
        n=len(_PROFILE_COLS),
        body=", ".join(
            f"'{c}', nulls_{c}, ndv_{c}, min_{c}, max_{c}"
            for c in _PROFILE_COLS
        ),
    )
    return row.select(F.expr(stack), "n_rows").select(
        "col_name", "n_rows", "n_nulls", "ndv", "min_val", "max_val"
    )


@query(
    "join_skew_report",
    oracle="""
    WITH k AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY user_id
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_keys,
             CAST(SUM(n) AS BIGINT) AS n_rows,
             CAST(MAX(n) AS BIGINT) AS max_rows
      FROM k
    )
    SELECT n_keys, n_rows, max_rows,
           ROUND(CAST(max_rows AS DOUBLE) * n_keys / n_rows, 4) AS skew_ratio,
           CASE WHEN CAST(max_rows AS DOUBLE) * n_keys / n_rows > 4.0
                THEN 1 ELSE 0 END AS needs_salting
    FROM s
    """,
)
def join_skew_report(spark, t):
    """Join-key skew diagnosis: hottest-key load vs the mean.

    The report you run BEFORE picking a mitigation (salting /
    AQE skew-join / broadcast): skew_ratio = max-key rows ÷ mean-key
    rows.  Two tiny aggregations — the per-key count is the same
    shuffle the join itself would do, so the report costs one pass.
    join_skew_salted is the mitigation this gates.
    """
    k = t["events"].groupBy("user_id").agg(F.count("*").alias("n"))
    s = k.agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum("n").cast("bigint").alias("n_rows"),
        F.max("n").cast("bigint").alias("max_rows"),
    )
    ratio = F.col("max_rows").cast("double") * F.col("n_keys") / F.col("n_rows")
    return s.select(
        "n_keys",
        "n_rows",
        "max_rows",
        F.round(ratio, 4).alias("skew_ratio"),
        F.when(ratio > 4.0, 1).otherwise(0).alias("needs_salting"),
    )


@query(
    "value_histogram",
    oracle="""
    WITH b AS (
      SELECT event_type, value,
             CAST(ntile(10) OVER (
               -- NULLS FIRST mirrors Spark's ASC default: NULL values
               -- bin into decile 1, not 10 (r11 NULL survey)
               PARTITION BY event_type ORDER BY value NULLS FIRST, event_id
             ) AS INT) AS decile
      FROM events
    )
    SELECT event_type, decile,
           CAST(count(*) AS BIGINT) AS n,
           MIN(value) AS lo,
           MAX(value) AS hi
    FROM b GROUP BY event_type, decile
    """,
)
def value_histogram(spark, t):
    """Equal-frequency (decile) histogram of value per event_type.

    The data-profiling/monitoring primitive (equi-depth bins are what
    CBOs and drift monitors want — equal-width bins collapse under
    skew).  The (value, event_id) tie-break makes bin assignment
    deterministic.

    Scale shape (r16 optimization round, guide §2.5): the direct form
    sorts EVERY event inside one window task per event_type —
    #event_types (5) is constant in data size, so this was the
    heaviest member-scale constant-parallelism window in the engine
    (sf100: 100M events through 5 sort tasks, 72.9 s).  Above the
    shared 32 MiB stats gate the EXACT decile is computed without the
    per-type global sort: bucket rows by a monotone clamp of value
    (range from a 1-row min/max attach), per-(type, bucket) counts
    give each bucket a rank base and each type its total n, the
    within-bucket row_number + base reproduces the global rank, and
    NTile's assignment is closed-form integer math over (rank, n) —
    the first n%10 tiles take n DIV 10 + 1 rows, the rest n DIV 10
    (Spark's NTile definition, reproduced exactly; the q = 0 branch is
    unreachable when n < 10 because every rank then falls in the
    remainder tiles, so the guarded DIV never divides by zero).  NULL
    values keep their own first-sorting bucket (they bin into decile 1
    exactly as NULLS FIRST did); NaN/+Inf pin to the last bucket where
    Spark's NaN-greatest ordering places them; a degenerate value
    range (constant, NULL-only, or unbounded) collapses to one bucket
    — the direct form's parallelism, never wrong output.
    """
    from pyspark.sql.window import Window

    from tweetdb_spark import guards

    e = t["events"].select("event_type", "value", "event_id")
    if not guards.size_gate(t["events"]):
        w = Window.partitionBy("event_type").orderBy("value", "event_id")
        return (
            e.select(
                "event_type",
                "value",
                F.ntile(10).over(w).cast("int").alias("decile"),
            )
            .groupBy("event_type", "decile")
            .agg(
                F.count("*").cast("bigint").alias("n"),
                F.min("value").alias("lo"),
                F.max("value").alias("hi"),
            )
        )

    n_b = 4 * int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    inf = float("inf")
    mm = e.agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
    span = F.col("vmax") - F.col("vmin")
    scale_ok = (
        F.col("vmin").isNotNull()
        & ~F.isnan(F.col("vmin"))
        & (F.col("vmin") > F.lit(-inf))
        & (span > 0)
        & ~F.isnan(span)
        & (span < F.lit(inf))
    )
    # monotone in value: x−c, ×n_b, ÷span and floor are each monotone
    # non-decreasing under IEEE round-to-nearest, so equal values share
    # a bucket and buckets respect the sort order; the clamp keeps the
    # ±1-ulp edge cases inside [0, n_b)
    bv = (
        F.when(F.col("value").isNull(), F.lit(None).cast("bigint"))
        .when(F.col("value") <= F.lit(-inf), F.lit(0).cast("bigint"))
        .when(
            F.isnan(F.col("value")) | (F.col("value") >= F.lit(inf)),
            F.lit(n_b - 1).cast("bigint"),
        )
        .when(~scale_ok, F.lit(0).cast("bigint"))
        .otherwise(
            F.least(
                F.lit(n_b - 1).cast("bigint"),
                F.greatest(
                    F.lit(0).cast("bigint"),
                    F.floor(
                        (F.col("value") - F.col("vmin")) * F.lit(float(n_b)) / span
                    ),
                ),
            )
        )
    )
    eb = e.crossJoin(F.broadcast(mm)).withColumn("bv", bv)
    counts = eb.groupBy("event_type", "bv").agg(F.count("*").alias("c"))
    w_off = (
        Window.partitionBy("event_type")
        .orderBy(F.asc_nulls_first("bv"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_tot = Window.partitionBy("event_type")
    off = counts.select(
        F.col("event_type").alias("o_et"),
        F.col("bv").alias("o_bv"),
        F.coalesce(F.sum("c").over(w_off), F.lit(0)).alias("base"),
        F.sum("c").over(w_tot).alias("n_g"),
    )
    rn_in = F.row_number().over(
        Window.partitionBy("event_type", "bv").orderBy("value", "event_id")
    )
    j = (
        eb.join(
            F.broadcast(off),
            eb["event_type"].eqNullSafe(off["o_et"])
            & eb["bv"].eqNullSafe(off["o_bv"]),
        )
        .withColumn("rn", (rn_in + F.col("base")).cast("bigint"))
        .withColumn(
            "decile",
            F.expr(
                "CAST(CASE WHEN rn <= (n_g % 10) * (n_g DIV 10 + 1) "
                "THEN (rn - 1) DIV (n_g DIV 10 + 1) + 1 "
                "ELSE (n_g % 10) "
                "+ (rn - (n_g % 10) * (n_g DIV 10 + 1) - 1) DIV (n_g DIV 10) "
                "+ 1 END AS INT)"
            ),
        )
    )
    return j.groupBy("event_type", "decile").agg(
        F.count("*").cast("bigint").alias("n"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
    )


@query(
    "dq_referential",
    oracle="""
    SELECT 'orders->customer' AS relation,
           CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_child,
           CAST((SELECT count(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT) AS n_orphans
    UNION ALL
    SELECT 'lineitem->orders',
           CAST((SELECT count(*) FROM lineitem) AS BIGINT),
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT)
    UNION ALL
    SELECT 'events->customer',
           CAST((SELECT count(*) FROM events) AS BIGINT),
           CAST((SELECT count(*) FROM events e
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = e.user_id))
                AS BIGINT)
    """,
)
def dq_referential(spark, t):
    """Referential-integrity audit: orphan counts per FK relation.

    The data-quality gate a warehouse runs after every load.  Each
    relation is an anti-join (orphans) + a count — the anti-join
    broadcasts the parent keys when dim-sized, otherwise shuffles on
    the key exactly like the production join it guards.  Long format:
    one row per relation.
    """
    def audit(name, child, key, parent, pkey):
        orphans = child.join(
            parent.select(pkey).distinct(),
            child[key] == parent[pkey],
            "left_anti",
        )
        return (
            child.agg(F.count("*").cast("bigint").alias("n_child"))
            .crossJoin(
                orphans.agg(F.count("*").cast("bigint").alias("n_orphans"))
            )
            .select(F.lit(name).alias("relation"), "n_child", "n_orphans")
        )

    rows = [
        audit("orders->customer", t["orders"], "o_custkey",
              t["customer"], "c_custkey"),
        audit("lineitem->orders", t["lineitem"], "l_orderkey",
              t["orders"], "o_orderkey"),
        audit("events->customer", t["events"], "user_id",
              t["customer"], "c_custkey"),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


def _interleave_bits(xcol, ycol, nbits):
    """Morton (z-order) interleave: bit i of x → bit 2i, bit i of y →
    bit 2i+1.  Pure JVM integer arithmetic (shift/and/or), stays inside
    whole-stage codegen."""
    z = F.lit(0)
    for i in range(nbits):
        z = z + F.shiftleft(F.shiftright(xcol, i).bitwiseAND(F.lit(1)), 2 * i)
        z = z + F.shiftleft(F.shiftright(ycol, i).bitwiseAND(F.lit(1)), 2 * i + 1)
    return z


def _interleave_bits_sql(x, y, nbits):
    """The identical interleave as a DuckDB expression string."""
    terms = []
    for i in range(nbits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


@query(
    "zorder_layout",
    oracle=f"""
    WITH z AS (
      SELECT l_partkey % 256 AS x,
             l_suppkey % 256 AS y,
             {_interleave_bits_sql('l_partkey % 256', 'l_suppkey % 256', 8)} AS zval
      FROM lineitem
    )
    SELECT zval >> 12 AS zbucket,
           count(*) AS n_rows,
           min(x) AS x_min, max(x) AS x_max,
           min(y) AS y_min, max(y) AS y_max,
           max(x) - min(x) AS x_span,
           max(y) - min(y) AS y_span
    FROM z
    GROUP BY 1
    """,
)
def zorder_layout(spark, t):
    """Z-order (Morton-curve) data layout for multi-column file skipping.

    The layout technique behind Delta ``OPTIMIZE ZORDER BY`` / Iceberg
    sort orders: interleaving the bits of two clustering keys gives a
    1-D sort key whose ranges are tight in BOTH dimensions, so
    parquet min/max footer stats prune files for predicates on either
    column.  Here each key is folded to 8 bits, interleaved to a
    16-bit z-value, and bucketed by its top 4 bits (2 high bits of
    each dimension) — the report proves the locality property: every
    bucket spans at most a quarter of each dimension's range
    (x_span, y_span <= 63 out of 255).

    Scale path: no window, no sort — a map computing z plus one
    16-group aggregate.  The production write is
    ``df.repartitionByRange(n_files, "zval").sortWithinPartitions("zval")
    .write.parquet(...)``: sampled range exchange, fully parallel.
    """
    x = (F.col("l_partkey") % 256).alias("x")
    y = (F.col("l_suppkey") % 256).alias("y")
    z = t["lineitem"].select(x, y).withColumn(
        "zval", _interleave_bits(F.col("x"), F.col("y"), 8)
    )
    return (
        z.groupBy(F.shiftright("zval", 12).alias("zbucket"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("x").alias("x_min"),
            F.max("x").alias("x_max"),
            F.min("y").alias("y_min"),
            F.max("y").alias("y_max"),
            (F.max("x") - F.min("x")).alias("x_span"),
            (F.max("y") - F.min("y")).alias("y_span"),
        )
    )


@query(
    "dq_expectations",
    oracle="""
    WITH agg AS (
      SELECT count(*) AS total,
             CAST(SUM(CASE WHEN NOT (l_quantity <= 45) THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
             CAST(SUM(CASE WHEN NOT (l_discount <= 0.08) THEN 1 ELSE 0 END) AS BIGINT) AS v_disc,
             CAST(SUM(CASE WHEN NOT (l_tax <= 0.05) THEN 1 ELSE 0 END) AS BIGINT) AS v_tax,
             CAST(SUM(CASE WHEN NOT (l_returnflag IN ('A', 'N')) THEN 1 ELSE 0 END) AS BIGINT) AS v_flag,
             CAST(SUM(CASE WHEN NOT (l_extendedprice < 100000) THEN 1 ELSE 0 END) AS BIGINT) AS v_price,
             CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_null
      FROM lineitem
    )
    SELECT rule, n_violations, ROUND(n_violations / total, 6) AS violation_rate
    FROM (
      SELECT total, 'quantity_le_45' AS rule, v_qty AS n_violations FROM agg
      UNION ALL SELECT total, 'discount_le_0.08', v_disc FROM agg
      UNION ALL SELECT total, 'tax_le_0.05', v_tax FROM agg
      UNION ALL SELECT total, 'returnflag_in_A_N', v_flag FROM agg
      UNION ALL SELECT total, 'price_lt_100k', v_price FROM agg
      UNION ALL SELECT total, 'shipdate_not_null', v_null FROM agg
    )
    """,
)
def dq_expectations(spark, t):
    """Deequ-style declarative data-quality expectations report.

    Each rule is a predicate; the report is (rule, n_violations,
    violation_rate) in long format — the constraint-suite shape a
    training-data pipeline gates ingests on (AWS Deequ / Great
    Expectations).  All rules evaluate in ONE pass over the table as
    conditional aggregates (map-side partial sums, a single 1-row
    reduce), then the 1-row wide result is reshaped long with
    ``stack`` — no second scan, no join, no window, so the cost at
    100 TB is exactly one read of the audited columns.
    """
    li = t["lineitem"]
    viol = [
        ("quantity_le_45", ~(F.col("l_quantity") <= 45)),
        ("discount_le_0.08", ~(F.col("l_discount") <= 0.08)),
        ("tax_le_0.05", ~(F.col("l_tax") <= 0.05)),
        ("returnflag_in_A_N", ~F.col("l_returnflag").isin("A", "N")),
        ("price_lt_100k", ~(F.col("l_extendedprice") < 100000)),
        ("shipdate_not_null", F.col("l_shipdate").isNull()),
    ]
    wide = li.agg(
        F.count("*").alias("total"),
        *[
            F.sum(F.when(cond, 1).otherwise(0)).alias(f"v{i}")
            for i, (_, cond) in enumerate(viol)
        ],
    )
    stack_args = ", ".join(
        f"'{name}', v{i}" for i, (name, _) in enumerate(viol)
    )
    return wide.select(
        F.expr(f"stack({len(viol)}, {stack_args}) AS (rule, n_violations)"),
        F.col("total"),
    ).select(
        "rule",
        "n_violations",
        F.round(F.col("n_violations") / F.col("total"), 6).alias("violation_rate"),
    )


# Knuth multiplicative-hash shuffle key — portable across engines
# (both Spark and DuckDB compute identical BIGINT arithmetic; max
# event_id * 2654435761 stays far below 2^63 at every fixture SF).
# rand(seed) can't be oracle-checked: engine RNGs never agree.
# Key reduced mod P BEFORE the affine multiply: replica-offset event_ids
# reach ~9e9 at sf1+, and 9e9 × 2654435761 overflows int64 (ANSI
# ARITHMETIC_OVERFLOW — caught by the r9 sf1 strict sweep, same class as
# the sketch_cms_merge and corpus_split catches in r7/r8).  (P-1) ×
# 2654435761 ≈ 5.7e18 < 2^63, and both engines evaluate the identical
# expression, so the draw stays deterministic and hash-checkable.
_SAMPLE_SHUFFLE = "((event_id % 2147483647) * 2654435761) % 2147483647"


@query(
    "sample_group_fixed_k",
    oracle=f"""
    SELECT event_id, event_type, value FROM (
      SELECT event_id, event_type, value,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY {_SAMPLE_SHUFFLE}, event_id
             ) AS rn
      FROM events
    ) WHERE rn <= 100
    """,
)
def sample_group_fixed_k(spark, t):
    """Deterministic fixed-k-per-group sample (100 events per type).

    The distributed reservoir-sampling shape: a portable hash shuffle
    key + row_number ≤ k per group.  One shuffle on the group key;
    the WindowGroupLimit rewrite stops each partition after k rows,
    so executors never sort their full partitions.  Deterministic by
    construction — the same rows are drawn on every engine and every
    run, which is what makes a training-data subsample reproducible
    (and this key hash-checkable, unlike rand()-based TABLESAMPLE).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type").orderBy(
        F.expr(_SAMPLE_SHUFFLE), "event_id"
    )
    return (
        t["events"]
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 100)
        .select("event_id", "event_type", "value")
    )


# ---------------------------------------------------------------------------
# Mergeable distinct-count sketches (Apache DataSketches HLL, built into
# Spark 4 as hll_sketch_agg / hll_union_agg).  The pattern that replaces
# "re-scan 100 TB for every distinct-count question": per-partition
# sketches are tiny (~2.5 KB at lgK=14), persistable, and UNION-mergeable,
# so a daily job sketches only its own day and every rollup after that
# aggregates kilobytes of sketch state instead of terabytes of raw rows.
# approx_count_distinct (A5) answers one question per scan; these emit a
# reusable partial state.  Estimates are approximate -> rows-only keys;
# tests/test_llm_ops.py bounds the error against the exact twin and proves
# the union path lossless vs sketching the union directly.
# ---------------------------------------------------------------------------

_HLL_LGK = 14  # 2^14 registers: rsd ~0.8%, 2.5 KB per sketch


@query("agg_hll_daily", oracle=None)  # sketch estimate -> rows-only
def agg_hll_daily(spark, t):
    """Per-(event_type, day) distinct users via HLL sketches.

    Two-phase HashAggregate like any groupBy: partial sketches are
    built map-side and merged on the reduce side, so the shuffle
    carries ~2.5 KB sketch states per group, never user_ids.  This is
    the write-side of the sketch pipeline — in production the binary
    sketch column itself is persisted (see the parquet round-trip in
    tests) and downstream rollups run on it alone.
    """
    return (
        t["events"]
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg("user_id", _HLL_LGK)
            ).alias("est_users")
        )
    )


@query("agg_hll_union", oracle=None)  # sketch estimate -> rows-only
def agg_hll_union(spark, t):
    """Per-event_type distinct users by UNION-merging the daily sketches.

    The read-side of the sketch pipeline: the inner agg materializes
    per-(type, day) sketch states (what a daily job would persist), the
    outer agg merges ~30 sketches per type with hll_union_agg — no
    second pass over the raw events.  At 100 TB the inner agg ran once
    historically; answering "distinct users this quarter?" costs
    KB-per-day reads.  HLL union is lossless (register-wise max), so
    the estimate is bit-identical to sketching the raw union — asserted
    in tests, alongside the error bound vs exact countDistinct.
    """
    daily = (
        t["events"]
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.hll_sketch_agg("user_id", _HLL_LGK).alias("sk"))
    )
    return daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk", False)).alias("est_users")
    )


@query(
    "table_diff",
    oracle="""
    WITH b AS (  -- synthesized snapshot B: deletes, updates, inserts
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0
                  THEN FLOOR(o_totalprice * 1.1 * 100 + 0.5) / 100
                  ELSE o_totalprice END AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 11 <> 0
      UNION ALL
      SELECT o_orderkey + 100000000, o_custkey, o_orderstatus,
             o_totalprice, o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 13 = 0
    )
    SELECT COALESCE(b.o_orderkey, a.o_orderkey) AS o_orderkey,
           CASE WHEN a.o_orderkey IS NULL THEN 'added'
                WHEN b.o_orderkey IS NULL THEN 'deleted'
                ELSE 'changed' END AS change,
           a.o_totalprice AS old_totalprice,
           b.o_totalprice AS new_totalprice
    FROM orders a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
    WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL
       OR (a.o_custkey, a.o_orderstatus, a.o_totalprice,
           a.o_orderdate, a.o_orderpriority)
          <> (b.o_custkey, b.o_orderstatus, b.o_totalprice,
              b.o_orderdate, b.o_orderpriority)
    """,
)
def table_diff(spark, t):
    """Snapshot diff — classify rows added / deleted / changed between
    two table versions (the pipeline-regression primitive: "what did
    today's ingest actually change?").

    Each side is reduced to (pk, fingerprint, carried columns) before
    the full-outer join on the primary key, where fingerprint is a
    single xxhash64 over every non-PK column — so 'changed' detection
    compares ONE 8-byte column regardless of row width, and the join
    shuffles keys + hashes, not wide rows.  At 100 TB: snapshots
    written bucketed by PK make the diff co-located (zero Exchange,
    see join_bucketed_colocated); unchanged rows — the overwhelming
    majority — are dropped before any wide-column materialization.
    Snapshot B is synthesized deterministically (every 11th key
    deleted, every 7th re-priced, every 13th re-keyed as an insert) so
    the classification is oracle-checkable.
    """
    cols = ["o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority"]
    a = t["orders"]
    b = a.where(F.col("o_orderkey") % 11 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 7 == 0,
            F.floor(F.col("o_totalprice") * 1.1 * 100 + 0.5) / 100,
        ).otherwise(F.col("o_totalprice")),
    ).unionByName(
        a.where(F.col("o_orderkey") % 13 == 0).withColumn(
            "o_orderkey", F.col("o_orderkey") + 100000000
        )
    )

    def keyed(df, side):
        return df.select(
            F.col("o_orderkey").alias(f"{side}_pk"),
            F.xxhash64(*cols).alias(f"{side}_fp"),
            F.col("o_totalprice").alias(f"{side}_price"),
        )

    j = keyed(a, "a").join(
        keyed(b, "b"), F.col("a_pk") == F.col("b_pk"), "full_outer"
    )
    return (
        j.where(
            F.col("a_pk").isNull()
            | F.col("b_pk").isNull()
            | (F.col("a_fp") != F.col("b_fp"))
        )
        .select(
            F.coalesce("b_pk", "a_pk").alias("o_orderkey"),
            F.when(F.col("a_pk").isNull(), "added")
            .when(F.col("b_pk").isNull(), "deleted")
            .otherwise("changed")
            .alias("change"),
            F.col("a_price").alias("old_totalprice"),
            F.col("b_price").alias("new_totalprice"),
        )
    )


@query(
    "dq_k_anonymity",
    oracle="""
    SELECT c_nationkey, c_mktsegment,
           CAST(count(*) AS BIGINT) AS group_n,
           count(*) < 5 AS at_risk
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    """,
)
def dq_k_anonymity(spark, t):
    """k-anonymity audit over quasi-identifier columns (privacy gate
    for releasing or training on user-derived tables).

    A row is k-anonymous iff at least k rows share its full
    quasi-identifier tuple (nationkey x mktsegment here); groups under
    k are re-identification risks that a release pipeline must
    generalize or suppress.  One 2-phase hash aggregate — partial
    counts map-side, one shuffle on the QI tuple; at 100 TB this is
    the same plan as any groupBy-count, and the report is
    |distinct QI tuples|, not |rows|.  Pairs with pii_scrub (text
    fields) the way real curation stacks audit both structured and
    free-text leakage.
    """
    return (
        t["customer"]
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count("*").alias("group_n"))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "group_n",
            (F.col("group_n") < 5).alias("at_risk"),
        )
    )


@query(
    "table_drift_psi",
    oracle="""
    WITH mm AS (
      SELECT CAST(MIN(o_totalprice) AS DOUBLE) AS lo,
             CAST(MAX(o_totalprice) AS DOUBLE) AS hi
      FROM orders
    ), priced AS (
      SELECT CASE WHEN o.o_orderdate < TIMESTAMP '1998-01-01' THEN 0 ELSE 1 END AS cur,
             LEAST(9, CAST(FLOOR((CAST(o.o_totalprice AS DOUBLE) - mm.lo)
                                 / ((mm.hi - mm.lo) / 10)) AS BIGINT)) AS bucket
      FROM orders o CROSS JOIN mm
    ), pb AS (
      SELECT 'o_totalprice' AS col_name, bucket,
             CAST(SUM(1 - cur) AS DOUBLE) AS nb,
             CAST(SUM(cur) AS DOUBLE) AS nc
      FROM priced GROUP BY bucket
    ), sb AS (
      SELECT 'o_orderstatus' AS col_name, o_orderstatus AS bucket_s,
             CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                           THEN 1 ELSE 0 END) AS DOUBLE) AS nb,
             CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                           THEN 0 ELSE 1 END) AS DOUBLE) AS nc
      FROM orders GROUP BY o_orderstatus
    ), buckets AS (
      SELECT col_name, nb, nc FROM pb
      UNION ALL
      SELECT col_name, nb, nc FROM sb
    ), tot AS (
      SELECT col_name, SUM(nb) AS tb, SUM(nc) AS tc,
             CAST(count(*) AS DOUBLE) AS k
      FROM buckets GROUP BY col_name
    )
    SELECT b.col_name,
           CAST(t.k AS BIGINT) AS n_buckets,
           ROUND(SUM(
             ((b.nc + 0.5) / (t.tc + 0.5 * t.k)
              - (b.nb + 0.5) / (t.tb + 0.5 * t.k))
             * LN(((b.nc + 0.5) / (t.tc + 0.5 * t.k))
                  / ((b.nb + 0.5) / (t.tb + 0.5 * t.k)))
           ), 6) + 0 AS psi
    FROM buckets b JOIN tot t USING (col_name)
    GROUP BY b.col_name, t.k
    """,
)
def table_drift_psi(spark, t):
    """Distribution-drift monitor: population stability index between
    the pre-1998 baseline and the post-1998 current slice of orders,
    one PSI per watched column (10 equal-width buckets for the
    numeric column, categories as-is for the categorical one).

    The continuous-training guardrail: PSI < 0.1 is stable, > 0.25
    triggers retraining/investigation (industry convention).  The
    plan is three tiny aggregations: global min/max (1-row broadcast
    to bucket the numeric column without a second scan-parameter
    pass), per-(column, bucket) counts for both slices in ONE pass
    each (conditional sums, no per-slice scans), then the PSI fold
    over ≤ 13 bucket rows.  Add-half smoothing keeps empty buckets
    finite and is exact rational arithmetic until the final LN, so
    cross-engine floats agree to the 6-decimal round.  At 100 TB the
    bucket counts are the only shuffle and their cardinality is
    O(buckets), not O(rows); watch-column lists extend by adding
    conditional aggregates, not scans.
    """
    o = t["orders"]
    cut = F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    mm = o.agg(
        F.min("o_totalprice").cast("double").alias("lo"),
        F.max("o_totalprice").cast("double").alias("hi"),
    )
    priced = o.crossJoin(F.broadcast(mm)).select(
        F.when(cut, 0).otherwise(1).alias("cur"),
        F.least(
            F.lit(9),
            F.floor(
                (F.col("o_totalprice").cast("double") - F.col("lo"))
                / ((F.col("hi") - F.col("lo")) / 10)
            ).cast("bigint"),
        ).alias("bucket"),
    )
    pb = priced.groupBy("bucket").agg(
        F.sum(1 - F.col("cur")).cast("double").alias("nb"),
        F.sum("cur").cast("double").alias("nc"),
    ).select(F.lit("o_totalprice").alias("col_name"), "nb", "nc")
    sb = o.groupBy("o_orderstatus").agg(
        F.sum(F.when(cut, 1).otherwise(0)).cast("double").alias("nb"),
        F.sum(F.when(cut, 0).otherwise(1)).cast("double").alias("nc"),
    ).select(F.lit("o_orderstatus").alias("col_name"), "nb", "nc")
    buckets = pb.unionByName(sb)
    tot = buckets.groupBy("col_name").agg(
        F.sum("nb").alias("tb"),
        F.sum("nc").alias("tc"),
        F.count("*").cast("double").alias("k"),
    )
    j = buckets.join(F.broadcast(tot), "col_name")
    p_cur = (F.col("nc") + 0.5) / (F.col("tc") + 0.5 * F.col("k"))
    p_base = (F.col("nb") + 0.5) / (F.col("tb") + 0.5 * F.col("k"))
    return j.groupBy("col_name", "k").agg(
        F.round(F.sum((p_cur - p_base) * F.log(p_cur / p_base)), 6).alias("psi")
    ).select(
        "col_name",
        F.col("k").cast("bigint").alias("n_buckets"),
        (F.col("psi") + 0).alias("psi"),
    )


@query(
    "cte_recursive_chain",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(row_number() OVER w AS BIGINT) AS seq,
           ROUND(SUM(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate NULLS FIRST, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) + 0
             AS cum_spend
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate NULLS FIRST, o_orderkey)
    """,
)
def cte_recursive_chain(spark, t):
    """Spark 4 recursive CTE surface: walk each customer's order
    chain (temporal successor links) accumulating sequence number and
    running spend — recursion computing what a window closed-form
    also computes, so the recursive execution is value-checked
    against an independent formulation (the DuckDB oracle uses the
    window form; a pytest pins Spark-recursion == Spark-window too).

    The successor relation (next order of the same customer by
    (date, key)) is built with one LEAD window in the non-recursive
    prelude; the recursion then walks the per-customer chains — an
    ACYCLIC relation, which matters: Spark's recursive CTEs support
    UNION ALL only (a cyclic walk, e.g. graph closure over symmetric
    edges, would enumerate paths forever — that use stays with the
    label-propagation loop in dedup_cluster_resolve).  Depth =
    max orders per customer (~30 here), each step one equi-join on
    the successor key; state per step is one row per chain, so the
    iteration is shuffle-light at any corpus width — recursion depth,
    not data volume, is the scaling axis to watch.
    """
    from pyspark.sql.window import Window

    from tweetdb_spark.catalog import load_tables

    # the recursion emits one row per order over its lifetime; the
    # default safety valve (spark.sql.cteRecursionRowLimit = 1e6)
    # trips on fixtures >1M orders even though per-step state is tiny.
    # The raised valve (and the helper temp view) must not leak into
    # the caller's session as a side effect, and the conf is read at
    # EXECUTION time (the driver collects the returned frame later),
    # so a set/restore around definition wouldn't hold — scope both to
    # a dedicated child session instead (same SparkContext, isolated
    # conf + temp-view catalog).
    sess = spark.newSession()
    sess.conf.set("spark.sql.cteRecursionRowLimit", str(200_000_000))
    # load ONLY orders: a partial load is never cached, so the throwaway
    # child session isn't pinned for the process lifetime
    orders = load_tables(sess, t.sf_dir, ["orders"])["orders"]
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    succ = orders.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.lead("o_orderkey").over(w).alias("next_key"),
        F.row_number().over(w).alias("rn"),
    )
    succ.createOrReplaceTempView("tweetdb_cte_succ")
    return sess.sql(
        """
        WITH RECURSIVE chain(o_orderkey, o_custkey, seq, cum_spend, next_key) AS (
          SELECT o_orderkey, o_custkey, CAST(1 AS BIGINT) AS seq,
                 o_totalprice AS cum_spend, next_key
          FROM tweetdb_cte_succ WHERE rn = 1
          UNION ALL
          -- the fold reproduces SQL SUM-over-window NULL semantics
          -- (the oracle's closed form): a NULL price is SKIPPED, and
          -- the running sum stays NULL only until the first non-NULL
          -- value.  Plain `c.cum_spend + s.o_totalprice` would
          -- NULL-poison the rest of the chain (r11 NULL-survey catch).
          SELECT s.o_orderkey, s.o_custkey, c.seq + 1,
                 CASE WHEN c.cum_spend IS NULL THEN s.o_totalprice
                      ELSE c.cum_spend + COALESCE(s.o_totalprice, 0)
                 END,
                 s.next_key
          FROM chain c JOIN tweetdb_cte_succ s ON s.o_orderkey = c.next_key
        )
        SELECT o_orderkey, o_custkey, seq,
               ROUND(cum_spend, 2) + 0 AS cum_spend
        FROM chain
        """
    )


@query(
    "itemsets_frequent_pairs",
    oracle="""
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             count(*) AS support
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT part_a, part_b, support
    FROM pairs WHERE support >= 3
    """,
)
def itemsets_frequent_pairs(spark, t):
    """Frequent-itemset mining, pair tier (the A-Priori / FP-growth
    first level): part pairs co-purchased in >= 3 distinct orders.

    Execution shape: dedup to (order, part), A-PRIORI PRUNE — a pair
    can reach support s only if BOTH parts individually appear in >= s
    orders, so infrequent parts are semi-joined away BEFORE pairing —
    then a self-equi-join on the order key generates candidate pairs
    only within a basket (never across: the join key carries it), and
    one 2-phase count finishes.  The oracle is the UNPRUNED all-pairs
    query, so the prune's losslessness is value-hash-checked, not
    assumed.  At 100 TB: basket self-joins are quadratic per basket
    but bounded by basket size (TPC-H <= 7 lines); the item prune is
    what keeps the candidate space down on sparse web-scale baskets
    (most items are tail items), and support counting is a map-side-
    combining agg on the pair key.  Higher levels (triples+) iterate
    the same prune: candidates = frequent-pairs join frequent-items.
    """
    minsup = 3
    li = t["lineitem"].select("l_orderkey", "l_partkey").distinct()
    freq_items = (
        li.groupBy("l_partkey")  # li is already (order, part)-distinct
        .agg(F.count("*").alias("item_sup"))
        .where(F.col("item_sup") >= minsup)
        .select("l_partkey")
    )
    pruned = li.join(freq_items, "l_partkey")
    a = pruned.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_a")
    )
    b = pruned.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_b")
    )
    return (
        a.join(b, "k")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= minsup)
    )


@query(
    "impute_mode_fill",
    oracle="""
    WITH holed AS (
      SELECT c_custkey, c_nationkey,
             CASE WHEN c_custkey % 11 = 0 THEN NULL
                  ELSE c_mktsegment END AS seg
      FROM customer
    ), modes AS (
      SELECT c_nationkey, seg AS mode_seg
      FROM (
        SELECT c_nationkey, seg, count(*) AS c,
               row_number() OVER (
                 PARTITION BY c_nationkey
                 ORDER BY count(*) DESC, seg) AS rn
        FROM holed WHERE seg IS NOT NULL
        GROUP BY c_nationkey, seg
      ) WHERE rn = 1
    )
    SELECT h.c_custkey,
           COALESCE(h.seg, m.mode_seg) AS seg_filled,
           h.seg IS NULL AS was_imputed
    FROM holed h JOIN modes m USING (c_nationkey)
    """,
)
def impute_mode_fill(spark, t):
    """Categorical imputation: fill NULLs with the PER-GROUP MODE
    (deterministic tie-break) — the data-repair step between
    ``dq_expectations`` finding the holes and a training pipeline
    consuming the column.

    The fixture has no NULLs, so holes are PLANTED deterministically
    (custkey % 11 — documented, same policy as the synthesized URL /
    XML wire).  Shape: one grouped count over the non-null values, a
    window argmax with a total tie order (count DESC, value) so
    reruns agree, then a broadcast join of the per-group mode back
    onto the holed rows — never a correlated subquery per row.  At
    100 TB the modes relation is |groups| rows (dim-sized), the fill
    is a narrow projection, and the ``was_imputed`` flag keeps the
    repair auditable (the same column a feature store would carry).
    """
    from pyspark.sql.window import Window

    holed = t["customer"].select(
        "c_custkey",
        "c_nationkey",
        F.when(F.col("c_custkey") % 11 == 0, F.lit(None)).otherwise(
            F.col("c_mktsegment")
        ).alias("seg"),
    )
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c").desc(), F.col("seg")
    )
    modes = (
        holed.where(F.col("seg").isNotNull())
        .groupBy("c_nationkey", "seg")
        .agg(F.count("*").alias("c"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("c_nationkey", F.col("seg").alias("mode_seg"))
    )
    return (
        holed.join(F.broadcast(modes), "c_nationkey")
        .select(
            "c_custkey",
            F.coalesce("seg", "mode_seg").alias("seg_filled"),
            F.col("seg").isNull().alias("was_imputed"),
        )
    )


@query(
    "mask_format_preserving",
    oracle="""
    WITH m AS (
      SELECT c_custkey, c_name,
             -- mask only well-formed names: 9 digits after the
             -- prefix.  Anything else (NULL, '', foreign formats) has
             -- no digits to permute -> NULL mask on both engines; the
             -- unguarded CAST of a non-digit crashed Spark's ANSI mode
             -- (r11 empty-value survey)
             CASE WHEN c_name LIKE 'Customer#_________'
             THEN 'Customer#' || array_to_string(list_transform(
               range(1, 10),
               i -> CAST((CAST(substr(c_name, 9 + CAST(i AS INT), 1) AS INT) * 7
                          + i * 3) % 10 AS VARCHAR)), '')
             END AS name_masked
      FROM customer
    )
    SELECT c_custkey, name_masked,
           name_masked LIKE 'Customer#%'
             AND length(name_masked) = length(c_name) AS format_ok,
           name_masked <> c_name AS changed
    FROM m
    """,
)
def mask_format_preserving(spark, t):
    """Format-preserving masking (the FPE shape): customer names keep
    their exact wire format — prefix, length, digits-stay-digits —
    while the identifying digits are substituted by a per-position
    bijection ((d·7 + 3i) mod 10; 7 ⊥ 10, so each position is a
    permutation of 0-9).

    Per-position bijectivity means DISTINCT inputs stay distinct —
    masked data still joins, groups, and FK-validates exactly like
    the original (the property that lets a masked staging environment
    run production queries), unlike hashing into a different format
    or dropping the column.  Completes the privacy set: pii_scrub
    REDACTS free text, dq_k_anonymity AUDITS quasi-identifiers, this
    key TRANSFORMS identifiers reversibly-for-the-keyholder (a real
    FPE cipher — FF1/AES — swaps in for the affine step; the Spark
    execution shape is identical: a narrow codegen map, no shuffle,
    no Python).  ``format_ok`` and ``changed`` are oracle-pinned
    per-row proofs that the mask preserved the format and actually
    masked.
    """
    masked = F.expr(
        "concat('Customer#', array_join(transform(sequence(1, 9), "
        "i -> cast((cast(substring(c_name, 9 + i, 1) as int) * 7 + i * 3) "
        "% 10 as string)), ''))"
    )
    # well-formed names only (see oracle comment): the LIKE guard is
    # evaluated lazily, so malformed names never reach the ANSI cast
    masked = F.when(F.col("c_name").like("Customer#_________"), masked)
    return t["customer"].select(
        "c_custkey",
        masked.alias("name_masked"),
        (
            F.col("name_masked").startswith("Customer#")
            & (F.length("name_masked") == F.length("c_name"))
        ).alias("format_ok"),
        (F.col("name_masked") != F.col("c_name")).alias("changed"),
    )


@query(
    "join_cardinality_estimate",
    oracle="""
    WITH samp AS (
      SELECT o_custkey FROM orders
      WHERE ((o_orderkey % 2147483647) * 2654435761) % 2147483647 % 10 = 0
    ), est AS (
      SELECT count(*) * 10 AS est_rows
      FROM samp JOIN customer ON o_custkey = c_custkey
    ), exact AS (
      SELECT count(*) AS exact_rows
      FROM orders JOIN customer ON o_custkey = c_custkey
    )
    SELECT CAST(est_rows AS BIGINT) AS est_rows,
           CAST(exact_rows AS BIGINT) AS exact_rows,
           ABS(est_rows - exact_rows) * 1.0
             <= 0.2 * exact_rows + 100 AS within_bound
    FROM est, exact
    """,
)
def join_cardinality_estimate(spark, t):
    """Sample-based join-size estimation — the planner-diagnostics
    companion to ``join_skew_report``: before running (or bucketing,
    or broadcasting) a big join, estimate its output from a
    DETERMINISTIC 10% Bernoulli sample of the probe side scaled by
    1/rate.

    Sampling is the same portable-hash membership filter the corpus
    samplers use (pure function of the key — reruns and both engines
    agree), so the ORACLE replicates the estimator exactly and the
    ``within_bound`` column pins its accuracy against the true
    cardinality, which for a PK-FK join sampled on the FK side is an
    unbiased estimate with ~1/√(n·rate) relative error.  At 100 TB
    this is how you price a join before paying for it: the sample
    join costs 10% of one side against the (bucketed/broadcast)
    other, and the answer decides strategy — broadcast if small,
    salt if the per-key histogram (join_skew_report) says skew,
    walk away if the estimate says you're about to emit 10^13 rows.
    Many-to-many joins need the per-key-frequency correction this
    docstring's simple form omits deliberately.
    """
    samp = t["orders"].where(
        F.expr(
            "((o_orderkey % 2147483647) * 2654435761) % 2147483647 % 10 = 0"
        )
    )
    est = (
        samp.join(t["customer"], samp.o_custkey == F.col("c_custkey"))
        .agg((F.count("*") * 10).alias("est_rows"))
    )
    exact = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .agg(F.count("*").alias("exact_rows"))
    )
    return est.crossJoin(exact).select(
        "est_rows",
        "exact_rows",
        (
            F.abs(F.col("est_rows") - F.col("exact_rows"))
            <= 0.2 * F.col("exact_rows") + 100
        ).alias("within_bound"),
    )


@query(
    "agg_regression",
    oracle="""
    SELECT event_type,
           CAST(regr_count(value, CAST(date_part('hour', ts) AS DOUBLE))
             AS BIGINT) AS n,
           ROUND(regr_slope(value, CAST(date_part('hour', ts) AS DOUBLE)), 4)
             + 0 AS slope,
           ROUND(regr_intercept(value, CAST(date_part('hour', ts) AS DOUBLE)), 4)
             + 0 AS intercept,
           ROUND(regr_r2(value, CAST(date_part('hour', ts) AS DOUBLE)), 6)
             + 0 AS r2
    FROM events GROUP BY event_type
    """,
)
def agg_regression(spark, t):
    """In-engine linear regression aggregates (SQL:2003 ``regr_*``):
    per event type, fit value ~ hour-of-day in ONE aggregation pass —
    slope, intercept, R², all from the same five running moments
    (Σx, Σy, Σxy, Σx², Σy²) that stddev/corr already maintain.

    This is the trend-detection primitive (is error volume rising
    through the day?) without exporting to a stats library: the
    moments partial-combine map-side exactly like ``agg_stats``'s, so
    a 100 TB fit costs the same shuffle as a count.  The engine-parity
    caveats are inherited from agg_stats and handled the same way:
    ROUND + "+ 0" to absorb last-ulp and -0.0 drift (both engines
    compute the identical closed forms over the same moments).  A
    near-zero slope with near-zero R² (the fixture's values are
    hour-independent by construction) is itself the assertion that
    the estimator isn't hallucinating trend from noise.
    """
    x = F.hour("ts").cast("double")
    return t["events"].groupBy("event_type").agg(
        F.regr_count("value", x).cast("long").alias("n"),
        (F.round(F.regr_slope("value", x), 4) + 0).alias("slope"),
        (F.round(F.regr_intercept("value", x), 4) + 0).alias("intercept"),
        (F.round(F.regr_r2("value", x), 6) + 0).alias("r2"),
    )


@query(
    "join_pit_scd2",
    oracle="""
    WITH dim AS (
      SELECT user_id, event_type AS state, ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
               AS valid_to
      FROM events WHERE event_type IN ('signup', 'error')
    ), facts AS (
      SELECT event_id, user_id, ts,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    )
    SELECT f.event_id, f.user_id, f.cents, d.state,
           CAST(d.valid_from AS TIMESTAMP) AS state_since
    FROM facts f JOIN dim d
      ON f.user_id = d.user_id
     AND f.ts >= d.valid_from
     AND (d.valid_to IS NULL OR f.ts < d.valid_to)
    """,
)
def join_pit_scd2(spark, t):
    """Point-in-time join against an SCD2 dimension — the feature-
    store correctness pattern: every purchase fact picks up the
    dimension row that was VALID AT THE FACT'S OWN TIMESTAMP, never
    the current one (which would leak the future into training
    features).

    The dimension is built inline with scd2_build's lead() transform
    (signup/error events as the tracked states); the join carries the
    business key as an EQUI conjunct, so Spark hash/sort-merge joins
    on user_id and evaluates the validity-range predicate as a
    post-join filter within the key group — never a nested-loop over
    the cross product (the join_interval posture).  Intervals
    partition time per key, so each fact matches AT MOST one version
    — row counts can't explode.  At 100 TB: facts and dimension
    bucket on the business key (zero exchange when co-located, the
    join_bucketed_colocated layout), and the at-most-one-match
    property is what makes PIT joins safe to run wide.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = (
        t["events"]
        .where(F.col("event_type").isin("signup", "error"))
        .select(
            "user_id",
            F.col("event_type").alias("state"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
        )
    )
    facts = (
        t["events"]
        .where(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "ts",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    return (
        facts.alias("f")
        .join(
            dim.alias("d"),
            (F.col("f.user_id") == F.col("d.user_id"))
            & (F.col("f.ts") >= F.col("d.valid_from"))
            & (F.col("d.valid_to").isNull() | (F.col("f.ts") < F.col("d.valid_to"))),
        )
        .select(
            "f.event_id",
            "f.user_id",
            "f.cents",
            "d.state",
            F.col("d.valid_from").alias("state_since"),
        )
    )
