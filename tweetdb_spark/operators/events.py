"""Events-stream batch analytics (batch analogs of §2.8 streaming ops
+ BASELINE.md headline shapes).

These are the hash-checked batch twins of the Structured Streaming
operators: identical grouping/window semantics executed on the bounded
events table, so the streaming results (rows-only checks) have an
oracle-verified reference.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tweetdb_spark.registry import query


@query(
    "events_tumbling",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
           event_type,
           count(*) AS cnt,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    WHERE ts IS NOT NULL  -- window() semantics: an event with no
                          -- event-time belongs to NO window; raw
                          -- date_trunc would keep a NULL-hour group
                          -- the stream twin can never emit (r13
                          -- rows-only edge survey)
    GROUP BY 1, 2
    """,
)
def events_tumbling(spark, t):
    """Hourly tumbling counts per event_type (ST1's batch twin).

    Batch uses date_trunc; the streaming version uses
    window(ts, '1 hour') — same bucket boundaries (UTC-aligned).
    NULL-ts rows are dropped to match window()'s assignment semantics
    (no event-time → no window), keeping the stream twin equality
    exact on NULL-riddled feeds — same contract events_sliding pinned
    in the r11 NULL survey.
    """
    return (
        t["events"]
        .where(F.col("ts").isNotNull())
        .groupBy(
            F.date_trunc("hour", "ts").alias("hour_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@query(
    "events_sliding",
    oracle="""
    SELECT CAST(time_bucket(INTERVAL 15 MINUTE, ts)
                - (k * INTERVAL 15 MINUTE) AS TIMESTAMP) AS window_start,
           count(*) AS cnt,
           FLOOR(ROUND(SUM(value), 2) * 100 / count(*)) / 100 AS avg_value
    FROM events, (SELECT unnest(range(0, 4)) AS k)
    WHERE ts IS NOT NULL  -- Spark's window() explodes an event into its
                          -- windows; a NULL event-time generates NONE,
                          -- while raw bucket arithmetic would keep a
                          -- NULL-window group (r11 NULL survey)
    GROUP BY 1
    """,
)
def events_sliding(spark, t):
    """1h windows sliding every 15min (ST2's batch twin).

    Spark's window(ts, '1h', '15m') assigns each row to the 4
    overlapping windows whose starts are the row's 15-min bucket minus
    k×15min (k∈0..3); the oracle reproduces exactly that fan-out.
    """
    w = F.window("ts", "1 hour", "15 minutes")
    return (
        t["events"]
        .groupBy(w.alias("w"))
        .agg(
            F.count("*").alias("cnt"),
            # mean via rounded-sum/count: identical operands on both
            # engines → bit-identical (raw avg of ~2-decimal values
            # lands on half-cent boundaries where fp noise flips the
            # rounding; see SURVEY.md §5 discipline)
            (F.floor(F.round(F.sum("value"), 2) * 100 / F.count("*")) / 100).alias("avg_value"),
        )
        .select(F.col("w.start").alias("window_start"), "cnt", "avg_value")
    )


@query(
    "events_session_batch",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - epoch_us(
                    lag(ts) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id))
                  > 1800 * 1000000
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
                     IS NULL
             THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sess AS (
      SELECT user_id, ts, event_id,
             -- CAST: DuckDB's integer window SUM is HUGEINT, which
             -- pandas materializes as float64 (1.0 != Spark's bigint 1
             -- under the driver's dtype-sensitive hash, r01 fail)
             CAST(SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS session_no
      FROM gaps
    )
    SELECT user_id, session_no,
           CAST(MIN(ts) AS TIMESTAMP) AS session_start,
           CAST(MAX(ts) AS TIMESTAMP) AS session_end,
           count(*) AS n_events
    FROM sess
    GROUP BY user_id, session_no
    """,
)
def events_session_batch(spark, t):
    """Sessionization, 30-min inactivity gap (ST3's batch twin).

    The classic lag→gap-flag→cumulative-sum pattern: one shuffle on
    user_id shared by both windows and the final group-by (Catalyst
    reuses the partitioning — a single Exchange in the plan).
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_session = F.when(
        gap_us.isNull() | (gap_us > 1800 * 1_000_000), 1
    ).otherwise(0)
    cum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        t["events"]
        .withColumn("new_session", new_session)
        .withColumn("session_no", F.sum("new_session").over(cum))
        .groupBy("user_id", "session_no")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
        )
    )


@query(
    "events_resample_ffill",
    oracle="""
    WITH bounds AS (
      SELECT CAST(date_trunc('hour', MIN(ts)) AS TIMESTAMP) AS t0,
             CAST(date_trunc('hour', MAX(ts)) AS TIMESTAMP) AS t1
      FROM events WHERE event_type = 'purchase'
    ), grid AS (
      SELECT unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS hour_start
      FROM bounds
    ), hourly AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
             ROUND(SUM(value), 2) AS revenue
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1
    )
    SELECT g.hour_start,
           h.revenue,
           COALESCE(h.revenue,
                    LAST_VALUE(h.revenue IGNORE NULLS) OVER (
                      ORDER BY g.hour_start
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    )) AS revenue_ffill,
           CASE WHEN h.revenue IS NULL THEN 1 ELSE 0 END AS was_gap
    FROM grid g LEFT JOIN hourly h USING (hour_start)
    """,
)
def events_resample_ffill(spark, t):
    """Time-series resample to an hourly grid + forward-fill.

    The gap-filling primitive (pandas ``resample().ffill()`` shape):
    a dense hour grid is generated with ``sequence`` + explode (the
    bounds come from a 1-row broadcast aggregate — no driver collect),
    left-joined to the sparse hourly aggregate, and gaps take the last
    non-null prior value via ``last(ignorenulls=True)`` over a
    preceding-rows frame.  The grid is bounded (hours between min and
    max), so the unpartitioned window is safe at any input scale; for
    per-entity resampling, partition the window by the entity key.
    """
    p = t["events"].where(F.col("event_type") == "purchase")
    bounds = p.agg(
        F.date_trunc("hour", F.min("ts")).alias("t0"),
        F.date_trunc("hour", F.max("ts")).alias("t1"),
    )
    grid = bounds.select(
        F.explode(
            F.sequence("t0", "t1", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour_start")
    )
    hourly = p.groupBy(F.date_trunc("hour", "ts").alias("hour_start")).agg(
        F.round(F.sum("value"), 2).alias("revenue")
    )
    from pyspark.sql.window import Window

    w = Window.orderBy("hour_start").rowsBetween(Window.unboundedPreceding, -1)
    return (
        grid.join(hourly, "hour_start", "left")
        .select(
            "hour_start",
            "revenue",
            F.coalesce(
                "revenue", F.last("revenue", ignorenulls=True).over(w)
            ).alias("revenue_ffill"),
            F.when(F.col("revenue").isNull(), 1).otherwise(0).alias("was_gap"),
        )
    )


@query(
    "events_sessionize",
    oracle="""
    SELECT user_id, count(*) AS n_purchases, ROUND(SUM(value), 2) AS total_value
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY user_id
    ORDER BY total_value DESC, user_id
    LIMIT 20
    """,
)
def events_sessionize(spark, t):
    """BASELINE.md headline: per-user purchase rollup, top-20 by value.

    (The name matches the baseline's metric key; the *real* session
    operator is events_session_batch above.)
    """
    return (
        t["events"]
        .where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy(F.col("total_value").desc(), F.col("user_id"))
        .limit(20)
    )


@query(
    "events_funnel",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'view'
        AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL 7 DAY
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase'
        AND e.ts > s2.t2 AND e.ts <= s2.t2 + INTERVAL 7 DAY
      GROUP BY e.user_id
    )
    SELECT CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_signup,
           CAST((SELECT count(*) FROM s2) AS BIGINT) AS n_view_7d,
           CAST((SELECT count(*) FROM s3) AS BIGINT) AS n_purchase_7d,
           ROUND(CAST((SELECT count(*) FROM s2) AS DOUBLE)
                 / (SELECT count(*) FROM s1), 4) AS view_rate,
           ROUND(CAST((SELECT count(*) FROM s3) AS DOUBLE)
                 / (SELECT count(*) FROM s1), 4) AS purchase_rate
    """,
)
def events_funnel(spark, t):
    """Ordered conversion funnel: signup → view (≤7d) → purchase (≤7d).

    The product-analytics staple, as ONE user_id shuffle: each user's
    group keeps a has-signup flag, the first signup ``t1`` and its view
    and purchase timestamps; ``t2``/``t3`` are the first view/purchase
    in ``(t1, t1 + 7d]``/``(t2, t2 + 7d]``, and one global count
    reports the funnel.  As in the oracle, whose later steps join on
    user_id, the NULL user_id group and a user whose signups all have
    NULL ts count as signups and reach no later step.  A group's
    arrays hold one timestamp per view or purchase of that user.
    """

    def of_type(name):
        return F.when(F.col("event_type") == name, F.col("ts"))

    def first_within(ts, start):
        inside = F.filter(
            ts, lambda x: (x > start) & (x <= start + F.expr("INTERVAL 7 DAY"))
        )
        return F.when(F.col("user_id").isNotNull(), F.array_min(inside))

    users = (
        t["events"]
        .groupBy("user_id")
        .agg(
            F.bool_or(F.col("event_type") == "signup").alias("signed_up"),
            F.min(of_type("signup")).alias("t1"),
            F.collect_list(of_type("view")).alias("views"),
            F.collect_list(of_type("purchase")).alias("purchases"),
        )
        .where("signed_up")
        .withColumn("t2", first_within(F.col("views"), F.col("t1")))
        .withColumn("t3", first_within(F.col("purchases"), F.col("t2")))
    )
    # try_divide, not `/`: a corpus with zero signups must yield NULL
    # rates like the oracle (DuckDB's x/0 is NULL), not an ANSI
    # DIVIDE_BY_ZERO crash
    def rate(n):
        return F.round(F.try_divide(F.col(n).cast("double"), F.col("n_signup")), 4)

    return users.agg(
        F.count("*").cast("bigint").alias("n_signup"),
        F.count("t2").cast("bigint").alias("n_view_7d"),
        F.count("t3").cast("bigint").alias("n_purchase_7d"),
    ).select(
        "n_signup",
        "n_view_7d",
        "n_purchase_7d",
        rate("n_view_7d").alias("view_rate"),
        rate("n_purchase_7d").alias("purchase_rate"),
    )


@query(
    "events_retention",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP) AS cohort
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT e.user_id, f.cohort,
             CAST(date_trunc('week', e.ts) AS TIMESTAMP) AS week
      FROM events e JOIN first_seen f ON e.user_id = f.user_id
    )
    SELECT cohort,
           CAST(date_diff('day', CAST(cohort AS DATE), CAST(week AS DATE)) // 7
                AS INT) AS week_offset,
           CAST(count(*) AS BIGINT) AS n_active
    FROM activity
    GROUP BY cohort, week_offset
    """,
)
def events_retention(spark, t):
    """Weekly retention cohorts: users active N weeks after first seen.

    The cohort matrix every growth dashboard draws.  Two shuffles on
    user_id (first-seen, distinct activity) + one on the tiny
    (cohort, offset) grain; all date arithmetic is integer-exact.
    At 100 TB the distinct-activity shuffle dominates — pre-aggregate
    (user, week) map-side (distinct is a partial-agg) and the rest is
    dim-sized.
    """
    e = t["events"]
    first = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort")
    )
    activity = (
        e.join(first, "user_id")
        .select("user_id", "cohort", F.date_trunc("week", "ts").alias("week"))
        .distinct()
    )
    offset = (
        F.datediff(F.col("week").cast("date"), F.col("cohort").cast("date")) / 7
    ).cast("int")
    return activity.groupBy("cohort", offset.alias("week_offset")).agg(
        F.count("*").cast("bigint").alias("n_active")
    )


@query(
    "events_anomaly",
    oracle="""
    WITH hourly AS (
      SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ), scored AS (
      SELECT event_type, hr, n,
             AVG(n) OVER (PARTITION BY event_type) AS mu,
             stddev_samp(n) OVER (PARTITION BY event_type) AS sigma
      FROM hourly
    )
    SELECT event_type, hr, n,
           ROUND((n - mu) / sigma, 4) + 0 AS zscore
    FROM scored
    WHERE ABS((n - mu) / sigma) > 2.5
    """,
)
def events_anomaly(spark, t):
    """Volume-anomaly detection: hourly counts whose z-score vs the
    event_type's own distribution exceeds 2.5.

    The monitoring primitive on top of the tumbling rollup: one
    shuffle to the (type, hour) grain, then mean/stddev as windows
    over the tiny grain table.  At 100 TB the baseline (mu, sigma)
    comes from a maintained stats table instead of a same-query
    window, but the scoring expression is unchanged.
    """
    hourly = t["events"].groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count("*").cast("bigint").alias("n"))
    w = Window.partitionBy("event_type")
    mu = F.avg("n").over(w)
    sigma = F.stddev_samp("n").over(w)
    z = (F.col("n") - mu) / sigma
    return (
        hourly.withColumn("mu", mu)
        .withColumn("sigma", sigma)
        .where(F.abs((F.col("n") - F.col("mu")) / F.col("sigma")) > 2.5)
        .select(
            "event_type",
            "hr",
            "n",
            (F.round((F.col("n") - F.col("mu")) / F.col("sigma"), 4) + 0).alias(
                "zscore"
            ),
        )
    )


@query(
    "events_interpolate",
    oracle="""
    WITH bounds AS (
      SELECT CAST(date_trunc('hour', MIN(ts)) AS TIMESTAMP) AS t0,
             CAST(date_trunc('hour', MAX(ts)) AS TIMESTAMP) AS t1
      FROM events WHERE event_type = 'purchase'
    ), grid AS (
      SELECT unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS hour_start
      FROM bounds
    ), hourly AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
             ROUND(SUM(value), 2) AS revenue
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1
    ), marked AS (
      SELECT g.hour_start, h.revenue,
             LAST_VALUE(h.revenue IGNORE NULLS) OVER wprev AS prev_val,
             LAST_VALUE(CASE WHEN h.revenue IS NOT NULL THEN g.hour_start END
                        IGNORE NULLS) OVER wprev AS prev_t,
             FIRST_VALUE(h.revenue IGNORE NULLS) OVER wnext AS next_val,
             FIRST_VALUE(CASE WHEN h.revenue IS NOT NULL THEN g.hour_start END
                         IGNORE NULLS) OVER wnext AS next_t
      FROM grid g LEFT JOIN hourly h USING (hour_start)
      WINDOW
        wprev AS (ORDER BY g.hour_start
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        wnext AS (ORDER BY g.hour_start
                  ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    )
    , ints AS (
      -- integer-exact interpolation (mirror of the Spark side): the
      -- operands are 2dp values and whole-second deltas, so the
      -- half-away-from-zero rounding of the exact rational happens in
      -- int64 — no cross-engine ROUND(double) pipeline involved
      SELECT *,
             CAST(epoch(hour_start) AS BIGINT)
               - CAST(epoch(prev_t) AS BIGINT) AS d1,
             CAST(epoch(next_t) AS BIGINT)
               - CAST(epoch(prev_t) AS BIGINT) AS d2,
             CAST(ROUND(prev_val * 10000) AS BIGINT) AS p_s,
             CAST(ROUND(next_val * 10000) AS BIGINT) AS n_s
      FROM marked
    ), rational AS (
      SELECT *, p_s * d2 + (n_s - p_s) * d1 AS i_num FROM ints
    )
    SELECT hour_start, revenue,
           CASE
             WHEN revenue IS NOT NULL THEN revenue
             WHEN prev_val IS NULL THEN next_val
             WHEN next_val IS NULL THEN prev_val
             ELSE (CASE WHEN i_num < 0
                        THEN -((2 * (-i_num) + d2) // (2 * d2))
                        ELSE (2 * i_num + d2) // (2 * d2) END) / 10000.0
           END AS revenue_interp,
           CASE WHEN revenue IS NULL THEN 1 ELSE 0 END AS was_gap
    FROM rational
    """,
)
def events_interpolate(spark, t):
    """Time-series gap filling by LINEAR interpolation (hypertable
    ``interpolate()`` / pandas ``interpolate('linear')`` shape).

    Complements events_resample_ffill: instead of repeating the last
    known value, a gap hour gets the value linearly proportional to
    its position between the surrounding known points; leading /
    trailing gaps degrade to nearest-known.  Both neighbor lookups
    are IGNORE NULLS window navigations over the dense hour grid —
    two passes over an already-hour-sized frame, no self-join.

    Float parity: there is no cross-engine FP rounding step at all
    (r14, ADVICE fix of the stale ROUND(...,4) description).  The
    operands are integers in disguise — prev/next are ROUND(..,2)
    values scaled to int64 by 1e4, the deltas whole seconds — so both
    engines compute round-half-away-from-zero on the exact RATIONAL
    (p_s*d2 + (n_s-p_s)*d1) / d2 with pure int64 arithmetic
    ((2*|num| + den) DIV (2*den), sign restored) and only divide by
    10000.0 at the very end; see the inline note at the i_num
    construction below.

    Scale: the grid is hours-between-min-and-max (bounded, tiny
    relative to the input); the unpartitioned window is over that
    grid, not the raw events.  For per-entity interpolation,
    partition the windows by the entity key.
    """
    p = t["events"].where(F.col("event_type") == "purchase")
    bounds = p.agg(
        F.date_trunc("hour", F.min("ts")).alias("t0"),
        F.date_trunc("hour", F.max("ts")).alias("t1"),
    )
    grid = bounds.select(
        F.explode(F.sequence("t0", "t1", F.expr("INTERVAL 1 HOUR"))).alias(
            "hour_start"
        )
    )
    hourly = p.groupBy(F.date_trunc("hour", "ts").alias("hour_start")).agg(
        F.round(F.sum("value"), 2).alias("revenue")
    )
    wprev = Window.orderBy("hour_start").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wnext = Window.orderBy("hour_start").rowsBetween(
        1, Window.unboundedFollowing
    )
    known_t = F.when(F.col("revenue").isNotNull(), F.col("hour_start"))
    marked = (
        grid.join(hourly, "hour_start", "left")
        .withColumn("prev_val", F.last("revenue", ignorenulls=True).over(wprev))
        .withColumn("prev_t", F.last(known_t, ignorenulls=True).over(wprev))
        .withColumn("next_val", F.first("revenue", ignorenulls=True).over(wnext))
        .withColumn("next_t", F.first(known_t, ignorenulls=True).over(wnext))
    )
    # INTEGER-EXACT interpolation + rounding (r14 second-seed survey
    # catch, NULL_SEED=77002331): matching the float op order (the r11
    # fix) is not enough — when the true value lands exactly on a
    # 4th-decimal HALF (e.g. 155.82025, reachable because the operands
    # are 2dp values and small integer second-deltas), the two
    # engines' ROUND pipelines (JVM BigDecimal-of-double HALF_UP vs
    # scaled-double rounding) can disagree by one final-digit ulp.
    # The operands are exactly representable integers in disguise —
    # prev/next are ROUND(..,2) values, the deltas whole seconds — so
    # compute round-half-away-from-zero on the exact RATIONAL
    # (p*1e4*d2 + (n-p)*1e4*d1) / d2 in int64 on BOTH engines:
    # identical by construction, no FP rounding step at all.
    d1 = F.unix_timestamp("hour_start") - F.unix_timestamp("prev_t")
    d2 = F.unix_timestamp("next_t") - F.unix_timestamp("prev_t")
    p_s = F.round(F.col("prev_val") * 10000).cast("long")
    n_s = F.round(F.col("next_val") * 10000).cast("long")
    marked = marked.withColumn("i_num", p_s * d2 + (n_s - p_s) * d1).withColumn(
        "i_den", d2
    )
    q = F.expr("(2 * abs(i_num) + i_den) DIV (2 * i_den)")
    interp = F.when(F.col("i_num") < 0, -q).otherwise(q) / F.lit(10000.0)
    return marked.select(
        "hour_start",
        "revenue",
        F.when(F.col("revenue").isNotNull(), F.col("revenue"))
        .when(F.col("prev_val").isNull(), F.col("next_val"))
        .when(F.col("next_val").isNull(), F.col("prev_val"))
        .otherwise(interp)
        .alias("revenue_interp"),
        F.when(F.col("revenue").isNull(), 1).otherwise(0).alias("was_gap"),
    )


@query(
    "events_attribution",
    oracle="""
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, ts AS p_ts
      FROM events WHERE event_type = 'purchase'
    ), touch AS (
      SELECT user_id, event_id, event_type, ts
      FROM events WHERE event_type IN ('click', 'view')
    ), joined AS (
      SELECT p.purchase_id, p.user_id, t.event_type, t.ts, t.event_id,
             row_number() OVER (
               PARTITION BY p.purchase_id ORDER BY t.ts, t.event_id
             ) AS rn,
             count(*) OVER (PARTITION BY p.purchase_id) AS n_touches
      FROM p JOIN touch t
        ON p.user_id = t.user_id
       AND t.ts < p.p_ts
       AND t.ts >= p.p_ts - INTERVAL 7 DAY
    )
    SELECT purchase_id, user_id,
           MAX(CASE WHEN rn = 1 THEN event_type END) AS first_touch,
           MAX(CASE WHEN rn = n_touches THEN event_type END) AS last_touch,
           CAST(MAX(n_touches) AS BIGINT) AS n_touches
    FROM joined
    GROUP BY purchase_id, user_id
    """,
)
def events_attribution(spark, t):
    """Marketing attribution: for each purchase, the FIRST-touch and
    LAST-touch engagement event in the 7-day lookback window.

    An interval self-join (same equi-conjunct discipline as
    join_interval: the user_id equi-key carries the hash join, the
    time bounds ride as filters — no nested loop), then one window
    per purchase for deterministic first/last (ordered ts, event_id —
    never "whichever row arrived").  At 100 TB the lookback bound is
    what keeps state finite: bucket both sides by (user_id, day) and
    the join is co-located per day-pair; the per-purchase window
    partitions by purchase_id, bounded by touches-per-user-week, not
    corpus size.  First/last-touch generalizes to any position-based
    attribution (linear/U-shaped) by weighting rn.
    """
    p = (
        t["events"]
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
        )
    )
    touch = (
        t["events"]
        .where(F.col("event_type").isin("click", "view"))
        .select(
            F.col("user_id").alias("t_user"),
            F.col("event_id").alias("t_event_id"),
            "event_type",
            F.col("ts").alias("t_ts"),
        )
    )
    joined = p.join(
        touch,
        (F.col("user_id") == F.col("t_user"))
        & (F.col("t_ts") < F.col("p_ts"))
        & (F.col("t_ts") >= F.col("p_ts") - F.expr("INTERVAL 7 DAY")),
    )
    w = Window.partitionBy("purchase_id").orderBy("t_ts", "t_event_id")
    wall = Window.partitionBy("purchase_id")
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .withColumn("n_touches", F.count("*").over(wall))
        .groupBy("purchase_id", "user_id")
        .agg(
            F.max(
                F.when(F.col("rn") == 1, F.col("event_type"))
            ).alias("first_touch"),
            F.max(
                F.when(F.col("rn") == F.col("n_touches"), F.col("event_type"))
            ).alias("last_touch"),
            F.max("n_touches").cast("bigint").alias("n_touches"),
        )
    )


@query(
    "events_rate_limit",
    oracle="""
    WITH ranked AS (
      SELECT event_id, user_id, ts,
             row_number() OVER (
               PARTITION BY user_id, date_trunc('hour', ts)
               ORDER BY ts NULLS FIRST, event_id) AS rn
      FROM events
    )
    SELECT event_id, user_id,
           CAST(rn AS BIGINT) AS rn,
           rn <= 2 AS admitted
    FROM ranked
    """,
)
def events_rate_limit(spark, t):
    """Per-user rate limiting: admit at most 2 events per user per
    hour, flag the overflow — the bot-throttling / abuse-control
    primitive every ingestion pipeline runs before events reach the
    warehouse (and a training pipeline runs to cap any single actor's
    footprint in the corpus).

    One window keyed (user_id, hour): the shuffle is the same
    user-keyed exchange sessionization pays, and the hour truncation
    keeps any single window partition bounded no matter how long a
    hot user stays hot — at 100 TB the same expression runs in
    Structured Streaming as a windowed row_number via
    applyInPandasWithState, or cheaper as a count-per-(user, window)
    aggregate when only the boolean is needed.  Ties inside the same
    timestamp break on event_id so admission is deterministic.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(
        "user_id", F.date_trunc("hour", F.col("ts"))
    ).orderBy("ts", "event_id")
    return t["events"].select(
        "event_id",
        "user_id",
        F.row_number().over(w).cast("bigint").alias("rn"),
        (F.row_number().over(w) <= 2).alias("admitted"),
    )


@query(
    "events_multires_rollup",
    oracle="""
    WITH cents AS (
      SELECT ts, event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    ), h AS (
      SELECT 'hour' AS resolution, date_trunc('hour', ts) AS bucket_start,
             event_type, count(*) AS cnt, SUM(cents) AS sum_cents
      FROM cents GROUP BY 2, 3
    ), d AS (
      SELECT 'day' AS resolution, date_trunc('day', ts) AS bucket_start,
             event_type, count(*) AS cnt, SUM(cents) AS sum_cents
      FROM cents GROUP BY 2, 3
    ), w AS (
      SELECT 'week' AS resolution, date_trunc('week', ts) AS bucket_start,
             event_type, count(*) AS cnt, SUM(cents) AS sum_cents
      FROM cents GROUP BY 2, 3
    )
    SELECT resolution, CAST(bucket_start AS TIMESTAMP) AS bucket_start,
           event_type, cnt, CAST(sum_cents AS BIGINT) AS sum_cents
    FROM (SELECT * FROM h UNION ALL SELECT * FROM d UNION ALL SELECT * FROM w)
    """,
)
def events_multires_rollup(spark, t):
    """Hypertable continuous-aggregate shape: hour/day/week rollups in
    ONE long table, where the coarse resolutions are RE-AGGREGATED
    FROM THE HOURLY PARTIALS — the raw events are scanned exactly
    once.

    This is the TimescaleDB/ClickHouse materialized-rollup pattern:
    maintain the finest-grain partial (hourly), derive day from hour
    partials and week from day partials by summing counts/sums (all
    aggregates here are decomposable), never rescan raw data for a
    coarser window.  The ORACLE computes every resolution directly
    from the raw events, so the partial-reaggregation chain is proven
    lossless by the value hash, not by trust in associativity.  Money
    is summed as exact integer cents (ROUND(value*100)): double
    addition is order-sensitive, and a re-aggregation would otherwise
    hash-diverge from the direct sum at FP epsilon.  At 100 TB: the
    hourly partial is ~|types|x24 rows/day regardless of event volume,
    so the day/week tiers aggregate KBs; incremental maintenance
    (agg_incremental's pattern) appends new hours and re-derives only
    affected coarse buckets.
    """
    cents = F.round(F.col("value") * 100).cast("long")
    hourly = (
        t["events"]
        .select(
            F.date_trunc("hour", "ts").alias("bucket_start"),
            "event_type",
            cents.alias("cents"),
        )
        .groupBy("bucket_start", "event_type")
        .agg(F.count("*").alias("cnt"), F.sum("cents").alias("sum_cents"))
    )
    daily = (
        hourly.groupBy(
            F.date_trunc("day", "bucket_start").alias("bucket_start"), "event_type"
        )
        .agg(F.sum("cnt").alias("cnt"), F.sum("sum_cents").alias("sum_cents"))
    )
    weekly = (
        daily.groupBy(
            F.date_trunc("week", "bucket_start").alias("bucket_start"), "event_type"
        )
        .agg(F.sum("cnt").alias("cnt"), F.sum("sum_cents").alias("sum_cents"))
    )
    lit = F.lit
    return (
        hourly.select(lit("hour").alias("resolution"), "*")
        .unionByName(daily.select(lit("day").alias("resolution"), "*"))
        .unionByName(weekly.select(lit("week").alias("resolution"), "*"))
    )


@query(
    "events_gap_islands",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events
    ), numbered AS (
      SELECT user_id, d,
             d - CAST(row_number() OVER (
                   PARTITION BY user_id ORDER BY d) AS INTEGER) AS grp
      FROM days
    ), islands AS (
      SELECT user_id, grp, count(*) AS len
      FROM numbered GROUP BY user_id, grp
    )
    SELECT user_id,
           CAST(SUM(len) AS BIGINT) AS n_active_days,
           count(*) AS n_streaks,
           CAST(MAX(len) AS BIGINT) AS longest_streak
    FROM islands GROUP BY user_id
    """,
)
def events_gap_islands(spark, t):
    """Gaps-and-islands: per-user consecutive-active-day streaks (the
    retention/engagement 'streak' metric, and the general contiguity
    idiom behind SLA windows and sensor-uptime reports).

    The classic relational trick, fully parallel: distinct active
    days, then ``day − row_number()`` is CONSTANT within a
    consecutive run (both advance by 1/day), so the island is a plain
    groupBy on that derived key — no iterative pass, no self-join.
    One shuffle on user_id drives the window, the island agg, and the
    per-user summary (same partitioning reused across all three).  At
    100 TB the distinct (user, day) projection is the only wide step
    and it combines map-side; everything after operates on ≤ 1 row
    per user-day.
    """
    days = (
        t["events"]
        .select("user_id", F.to_date(F.date_trunc("day", "ts")).alias("d"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    numbered = days.withColumn(
        "grp", F.date_sub("d", F.row_number().over(w))
    )
    islands = numbered.groupBy("user_id", "grp").agg(F.count("*").alias("len"))
    return islands.groupBy("user_id").agg(
        F.sum("len").alias("n_active_days"),
        F.count("*").alias("n_streaks"),
        F.max("len").alias("longest_streak"),
    )


@query(
    "events_pattern_detect",
    oracle="""
    WITH j AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts NULLS FIRST, event_id)
               AS journey
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           length(journey) AS journey_len,
           regexp_matches(journey, 's[cv]*p') AS has_conversion_path,
           -- COALESCE aligns DuckDB's NULL-on-no-match with Spark's
           -- ''-on-no-match, but must NOT fire when the journey itself
           -- is NULL (a user whose event_types are all NULL): Spark's
           -- regexp_extract propagates NULL there (r11 NULL survey)
           CASE WHEN journey IS NULL THEN NULL
                ELSE COALESCE(regexp_extract(journey, 's[cv]*p'), '')
           END AS first_path,
           CAST((length(journey) - length(replace(journey, 'sp', ''))) / 2
                AS BIGINT) AS n_direct_conversions
    FROM j
    """,
)
def events_pattern_detect(spark, t):
    """Event-sequence pattern matching (the MATCH_RECOGNIZE /
    Snowplow-funnel shape Spark lacks natively): compress each user's
    ordered event stream into a journey STRING — one char per event —
    and run regular expressions over it.

    ``signup → (click|view)* → purchase`` becomes the regex
    ``s[cv]*p``: detection, first-match extraction, and direct-
    conversion counting are then ordinary codegen string functions —
    the whole state machine the SQL standard needed MATCH_RECOGNIZE
    for, paid as one deterministic LISTAGG (total order: ts,
    event_id) plus regex over a |events-per-user|-char string.  The
    oracle runs the identical encoding in DuckDB, so the journey
    construction AND the pattern semantics are value-hash-checked.
    At 100 TB: one shuffle on user_id (map-side partials carry
    ordered runs), journey strings are KBs for even hyperactive
    users, and new patterns are regex edits — no replan, no second
    shuffle.  Patterns needing event PAYLOADS (amounts, gaps) join
    the match positions back to the events — the funnel/attribution
    keys cover those shapes.
    """
    j = t["events"].groupBy("user_id").agg(
        F.expr(
            "listagg(substring(event_type, 1, 1)) WITHIN GROUP "
            "(ORDER BY ts NULLS FIRST, event_id)"
        ).alias("journey")
    )
    return j.select(
        "user_id",
        F.length("journey").alias("journey_len"),
        F.expr("journey rlike 's[cv]*p'").alias("has_conversion_path"),
        F.regexp_extract("journey", "s[cv]*p", 0).alias("first_path"),
        (
            (F.length("journey") - F.length(F.regexp_replace("journey", "sp", "")))
            / 2
        ).cast("long").alias("n_direct_conversions"),
    )


@query(
    "events_top_paths",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS nxt1,
             lead(event_type, 2) OVER w AS nxt2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
    )
    SELECT event_type || '>' || nxt1 || '>' || nxt2 AS path,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM s WHERE event_type IS NOT NULL
       AND nxt1 IS NOT NULL AND nxt2 IS NOT NULL
    GROUP BY 1
    ORDER BY n DESC, path
    LIMIT 20
    """,
)
def events_top_paths(spark, t):
    """Top-20 three-step user journeys — lightweight sequential-pattern
    mining (the MATCH_RECOGNIZE-family gap events_pattern_detect's
    regex form doesn't cover: frequency-ranked raw paths, no pattern
    given a priori).

    One user_id shuffle serves both lead() windows (same partition +
    order spec collapses to a single Window node); the 3-gram count is
    a plain 2-phase HashAggregate whose key space is |event_types|^3 —
    a few hundred groups however many events — and the final top-20 is
    TakeOrderedAndProject, never a global sort.  Fully deterministic:
    ties broken by path string in BOTH engines, (ts, event_id) gives
    the windows a total order, and the outputs are strings + bigints
    (no FP parity surface).  At 100 TB this is the same plan: the only
    data-sized exchange is the user partition, which every sessionize/
    funnel/retention key in this module already pays.
    """
    # NULL guard AFTER the window, on all three path segments, mirrored
    # in the oracle's WHERE: a NULL event_type would make the oracle's
    # `||` produce a NULL path while concat_ws silently skips the NULL
    # segment ("a>b" from a 3-gram) — fixture-invisible today,
    # semantics-divergent by construction (round-10 verdict ask #7).
    # The guard is post-window so a NULL event BREAKS the journey (its
    # neighbors' 3-grams drop) rather than splicing its neighbors
    # together; the window still sees every event, identically in both
    # engines.  The oracle's ORDER BY adds NULLS FIRST because Spark's
    # ascending sort defaults NULLs first while DuckDB defaults them
    # last — a NULL ts would otherwise reorder a user's journey
    # differently per engine (same latent class, locked by the NULL-
    # fixture test).
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = t["events"].select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("nxt1"),
        F.lead("event_type", 2).over(w).alias("nxt2"),
    )
    return (
        s.where(
            F.col("event_type").isNotNull()
            & F.col("nxt1").isNotNull()
            & F.col("nxt2").isNotNull()
        )
        .select(
            F.concat_ws(">", "event_type", "nxt1", "nxt2").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(20)
    )
