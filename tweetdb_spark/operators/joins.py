"""Join operators (SURVEY.md §2.3, J1–J10; J11 streaming lives in
``tweetdb_spark/streaming``).

Join strategy notes (100 TB posture):
- Dimension tables (region 5, nation 25, supplier ≤1k) are broadcast
  explicitly — no shuffle of the fact side, ever.
- Fact-fact joins (orders⋈lineitem) shuffle on the join key; AQE
  handles skew splitting at runtime.
- The non-equi joins (J8 theta, J10 interval) are the two shapes
  Spark's planner can only do as BNLJ; J10 documents the bucketed
  rewrite that makes it an equi-join at scale.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tweetdb_spark.registry import query


@query(
    "join_inner_broadcast",
    oracle="""
    SELECT n_nationkey, n_name, r_name
    FROM nation JOIN region ON n_regionkey = r_regionkey
    """,
)
def join_inner_broadcast(spark, t):
    """J1: small-dim inner join, broadcast hash join (no shuffle)."""
    return (
        t["nation"]
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name", "r_name")
    )


@query(
    "join_multiway",
    oracle="""
    SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def join_multiway(spark, t):
    """J2: 6-table TPC-H Q5 shape (incl. a 2-key equi join).

    lineitem joins the date-filtered orders first and customer after,
    so the build side is picked between the filtered orders and
    lineitem, and the orders are the smaller: they broadcast while
    they fit (46k rows, 3.3 MB at sf0.1) and shuffle-join at scale.
    Joined customer-first, the customer⋈orders estimate would exceed
    the compressed-bytes estimate of the pruned lineitem scan, and all
    of lineitem would be broadcast.  supplier/nation/region broadcast,
    so the region filter prunes via the broadcast side (runtime
    bloom/DPP at scale).
    """
    c, o, li = t["customer"], t["orders"], t["lineitem"]
    s, n, r = t["supplier"], t["nation"], t["region"]
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .where(
            (r.r_name == "ASIA")
            & (o.o_orderdate >= F.lit("1996-01-01"))
            & (o.o_orderdate < F.lit("1998-01-01"))
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "q3_top_orders",
    oracle="""
    SELECT l_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1996-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def q3_top_orders(spark, t):
    """TPC-H Q3 shape (BASELINE.md headline): 3-way join → agg → top-10.

    lineitem joins the filtered orders first, then the BUILDING
    customers (only a filter here), so the orders, not lineitem, are
    the build side, as in ``join_multiway``.  The final top-10 is
    TakeOrderedAndProject over the aggregated rows.
    """
    c, o, li = t["customer"], t["orders"], t["lineitem"]
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c.where(F.col("c_mktsegment") == "BUILDING"), c.c_custkey == o.o_custkey)
        .where(
            (o.o_orderdate < F.lit("1998-03-15"))
            & (li.l_shipdate > F.lit("1996-03-15"))
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("o_orderdate"), F.col("l_orderkey"))
        .limit(10)
    )


@query(
    "join_left_outer",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    """,
)
def join_left_outer(spark, t):
    """J3: customers with/without orders; null-filled right side."""
    c, o = t["customer"], t["orders"]
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@query(
    "join_full_outer",
    oracle="""
    SELECT c_custkey, c_nationkey, s_suppkey, s_nationkey
    FROM customer FULL JOIN supplier ON c_nationkey = s_nationkey
    """,
)
def join_full_outer(spark, t):
    """J4: full outer join on nationkey (many-to-many, both-null-filled)."""
    c, s = t["customer"], t["supplier"]
    return c.join(s, c.c_nationkey == s.s_nationkey, "full").select(
        "c_custkey", "c_nationkey", "s_suppkey", "s_nationkey"
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
    )
    """,
)
def join_semi(spark, t):
    """J5: EXISTS — left semi join; right side only probes, never emits."""
    c = t["customer"]
    urgent = t["orders"].where(F.col("o_orderpriority") == "1-URGENT")
    return c.join(
        urgent, c.c_custkey == urgent.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def join_anti(spark, t):
    """J6: NOT EXISTS — left anti join."""
    c, o = t["customer"], t["orders"]
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "join_cross",
    oracle="""
    SELECT r_name, p.prio
    FROM region
    CROSS JOIN (SELECT DISTINCT o_orderpriority AS prio FROM orders) p
    """,
)
def join_cross(spark, t):
    """J7: small cross join (5 regions × 5 priorities)."""
    prios = t["orders"].select(
        F.col("o_orderpriority").alias("prio")
    ).distinct()
    return t["region"].select("r_name").crossJoin(prios)


@query(
    "join_null_safe",
    oracle="""
    WITH a AS (
      SELECT n_nationkey, nullif(n_regionkey, 2) AS rk FROM nation
    ), b AS (
      SELECT nullif(n_regionkey, 2) AS rk2, count(*) AS grp_cnt
      FROM nation GROUP BY 1
    )
    SELECT a.n_nationkey, b.grp_cnt
    FROM a JOIN b ON a.rk IS NOT DISTINCT FROM b.rk2
    """,
)
def join_null_safe(spark, t):
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM).

    NULL join keys silently drop rows under plain ``=`` — the classic
    late-night data bug when a key column is sparsely populated.  Here
    region 2 is nulled out on both sides: the 5 NULL-key nations MUST
    match the NULL group row (25 output rows; a plain equi-join would
    return 20).  ``eqNullSafe`` stays a hash-joinable key in Spark
    (planned as BHJ/SMJ, not a nested loop), so the null-safe form
    costs nothing at scale.
    """
    a = t["nation"].select(
        "n_nationkey", F.nullif(F.col("n_regionkey"), F.lit(2)).alias("rk")
    )
    b = (
        t["nation"]
        .groupBy(F.nullif(F.col("n_regionkey"), F.lit(2)).alias("rk2"))
        .agg(F.count("*").alias("grp_cnt"))
    )
    return a.join(
        F.broadcast(b), F.col("rk").eqNullSafe(F.col("rk2"))
    ).select("n_nationkey", "grp_cnt")


# The naive theta-range SQL — shared verbatim by join_theta_range (its
# own oracle) and join_theta_bucketed (whose correctness proof is that
# the bucketed rewrite hash-matches THIS query), mirroring the
# join_interval / join_interval_bucketed pairing below.
_THETA_ORACLE = """
    SELECT a.p_partkey AS pk_a, b.p_partkey AS pk_b,
           a.p_retailprice AS price_a, b.p_retailprice AS price_b
    FROM part a JOIN part b
      ON a.p_brand <> b.p_brand
     AND b.p_retailprice BETWEEN a.p_retailprice - 0.05 AND a.p_retailprice + 0.05
     AND a.p_partkey < b.p_partkey
    WHERE a.p_size = 1
    """


@query(
    "join_theta_range",
    oracle=_THETA_ORACLE,
)
def join_theta_range(spark, t):
    """J8: non-equi (theta) self-join — cross-brand parts priced within ±0.05.

    Planner picks BroadcastNestedLoopJoin (one side filtered small).
    At 100 TB the rewrite is join_theta_bucketed below: bucket
    p_retailprice into 0.05-wide bins, equi-join on bin with the probe
    side exploded to bin±1, re-filter exactly.
    """
    p = t["part"]
    a = p.where(F.col("p_size") == 1).alias("a")
    b = p.alias("b")
    cond = (
        (F.col("a.p_brand") != F.col("b.p_brand"))
        & F.col("b.p_retailprice").between(
            F.col("a.p_retailprice") - 0.05, F.col("a.p_retailprice") + 0.05
        )
        & (F.col("a.p_partkey") < F.col("b.p_partkey"))
    )
    return a.join(b, cond).select(
        F.col("a.p_partkey").alias("pk_a"),
        F.col("b.p_partkey").alias("pk_b"),
        F.col("a.p_retailprice").alias("price_a"),
        F.col("b.p_retailprice").alias("price_b"),
    )


@query(
    "join_theta_bucketed",
    oracle=_THETA_ORACLE,
)
def join_theta_bucketed(spark, t):
    """The 100 TB rewrite of join_theta_range, proven exact.

    A BNLJ theta join is O(|A|·|B|); the scalable form makes the range
    predicate an equi-join.  Prices are converted to exact integer
    cents (ROUND(p*100) — bit-exact for 2-dp money in double) and
    binned at the window radius (5 cents).  A ±5-cent window around
    any price can only touch the price's own bin and its two
    neighbours, so the probe side explodes to bin-1/bin/bin+1 and
    equi-joins on the bin id; the original double-typed BETWEEN is
    re-applied afterwards, so results are byte-identical to the naive
    theta join — THE ORACLE IS THE NAIVE QUERY.  The build side keeps
    exactly one bin, so no pair can join twice and no distinct is
    needed.  Shuffle key = bin id: O(N) cents-wide partitions instead
    of a nested loop.
    """
    p = t["part"]
    cents = F.round(F.col("p_retailprice") * 100).cast("bigint")
    a = (
        p.where(F.col("p_size") == 1)
        .select(
            F.col("p_partkey").alias("pk_a"),
            F.col("p_brand").alias("brand_a"),
            F.col("p_retailprice").alias("price_a"),
            F.floor(cents / 5).alias("bin_a"),
        )
        .withColumn(
            "bin",
            F.explode(
                F.array(F.col("bin_a") - 1, F.col("bin_a"), F.col("bin_a") + 1)
            ),
        )
        .drop("bin_a")
    )
    b = p.select(
        F.col("p_partkey").alias("pk_b"),
        F.col("p_brand").alias("brand_b"),
        F.col("p_retailprice").alias("price_b"),
        F.floor(cents / 5).alias("bin"),
    )
    return (
        a.join(b, "bin")
        .where(
            (F.col("brand_a") != F.col("brand_b"))
            & F.col("price_b").between(
                F.col("price_a") - 0.05, F.col("price_a") + 0.05
            )
            & (F.col("pk_a") < F.col("pk_b"))
        )
        .select("pk_a", "pk_b", "price_a", "price_b")
    )


@query(
    "join_asof",
    oracle="""
    WITH purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), signups AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup'
    ), ranked AS (
      SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
             s.ts AS signup_ts,
             row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY s.ts DESC, s.event_id DESC
             ) AS rn
      FROM purchases p JOIN signups s
        ON p.user_id = s.user_id AND s.ts <= p.ts
    )
    SELECT purchase_id, user_id, purchase_ts, signup_ts
    FROM ranked WHERE rn = 1
    """,
)
def join_asof(spark, t):
    """J9: as-of join — latest signup at-or-before each purchase, per user.

    Spark has no native ASOF; this is the range-join + per-left-row
    argmax pattern (row_number over signup ts DESC, tie-broken by
    event_id DESC to be fully deterministic — same semantics as
    DuckDB's ASOF JOIN with an explicit tie-break).  At scale the
    range join should be bucketed by time (see join_interval);
    partitioning is per purchase event so the window never skews.
    """
    e = t["events"]
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    s = e.where(F.col("event_type") == "signup").select(
        F.col("user_id").alias("s_user_id"),
        F.col("ts").alias("signup_ts"),
        F.col("event_id").alias("s_event_id"),
    )
    joined = p.join(
        s,
        (p.user_id == s.s_user_id) & (s.signup_ts <= p.purchase_ts),
    )
    w = Window.partitionBy("purchase_id").orderBy(
        F.col("signup_ts").desc(), F.col("s_event_id").desc()
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("purchase_id", "user_id", "purchase_ts", "signup_ts")
    )


@query(
    "join_skew_salted",
    oracle="""
    SELECT e.event_id, e.event_type, d.type_desc
    FROM events e
    JOIN (SELECT DISTINCT event_type, 'type:' || event_type AS type_desc
          FROM events) d
      ON e.event_type = d.event_type
    """,
)
def join_skew_salted(spark, t):
    """Salted join — the manual skew-mitigation pattern, with a
    correctness proof.

    Joining a fact on a 5-value key (event_type) concentrates each key
    in one reducer.  The salted rewrite: fact side gets a
    deterministic salt (event_id % 16), the dim side is exploded ×16,
    and the join key becomes (key, salt) — 80 evenly-sized partitions
    instead of 5 hot ones.  Results are provably identical to the
    plain join (the oracle IS the plain join).  At 100 TB this is the
    fallback when AQE skew-split can't help (e.g. skewed *broadcast*
    misses or stateful streaming joins).
    """
    nsalt = 16
    # pmod, not %: Spark's % returns negative remainders for negative
    # keys, which would silently drop rows (no dim salt < 0)
    e = t["events"].withColumn("salt", F.pmod(F.col("event_id"), F.lit(nsalt)).cast("int"))
    d = (
        t["events"]
        .select("event_type")
        .distinct()
        .withColumn("type_desc", F.concat(F.lit("type:"), F.col("event_type")))
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(nsalt - 1))))
        .withColumn("salt", F.col("salt").cast("int"))
    )
    return e.join(d, ["event_type", "salt"]).select(
        "event_id", "event_type", "type_desc"
    )


# The naive interval-join SQL — shared verbatim by join_interval (its
# own oracle) and join_interval_bucketed (whose correctness proof is
# that the rewrite hash-matches THIS query).
_INTERVAL_ORACLE = """
    SELECT s.event_id AS signup_id, s.user_id,
           e.event_id AS event_id, e.event_type, e.ts
    FROM events s JOIN events e
      ON s.user_id = e.user_id
     AND e.ts > s.ts
     AND e.ts <= s.ts + INTERVAL 1 HOUR
    WHERE s.event_type = 'signup' AND e.event_type <> 'signup'
    """


@query(
    "join_interval_bucketed",
    oracle=_INTERVAL_ORACLE,
)
def join_interval_bucketed(spark, t):
    """The 100 TB rewrite of join_interval, proven exact.

    Pure range joins degrade to per-key scans; the scalable form
    buckets both sides by hour and equi-joins on
    (user_id, hour_bucket) with the probe side exploded to the two
    candidate buckets its 1-hour window can touch, then re-applies the
    exact range predicate.  The shuffle key gains the time dimension
    (finer partitioning, bounded probe width).  The ORACLE IS THE
    NAIVE INTERVAL JOIN — the hash check proves the rewrite returns
    byte-identical results.
    """
    e = t["events"]
    hour = lambda c: F.floor(F.unix_micros(F.col(c)) / (3600 * 1_000_000))  # noqa: E731
    s = (
        e.where(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_id"),
            "user_id",
            F.col("ts").alias("s_ts"),
        )
        # a (s_ts, s_ts+1h] window spans the signup's own hour bucket
        # and the next one
        .withColumn("b", F.explode(F.array(hour("s_ts"), hour("s_ts") + 1)))
    )
    x = (
        e.where(F.col("event_type") != "signup")
        .select(
            F.col("user_id").alias("x_user_id"),
            F.col("event_id").alias("event_id"),
            "event_type",
            "ts",
        )
        .withColumn("b", hour("ts"))
    )
    return (
        s.join(x, (s.user_id == x.x_user_id) & (s.b == x.b))
        .where(
            (F.col("ts") > F.col("s_ts"))
            & (F.col("ts") <= F.col("s_ts") + F.expr("INTERVAL 1 HOUR"))
        )
        # no distinct needed: the event side has exactly one bucket, so
        # each (signup, event) pair joins at most once
        .select("signup_id", "user_id", "event_id", "event_type", "ts")
    )


@query(
    "join_interval",
    oracle=_INTERVAL_ORACLE,
)
def join_interval(spark, t):
    """J10: interval join — activity within 1h after each signup.

    Expressed as an equi-join on user_id plus a range conjunct, so the
    planner uses a hash join on user_id with the time predicate as a
    post-join filter — NOT a BNLJ.  At 100 TB, additionally bucket
    both sides by hour so the range conjunct prunes buckets
    (bucket equi-join on (user_id, hour±1), exact re-filter after).
    """
    e = t["events"]
    s = e.where(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        "user_id",
        F.col("ts").alias("s_ts"),
    )
    x = e.where(F.col("event_type") != "signup").select(
        F.col("user_id").alias("x_user_id"),
        F.col("event_id").alias("event_id"),
        "event_type",
        "ts",
    )
    return (
        s.join(
            x,
            (s.user_id == x.x_user_id)
            & (x.ts > s.s_ts)
            & (x.ts <= s.s_ts + F.expr("INTERVAL 1 HOUR")),
        )
        .select("signup_id", "user_id", "event_id", "event_type", "ts")
    )


@query(
    "join_asof_tolerance",
    oracle="""
    WITH purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), signups AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup'
    ), ranked AS (
      SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
             s.ts AS signup_ts,
             row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY s.ts DESC, s.event_id DESC
             ) AS rn
      FROM purchases p JOIN signups s
        ON p.user_id = s.user_id
       AND s.ts <= p.ts
       AND s.ts >= p.ts - INTERVAL 24 HOUR
    )
    SELECT purchase_id, user_id, purchase_ts, signup_ts
    FROM ranked WHERE rn = 1
    """,
)
def join_asof_tolerance(spark, t):
    """As-of join with a max-gap tolerance (pandas merge_asof's
    ``tolerance``): latest signup at most 24h before each purchase.

    The tolerance is the production form of join_asof — it bounds how
    stale a match may be AND bounds the candidate range, which is what
    makes the time-bucketed rewrite (join_interval_bucketed's scheme)
    applicable: without a tolerance the probe range is unbounded and
    cannot be bucketed.
    """
    e = t["events"]
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    s = e.where(F.col("event_type") == "signup").select(
        F.col("user_id").alias("s_user_id"),
        F.col("ts").alias("signup_ts"),
        F.col("event_id").alias("s_event_id"),
    )
    joined = p.join(
        s,
        (p.user_id == s.s_user_id)
        & (s.signup_ts <= p.purchase_ts)
        & (s.signup_ts >= p.purchase_ts - F.expr("INTERVAL 24 HOUR")),
    )
    w = Window.partitionBy("purchase_id").orderBy(
        F.col("signup_ts").desc(), F.col("s_event_id").desc()
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("purchase_id", "user_id", "purchase_ts", "signup_ts")
    )


@query(
    "join_asof_forward",
    oracle="""
    WITH signups AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup'
    ), purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), ranked AS (
      SELECT s.event_id AS signup_id, s.user_id, s.ts AS signup_ts,
             p.ts AS first_purchase_ts,
             row_number() OVER (
               PARTITION BY s.event_id
               ORDER BY p.ts ASC, p.event_id ASC
             ) AS rn
      FROM signups s JOIN purchases p
        ON s.user_id = p.user_id AND p.ts >= s.ts
    )
    SELECT signup_id, user_id, signup_ts, first_purchase_ts
    FROM ranked WHERE rn = 1
    """,
)
def join_asof_forward(spark, t):
    """J9's FORWARD direction (pandas ``merge_asof(direction=
    'forward')``): the EARLIEST purchase at-or-after each signup, per
    user — the time-to-first-conversion lookup, where the backward
    form answers attribution.  Identical range-join + per-left-row
    window pattern as join_asof with the inequality and ordering
    mirrored (ASC, tie-broken by event_id ASC — deterministic).  The
    same scale notes apply: bucket the range join by coarse time at
    100 TB; the window partitions per signup event so it never skews.
    """
    e = t["events"]
    s = e.where(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        "user_id",
        F.col("ts").alias("signup_ts"),
    )
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("first_purchase_ts"),
        F.col("event_id").alias("p_event_id"),
    )
    joined = s.join(
        p,
        (s.user_id == p.p_user_id)
        & (p.first_purchase_ts >= s.signup_ts),
    )
    w = Window.partitionBy("signup_id").orderBy(
        F.col("first_purchase_ts").asc(), F.col("p_event_id").asc()
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("signup_id", "user_id", "signup_ts", "first_purchase_ts")
    )


@query(
    "join_asof_nearest",
    oracle="""
    WITH purchases AS (
      SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase' AND ts IS NOT NULL
    ), signups AS (
      SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'signup' AND ts IS NOT NULL
    ), ranked AS (
      -- ts IS NOT NULL in both CTEs: see docstring on why no-time
      -- rows are excluded from a 'nearest' match (r11 NULL survey)
      SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
             s.ts AS signup_ts,
             CAST(abs(epoch_us(p.ts) - epoch_us(s.ts)) AS BIGINT)
               AS abs_us,
             row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY abs(epoch_us(p.ts) - epoch_us(s.ts)) ASC,
                        s.ts ASC, s.event_id ASC
             ) AS rn
      FROM purchases p JOIN signups s ON p.user_id = s.user_id
    )
    SELECT purchase_id, user_id, purchase_ts, signup_ts, abs_us
    FROM ranked WHERE rn = 1
    """,
)
def join_asof_nearest(spark, t):
    """The third merge_asof direction (``'nearest'``): the signup
    CLOSEST in time to each purchase, either side, per user — with
    the time distance measured in exact integer microseconds
    (``unix_micros`` / DuckDB ``epoch_us``: BIGINT on both engines,
    no FP distance math) and ties broken earlier-signup-first then
    event_id, so the choice is fully deterministic.

    Same per-left-row window pattern as the backward/forward forms;
    the equi-join is on user_id alone (no range predicate prunes for
    'nearest'), so at 100 TB this is the one direction that wants the
    coarse time-bucket prefilter FIRST (join on (user, bucket±1),
    then rank) — join_interval_bucketed's rewrite, noted here because
    the naive form's per-user fan-in is the scale risk.

    ts IS NOT NULL on both sides (mirrored in the oracle's CTEs): a
    row without a timestamp has no temporal position, so it can
    neither anchor nor win a nearest-match — left in, its NULL
    distance sorts FIRST under Spark's ASC default and the no-time
    signup "wins" every purchase, while DuckDB's NULLS-LAST picks the
    real one (r11 NULL survey).  The backward/forward variants are
    immune: their range predicates are NULL-rejecting.
    """
    e = t["events"].where(F.col("ts").isNotNull())
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    s = e.where(F.col("event_type") == "signup").select(
        F.col("user_id").alias("s_user_id"),
        F.col("ts").alias("signup_ts"),
        F.col("event_id").alias("s_event_id"),
    )
    joined = p.join(s, p.user_id == s.s_user_id)
    abs_us = F.abs(
        F.unix_micros("purchase_ts") - F.unix_micros("signup_ts")
    )
    w = Window.partitionBy("purchase_id").orderBy(
        abs_us.asc(), F.col("signup_ts").asc(), F.col("s_event_id").asc()
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "purchase_id",
            "user_id",
            "purchase_ts",
            "signup_ts",
            abs_us.alias("abs_us"),
        )
    )


@query(
    "join_skewed_fact",
    oracle="""
    WITH li AS (
      SELECT CASE WHEN l_orderkey % 100 = 0 THEN l_orderkey ELSE 0 END
               AS skew_key,
             l_quantity
      FROM lineitem
    ), d AS (
      SELECT o_orderkey AS skew_key, o_totalprice AS dim_val
      FROM orders WHERE o_orderkey % 100 = 0
      UNION ALL
      SELECT 0, 0.0
    )
    SELECT count(*) AS n_rows,
           ROUND(SUM(l_quantity), 2) + 0 AS sum_qty,
           CAST(SUM(CAST(FLOOR(dim_val * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_dim_cents
    FROM li JOIN d ON li.skew_key = d.skew_key
    """,
)
def join_skewed_fact(spark, t):
    """Deliberately skewed shuffle join — the AQE skew-split stress
    shape: ~99% of lineitem rows collapse onto one hot key (0), the
    rest keep their orderkey, and the other side is a plain projected
    key table (many-to-one: exactly one row per key, so the hot key
    skews one shuffle partition without exploding output).

    The shape is chosen so AQE's OptimizeSkewedJoin can actually act
    on it, which is narrower than "any skewed join": (a) the dim side
    is a plain scan+union, not an aggregate — the rule pattern-matches
    ``Sort(ShuffleStage)`` children and an intervening HashAggregate
    disqualifies the join; (b) downstream of the join is only a
    GLOBAL aggregate — a same-key groupBy would require the join's
    hash partitioning and vetoes the split (splitting would force an
    extra shuffle; ``forceOptimizeSkewedJoin`` exists for that).
    tests/test_plans.py executes this query under byte-scale skew
    thresholds with broadcast disabled and asserts the final adaptive
    plan shows ``SortMergeJoin(skew=true)`` — so the module header's
    "AQE handles skew splitting at runtime" is checked, not narrated.
    At 100 TB the same split fires at production thresholds (256 MB
    partitions) exactly when the hot partition becomes the straggler.
    The manual alternative (salting: spray the hot key into k subkeys,
    replicate the build row k times) is only needed where AQE is
    unavailable, e.g. stateful streaming joins.
    """
    skew = F.when(
        F.col("l_orderkey") % 100 == 0, F.col("l_orderkey")
    ).otherwise(F.lit(0))
    li = t["lineitem"].select(skew.alias("skew_key"), "l_quantity")
    d = (
        t["orders"]
        .where(F.col("o_orderkey") % 100 == 0)
        .select(
            F.col("o_orderkey").alias("skew_key"),
            F.col("o_totalprice").alias("dim_val"),
        )
        .unionAll(
            spark.createDataFrame([(0, 0.0)], "skew_key long, dim_val double")
        )
    )
    # sum_dim as an exact integer cents-sum: the hot key replicates its
    # dim_val onto ~6M lineitem rows at sf1, and a double sum at ~5e10
    # magnitude carries summation-ORDER noise (~0.02 measured at sf0.1)
    # that 2-decimal rounding can't absorb — per-value fixed-point
    # conversion BEFORE the sum is order-independent on both engines
    return li.join(d, "skew_key").agg(
        F.count("*").alias("n_rows"),
        (F.round(F.sum("l_quantity"), 2) + F.lit(0)).alias("sum_qty"),
        F.sum(
            F.floor(F.col("dim_val") * 100 + 0.5).cast("bigint")
        ).cast("bigint").alias("sum_dim_cents"),
    )


@query(
    "join_shuffle_hash_hint",
    oracle="""
    SELECT c.c_mktsegment,
           count(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    """,
)
def join_shuffle_hash_hint(spark, t):
    """The third physical join strategy, explicitly chosen:
    ``SHUFFLE_HASH`` hint forces a ShuffledHashJoin where the planner
    would default to SortMergeJoin (too big to broadcast), with the
    oracle pinning it result-identical to the unhinted join.

    Why it exists at 100 TB: SMJ sorts BOTH shuffled sides; SHJ builds
    a hash map from the smaller side per partition and streams the
    larger — no sort at all.  When the per-partition build side fits
    executor memory (a dimension too big to broadcast but far smaller
    than the fact — exactly customer vs orders), SHJ saves the
    dominant sort cost; AQE can also make this choice at runtime from
    observed sizes, this key is the explicit form.  The plan
    assertion in tests/test_plans.py proves the hint took (the result
    hash can't tell the strategies apart — that's the point).
    """
    c = t["customer"].select("c_custkey", "c_mktsegment").hint("shuffle_hash")
    o = t["orders"].select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("cents").alias("total_cents"),
        )
    )


@query(
    "join_incremental",
    oracle="""
    SELECT c.c_mktsegment,
           count(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    """,
)
def join_incremental(spark, t):
    """Incremental view maintenance of a JOIN: when deltas ΔA and ΔB
    arrive, the maintained join grows by exactly
    ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB — three delta-sized joins instead of
    re-joining two full tables (``agg_incremental``'s pattern lifted
    from aggregates to joins, the delta-processing identity under
    every materialized view / streaming-join engine).

    Here orders split at 1996-01-01 (A=old, ΔA=new) and customers
    split at custkey 1000 (B=old, ΔB=new); the maintained result is
    the union of the base join and the three delta terms, aggregated
    per segment.  The ORACLE is the monolithic full join — so the IVM
    identity itself is value-hash-checked, not narrated.  At 100 TB
    the delta terms are the only work that scales with the DAY, not
    the HISTORY: ΔA⋈B probes the (bucketed) base customer table,
    A⋈ΔB broadcasts the day's new customers against the order
    history's bucketed layout, ΔA⋈ΔB is tiny — and the base join is
    never recomputed.
    """
    cut = "1996-01-01"
    orders = t["orders"].select(
        "o_custkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    cust = t["customer"].select("c_custkey", "c_mktsegment")
    # NULL-date orders go to the base partition: p / NOT-p does not
    # cover NULL, and the oracle's monolithic join keeps every order
    # (r11 NULL survey — same class as agg_incremental)
    a = orders.where((F.col("o_orderdate") < cut) | F.col("o_orderdate").isNull())
    da = orders.where(F.col("o_orderdate") >= cut)
    b = cust.where(F.col("c_custkey") < 1000)
    db = cust.where(F.col("c_custkey") >= 1000)

    def j(o, c):
        return o.join(c, o.o_custkey == c.c_custkey).select(
            "c_mktsegment", "cents"
        )

    maintained = (
        j(a, b)            # the base join, computed once
        .unionByName(j(da, b))   # ΔA ⋈ B
        .unionByName(j(a, db))   # A ⋈ ΔB
        .unionByName(j(da, db))  # ΔA ⋈ ΔB
    )
    return maintained.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        F.sum("cents").alias("total_cents"),
    )


@query(
    "q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= DATE '1996-10-01'
      AND o.o_orderdate < DATE '1997-01-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue_cents DESC, c.c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark, t):
    """TPC-H Q10 shape (returned-item reporting): top-20 customers by
    revenue lost to returns in a quarter — the classic
    fact⋈fact⋈dim⋈dim + top-k report, joining the q1/q3/q5 headline
    family.

    Plan posture: both date and returnflag predicates push to their
    scans, nation broadcasts, the two fact joins shuffle on their
    equi-keys (orderkey then custkey — at 100 TB co-bucketing
    orders/lineitem on orderkey removes the first exchange, the
    ``join_bucketed_colocated`` pattern), and the final top-20 is
    TakeOrderedAndProject — never a global sort.  Money in exact
    integer cents; ORDER is total (revenue DESC, custkey) so LIMIT is
    deterministic on both engines.
    """
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    o = t["orders"].where(
        (F.col("o_orderdate") >= "1996-10-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    l = t["lineitem"].where(F.col("l_returnflag") == "R")
    return (
        t["customer"]
        .join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev).alias("revenue_cents"))
        .orderBy(F.col("revenue_cents").desc(), "c_custkey")
        .limit(20)
    )


# Geo fixtures are synthesized in integer DECIDEGREES (documented, same
# policy as the URL/XML wires): exact arithmetic end-to-end, no trig.
_GEO_R = 40  # radius in decidegree units; also the grid cell size
_GEO_CENTER_VALUES = ", ".join(
    f"({i}, {lat}, {lon})"
    for i, (lat, lon) in enumerate([(200, 300), (850, 1200), (1400, 400),
                                    (500, 1600), (1000, 800)])
)


@query(
    "join_geo_grid",
    oracle=f"""
    WITH centers(center_id, clat, clon) AS (VALUES {_GEO_CENTER_VALUES}),
    points AS (
      SELECT event_id,
             (event_id * 37) % 1700 AS plat,
             (event_id * 73) % 1700 AS plon
      FROM events
    ), hits AS (
      SELECT c.center_id, p.event_id,
             (p.plat - c.clat) * (p.plat - c.clat)
               + (p.plon - c.clon) * (p.plon - c.clon) AS d2
      FROM centers c, points p
      WHERE (p.plat - c.clat) * (p.plat - c.clat)
              + (p.plon - c.clon) * (p.plon - c.clon)
            <= {_GEO_R} * {_GEO_R}
    )
    SELECT center_id, count(*) AS n_within,
           CAST(MIN(d2) AS BIGINT) AS min_d2
    FROM hits GROUP BY center_id
    """,
)
def join_geo_grid(spark, t):
    """Grid-blocked spatial radius join — the geo member of the
    blocking-rewrite family (theta→price bins, interval→hour buckets,
    edit-distance→PassJoin segments): points within radius R of each
    center, found via a CELL EQUI-JOIN instead of a cross join.

    Blocking scheme: cells of side R, so every point within R of a
    center lies in the center's 3×3 cell neighborhood — the small
    CENTERS side explodes its 9 neighbor cells (dim-sized ×9, still a
    broadcast), the points side computes ONE cell key (narrow), and
    the join is a plain broadcast equi-join followed by the exact
    distance² verify.  The ORACLE is the unblocked all-pairs query,
    so neighborhood completeness is value-hash-checked — the same
    proof obligation as every other blocking rewrite here.
    Coordinates are synthesized integer decidegrees (pure-integer
    distance², no trig, no FP caveats); real lat/lon swaps in
    geohash/S2 cells and a haversine verify with identical shape.  At
    100 TB: the points table never cross-joins anything — candidate
    volume is |points in matching cells| — and heavy cells are the
    usual skew story (salt the cell key or split the hot cell).
    """
    centers = spark.createDataFrame(
        [
            (i, lat, lon)
            for i, (lat, lon) in enumerate(
                [(200, 300), (850, 1200), (1400, 400), (500, 1600), (1000, 800)]
            )
        ],
        "center_id int, clat long, clon long",
    )
    neigh = F.explode(
        F.array(
            *[
                F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
            ]
        )
    )
    c_cells = centers.select("*", neigh.alias("o")).select(
        "center_id",
        "clat",
        "clon",
        (F.expr(f"clat div {_GEO_R}") + F.col("o.dx")).alias("cx"),
        (F.expr(f"clon div {_GEO_R}") + F.col("o.dy")).alias("cy"),
    )
    points = (
        t["events"]
        .select(
            "event_id",
            ((F.col("event_id") * 37) % 1700).alias("plat"),
            ((F.col("event_id") * 73) % 1700).alias("plon"),
        )
        .select(
            "*",
            F.expr(f"plat div {_GEO_R}").alias("cx"),
            F.expr(f"plon div {_GEO_R}").alias("cy"),
        )
    )
    d2 = (F.col("plat") - F.col("clat")) * (F.col("plat") - F.col("clat")) + (
        F.col("plon") - F.col("clon")
    ) * (F.col("plon") - F.col("clon"))
    return (
        points.join(F.broadcast(c_cells), ["cx", "cy"])
        .where(d2 <= _GEO_R * _GEO_R)
        .select("center_id", d2.alias("d2"))
        .groupBy("center_id")
        .agg(F.count("*").alias("n_within"), F.min("d2").alias("min_d2"))
    )
