"""Physical-layout operators: bucketing and dynamic partition pruning.

These are the two table-layout levers a 100 TB deployment pulls long
before any query runs:

- **Bucketing** (SURVEY §2 join family, scale posture): pre-shuffle
  both fact tables into the same number of hash buckets on the join
  key at WRITE time, so every subsequent join on that key is
  co-located — zero Exchange in the join, forever.  One shuffle paid
  once at ingest amortizes over every downstream query.
- **Dynamic partition pruning** (scan family, scale posture): a fact
  table partitioned on the join key is pruned at runtime by the
  filtered dimension side of a broadcast join — the scan never reads
  partitions the dim filter eliminates.  This is the mechanism that
  turns "scan 100 TB, join, discard 95%" into "scan 5 TB".

Both register oracle-hash-checked keys (the oracle computes the same
result from the ORIGINAL unbucketed/unpartitioned tables, proving the
layout rewrite lossless) and plan-assertion pytests (no Exchange /
dynamicpruning present).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from tweetdb_spark import scratch
from tweetdb_spark.catalog import table_path
from tweetdb_spark.registry import query

_BUCKETS = 8


def ensure_bucketed_tables(spark, t) -> tuple[str, str]:
    """Write orders+lineitem bucketed by orderkey as external tables
    (once per session and source content) and return the table names.

    The tables live in scratch dirs, not the session warehouse, so the
    one cache owns their lifetime: a rebuild drops the stale tables and
    their dirs.
    """
    def build(out):
        names = []
        for name, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
            path = out(f"tweetdb_bkt_{name}", table=True)
            names.append(os.path.basename(path))
            (
                t[name].write.mode("overwrite")
                .format("parquet")
                .option("path", path)
                .bucketBy(_BUCKETS, key)
                .sortBy(key)
                .saveAsTable(names[-1])
            )
        return tuple(names)

    return scratch.derived(
        spark,
        "bucketed",
        [table_path(t.sf_dir, n) for n in ("orders", "lineitem")],
        build,
    )


@query(
    "join_bucketed_colocated",
    oracle="""
    SELECT o_orderpriority, count(*) AS cnt,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_bucketed_colocated(spark, t):
    """Shuffle-free fact-fact join over bucketed tables.

    Both tables are written ``bucketBy(8, orderkey)`` — the one layout
    decision that removes the orders⋈lineitem Exchange from EVERY
    downstream query.  tests/test_plans.py asserts the join subtree
    has zero Exchange nodes (the only shuffle left is the final 5-group
    aggregate).  The oracle joins the ORIGINAL unbucketed parquet, so
    the hash check proves the bucketed rewrite lossless.

    At 100 TB: bucket count scales with cluster width (e.g. 4096);
    both tables must agree on count and key.  Spark reads each bucket
    pair co-located, so the join is map-side — no network at all.
    """
    o_tbl, l_tbl = ensure_bucketed_tables(spark, t)
    o = spark.table(o_tbl)
    li = spark.table(l_tbl)
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("cnt"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


def _dim_event_category(t):
    """Derived event-type dimension: 5 rows, broadcastable."""
    return (
        t["events"]
        .select("event_type")
        .distinct()
        .withColumn(
            "category",
            F.when(
                F.col("event_type").isin("purchase", "signup"), "conversion"
            ).otherwise("engagement"),
        )
    )


@query(
    "join_dpp_partitioned",
    oracle="""
    SELECT e.event_type, count(*) AS cnt, ROUND(SUM(e.value), 2) AS sum_value
    FROM events e
    JOIN (
      SELECT DISTINCT event_type,
             CASE WHEN event_type IN ('purchase', 'signup')
                  THEN 'conversion' ELSE 'engagement' END AS category
      FROM events
    ) d ON e.event_type = d.event_type
    WHERE d.category = 'conversion'
    GROUP BY e.event_type
    """,
)
def join_dpp_partitioned(spark, t):
    """Dynamic partition pruning: the dim filter prunes fact partitions
    at runtime.

    The fact (events) is stored partitioned by event_type; the dim
    carries a ``category`` attribute the query filters on.  Spark
    plans a broadcast join and injects a ``dynamicpruning`` subquery
    into the fact scan's PartitionFilters — only the 2 'conversion'
    partitions of 5 are read (asserted in tests/test_plans.py).

    At 100 TB this is the dominant scan-reduction mechanism for
    star-schema queries: the partition column is the fact's join key
    (date_key, tenant, type), the dim filter is the user's WHERE
    clause, and the fact scan shrinks by the dim selectivity before a
    single fact byte is read.
    """
    out = scratch.fresh_dir("tweetdb_dpp_events")
    t["events"].write.mode("overwrite").partitionBy("event_type").parquet(out)
    fact = spark.read.parquet(out)
    dim = _dim_event_category(t).where(F.col("category") == "conversion")
    return (
        fact.join(F.broadcast(dim), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


def _spread_bits_16(col):
    """Interleave-ready bit spread: 16-bit value -> 32 bits with a zero
    between every bit (x -> ..x3_0_x2_0_x1_0_x0).  Pure shift/mask —
    whole-stage codegen, no UDF."""
    x = col.cast("long")
    x = x.bitwiseOR(F.shiftleft(x, 8)).bitwiseAND(F.lit(0x00FF00FF))
    x = x.bitwiseOR(F.shiftleft(x, 4)).bitwiseAND(F.lit(0x0F0F0F0F))
    x = x.bitwiseOR(F.shiftleft(x, 2)).bitwiseAND(F.lit(0x33333333))
    x = x.bitwiseOR(F.shiftleft(x, 1)).bitwiseAND(F.lit(0x55555555))
    return x


def zorder_key(c1, c2, min1, max1, min2, max2):
    """Morton z-value of two columns, each min-max scaled to 16 bits.

    Scaling keeps the interleave meaningful for arbitrary ranges;
    65535 buckets per dim is far finer than any realistic file count,
    so no locality is lost to quantization at write granularity."""

    def scale(c, lo, hi):
        return F.floor(
            (c.cast("double") - lo) / (hi - lo) * 65535
        ).cast("long")

    return _spread_bits_16(scale(c1, min1, max1)).bitwiseOR(
        F.shiftleft(_spread_bits_16(scale(c2, min2, max2)), 1)
    )


def write_zorder_layout(spark, t, n_files: int = 16) -> str:
    """Write orders z-ordered on (custkey, orderdate) into a scratch
    dir of ``n_files`` range-partitioned files; returns the dir."""
    out = scratch.fresh_dir("tweetdb_zorder")
    o = t["orders"]
    # bounds via a 1-row broadcast agg (no driver round-trip in the plan)
    bounds = o.agg(
        F.min("o_custkey").alias("min_ck"),
        F.max("o_custkey").alias("max_ck"),
        F.min(F.unix_date(F.to_date("o_orderdate"))).alias("min_day"),
        F.max(F.unix_date(F.to_date("o_orderdate"))).alias("max_day"),
    )
    z = zorder_key(
        F.col("o_custkey"),
        F.unix_date(F.to_date("o_orderdate")),
        F.col("min_ck"),
        F.col("max_ck"),
        F.col("min_day"),
        F.col("max_day"),
    )
    (
        o.crossJoin(F.broadcast(bounds))
        .withColumn("zval", z)
        .repartitionByRange(n_files, "zval")
        .sortWithinPartitions("zval")
        .drop("zval", "min_ck", "max_ck", "min_day", "max_day")
        .write.mode("overwrite")
        .parquet(out)
    )
    return out


@query(
    "layout_zorder",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    """,
)
def layout_zorder(spark, t):
    """Z-order (Morton-interleaved) data layout — multi-dimensional
    file-level pruning from a one-dimensional sort.

    Sorting by custkey alone makes every file span the FULL date
    range: a date filter prunes nothing.  Sorting by the interleaved
    bits of (custkey, orderdate) bounds BOTH dimensions per file, so
    min/max footer stats prune files for filters on either column —
    the Delta/Iceberg OPTIMIZE ZORDER idea on plain parquet.  The
    z-value is pure shift/mask codegen; the write is one range
    repartition (a sort-shuffle that at 100 TB replaces a full sort
    with reservoir-sampled range bounds).  The key reads the layout
    back in full — the hash vs the original table proves the rewrite
    lossless; tests/test_plans.py measures the actual pruning: the
    fraction of files whose footer range intersects a 2-D box filter,
    z-order vs single-column sort.
    """
    back = spark.read.parquet(write_zorder_layout(spark, t))
    return back.select("o_orderkey", "o_custkey", "o_totalprice")
