"""Scale-pattern evidence tests (SCALE.md claims, executable).

These pin the *mechanisms* the 100 TB design relies on: bucketed
tables join without an exchange, the salted join matches the plain
join, AQE coalesces shuffle partitions.  The same no-exchange check on
the tables the engine itself writes lives in tests/test_plans.py.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_salted_join_equals_plain_join(registry, spark):
    from pyspark.sql import functions as F

    from tweetdb_spark.catalog import load_tables

    t = load_tables(spark, SF_DIR)
    salted = sorted(
        map(tuple, registry.QUERIES["join_skew_salted"](spark, SF_DIR).collect())
    )
    d = (
        t["events"]
        .select("event_type")
        .distinct()
        .withColumn("type_desc", F.concat(F.lit("type:"), F.col("event_type")))
    )
    plain = sorted(
        map(
            tuple,
            t["events"]
            .join(d, "event_type")
            .select("event_id", "event_type", "type_desc")
            .collect(),
        )
    )
    assert salted == plain


def test_bucketed_join_has_no_shuffle(spark, tables, tmp_path):
    """Co-bucketed fact tables must SortMergeJoin without any Exchange
    — the write-time investment that eliminates per-query shuffles on
    a 100 TB store."""
    # External tables under tmp_path: nothing lands in the warehouse dir,
    # and the catalog entries are dropped again below.
    names = {"orders": "b_orders", "lineitem": "b_lineitem"}
    for src, tbl in names.items():
        key = f"{src[0]}_orderkey"
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        (
            tables[src]
            .write.bucketBy(8, key)
            .sortBy(key)
            .option("path", str(tmp_path / tbl))
            .mode("overwrite")
            .saveAsTable(tbl)
        )
    # at fixture size the planner would broadcast (hiding the bucket
    # path); disable auto-broadcast to exercise what a 100 TB
    # fact-fact join would plan
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o, li = spark.table("b_orders"), spark.table("b_lineitem")
        joined = o.join(li, o.o_orderkey == li.l_orderkey)
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join should not shuffle"
        assert "Bucketed: true" in plan
        n_bucketed = joined.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for tbl in names.values():
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    n_plain = (
        tables["orders"]
        .join(
            tables["lineitem"],
            tables["orders"].o_orderkey == tables["lineitem"].l_orderkey,
        )
        .count()
    )
    assert n_bucketed == n_plain


def test_dynamic_partition_pruning(spark, tables, tmp_path):
    """A partitioned fact joined to a filtered dim must plan a
    dynamicpruning subquery on the partition column — at 100 TB this
    skips whole partitions based on the dim filter's runtime result."""
    out = str(tmp_path / "dpp_fact")
    (
        tables["events"]
        .write.mode("overwrite")
        .partitionBy("event_type")
        .parquet(out)
    )
    fact = spark.read.parquet(out)
    from pyspark.sql import functions as F

    dim = (
        tables["events"]
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .where(F.col("event_type") == "purchase")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set(
        "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false"
    )
    try:
        joined = fact.join(dim, "event_type")
        plan = _plan(joined)
        assert "dynamicpruning" in plan.lower() or "PartitionFilters" in plan, plan[:800]
        assert joined.count() == tables["events"].where(
            F.col("event_type") == "purchase"
        ).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_rocksdb_state_store_matches_default(spark):
    """The streaming state store SCALE.md names for 100 TB (RocksDB,
    bundled with Spark 4) must produce the same windowed aggregation
    as the default HDFS-backed provider."""
    from pyspark.sql import functions as F

    from tweetdb_spark.streaming.sources import read_events_stream, run_to_memory

    def run():
        s = read_events_stream(spark, SF_DIR, files_per_trigger=10)
        agg = (
            s.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
            .agg(F.count("*").alias("cnt"))
            .select(F.col("w.start").alias("ws"), "event_type", "cnt")
        )
        return sorted(map(tuple, run_to_memory(agg, "append").collect()))

    key = "spark.sql.streaming.stateStore.providerClass"
    default = run()
    prev = spark.conf.get(key)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        rocks = run()
    finally:
        spark.conf.set(key, prev)
    assert rocks == default
    assert rocks, "no windows emitted"


def test_aqe_coalesces_shuffle_partitions(spark, tables):
    """With AQE on, a tiny grouped agg must not execute 32 shuffle
    partitions — runtime coalescing is what makes a static
    shuffle.partitions safe to oversize for big stages."""
    from pyspark.sql import functions as F

    df = tables["events"].groupBy("event_type").agg(F.count("*").alias("c"))
    df.collect()  # executes with AQE final plan
    final = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "AQEShuffleRead" in final or "coalesced" in final.lower()
