"""Synthesize a larger scale-factor fixture from an existing one.

Usage:  python tools/make_scale.py [--factor 10] [--src /root/testdata/sf0.1]
                                   [--out /tmp/tweetdb_sf1]

Replicates every fact/entity table FACTOR times with per-replica
key offsets so referential joins stay 1:1 within a replica (an order
only matches its own replica's customer — selectivities scale linearly,
not quadratically).  The dim tables region/nation are copied once:
dims don't grow with fact volume, which is exactly what keeps them
broadcastable on a real cluster, so the scaled fixture preserves the
broadcast-dim/shuffle-fact plan shape the engine is designed around.

``events.ts`` is re-written as int64 *nanoseconds* (column name ``ts``)
to match the source fixture's TIMESTAMP(NANOS) physical type as seen
through ``spark.sql.legacy.parquet.nanosAsLong=true`` — the catalog
shim (catalog.py) then restores µs timestamps identically for both
the original and the synthesized fixture.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

# key columns shifted by replica * OFFSET, per table (dims excluded)
OFFSET = 1_000_000_000
SHIFT = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
COPY = ["region", "nation"]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/tmp/tweetdb_sf1")
    # Scaling an ALREADY-SCALED fixture needs a bigger key offset: a
    # sf10 dir built from sf0.1 at factor 100 has consumed replica
    # offsets 0..99·10⁹, so a second ×10 pass must shift by 10¹² to
    # keep replica key ranges disjoint (sf100 = sf10 + --offset 1e12).
    ap.add_argument("--offset", type=int, default=OFFSET)
    args = ap.parse_args()

    from tweetdb_spark.catalog import load_tables
    from tweetdb_spark.session import get_spark

    spark = get_spark("tweetdb-make-scale")
    spark.sparkContext.setLogLevel("ERROR")
    t = load_tables(spark, args.src)

    os.makedirs(args.out, exist_ok=True)
    for name in COPY:
        t[name].write.mode("overwrite").parquet(f"{args.out}/{name}.parquet")
        print(f"{name}: copied")

    # Explosion-parallelism floor (r16, same rule as SCALE.md /
    # llm/collapse._expand_rep_pairs): the source tables are one or two
    # parquet files, so the ×factor explode used to run in ONE task
    # and then `repartition` reshuffled the EXPLODED output — a full
    # shuffle of the entire synthesized fixture (23 GB at factor
    # 1000).  Round-robin the SMALL source first and let the narrow
    # explode inherit that width: every core explodes its slice and
    # writes its own output file, no post-explosion shuffle at all.
    par = spark.sparkContext.defaultParallelism
    for name, keys in SHIFT.items():
        df = t[name].repartition(par)
        # one pass: explode a replica index, shift every key column
        rep = df.withColumn(
            "_r", F.explode(F.sequence(F.lit(0), F.lit(args.factor - 1)))
        )
        for k in keys:
            rep = rep.withColumn(
                k,
                F.col(k).cast("bigint")
                + F.col("_r").cast("bigint") * F.lit(args.offset),
            )
        rep = rep.drop("_r")
        if name == "events":
            # back to the wire type the catalog shim expects (int64 ns)
            rep = rep.withColumn("ts", F.unix_micros("ts") * F.lit(1000)).select(
                [f.name for f in df.schema.fields]
            )
        rep.write.mode("overwrite").parquet(f"{args.out}/{name}.parquet")
        print(f"{name}: x{args.factor}")
    print(f"done -> {args.out}")


if __name__ == "__main__":
    main()
