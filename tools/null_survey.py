"""NULL-robustness survey: run every oracle-backed key on a NULL-riddled
copy of the fixture catalog and classify the outcome per key.

The driver's fixtures are NULL-free, so oracle hash-greens can mask
engine-vs-oracle NULL-semantics divergences (the r10-flagged class:
COUNT-DISTINCT NULL handling, `||` vs concat_ws, ASC NULL placement,
x/0).  This tool makes the hunt systematic instead of anecdotal: it
derives a copy of every table at $SF_DIR (default sf0.001) with a
deterministic fraction of NULLs injected into nullable non-key columns
(plus a few NULL keys in events), runs each key's Spark body AND its
DuckDB oracle on the SAME parquet, and prints one line per key:

  PASS        — multiset-equal, NULLs and all
  DIVERGE     — both engines ran, results differ (a latent semantics bug
                or an intentional fixture-contract assumption — triage!)
  SPARK_ERR / DUCK_ERR — one engine crashed (ANSI arithmetic, NULL
                array input, ...)

Usage:  python tools/null_survey.py [key ...]     # default: all oracles
Exit code is always 0 — this is a survey, not a gate; the per-key
verdicts are the output.  r11 catches fixed from the events-family
pilot: events_funnel DIVIDE_BY_ZERO, events_pattern_detect NULL-journey
COALESCE, events_sliding NULL-ts window group.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

NULL_RATE = 0.08  # deterministic per-row via xxhash64(key) % 100
# NULL_SEED overrides the injection seed (r14): a second-seed sweep
# moves every injected position, proving a green survey is not luck
# about WHICH rows got riddled.  Default unchanged (r11-r14 history).
SEED_SALT = int(os.environ.get("NULL_SEED", "20260815"))

# columns to NULL-inject per table: nullable, non-join-key, chosen to
# reach the expression surface (dates for windows, numerics for
# arithmetic, strings for text ops).  events also gets NULL keys — the
# NULL-group / NULL-partition classes live there.
INJECT = {
    "customer": ["c_name", "c_acctbal", "c_mktsegment", "c_nationkey"],
    "supplier": ["s_name", "s_acctbal", "s_nationkey"],
    "part": ["p_name", "p_brand", "p_type"],
    "orders": [
        "o_totalprice",
        "o_orderpriority",
        "o_orderdate",
        "o_orderstatus",
    ],
    "lineitem": [
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
        "l_quantity",
        "l_extendedprice",
    ],
    "events": ["event_type", "value", "props", "user_id", "ts"],
    "documents": ["text", "lang", "source", "n_chars"],
    "embeddings": ["label", "embedding"],
}


def nullify(df, cols, keycol, mode: str = "null"):
    """Inject edge values into a deterministic row subset per column.

    mode='null'  — replace with NULL (the default survey)
    mode='empty' — strings become '', arrays become array() (non-string
                   non-array columns pass through untouched): a
                   DIFFERENT divergence class — '' is where engines'
                   string functions disagree (ascii, split, regexp,
                   substr) without any NULL involved.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, StringType

    types = {f.name: f.dataType for f in df.schema.fields}
    out = df
    for i, c in enumerate(cols):
        gate = (
            F.pmod(F.xxhash64(F.col(keycol), F.lit(SEED_SALT + i)), F.lit(100))
            < int(NULL_RATE * 100)
        )
        if mode == "null":
            repl = F.lit(None)
        elif isinstance(types[c], StringType):
            repl = F.lit("")
        elif isinstance(types[c], ArrayType):
            repl = F.array().cast(types[c])
        else:
            continue  # empty mode: only string/array columns
        out = out.withColumn(c, F.when(gate, repl).otherwise(F.col(c)))
    return out


KEYCOL = {
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def main() -> int:
    import duckdb

    import tweetdb_spark
    from tweetdb_spark.catalog import load_tables
    from tweetdb_spark.registry import ordered_queries
    from tweetdb_spark.session import get_spark
    from tools.check import rows_multiset

    sf_dir = os.environ.get("SF_DIR", "/root/testdata/sf0.001")
    mode = os.environ.get("NULL_MODE", "null")  # null | empty
    tweetdb_spark.load_all_operators()
    spark = get_spark("tweetdb-null-survey")
    spark.sparkContext.setLogLevel("ERROR")

    src = load_tables(spark, sf_dir)
    out_dir = tempfile.mkdtemp(prefix="null_survey_")
    con = duckdb.connect()
    views = {}
    for name, df in src.items():
        if name in INJECT:
            df = nullify(df, INJECT[name], KEYCOL[name], mode=mode)
        p = f"{out_dir}/{name}.parquet"
        df.coalesce(1).write.mode("overwrite").parquet(p)
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}/*.parquet')"
        )
        views[name] = spark.read.parquet(p)
        # the real load_tables also registers temp views (spark.sql
        # operators depend on them) — mirror that for the null catalog
        views[name].createOrReplaceTempView(name)
    print(f"# {mode}-riddled catalog at {out_dir} (rate {NULL_RATE})", flush=True)

    queries, oracles = ordered_queries()
    keys = sys.argv[1:] or [k for k in queries if k in oracles]

    # run the RAW operator body on the injected tables: reuse the
    # registry wrapper but monkeypatch catalog loading to our views
    import tweetdb_spark.catalog as cat

    orig = cat.load_tables
    null_paths = {name: f"{out_dir}/{name}.parquet" for name in src}

    def patched(spark_arg, _sf, subset=None, *a, **kw):
        # mirror the real loader's contract: read in the REQUESTING
        # session (cte_recursive_chain uses a child session) and
        # register temp views; honor the optional table subset
        names = list(subset) if subset else list(null_paths)
        d = {}
        for n in names:
            d[n] = spark_arg.read.parquet(null_paths[n])
            d[n].createOrReplaceTempView(n)
        return d

    cat.load_tables = patched
    # registry.load_tables was imported by name — patch there too
    import tweetdb_spark.registry as reg

    reg.load_tables = patched

    counts = {"PASS": 0, "DIVERGE": 0, "SPARK_ERR": 0, "DUCK_ERR": 0, "HASH_ERR": 0}
    try:
        for k in keys:
            if k not in oracles:
                continue
            try:
                sdf = queries[k](spark, sf_dir)
                s_rows = [tuple(r) for r in sdf.collect()]
            except Exception as e:
                counts["SPARK_ERR"] += 1
                print(f"SPARK_ERR {k}: {type(e).__name__} {str(e)[:110]}", flush=True)
                continue
            try:
                res = con.execute(oracles[k])
                d_cols = [d[0] for d in res.description]
                d_rows = res.fetchall()
            except Exception as e:
                counts["DUCK_ERR"] += 1
                print(f"DUCK_ERR {k}: {type(e).__name__} {str(e)[:110]}", flush=True)
                continue
            try:
                ok = rows_multiset(sdf.columns, s_rows) == rows_multiset(
                    d_cols, d_rows
                )
            except Exception as e:
                counts["HASH_ERR"] += 1
                print(f"HASH_ERR {k}: {str(e)[:110]}", flush=True)
                continue
            if ok:
                counts["PASS"] += 1
                print(f"PASS {k}", flush=True)
            else:
                counts["DIVERGE"] += 1
                print(
                    f"DIVERGE {k}: spark {len(s_rows)} vs oracle {len(d_rows)} rows",
                    flush=True,
                )
    finally:
        cat.load_tables = orig
        reg.load_tables = orig
        con.close()
        shutil.rmtree(out_dir, ignore_errors=True)
    print(f"# totals: {counts}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
