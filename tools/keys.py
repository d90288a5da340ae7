"""One runner for the registry's keys: one session, one key selection,
one watchdog and one record per key.

    python tools/keys.py MODE --sf DIR [--sf DIR ...] [option ...] KEY ...

KEY is a registry key, ``all`` (every key) or ``oracle`` (every key
with a DuckDB oracle); no KEY, or an unknown one, exits 2.

Modes:

- ``check``: each key's Spark DataFrame against its DuckDB oracle on
  the same fixture, as ``__spark_entry__``'s CORRECTNESS check does:
  row count, sorted column names and the order-insensitive multiset of
  row values.  A rows-only key runs on Spark alone and reads ``rows``.
- ``sum``: both-engine checksum.  Each engine sums, per row and mod P,
  an exact bigint image of every integer, string, timestamp and date
  column, so one number per engine reaches Python: value evidence
  at scales where materializing the rows is the bottleneck.  Double,
  decimal and nested columns are left out (a floating sum depends on
  the order; a nested cell has no portable bigint image).
- ``eval``: Spark alone: the rows and ``sum(xxhash64(all columns))``,
  to show that a change keeps every output.  Columns are hashed in
  their binary encoding, so -0.0 and 0.0 differ.
- ``missing``: registered keys with no line in any ``sweeps/*.log``.

Options:

- ``--sf DIR``: a fixture dir; repeat it for several scale points.  A
  dir that does not exist is skipped, and a run with no dir to check
  exits 2.
- ``--strict``: check with the CORRECTNESS check's pandas canonicalizer
  (:func:`strict_canon`) instead of value equality.
- ``--vanilla``: a plain ``SparkSession``, as a caller of
  ``__spark_entry__`` builds it, instead of the engine's ``get_spark``;
  the engine must configure a foreign session itself.
- ``--timeout S``: the per-key :class:`Watchdog`.
- ``--edge null|empty``: run over :func:`riddled`'s copy of each
  fixture dir instead of the dir itself.
- ``--seed N``: the seed that picks the riddled rows.

Each key prints one record, ``VERDICT key: rows=N detail (build Bs,
eval Es)``: build is the call that returns the DataFrame (eager keys
run jobs there), eval the mode's evaluation of it, oracle included.
VERDICT is PASS or FAIL, TIME when the watchdog fired, ``rows`` for a
rows-only key, OK in ``eval`` and SKIP in ``sum`` for a key with
nothing to sum.  The exit code is 1 if any key FAILs or TIMEs, and 2
when the session died (``DEAD``).
"""

from __future__ import annotations

import argparse
import gc
import math
import os
import sys
import tempfile
import threading
import time
import traceback
from collections import Counter
from dataclasses import dataclass
from datetime import date, datetime
from decimal import Decimal

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tweetdb_spark.catalog import load_tables, table_path  # noqa: E402
from tweetdb_spark.schemas import TABLE_NAMES as TABLES  # noqa: E402


def register_duck_views(con, sf_dir: str) -> None:
    """Register every fixture table as a DuckDB view over its parquet.

    A table is one file or a dir of part files (a Spark-written
    fixture).  Scaled fixtures store ``events.ts`` as raw int64 nanos,
    which ``catalog`` normalizes on the Spark side; the view does the
    same, or every ts-typed oracle would read a BIGINT.
    """
    for t in TABLES:
        p = table_path(sf_dir, t)
        pat = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{pat}'")
        if t == "events":
            (ts_type,) = con.execute("SELECT typeof(ts) FROM events LIMIT 1").fetchone()
            if ts_type == "BIGINT":
                con.execute(
                    f"CREATE OR REPLACE VIEW events AS "
                    f"SELECT * REPLACE (make_timestamp(ts // 1000) AS ts) "
                    f"FROM '{pat}'"
                )


# -- value equality -------------------------------------------------------


def canon(v):
    """Canonicalize a cell for cross-engine comparison."""
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else float(v)
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    import numpy as np

    if isinstance(v, np.ndarray):
        return tuple(canon(x) for x in v.tolist())
    if isinstance(v, np.generic):
        return canon(v.item())
    return v


def rows_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(canon(r[i]) for i in order) for r in rows)


class NonScalarCell(Exception):
    """A cell the CORRECTNESS check's pandas canonicalizer cannot factorize."""


def strict_canon(v):
    """The CORRECTNESS check's canonicalization: repr- and dtype-sensitive.

    That check materializes both sides as pandas frames and hashes a
    repr-sensitive view of the values, which is stricter than
    :func:`canon` in three ways: a non-scalar cell (array, map, struct)
    crashes pandas factorize, so it raises :class:`NonScalarCell`; int
    stays distinct from float (DuckDB HUGEINT, e.g. a window SUM of
    ints, lands as float64 while Spark emits int64) and Decimal from
    float; and -0.0 stays distinct from +0.0.
    """
    import numpy as np
    import pandas as pd

    if isinstance(v, (list, tuple, dict, set, np.ndarray)):
        raise NonScalarCell(type(v).__name__)
    if isinstance(v, np.generic):
        v = v.item()
    if v is None or v is pd.NaT:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<null>"  # pandas uses NaN for missing floats
        return "f:" + repr(v)  # repr keeps -0.0 and float-vs-int distinct
    if isinstance(v, bool):
        return "b:" + repr(v)
    if isinstance(v, int):
        return "i:" + repr(v)
    if isinstance(v, Decimal):
        return "dec:" + str(v)
    if isinstance(v, pd.Timestamp):
        return "t:" + (v.tz_localize(None) if v.tzinfo else v).isoformat()
    if isinstance(v, datetime):
        return "t:" + v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return "t:" + datetime(v.year, v.month, v.day).isoformat()
    if isinstance(v, str):
        return "s:" + v
    if isinstance(v, bytes):
        return "y:" + v.hex()
    return "o:" + repr(v)


def strict_multiset(pdf):
    """Multiset of strict-canonicalized rows of a pandas frame (columns
    sorted by name, as the CORRECTNESS check sorts them before hashing)."""
    cols = sorted(pdf.columns)
    return Counter(
        tuple(strict_canon(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )


def check(con, oracles, strict: bool = False):
    """The ``check`` mode's evaluation of one key."""

    def measure(key, df):
        s = df.toPandas() if strict else None
        s_rows = (
            list(s.itertuples(index=False, name=None))
            if strict
            else [tuple(r) for r in df.collect()]
        )
        if key not in oracles:
            return "rows", len(s_rows), "[rows-only]"
        res = con.execute(oracles[key])
        d_cols = [c[0] for c in res.description]
        d = res.df() if strict else None
        d_rows = list(d.itertuples(index=False, name=None)) if strict else res.fetchall()
        problems = []
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount spark={len(s_rows)} duckdb={len(d_rows)}")
        if sorted(df.columns) != sorted(d_cols):
            problems.append(f"schema spark={sorted(df.columns)} duckdb={sorted(d_cols)}")
        if not problems:
            try:
                sm, dm = (
                    (strict_multiset(s), strict_multiset(d))
                    if strict
                    else (rows_multiset(df.columns, s_rows), rows_multiset(d_cols, d_rows))
                )
            except NonScalarCell as ex:
                problems.append(
                    f"non-scalar cell ({ex}): the CORRECTNESS check's "
                    f"pandas canonicalizer crashes on this output"
                )
            else:
                if sm != dm:
                    only_s, only_d = sm - dm, dm - sm
                    problems.append(
                        f"values differ ({sum(only_s.values())} spark-only / "
                        f"{sum(only_d.values())} duckdb-only)\n"
                        f"    spark-only e.g.: {next(iter(only_s), None)}\n"
                        f"    duckdb-only e.g.: {next(iter(only_d), None)}"
                    )
        return ("FAIL" if problems else "PASS"), len(s_rows), "; ".join(problems)

    return measure


# -- both-engine mod-P sums -----------------------------------------------

P = 2147483647
# pairwise-distinct multipliers, enough for the widest contract key
KS = [
    1315423911, 2654435761, 97, 1000003, 40503, 69621, 214013,
    16777619, 31, 131071, 8191, 524287, 2147483629, 65599, 22695477, 1103515245,
]


def _mappers(simple_type: str, col: str):
    """(Spark, DuckDB) exact bigint images of a column, or None."""
    from pyspark.sql import functions as F

    if simple_type in ("int", "bigint", "smallint", "boolean"):
        return F.col(col).cast("long"), f"CAST({col} AS BIGINT)"
    if simple_type == "string":
        # DuckDB's strlen is the UTF-8 byte count (octet_length is BLOB-only)
        return F.octet_length(F.col(col)).cast("long"), f"CAST(strlen({col}) AS BIGINT)"
    if simple_type == "timestamp":
        return F.unix_micros(F.col(col)), f"CAST(epoch_us({col}) AS BIGINT)"
    if simple_type == "date":
        return (
            F.datediff(F.col(col), F.lit("1970-01-01")).cast("long"),
            f"CAST(date_diff('day', DATE '1970-01-01', {col}) AS BIGINT)",
        )
    return None


def mod_p_sum(con, oracles):
    """The ``sum`` mode's evaluation of one key: both engines sum
    ``Σᵢ ((coalesce(colᵢ, -1) % P) · kᵢ) % P`` over the rows."""
    from pyspark.sql import functions as F

    def measure(key, df):
        specs = [
            (f.name, *m)
            for f in sorted(df.schema.fields, key=lambda f: f.name)
            if (m := _mappers(f.dataType.simpleString(), f.name)) is not None
        ]
        if key not in oracles or not specs:
            return "SKIP", None, "no oracle" if key not in oracles else "no column to sum"
        if len(specs) > len(KS):
            raise ValueError(f"{len(specs)} columns: widen KS")
        expr, duck = None, []
        for (_, s_expr, d_sql), k in zip(specs, KS):
            term = (F.coalesce(s_expr, F.lit(-1)) % P) * k % P
            expr = term if expr is None else expr + term
            duck.append(f"(((COALESCE({d_sql}, -1) % {P}) * {k}) % {P})")
        # Each row's term sum is reduced mod P (16 wide terms overflow a
        # bigint otherwise) and summed as decimal(28,0), which Spark's
        # SUM widens to decimal(38,0); DuckDB's SUM(BIGINT) is a HUGEINT.
        # A bigint SUM of values < P overflows past ~4.3e9 rows.
        row = df.agg(
            F.sum((expr % P).cast("decimal(28,0)")).alias("s"), F.count("*").alias("n")
        ).collect()[0]
        o = con.execute(
            f"SELECT CAST(SUM(({' + '.join(duck)}) % {P}) AS HUGEINT), count(*) "
            f"FROM ({oracles[key]})"
        ).fetchone()
        s, o_s = (None if x is None else int(x) for x in (row.s, o[0]))
        ok = (s, row.n) == (o_s, o[1])
        return (
            "PASS" if ok else "FAIL",
            row.n,
            f"sum={s} oracle=(sum {o_s}, rows {o[1]}) cols={[c for c, *_ in specs]}",
        )

    return measure


# -- engine-only evaluation -----------------------------------------------


def xxhash_sum(key, df):
    """The ``eval`` mode's evaluation of one key: every row and every
    column is evaluated, so Catalyst cannot prune any of the plan."""
    from pyspark.sql import functions as F

    h = df.select(
        F.sum(F.xxhash64(*sorted(df.columns)).cast("decimal(38,0)")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    return "OK", h["n"], f"checksum={h['s']}"


# -- the riddled fixture --------------------------------------------------

SEED = 20260815
RATE = 8  # percent of rows riddled in each column

# table -> (its key column, the columns to riddle): nullable non-key
# columns chosen to reach the expression surface (dates for windows,
# numerics for arithmetic, strings for text ops), plus NULL keys in
# events, where the NULL-group and NULL-partition classes live.
INJECT = {
    "customer": ("c_custkey", ["c_name", "c_acctbal", "c_mktsegment", "c_nationkey"]),
    "supplier": ("s_suppkey", ["s_name", "s_acctbal", "s_nationkey"]),
    "part": ("p_partkey", ["p_name", "p_brand", "p_type"]),
    "orders": (
        "o_orderkey", ["o_totalprice", "o_orderpriority", "o_orderdate", "o_orderstatus"]
    ),
    "lineitem": (
        "l_orderkey",
        ["l_discount", "l_tax", "l_returnflag", "l_linestatus",
         "l_shipdate", "l_quantity", "l_extendedprice"],
    ),
    "events": ("event_id", ["event_type", "value", "props", "user_id", "ts"]),
    "documents": ("doc_id", ["text", "lang", "source", "n_chars"]),
    "embeddings": ("vec_id", ["label", "embedding"]),
}


def nullify(df, keycol, cols, mode: str = "null", seed: int = SEED):
    """Inject edge values into a deterministic row subset per column:
    ``null`` puts NULL there; ``empty`` puts '' into strings and
    ``array()`` into arrays and leaves other columns alone, the class
    where engines' string functions disagree without any NULL."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, StringType

    types = {f.name: f.dataType for f in df.schema.fields}
    for i, c in enumerate(cols):
        gate = F.pmod(F.xxhash64(F.col(keycol), F.lit(seed + i)), F.lit(100)) < RATE
        if mode == "null":
            repl = F.lit(None)
        elif isinstance(types[c], StringType):
            repl = F.lit("")
        elif isinstance(types[c], ArrayType):
            repl = F.array().cast(types[c])
        else:
            continue
        df = df.withColumn(c, F.when(gate, repl).otherwise(F.col(c)))
    return df


def riddled(spark, sf_dir: str, mode: str = "null", seed: int = SEED) -> str:
    """The fixture at ``sf_dir`` with :func:`nullify` applied to every
    table, saved as an ordinary fixture dir, so the keys and their
    oracles read it as they read any fixture.

    The real fixtures hold no NULL and no empty value, so a
    NULL-semantics divergence between the engines hides there.  The
    dir is keyed on the source tables' content, the mode and the seed,
    and a later run reuses it; it is written under another name and
    renamed into place, so a concurrent reader never sees half of it.
    """
    import hashlib
    import shutil

    from tweetdb_spark import scratch

    fp = scratch.fingerprint([table_path(sf_dir, n) for n in TABLES])
    digest = hashlib.sha256(repr((fp, mode, seed)).encode()).hexdigest()[:10]
    out = os.path.join(tempfile.gettempdir(), f"tweetdb_edge_{mode}_{digest}")
    if os.path.isdir(out):
        return out
    staging = f"{out}_staging_{os.getpid()}"
    for name, df in load_tables(spark, sf_dir).items():
        if name in INJECT:
            df = nullify(df, *INJECT[name], mode, seed)
        df.coalesce(1).write.mode("overwrite").parquet(table_path(staging, name))
    try:
        os.rename(staging, out)
    except OSError:  # another process renamed its copy first
        shutil.rmtree(staging, ignore_errors=True)
    return out


# -- the runner -----------------------------------------------------------


class Watchdog:
    """Tags one key's jobs ``tweetdb:<key>`` and, ``timeout`` seconds
    in (0: never), cancels them, stops every active stream and
    interrupts the DuckDB query.

    A job tag, unlike a job group, leaves a caller's own job group in
    place.  Streams are stopped because an availableNow drain runs its
    jobs on the stream's own thread, which does not carry the tag.
    """

    def __init__(self, spark, key: str, timeout: float = 0.0, con=None):
        self.spark, self.tag, self.timeout, self.con = spark, f"tweetdb:{key}", timeout, con
        self.fired = threading.Event()
        self.timer = None

    def _fire(self) -> None:
        self.fired.set()
        self.spark.sparkContext.cancelJobsWithTag(self.tag)
        for q in self.spark.streams.active:
            q.stop()
        if self.con is not None:
            self.con.interrupt()

    def __enter__(self):
        self.spark.sparkContext.addJobTag(self.tag)
        if self.timeout:
            self.timer = threading.Timer(self.timeout, self._fire)
            self.timer.daemon = True
            self.timer.start()
        return self

    def __exit__(self, *exc):
        if self.timer is not None:
            self.timer.cancel()
        self.spark.sparkContext.removeJobTag(self.tag)
        return False


@dataclass
class Record:
    key: str
    verdict: str
    rows: int | None = None
    build_s: float = 0.0
    eval_s: float = 0.0
    detail: str = ""

    def line(self) -> str:
        detail = f" {self.detail}" if self.detail else ""
        return (
            f"{self.verdict} {self.key}: rows={self.rows}{detail} "
            f"(build {self.build_s:.1f}s, eval {self.eval_s:.1f}s)"
        )


def _settle(spark) -> None:
    """Free what the previous key left: its checkpoint blocks
    (unpersisted only once the RDD objects that referenced them are
    collected), the memory-sink tables of its streams (each pins its
    rows in the session's heap) and any frames it cached.  Without
    this, a long run carries one key's heap into the next ones."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    spark.catalog.clearCache()
    for t in spark.catalog.listTables():
        if t.isTemporary and t.name.startswith("mem_"):
            spark.catalog.dropTempView(t.name)


def _alive(spark) -> bool:
    try:
        spark.sql("SELECT 1").collect()
        return True
    except Exception:  # noqa: BLE001 — any failure means the JVM is gone
        return False


def run(spark, sf_dir, keys, queries, measure, timeout=0.0, con=None) -> list[Record]:
    """Build each key at ``sf_dir``, evaluate it with ``measure(key,
    df) -> (verdict, rows, detail)`` under one :class:`Watchdog`, and
    print and return one :class:`Record` per key.  A FAIL whose session
    no longer answers ends the run with a ``DEAD`` record: every later
    key would fail in the same way."""
    records = []
    for key in keys:
        _settle(spark)
        t0 = t1 = time.time()
        with Watchdog(spark, key, timeout, con) as dog:
            try:
                df = queries[key](spark, sf_dir)
                t1 = time.time()
                verdict, rows, detail = measure(key, df)
            except Exception as ex:  # noqa: BLE001 — one key must not end the run
                traceback.print_exc()
                lines = str(ex).strip().splitlines() or [""]
                verdict, rows, detail = "FAIL", None, f"{type(ex).__name__}: {lines[0][:300]}"
        t2 = time.time()
        if dog.fired.is_set():
            # a stopped stream leaves a partial memory table that reads fine
            verdict, detail = "TIME", f"watchdog fired after {timeout:g}s"
        records.append(Record(key, verdict, rows, t1 - t0, t2 - t1, detail))
        print(records[-1].line(), flush=True)
        if verdict == "FAIL" and not _alive(spark):
            records.append(Record(key, "DEAD", detail="session unusable; rerun the rest fresh"))
            print(records[-1].line(), flush=True)
            break
    return records


def session(vanilla: bool = False):
    if vanilla:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").appName("tweetdb-keys").getOrCreate()
    else:
        from tweetdb_spark.session import get_spark

        spark = get_spark("tweetdb-keys")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def missing_sweep() -> int:
    """List registered keys with no line in any committed sweep log;
    exit 1 if a hash-checked key lacks one."""
    import glob
    import re

    from tweetdb_spark.registry import ordered_queries

    qs, oracles = ordered_queries()
    seen: set[str] = set()
    logs = sorted(glob.glob(os.path.join(REPO, "sweeps", "*.log")))
    for path in logs:
        with open(path, errors="replace") as fh:
            seen.update(re.findall(r"(?:PASS|rows) (\w+):", fh.read()))
    missing_hash = [k for k in oracles if k not in seen]
    missing_rows = [k for k in qs if k not in oracles and k not in seen]
    print(f"{len(logs)} sweep logs scanned, {len(seen & set(qs))} keys evidenced")
    for k in missing_hash:
        print(f"MISSING (hash) {k}")
    for k in missing_rows:
        print(f"MISSING (rows-only) {k}")
    return 1 if missing_hash else 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        description="Run registry keys; see the module docstring.",
    )
    ap.add_argument("mode", choices=("check", "sum", "eval", "missing"))
    ap.add_argument("keys", nargs="*", metavar="KEY")
    ap.add_argument("--sf", action="append", default=[], metavar="DIR")
    ap.add_argument("--strict", action="store_true")
    ap.add_argument("--vanilla", action="store_true")
    ap.add_argument("--timeout", type=float, default=0.0, metavar="S")
    ap.add_argument("--edge", choices=("null", "empty"))
    ap.add_argument("--seed", type=int, default=SEED)
    a = ap.parse_intermixed_args(argv)
    if a.mode == "missing":
        return missing_sweep()

    from tweetdb_spark.registry import ordered_queries

    queries, oracles = ordered_queries()
    selectors = {"all": list(queries), "oracle": list(oracles)}
    unknown = [k for k in a.keys if k not in queries and k not in selectors]
    if unknown or not a.keys:
        print(f"name keys, 'all' or 'oracle' (unknown: {unknown})", file=sys.stderr)
        return 2
    keys = list(dict.fromkeys(k for s in a.keys for k in selectors.get(s, [s])))
    dirs = [d for d in a.sf if os.path.isdir(d)]
    for d in a.sf:
        if d not in dirs:
            print(f"skipped {d}: not a dir", file=sys.stderr)
    if not dirs:
        print("no fixture dir: nothing was checked", file=sys.stderr)
        return 2

    spark = session(a.vanilla)
    rc = 0
    for d in dirs:
        if a.edge:
            d = riddled(spark, d, a.edge, a.seed)
        print(f"=== {d} ===", flush=True)
        con = duckdb.connect()
        register_duck_views(con, d)
        measure = (
            check(con, oracles, a.strict) if a.mode == "check"
            else mod_p_sum(con, oracles) if a.mode == "sum"
            else xxhash_sum
        )
        records = run(spark, d, keys, queries, measure, a.timeout, con)
        con.close()
        counts = Counter(r.verdict for r in records)
        print(", ".join(f"{n} {v}" for v, n in counts.items()), flush=True)
        if counts["DEAD"]:
            return 2
        if counts["FAIL"] or counts["TIME"]:
            rc = 1
    return rc


if __name__ == "__main__":
    sys.exit(main())
