"""Table loading + temp-view registration.

Single chokepoint for fixture access: every operator gets its inputs
from :func:`load_tables`, never from raw ``spark.read.parquet`` —
because fixture tables have shipped in more than one physical encoding
across fixture generations (the round-4 incident: ``events.ts``
switched vintage and an unconditional shim red-carded every query) and
need the adaptive normalization below, and because this is where
100 TB-scale read hygiene lives (explicit column pruning happens
downstream via Catalyst; nothing here collects or caches eagerly).

Vintage normalization (adaptive, all tables)
--------------------------------------------
Every table is reconciled against its declared schema
(``schemas.TABLE_SCHEMAS``).  The one class of physical drift Spark
and the DuckDB oracle disagree on is **timestamp encoding** — DuckDB
surfaces every parquet timestamp flavor as TIMESTAMP(µs), while Spark's
loaded type depends on the flavor — so declared-timestamp columns are
normalized to TimestampType(µs) from whatever arrived:

- ``TimestampType``    -> pass through untouched.
- ``LongType``         -> epoch integer.  The unit comes from the
  parquet footer: a TIMESTAMP(NANOS) logical type (which
  ``nanosAsLong=true`` surfaces as int64) means ns; a raw INT64 with no
  logical annotation falls back to row-group-statistics magnitude
  (epoch seconds/ms/µs/ns occupy disjoint ranges for any plausible
  fixture date).  Conversion to µs uses **integer** arithmetic — the ns
  values have sub-µs components and DuckDB truncates them; float math
  loses exactness above 2^53 and can flip a µs boundary.
- ``TimestampNTZType`` -> cast.  Only reachable when
  ``inferTimestampNTZ.enabled=false`` failed to apply (configure()
  tolerates locked-down confs); session tz is pinned UTC so the cast
  preserves wall-clock values.
- ``DateType``         -> cast (midnight UTC).
- anything else        -> loud TypeError naming the column, dtype, and
  remedy (the r4 lesson: an unhandled vintage must fail at plan time
  with a message, not deep inside 50 driver queries).

Non-timestamp mismatches (e.g. an int width change) deliberately pass
through UNCAST: DuckDB's native read shifts identically, so parity is
preserved by not "fixing" them.  All tables come out with the declared
columns in the declared order; unexpected extra columns are dropped.
The schema checks are plan-time / footer metadata — no data IO.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tweetdb_spark import schemas, scratch
from tweetdb_spark.session import configure

EVENTS_TS_SHIM = "ts div 1000"  # int64 ns -> int64 µs, exact, truncating

# Plausible epoch ranges per unit (years ~1989..2223): disjoint, so a
# raw-int64 epoch column's unit is recoverable from its max statistic.
_EPOCH_RANGES = (
    ("s", int(6e8), int(8e9)),
    ("ms", int(6e11), int(8e12)),
    ("us", int(6e14), int(8e15)),
    ("ns", int(6e17), int(8e18)),
)


def _a_parquet_file(path: str) -> str:
    """A concrete footer-bearing file for ``path`` (file or directory)."""
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet"))) or sorted(
            glob.glob(os.path.join(path, "part-*"))
        )
        if not parts:
            raise FileNotFoundError(f"no parquet part files under {path}")
        return parts[0]
    return path


def _epoch_unit_from_footer(path: str, col: str) -> str:
    """Time unit of an int64-loaded timestamp column, footer-only.

    Prefers the parquet logical type's own unit; falls back to
    row-group min/max statistics magnitude for raw (unannotated) INT64.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    f = _a_parquet_file(path)
    arrow_type = pq.read_schema(f).field(col).type
    if pa.types.is_timestamp(arrow_type):
        return arrow_type.unit  # 's' | 'ms' | 'us' | 'ns'

    md = pq.ParquetFile(f).metadata
    mx = None
    for rg in range(md.num_row_groups):
        for ci in range(md.num_columns):
            cc = md.row_group(rg).column(ci)
            if cc.path_in_schema == col and cc.statistics is not None:
                st = cc.statistics
                if st.has_min_max:
                    mx = st.max if mx is None else max(mx, st.max)
    if mx is not None:
        for unit, lo, hi in _EPOCH_RANGES:
            if lo <= int(mx) <= hi:
                return unit
    raise TypeError(
        f"column {col!r} in {path} loaded as int64 but its epoch unit is "
        f"undeterminable (arrow type {arrow_type}, max stat {mx}); new "
        "fixture vintage? teach catalog._epoch_unit_from_footer to read it"
    )


def _ts_from_long(col: str, unit: str):
    """Integer-exact epoch-long -> TimestampType(µs) conversion."""
    if unit == "ns":
        return F.timestamp_micros(F.expr(f"{col} div 1000"))
    if unit == "us":
        return F.timestamp_micros(F.col(col))
    if unit == "ms":
        return F.timestamp_millis(F.col(col))
    if unit == "s":
        return F.timestamp_seconds(F.col(col))
    raise TypeError(f"unsupported epoch unit {unit!r} for column {col!r}")


def table_path(sf_dir: str, name: str) -> str:
    """The parquet file or dir that holds fixture table ``name``."""
    return f"{sf_dir}/{name}.parquet"


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table, normalized to its declared schema."""
    path = table_path(sf_dir, name)
    df = spark.read.parquet(path)
    declared = schemas.TABLE_SCHEMAS[name]
    loaded = {f.name: f.dataType for f in df.schema.fields}
    exprs = []
    for field in declared.fields:
        if field.name not in loaded:
            raise TypeError(
                f"{name}.{field.name} missing from {path} "
                f"(loaded columns: {sorted(loaded)}); new fixture vintage?"
            )
        lt = loaded[field.name]
        if not isinstance(field.dataType, T.TimestampType) or isinstance(
            lt, T.TimestampType
        ):
            # matches, or a non-timestamp drift we deliberately pass
            # through uncast (DuckDB's native read shifts identically)
            exprs.append(F.col(field.name))
        elif isinstance(lt, T.LongType):
            unit = _epoch_unit_from_footer(path, field.name)
            exprs.append(_ts_from_long(field.name, unit).alias(field.name))
        elif isinstance(lt, T.TimestampNTZType):
            # inferTimestampNTZ=false didn't stick (locked-down conf);
            # UTC session tz makes this cast wall-clock-preserving.
            exprs.append(
                F.col(field.name).cast(T.TimestampType()).alias(field.name)
            )
        elif isinstance(lt, T.DateType):
            exprs.append(
                F.col(field.name).cast(T.TimestampType()).alias(field.name)
            )
        else:
            raise TypeError(
                f"{name}.{field.name} has unsupported loaded type {lt}; "
                "expected TIMESTAMP, TIMESTAMP_NTZ, DATE, or an epoch "
                "int64 (new fixture vintage? teach read_table to "
                "normalize it)"
            )
    return df.select(exprs)


def load_tables(spark: SparkSession, sf_dir: str,
                names: list[str] | None = None) -> dict[str, DataFrame]:
    """Load fixture tables (logical plans only, no IO until an action)
    under the engine's runtime confs, so that an externally-created
    SparkSession (the driver's) can read events.

    A full load is a :func:`scratch.derived` artifact of the table files
    and registers every table as a temp view; a partial load (``names``)
    is read fresh and neither caches nor registers anything, so a
    throwaway child session is never pinned.
    """
    def read(names):
        configure(spark)
        return {n: read_table(spark, sf_dir, n) for n in names}

    if names is not None:
        return read(names)
    tables = scratch.derived(
        spark,
        "tables",
        [table_path(sf_dir, n) for n in schemas.TABLE_NAMES],
        lambda _out: read(schemas.TABLE_NAMES),
    )
    # Temp views are session state: re-point them when this session's
    # were registered from another table dict (another sf_dir, or a
    # rebuild).  ``shown`` has no sources: one dict per session.
    shown = scratch.derived(spark, "views", (), lambda _out: {})
    if shown.get("tables") is not tables:
        for name, df in tables.items():
            df.createOrReplaceTempView(name)
        shown["tables"] = tables
    return tables
