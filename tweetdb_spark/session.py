"""SparkSession factory.

Every load-bearing config in one place:

- ``spark.sql.legacy.parquet.nanosAsLong=true`` — some fixture
  vintages store ``events.ts`` as TIMESTAMP(NANOS), which Spark
  4.1.2 refuses to read by default ([PARQUET_TYPE_ILLEGAL]).  With
  this flag such files read as LongType nanoseconds, and
  catalog.read_table's ADAPTIVE shim restores TimestampType via
  integer division (see catalog.EVENTS_TS_SHIM); µs-timestamp
  vintages are unaffected by the flag and pass through.
- ``spark.sql.session.timeZone=UTC`` — determinism: the DuckDB oracle
  reads parquet timestamps as naive-UTC; Spark must render the same
  wall-clock values.
- AQE on (runtime coalesce / skew-join handling — the 100 TB posture;
  at fixture scale it mostly coalesces tiny shuffle partitions).
- Arrow on for any pandas interchange (vectorized UDF path).

These SQL confs are runtime-settable, so :func:`configure` is also
applied defensively to externally-provided sessions (the driver
passes its own SparkSession to ``entry``/``queries`` callables).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from tweetdb_spark import scratch

# Runtime-settable SQL confs (safe to apply to a live session).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    # Spark 4 default, pinned explicitly (r17, r16 ADVICE):
    # corpus_token_budget's bucket pruning relies on the n_tokens >= 0
    # invariant, which holds because ANSI size(NULL) is NULL — a
    # deployment overriding ANSI off would get size(NULL) = -1 and the
    # pruning could silently drop rows the direct form keeps.
    "spark.sql.ansi.enabled": "true",
    # Read parquet TIMESTAMP(isAdjustedToUTC=false) as TimestampType,
    # not TIMESTAMP_NTZ — keeps one timestamp type across the engine
    # (and unix_millis etc. require it).  Session tz is pinned UTC, so
    # wall-clock values equal the DuckDB oracle's naive reads.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Partial aggregation pushdown below distinct aggregates etc.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # Spark's default INT96 timestamps carry NO parquet min/max stats,
    # so every timestamp write forfeits row-group/file pruning.  µs
    # timestamps are the modern type, stats included — at 100 TB this
    # is the difference between pruning on event time and full scans
    # (measured by tests/test_plans.py's z-order footer test).
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}


def _pin_derby_home(spark: SparkSession) -> None:
    """Point embedded Derby's home (and error log) at a scratch dir
    BEFORE any JDBC touch can boot the engine.

    Derby reads ``derby.system.home`` / ``derby.stream.error.file`` once,
    at engine boot; the boot is lazy (first EmbeddedDriver connection),
    so setting the properties here — on every session, including foreign
    driver-provided ones — guarantees derby.log never lands in the cwd.
    Previously the pin lived inside the JDBC sink itself, which left a
    window where another Derby boot (e.g. a verify harness touching the
    sink through a different entry point) wrote derby.log to the repo
    root.  Idempotent: re-setting after boot is a no-op but harmless.
    """
    try:
        jvm = spark._jvm
        sysprop = jvm.java.lang.System
        if not sysprop.getProperty("derby.system.home"):
            # pid-tagged, so scratch reaps it once this process is gone
            home = scratch.fresh_dir("tweetdb_derby_home")
            os.makedirs(home)
            sysprop.setProperty("derby.system.home", home)
            sysprop.setProperty(
                "derby.stream.error.file", os.path.join(home, "derby.log")
            )
    except Exception:
        pass  # no JVM gateway (e.g. Spark Connect) — sink gates handle it


# PySpark ships the derby/derbytools jars for its Hive metastore.
DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
# (id of the JVM view, class name) -> whether the class loads
_JVM_CLASSES: dict[tuple[int, str], bool] = {}


def jvm_has_class(spark: SparkSession, cls: str) -> bool:
    """Whether ``cls`` is on the session JVM's classpath, memoized per
    JVM: the jar-presence gate for optional providers and drivers."""
    key = (id(spark._jvm), cls)
    if key not in _JVM_CLASSES:
        try:
            _JVM_CLASSES[key] = spark._jvm.java.lang.Class.forName(cls) is not None
        except Exception:
            _JVM_CLASSES[key] = False
    return _JVM_CLASSES[key]


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (idempotent)."""
    _pin_derby_home(spark)
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # A conf may be locked down in exotic deployments.  None is
            # hard-required: catalog.read_table adapts to whatever dtype
            # the read produces (ns-long / µs / NTZ) and raises a loud
            # TypeError for anything it can't normalize; if nanosAsLong
            # itself is locked down AND the fixture is TIMESTAMP(NANOS),
            # the failure is Spark's PARQUET_TYPE_ILLEGAL at plan time.
            pass
    return spark


def get_spark(app_name: str = "tweetdb-spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    local[N] for tests/bench; on a real cluster the same confs apply
    unchanged — AQE sizes shuffles at runtime, so the static
    ``shuffle.partitions`` is only an upper bound for the initial plan.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or None
    master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("TWEETDB_SHUFFLE_PARTITIONS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("TWEETDB_DRIVER_MEM", "8g"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return configure(builder.getOrCreate())
