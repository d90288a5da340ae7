"""Streaming source staging + query runner (SURVEY.md §2.8 scaffolding).

The reference consumed an unbounded JSON stream (tweet objects over a
long-poll socket).  With no network in this environment, the same
Structured Streaming semantics are exercised through the file source:
the bounded ``events`` table is exported once per scale factor as a
sequence of time-ordered JSON files (one per day), and every streaming
operator reads them with an explicit schema through
``spark.readStream`` — identical engine machinery (micro-batches,
watermarks, state stores, sinks) to a Kafka/socket source.

Timestamp fidelity: ``ts`` is exported as **unix microseconds
(int64)**, not a formatted string — JSON timestamp formats truncate
to millis, which would break parity with the batch twins.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from tweetdb_spark import scratch
from tweetdb_spark.catalog import load_tables, table_path
from tweetdb_spark.session import jvm_has_class

# JSON wire schema (ts_us = unix microseconds, exact).
EVENTS_WIRE = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts_us", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def _staging(sf_dir: str, name: str, kind: str) -> tuple[str, str | None]:
    """``(dir, fingerprint)`` that stages fixture table ``name`` for a
    file-stream source; the fingerprint is None when ``dir`` is already
    staged (its ``_STAGED`` marker holds it).

    The fingerprint is the size+mtime of every file of the table: the
    round-4 incident proved the same path can carry different data
    across driver rounds, and /tmp outlives them.  The dir is
    FINGERPRINT-SUFFIXED: a regenerated fixture stages into a new dir
    instead of rmtree'ing the old one in place — a concurrent
    process (pytest + ``tools/keys.py check``) may still have a running
    file-stream query over the previous vintage, and deleting its
    source files mid-query would kill it.  Other vintages are reaped
    once 2 h stale (file streams here run seconds), never while
    plausibly in use.
    """
    import hashlib

    tag = sf_dir.strip("/").replace("/", "_")
    fingerprint = repr(scratch.fingerprint([table_path(sf_dir, name)]))
    fp = hashlib.sha256(fingerprint.encode()).hexdigest()[:10]
    out = os.path.join(tempfile.gettempdir(), f"{kind}_{tag}_{fp}")
    for stale in glob.glob(os.path.join(tempfile.gettempdir(), f"{kind}_{tag}_*")):
        if stale == out or stale.startswith(f"{out}_staging"):
            continue
        try:
            if time.time() - os.path.getmtime(stale) > 2 * 3600:
                shutil.rmtree(stale, ignore_errors=True)
        except OSError:
            pass
    try:
        with open(os.path.join(out, "_STAGED")) as fh:
            if fh.read() == fingerprint:
                return out, None
    except FileNotFoundError:
        pass
    return out, fingerprint


def stage_events_json(spark: SparkSession, sf_dir: str) -> str:
    """Export events as day-partitioned JSON files (idempotent per
    fixture CONTENT, not just per path; see :func:`_staging`)."""
    out, fingerprint = _staging(sf_dir, "events", "tweetdb_stream_src")
    if fingerprint is None:
        return out
    events = load_tables(spark, sf_dir, ["events"])["events"]
    wire = events.select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        "value",
        "props",
        # full date, not dayofmonth: a multi-month fixture would merge
        # e.g. Jan-05 and Feb-05 into one file, breaking the
        # time-ordered-file contract watermark tests rely on
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
    )
    # JVM-side staging: hash-partition by day (all rows of a day land in
    # one task → exactly one part file per day=… dir), ts-sorted within
    # the partition, written as partitioned JSON by the executors.  The
    # driver never materializes a single event row — at 100 TB this is
    # a distributed write, not a driver funnel.
    staging = f"{out}_staging_{os.getpid()}"
    (
        wire.repartition("day")
        # "day" first: the dynamic-partition writer REQUIRES its output
        # sorted by the partition column — sorting (day, ts_us) already
        # satisfies that, so Spark inserts no extra sort and in-file ts
        # order is guaranteed outright (a bare ts_us sort only survived
        # the writer's day-sort via TimSort stability, and could be
        # reordered on spill)
        .sortWithinPartitions("day", "ts_us")
        .write.mode("overwrite")
        .partitionBy("day")
        .json(staging)
    )
    os.makedirs(out, exist_ok=True)
    # Flatten day=…/part-… into one file per date with STRICTLY
    # INCREASING mtimes in day order: the file source picks files up in
    # modification-time order, so watermarks advance realistically.
    day_dirs = sorted(glob.glob(os.path.join(staging, "day=*")))
    base = time.time() - len(day_dirs)
    for i, ddir in enumerate(day_dirs):
        day = os.path.basename(ddir).split("=", 1)[1]
        dest = os.path.join(out, f"day-{day}.json")
        parts = sorted(
            p for p in os.listdir(ddir) if p.startswith("part-")
        )
        with open(dest, "wb") as w:
            for p in parts:  # single part per day; loop is defensive
                with open(os.path.join(ddir, p), "rb") as r:
                    shutil.copyfileobj(r, w)
        os.utime(dest, (base + i, base + i))
    shutil.rmtree(staging, ignore_errors=True)
    with open(os.path.join(out, "_STAGED"), "w") as fh:
        fh.write(fingerprint)
    return out


def stage_embeddings_parquet(spark: SparkSession, sf_dir: str, n_files: int = 5) -> str:
    """Export embeddings as ``n_files`` parquet files for file-stream
    sources (the vector-ingest analog of :func:`stage_events_json`;
    same fingerprint-suffixed idempotence, no time-ordering contract —
    vectors are bucketed by ``vec_id % n_files``).
    """
    out, fingerprint = _staging(sf_dir, "embeddings", "tweetdb_vec_src")
    if fingerprint is None:
        return out
    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    staging = f"{out}_staging_{os.getpid()}"
    (
        emb.withColumn("bucket", F.col("vec_id") % n_files)
        .repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(staging)
    )
    os.makedirs(out, exist_ok=True)
    for bdir in sorted(glob.glob(os.path.join(staging, "bucket=*"))):
        b = os.path.basename(bdir).split("=", 1)[1]
        parts = sorted(p for p in os.listdir(bdir) if p.startswith("part-"))
        for i, p in enumerate(parts):  # one part per bucket; defensive
            shutil.copyfile(
                os.path.join(bdir, p), os.path.join(out, f"vec-{b}-{i}.parquet")
            )
    shutil.rmtree(staging, ignore_errors=True)
    with open(os.path.join(out, "_STAGED"), "w") as fh:
        fh.write(fingerprint)
    return out


def read_events_stream(
    spark: SparkSession, sf_dir: str, files_per_trigger: int | None = None
) -> DataFrame:
    """``readStream`` over the staged files, restoring the engine's
    canonical events shape (ts: TimestampType µs)."""
    src = stage_events_json(spark, sf_dir)
    reader = spark.readStream.schema(EVENTS_WIRE)
    if files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(files_per_trigger))
    raw = reader.json(src)
    return raw.select(
        "event_id",
        F.timestamp_micros("ts_us").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def configure_state_store(spark: SparkSession) -> bool:
    """Point streaming state at RocksDB when the provider class is
    present (gated on the jar, like the protobuf-gated tws variant).

    At scale the default HDFS-backed store holds all state in executor
    heap; RocksDB spills to local disk and supports incremental
    checkpoints — the SCALE.md posture.  The conf is per-query-start,
    so setting it on a live session affects only subsequently started
    streams.  Returns True when RocksDB is active.
    """
    present = jvm_has_class(spark, _ROCKSDB_PROVIDER)
    if present:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", _ROCKSDB_PROVIDER
        )
    return present


class _stream_shuffle_partitions:
    """Scope the engine's shuffle-partition count to a stream's run.

    Streaming stages can't use AQE (micro-batch execution disables it),
    so on a FOREIGN session (the driver's vanilla SparkSession) every
    stateful operator runs at the 200-partition default — ~6x the task
    count the fixture workload needs, paid per micro-batch (the r14
    carve-out tour measured stream_watermark_late at 38 s mostly in
    200-task state-store stages).  The state-store partition count is
    read from the session conf at STREAM START, so setting it just for
    the start/drain window and restoring afterwards leaves the caller's
    batch confs untouched.  On the engine's own sessions this is a
    no-op (get_spark already pins the same value).  At cluster scale
    the operator sets TWEETDB_SHUFFLE_PARTITIONS to match executor
    parallelism — state partitioning should track the cluster, not
    Spark's static default.
    """

    def __init__(self, spark):
        self.spark = spark
        self.target = int(os.environ.get("TWEETDB_SHUFFLE_PARTITIONS", "32"))

    def __enter__(self):
        try:
            self.old = self.spark.conf.get("spark.sql.shuffle.partitions")
            # LOWER only, never raise (review r14): a session whose
            # partitions were pinned deliberately below the engine
            # default (tests pin 8) must keep its smaller value — the
            # scope exists to stop the 200-partition static default
            # from taxing stateful micro-batches, not to override an
            # explicit choice.
            target = min(int(self.old), self.target)
            self.spark.conf.set("spark.sql.shuffle.partitions", str(target))
        except Exception:
            self.old = None
        return self

    def __exit__(self, *exc):
        if self.old is not None:
            try:
                self.spark.conf.set("spark.sql.shuffle.partitions", self.old)
            except Exception:
                pass
        return False


def drain(writer: DataStreamWriter, all_available: bool = False) -> StreamingQuery:
    """Run a configured ``writeStream`` to completion; return the
    terminated query (its ``recentProgress`` is the run's record).

    The one place a streaming key's run is decided: a pid-tagged
    scratch checkpoint (the next drain in this process reaps it; no
    caller reads a checkpoint after its drain returns), the RocksDB
    state store, the scoped shuffle-partition count, and the trigger.
    Default: availableNow — everything available at start, in
    micro-batches, then stop.  ``all_available``: default trigger +
    processAllAvailable, which keeps firing while the source reports
    new offsets (for a source whose availability advances over time).
    """
    spark = writer._spark
    configure_state_store(spark)
    writer = writer.option("checkpointLocation", scratch.fresh_dir("tweetdb_ckpt"))
    with _stream_shuffle_partitions(spark):
        if all_available:
            q = writer.start()
            q.processAllAvailable()
            q.stop()
        else:
            q = writer.trigger(availableNow=True).start()
            q.awaitTermination()
    return q


def run_to_parquet(df: DataFrame) -> DataFrame:
    """Drain an append-mode streaming frame through a parquet sink and
    return the schema'd read-back.

    For FACT-SIZED streaming output (one row per event: the raw
    ingest feed, per-event dedup/admission verdicts, stream joins):
    a memory sink materializes every row in driver heap, which
    OOM-killed the JVM at the 100M-event rung (r13) — the file sink
    keeps the result distributed and is the lake shape those jobs
    feed in production.  Memory sinks (:func:`run_to_memory`) remain
    right for aggregate-sized output.  The explicit schema on the
    read-back makes a zero-row sink dir readable (only
    _spark_metadata present).
    """
    out = scratch.fresh_dir("tweetdb_fsink")
    drain(df.writeStream.format("parquet").option("path", out))
    return df.sparkSession.read.schema(df.schema).parquet(out)


def run_to_memory(
    df: DataFrame, mode: str = "append", all_available: bool = False
) -> DataFrame:
    """Run a streaming frame to completion (:func:`drain`) into an
    in-memory table and return the table as a DataFrame.

    Lifetime contract: each call registers a uniquely-named in-memory
    table, holding the result for the session's lifetime.  Callers
    that loop many streams in one long session should dropTempView
    when done.
    """
    name = f"mem_{uuid.uuid4().hex[:12]}"
    drain(
        df.writeStream.format("memory").queryName(name).outputMode(mode),
        all_available,
    )
    return df.sparkSession.table(name)
