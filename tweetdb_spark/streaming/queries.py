"""Structured Streaming operators (SURVEY.md §2.8: S4, S5, ST1–ST6, J11).

Every key here is a *driver-runnable* streaming query: the callable
stages the stream, runs it to completion through ``sources.drain``,
and returns the materialized result DataFrame.  All are rows-only
checks by nature (the driver omits them from the oracle hash); each
stateful shape has an oracle-hash-checked batch twin in
``tweetdb_spark/operators/events.py``:

  stream_tumbling    ↔ events_tumbling
  stream_sliding     ↔ events_sliding
  stream_session     ↔ events_session_batch
  stream_dedup       ↔ (exact input row count — dedup of a doubled feed)
  join_stream_stream ↔ join_interval

Scale posture: state stores are keyed by (window×type / user);
watermarks bound state size — without one, a 100 TB stream's window
state grows forever.  Every stateful query below carries a watermark
except the complete-mode demos, which are bounded-cardinality by
construction (hour×5 types).
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tweetdb_spark import scratch
from tweetdb_spark.registry import query
from tweetdb_spark.session import DERBY_DRIVER, jvm_has_class
from tweetdb_spark.streaming.sources import (
    drain,
    read_events_stream,
    run_to_memory,
    run_to_parquet,
)


@query("source_stream_file", oracle=None)
def source_stream_file(spark, t):
    """S4: streaming file source, explicit schema, filter pass-through.

    The ingestion analog of the reference's stream listener: unbounded
    JSON in, typed rows out, predicate applied per micro-batch.
    """
    s = read_events_stream(spark, _sf_dir(t))
    out = s.where(F.col("event_type") != "error").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    # fact-sized output (one row per ingested event) -> file sink
    # (r13 100M-event rung: the memory sink OOM-killed the JVM here)
    return run_to_parquet(out)


@query("stream_tumbling", oracle=None)
def stream_tumbling(spark, t):
    """ST1: 1-hour tumbling counts per event_type (complete mode).

    Same buckets as the hash-checked events_tumbling batch twin.
    """
    s = read_events_stream(spark, _sf_dir(t))
    agg = (
        s.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("hour_start"), "event_type", "cnt", "sum_value")
    )
    return run_to_memory(agg, "complete")


@query("stream_sliding", oracle=None)
def stream_sliding(spark, t):
    """ST2: 1h windows sliding 15min, avg(value) (complete mode)."""
    s = read_events_stream(spark, _sf_dir(t))
    agg = (
        s.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count("*").alias("cnt"),
            (F.floor(F.round(F.sum("value"), 2) * 100 / F.count("*")) / 100).alias(
                "avg_value"
            ),
        )
        .select(F.col("w.start").alias("window_start"), "cnt", "avg_value")
    )
    return run_to_memory(agg, "complete")


@query("stream_session", oracle=None)
def stream_session(spark, t):
    """ST3: session windows (30-min gap) per user, watermarked append.

    ``session_window`` merges adjacent state as rows arrive; append
    mode emits a session only once the watermark passes its close —
    exactly the semantics the batch twin (events_session_batch)
    reproduces with lag/cumsum.
    """
    s = read_events_stream(spark, _sf_dir(t), files_per_trigger=5)
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    # session rows are fact-scaled (one per user-session) -> file sink
    return run_to_parquet(agg)


@query("stream_watermark_late", oracle=None)
def stream_watermark_late(spark, t):
    """ST4: 10-min watermark, tumbling hourly counts, append mode.

    Append emits a window only after the watermark passes window.end +
    delay; state for closed windows is evicted — the mechanism that
    keeps streaming state bounded at 100 TB/day rates.
    """
    s = read_events_stream(spark, _sf_dir(t), files_per_trigger=5)
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("hour_start"), "cnt")
    )
    return run_to_memory(agg, "append")


@query("stream_dedup", oracle=None)
def stream_dedup(spark, t):
    """ST5: exactly-once id dedup under watermark (tweet-id analog).

    The input is the staged feed UNIONed with itself (every event
    twice); ``dropDuplicatesWithinWatermark`` must emit each event_id
    exactly once while evicting ids older than the watermark.
    """
    s = read_events_stream(spark, _sf_dir(t), files_per_trigger=5)
    doubled = s.unionAll(s)
    deduped = (
        doubled.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "ts", "user_id", "event_type")
    )
    # one row per unique event -> fact-sized -> file sink (r13 rung)
    return run_to_parquet(deduped)


def _latest_totals_per_user(mem):
    """Update-mode sinks hold one row per (user, micro-batch); the
    final answer is the row with the max running count per user.
    Shared by both ST6 variants so their semantics cannot diverge."""
    w = Window.partitionBy("user_id").orderBy(F.col("n_purchases").desc())
    return (
        mem.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "n_purchases", "total_value")
    )


@query("stream_stateful", oracle=None)
def stream_stateful(spark, t):
    """ST6: arbitrary stateful op — running per-user purchase totals.

    ``applyInPandasWithState``: per-user state (count, total) persists
    across micro-batches in the state store; each batch emits the
    updated totals.  The returned table keeps the *latest* row per
    user (max count), equal to the batch groupBy on the same feed.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    s = read_events_stream(spark, _sf_dir(t), files_per_trigger=5)
    purchases = s.where(F.col("event_type") == "purchase").select(
        "user_id", "value"
    )

    def update_totals(key, pdfs, state: GroupState):
        cnt, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            cnt += len(pdf)
            total += float(pdf["value"].sum())
        state.update((cnt, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_purchases": [cnt], "total_value": [round(total, 2)]}
        )

    out = purchases.groupBy("user_id").applyInPandasWithState(
        update_totals,
        outputStructType="user_id long, n_purchases long, total_value double",
        stateStructType="cnt long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    mem = run_to_memory(out, "update")
    return _latest_totals_per_user(mem)


@query("stream_rate_limit", oracle=None)  # stateful; batch twin = events_rate_limit
def stream_rate_limit(spark, t):
    """Streaming admission control: at most 2 events per user per
    hour, decided as events ARRIVE — the online form of
    events_rate_limit (its hash-checked batch twin).

    Per-USER state in ``applyInPandasWithState``; each micro-batch
    sorts its group slice by (ts, event_id) and ranks within each
    hour vectorized in pandas, carrying only the LATEST hour's
    counter across batches.  The staged feed delivers time-ordered
    files, so arrival order matches event order (an hour older than
    the carried one can never reappear — which is exactly why one
    (hour, count) pair per user is lossless state), and the streamed
    admission set must equal the batch row_number ranking exactly —
    pinned by pytest, the strongest check an online operator can get.

    Keyed by user, NOT (user, hour) (r13 sf10 rung catch): the
    (user, hour) keying dispatched one python call per user-hour
    slice — ~5-8M tiny groups at sf10, and per-group Arrow + state
    round-trips dominated the run (watchdog kill past 900 s).  User
    keying cuts dispatches to ~150k/batch and moves the per-hour
    ranking into one vectorized groupby inside the slice: 908 s → the
    rung's post-fix time at identical output.  State also stops
    growing with stream lifetime (two ints per user vs one entry per
    user-hour ever seen; production adds a state TTL on idle users).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    s = read_events_stream(spark, _sf_dir(t), files_per_trigger=5)
    keyed = s.select(
        "event_id",
        "user_id",
        "ts",
        # hour as epoch SECONDS (long): state-schema friendly and
        # avoids pandas datetime-unit ambiguity inside the UDF.
        # NULL ts (r14 edge-survey catch — a pre-existing crash the
        # r13 survey's micro-batch boundaries happened to mask): the
        # batch twin puts all of a user's NULL-ts events in ONE
        # NULL-hour window group ordered by event_id; a NULL hr here
        # becomes pandas NaN, poisoning cumcount ranks and the int()
        # state round-trip.  Map NULL to a sentinel hour LARGER than
        # any real epoch-hour: the staged feed writes NULL-day rows
        # to the lexicographically-last file (mtime-ordered last), so
        # the sentinel group arrives after every real hour — the
        # monotonic-feed contract holds and the slice sort (NaT last)
        # agrees with the group order.
        F.coalesce(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))),
            F.lit(2**62),
        ).alias("hr"),
    )

    def admit(key, pdfs, state: GroupState):
        hr, cnt = state.get if state.exists else (-1, 0)
        # A group's micro-batch slice arrives as MULTIPLE arbitrarily
        # ordered pandas chunks; sorting each chunk independently would
        # diverge from the batch row_number ranking whenever a user's
        # slice spans chunks.  Concatenate, then sort once.
        full = pd.concat(list(pdfs), ignore_index=True)
        full = full.sort_values(["ts", "event_id"])
        # Carrying only the LATEST (hr, cnt) is lossless only while a
        # user's hours arrive monotonically across micro-batches —
        # guaranteed here by the time-ordered staged feed (files are
        # staged in ts order, maxFilesPerTrigger preserves listing
        # order).  Fail loudly if that assumption ever breaks (ADVICE
        # r13) instead of silently re-admitting an old hour.
        # state.exists guard (review r14): with no carried state the
        # sentinel hr = -1 is not a real hour, and a pre-1970 fixture
        # (legal negative epoch-hours) would trip the check on a
        # user's very first batch
        if state.exists and len(full) and int(full["hr"].iloc[0]) < hr:
            raise ValueError(
                f"stream_rate_limit: non-monotonic hour for user "
                f"{key}: batch starts at {int(full['hr'].iloc[0])} < "
                f"carried state hour {hr} — the single-(hr,cnt) state "
                "layout requires a time-ordered feed"
            )
        # rank within each hour of the sorted slice, continuing the
        # carried counter when the first hour is the carried hour
        rank = full.groupby("hr").cumcount().to_numpy() + 1
        rank = rank + (full["hr"].to_numpy() == hr) * cnt
        state.update((int(full["hr"].iloc[-1]), int(rank[-1])))
        yield pd.DataFrame(
            {"event_id": full["event_id"], "admitted": rank <= 2}
        )

    out = keyed.groupBy("user_id").applyInPandasWithState(
        admit,
        outputStructType="event_id long, admitted boolean",
        stateStructType="hr long, cnt long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # one verdict row per event -> fact-sized -> file sink (r13 rung)
    return run_to_parquet(out)


@query("source_stream_custom", oracle=None)
def source_stream_custom(spark, t):
    """Custom *streaming* connector: the tweetgen Python DataSource
    read through ``spark.readStream`` with real offset tracking
    (initialOffset → latestOffset → partitions → commit per
    micro-batch) — the engine's stand-in for the reference's tweepy
    long-poll stream.  The reader is stateless (restart-safe: Spark
    plans checkpointed-offset → latest); pytest asserts the drained
    rows equal the batch read of the same generator.
    """
    from tweetdb_spark.sources.tweetgen import register

    register(spark)
    feed = (
        spark.readStream.format("tweetgen")
        .option("rows", 1000)
        .option("partitions", 4)
        .load()
    )
    agg = feed.groupBy("lang").agg(
        F.count("*").alias("n_tweets"),
        F.round(F.sum("score"), 2).alias("sum_score"),
    )
    return run_to_memory(agg, "complete", all_available=True)


def _has_protobuf() -> bool:
    """transformWithStateInPandas speaks protobuf to its state server;
    the package isn't provisioned in every environment (and this repo
    installs nothing), so the modern-API variant registers only where
    the dependency exists.  applyInPandasWithState (stream_stateful)
    covers ST6 unconditionally."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def _register_tws() -> None:
    if not _has_protobuf():
        return

    @query("stream_stateful_tws", oracle=None)
    def stream_stateful_tws(spark, t):
        return _stream_stateful_tws_impl(spark, t)


def _stream_stateful_tws_impl(spark, t):
    """ST6 (modern form): transformWithStateInPandas (Spark 4).

    Same running per-user purchase totals as stream_stateful, using
    the typed-state StatefulProcessor API (ValueState handle instead
    of a raw tuple) — the API Spark is moving arbitrary stateful
    processing onto.  Emits updated totals per micro-batch; the
    returned frame keeps the final row per user.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.state = handle.getValueState(
                "totals", "cnt long, total double"
            )

        def handleInputRows(self, key, rows, timerValues):
            cnt, total = (
                self.state.get() if self.state.exists() else (0, 0.0)
            )
            for pdf in rows:
                cnt += len(pdf)
                total += float(pdf["value"].sum())
            self.state.update((cnt, total))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_purchases": [cnt],
                    "total_value": [round(total, 2)],
                }
            )

        def close(self) -> None:
            pass

    s = read_events_stream(spark, _sf_dir(t), files_per_trigger=5)
    purchases = s.where(F.col("event_type") == "purchase").select(
        "user_id", "value"
    )
    out = purchases.groupBy("user_id").transformWithStateInPandas(
        RunningTotals(),
        outputStructType="user_id long, n_purchases long, total_value double",
        outputMode="Update",
        timeMode="None",
    )
    mem = run_to_memory(out, "update")
    return _latest_totals_per_user(mem)


_register_tws()


@query("join_stream_static", oracle=None)
def join_stream_static(spark, t):
    """J11: streaming events ⋈ static customer dim.

    The static side is planned per micro-batch (broadcast at this
    size); stream-static joins need no watermark — no state is kept.

    Sink: parquet, not memory (r13 sf10 rung catch): the join OUTPUT
    is fact-sized — one wide row per matched event, ~10M at sf10 —
    and a memory sink materializes all of it in driver heap, which
    OOM-killed the JVM at sf10 under the 8g ladder config.  A file
    sink keeps the result distributed (the lake shape a stream-static
    enrichment feeds in production); the read-back frame carries the
    identical rows, so the batch-equality pytest and the r10
    driver-graded rows evidence are unchanged.
    """
    s = read_events_stream(spark, _sf_dir(t))
    cust = t["customer"].select(
        F.col("c_custkey").alias("user_id"), "c_name", "c_mktsegment"
    )
    joined = s.join(cust, "user_id").select(
        "event_id", "user_id", "event_type", "c_name", "c_mktsegment"
    )
    return run_to_parquet(joined)


@query("stream_sink_parquet", oracle=None)
def stream_sink_parquet(spark, t):
    """Streaming partitioned-parquet sink: exactly-once file output.

    The lake-ingestion shape: micro-batches append partitioned parquet
    under a checkpointed sink — the file-sink commit log makes
    re-delivered batches idempotent (exactly-once files), and
    partitioning by event_type gives the layout downstream pruning
    wants.  Returns the read-back aggregate; a pytest asserts it
    equals the batch twin and that partition directories exist.
    """
    # per-process namespacing stops concurrent sessions reaping each
    # other's in-flight sink dirs
    out = scratch.fresh_dir("tweetdb_ssink")
    s = read_events_stream(spark, _sf_dir(t), files_per_trigger=10)
    # Partition on a SANITIZED derivative, never the raw column: hive
    # directory encoding cannot round-trip '' (read back as NULL), so
    # partitioning by event_type itself corrupts empty-string keys
    # (r13 rows-only edge survey catch).  The raw column stays inside
    # the data files and round-trips exactly; the sentinels only name
    # directories — the standard lakehouse treatment of free-text
    # partition keys.
    pt = (
        F.when(F.col("event_type").isNull(), F.lit("__null__"))
        .when(F.col("event_type") == "", F.lit("__empty__"))
        .otherwise(F.col("event_type"))
    )
    drain(
        s.withColumn("pt", pt)
        .writeStream.format("parquet")
        .option("path", out)
        .partitionBy("pt")
    )
    back = spark.read.parquet(out).drop("pt")
    return back.groupBy("event_type").agg(
        F.count("*").alias("cnt"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@query("join_stream_stream", oracle=None)
def join_stream_stream(spark, t):
    """Stream-stream interval join — activity within 1h of each signup.

    The streaming twin of the hash-checked join_interval batch shape
    (same equi conjunct + time-range predicate, same output columns;
    equality asserted in tests/test_streaming.py).  Both sides carry
    watermarks, so the state store evicts buffered rows once the
    range condition can no longer match them — bounded state is what
    makes a stream-stream join survive an unbounded 100 TB feed; the
    join itself shuffles both streams on user_id exactly like the
    batch hash join.
    """
    sf = _sf_dir(t)
    s = (
        read_events_stream(spark, sf)
        .where(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_id"),
            "user_id",
            F.col("ts").alias("s_ts"),
        )
        .withWatermark("s_ts", "2 hours")
    )
    x = (
        read_events_stream(spark, sf)
        .where(F.col("event_type") != "signup")
        .select(
            F.col("user_id").alias("x_user_id"),
            F.col("event_id").alias("event_id"),
            "event_type",
            F.col("ts").alias("x_ts"),
        )
        .withWatermark("x_ts", "2 hours")
    )
    joined = s.join(
        x,
        (s.user_id == x.x_user_id)
        & (F.col("x_ts") > F.col("s_ts"))
        & (F.col("x_ts") <= F.col("s_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        "signup_id", "user_id", "event_id", "event_type",
        F.col("x_ts").alias("ts"),
    )
    return run_to_memory(joined, "append")


@query("join_stream_stream_outer", oracle=None)
def join_stream_stream_outer(spark, t):
    """LEFT OUTER stream-stream interval join — every signup emits,
    with NULL activity columns when nothing followed within 1h.

    The outer variant is the semantically hard one: a NULL row can
    only be emitted once the WATERMARK proves no matching activity can
    still arrive, so the state store holds each signup exactly until
    its join window is provably closed — the bounded-state contract
    that lets this run forever on an unbounded feed.  The GLOBAL
    watermark of a multi-input query is the MIN over the per-input
    watermarks (here the sparse signup side binds, not the dense
    activity side — measured during development, not assumed), so rows
    inside the final unclosed window are correctly withheld at
    end-of-feed; the batch-equality pytest compares the closed region
    (s_ts + 1h below the min-side watermark) where stream and batch
    must agree row-for-row, NULLs included.
    """
    sf = _sf_dir(t)
    s = (
        read_events_stream(spark, sf)
        .where(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_id"),
            "user_id",
            F.col("ts").alias("s_ts"),
        )
        .withWatermark("s_ts", "2 hours")
    )
    x = (
        read_events_stream(spark, sf)
        .where(F.col("event_type") != "signup")
        .select(
            F.col("user_id").alias("x_user_id"),
            F.col("event_id").alias("event_id"),
            "event_type",
            F.col("ts").alias("x_ts"),
        )
        .withWatermark("x_ts", "2 hours")
    )
    joined = s.join(
        x,
        (s.user_id == x.x_user_id)
        & (F.col("x_ts") > F.col("s_ts"))
        & (F.col("x_ts") <= F.col("s_ts") + F.expr("INTERVAL 1 HOUR")),
        "leftOuter",
    ).select("signup_id", "user_id", "s_ts", "event_id", "event_type")
    # one row per signup-event match -> fact-scaled -> file sink
    return run_to_parquet(joined)


def _purchase_totals_stream(spark, t):
    """The shared upstream of both sink branches: per-user purchase
    totals over the staged event stream, complete output mode."""
    s = read_events_stream(spark, _sf_dir(t), files_per_trigger=10)
    return (
        s.where(F.col("event_type") == "purchase")
        # a keyed upsert sink cannot route a NULL key: the target PK
        # column rejects it (Derby) or silently treats every NULL as
        # distinct (SQLite) — NULL-key events are excluded upstream so
        # both branches agree; production would dead-letter them (r13
        # rows-only edge survey catch)
        .where(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
    )


@query("sink_jdbc_batch", oracle=None)
def sink_jdbc_batch(spark, t):
    """S5: foreachBatch idempotent upsert sink (BASELINE.json's
    "Structured Streaming + JDBC sink" shape).

    Gated on driver-jar presence, branch chosen at runtime:

    - **Literal JDBC** (when the embedded Derby driver is on the
      classpath — it ships with PySpark): each micro-batch does a real
      executor-side ``batch_df.write.jdbc`` into a staging table, then
      one transactional set-based DELETE+INSERT from staging keyed by
      user_id with the batchId recorded.  Re-delivered batches
      overwrite the same staging table and the upsert re-applies to
      the same end state — exactly-once results over at-least-once
      delivery, the standard warehouse-upsert topology.  (MERGE was
      the first choice but Derby 10.16's MERGE mis-reads multi-page
      source tables — reproducible XSDA7 store errors at ≥500 staging
      rows — while the equivalent single-transaction DELETE+INSERT is
      solid at every size tested; on a server-grade target swap the
      two statements for the one MERGE.)
    - **SQLite stand-in** (fallback when no JDBC driver exists):
      identical semantics via partition-wise ``foreachPartition``
      writers with INSERT OR REPLACE.

    Both branches run the same upstream aggregation and return the
    same schema; the idempotence pytest is branch-agnostic.
    """
    if jvm_has_class(spark, DERBY_DRIVER):
        return _sink_jdbc_derby(spark, t)
    return _sink_jdbc_sqlite(spark, t)


def _sink_jdbc_derby(spark, t):
    """The literal path: df.write.jdbc staging + driver-side
    transactional DELETE+INSERT upsert.

    Derby folds unquoted identifiers to uppercase while Spark's JDBC
    writer creates quoted lowercase columns, so every column reference
    in the hand-written SQL is quoted.  derby.system.home /
    derby.stream.error.file are pinned by session.configure() BEFORE any
    JDBC touch (Derby reads them once at lazy engine boot), so derby.log
    never lands in the repo; the DB itself lives under an explicit
    scratch path in the URL."""
    import uuid as _uuid

    from tweetdb_spark import session as _session

    jvm = spark._jvm
    _session._pin_derby_home(spark)  # no-op if configure() already ran
    home = scratch.fresh_dir("tweetdb_derby")  # reapable, pid-tagged
    os.makedirs(home)
    url = f"jdbc:derby:{home}/sink_{_uuid.uuid4().hex[:8]};create=true"

    con = jvm.java.sql.DriverManager.getConnection(url)
    st = con.createStatement()
    st.executeUpdate(
        'CREATE TABLE purchase_totals ("user_id" BIGINT PRIMARY KEY, '
        '"n" BIGINT, "total" DOUBLE, "batch_id" BIGINT)'
    )
    st.close()
    con.close()

    def upsert(batch_df, batch_id: int) -> None:
        bid = int(batch_id)
        # executor-side literal JDBC write; overwrite makes redelivery
        # idempotent (staging always holds exactly this batch)
        batch_df.coalesce(8).write.jdbc(url, "staging", mode="overwrite")
        c = spark._jvm.java.sql.DriverManager.getConnection(url)
        try:
            c.setAutoCommit(False)
            s2 = c.createStatement()
            # one transaction: replace every staged key, stamp the batchId
            s2.executeUpdate(
                "DELETE FROM purchase_totals "
                'WHERE "user_id" IN (SELECT "user_id" FROM staging)'
            )
            s2.executeUpdate(
                "INSERT INTO purchase_totals "
                f'SELECT "user_id", "n", "total", {bid} FROM staging'
            )
            c.commit()
            s2.close()
        except Exception:
            # roll back so the foreachBatch retry doesn't block on the
            # dead transaction's locks (embedded Derby holds them until
            # the connection releases)
            try:
                c.rollback()
            finally:
                c.close()
            raise
        c.close()

    drain(
        _purchase_totals_stream(spark, t)
        .writeStream.outputMode("complete")
        .foreachBatch(upsert)
    )

    return spark.read.jdbc(url, "purchase_totals").select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("n").cast("long").alias("n_purchases"),
        F.col("total").cast("double").alias("total_value"),
    )


def _sink_jdbc_sqlite(spark, t):
    """Fallback stand-in when no JDBC driver jar exists: SQLite via
    partition-wise ``foreachPartition`` writers (each task opens its
    own connection and writes only its slice — the connection topology
    of a real JDBC sink; WAL + busy_timeout make the concurrent
    writers safe).  Same batchId-idempotence contract as the literal
    branch.
    """
    import sqlite3

    db_dir = scratch.fresh_dir("tweetdb_sink_db")  # reapable, pid-tagged
    os.makedirs(db_dir)
    db_path = os.path.join(db_dir, "sink.db")
    init = sqlite3.connect(db_path)
    init.execute("PRAGMA journal_mode=WAL")  # concurrent partition writers
    init.execute(
        "CREATE TABLE IF NOT EXISTS purchase_totals ("
        "user_id INTEGER PRIMARY KEY, n INTEGER, total REAL, batch_id INTEGER)"
    )
    init.commit()
    init.close()

    per_user = _purchase_totals_stream(spark, t)

    def upsert(batch_df, batch_id: int) -> None:
        bid = int(batch_id)

        def write_partition(part) -> None:
            # runs executor-side; one connection + one transaction per
            # partition, like DataFrameWriter.jdbc's task-level writers
            rows = [
                (int(r.user_id), int(r.n), float(r.total), bid) for r in part
            ]
            if not rows:
                return
            con = sqlite3.connect(db_path, timeout=30.0)
            con.execute("PRAGMA busy_timeout = 30000")
            con.executemany(
                "INSERT OR REPLACE INTO purchase_totals VALUES (?, ?, ?, ?)",
                rows,
            )
            con.commit()
            con.close()

        # few aggregate rows spread over shuffle partitions: coalesce to
        # a handful of writer tasks (real JDBC sinks bound connection
        # fan-in the same way)
        batch_df.coalesce(8).foreachPartition(write_partition)

    drain(per_user.writeStream.outputMode("complete").foreachBatch(upsert))

    con = sqlite3.connect(db_path)
    data = con.execute(
        "SELECT user_id, n, total FROM purchase_totals ORDER BY user_id"
    ).fetchall()
    con.close()
    return spark.createDataFrame(
        data, "user_id long, n_purchases long, total_value double"
    )


def _sf_dir(t) -> str:
    """sf_dir travels on the Tables object (registry.Tables.sf_dir)."""
    return t.sf_dir


def _fold_batch(root, step, bdf, batch_id):
    """Write snapshot ``v{batch_id + 1} = step(bdf, v{batch_id})`` under
    ``root``; ``v0`` may be absent (no base), a later one may not."""
    prev = os.path.join(root, f"v{batch_id}")
    if os.path.isdir(prev):
        cur = bdf.sparkSession.read.parquet(prev)
    elif batch_id == 0:
        cur = None
    else:
        raise FileNotFoundError(
            f"fold snapshot {prev} is missing; batch {batch_id} must not "
            "fold from empty state"
        )
    nxt = os.path.join(root, f"v{batch_id + 1}")
    step(bdf, cur).write.mode("overwrite").parquet(nxt)


def _fold_feed(spark, name, feed, step, base=None):
    """Fold ``feed`` into state micro-batch by micro-batch and return
    the final state: the copy-on-write snapshot chain behind the
    oracle-checked streaming ingest and CDC keys.

    ``feed`` is staged as 4 parquet files under a ``name`` scratch dir
    and streamed one file per trigger through :func:`drain`; batch
    ``b`` writes snapshot ``v{b+1} = step(batch, v{b})``, where ``v0``
    is ``base`` (``step`` gets None when there is no base).

    Invariant: snapshot ``v{b+1}`` is named by the batch id that
    produced it and computed only from ``v{b}`` and batch ``b``'s
    input.  A redelivered batch ``b`` (a retried batch, or a restart
    from checkpoint) therefore rewrites ``v{b+1}`` from the same
    ``v{b}`` and the same input, so replay is idempotent, and a crashed
    batch never corrupts a readable snapshot.  When ``step`` merges
    with a commutative, associative reduce, the final snapshot is also
    independent of how the feed was batched, which is what lets these
    streaming keys carry a batch SQL oracle.
    """
    root = scratch.fresh_dir(name)
    feed_dir = os.path.join(root, "feed")
    feed.repartition(4).write.parquet(feed_dir)
    if base is not None:
        base.write.parquet(os.path.join(root, "v0"))
    stream = (
        spark.readStream.schema(feed.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )
    drain(
        stream.writeStream.foreachBatch(
            lambda bdf, batch_id: _fold_batch(root, step, bdf, batch_id)
        )
    )
    last = max(int(d[1:]) for d in os.listdir(root) if d.startswith("v"))
    return spark.read.parquet(os.path.join(root, f"v{last}"))


def _with_prev(part, prev):
    """A batch's partial state, unioned with the previous snapshot."""
    return part if prev is None else part.unionByName(prev)


def _latest_version_wins(bdf, cur):
    """The CDC fold step: the highest ``version`` per ``o_orderkey``
    wins, whatever order batches arrive in (a tombstone is just a
    winning row the read side drops)."""
    w = Window.partitionBy("o_orderkey").orderBy(F.col("version").desc())
    return (
        cur.unionByName(bdf)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "stream_cdc_apply",
    oracle="""
    WITH updates AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             FLOOR(o_totalprice * 1.1 * 100 + 0.5) / 100 AS o_totalprice, 2 AS version
      FROM orders WHERE o_orderkey % 7 = 0
    ), base AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, 1 AS version
      FROM orders
    ), unioned AS (
      SELECT * FROM base UNION ALL SELECT * FROM updates
    ), ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY o_orderkey ORDER BY version DESC
             ) AS rn
      FROM unioned
    )
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, version
    FROM ranked WHERE rn = 1
    """,
)
def stream_cdc_apply(spark, t):
    """Streaming CDC apply: a change feed merged into a base snapshot,
    micro-batch by micro-batch (the streaming MERGE INTO shape —
    foreachBatch + latest-wins upsert on plain parquet).

    The change feed (merge_upsert's deterministic updates, split
    across files so multiple micro-batches fire) is consumed with a
    file stream; each batch merges into the previous snapshot and
    commits the next one (``_fold_feed``'s copy-on-write chain), and
    latest-wins by version makes the end state independent of batch
    order.  Unusually for a
    streaming key, the FINAL state is exactly SQL-expressible, so
    this one is oracle-HASH-checked, not rows-only: the stream's
    materialized table must match the batch MERGE to the byte.
    At 100 TB the per-batch rewrite cost is what Delta/Iceberg MERGE
    amortizes via file-level pruning; the snapshot-chain structure
    (and its manifest form, snapshot_time_travel) is identical.
    """
    changes = (
        t["orders"]
        .where(F.col("o_orderkey") % 7 == 0)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            (F.floor(F.col("o_totalprice") * 1.1 * 100 + 0.5) / 100).alias(
                "o_totalprice"
            ),
            F.lit(2).alias("version"),
        )
    )
    base = t["orders"].select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.lit(1).alias("version"),
    )
    return _fold_feed(spark, "tweetdb_cdc", changes, _latest_version_wins, base)


@query(
    "stream_corpus_ingest",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), stats AS (
      SELECT doc_id, count(*) AS n_tokens, count(DISTINCT token) AS n_distinct
      FROM tok GROUP BY doc_id
    ), q AS (
      SELECT d.doc_id, d.text FROM documents d JOIN stats s USING (doc_id)
      WHERE s.n_tokens BETWEEN 20 AND 1000
        AND CAST(s.n_distinct AS DOUBLE) / s.n_tokens > 0.2
    )
    SELECT sha256(lower(trim(text))) AS text_hash,
           MIN(doc_id) AS keep_doc_id,
           count(*) AS n_copies
    FROM q GROUP BY 1
    """,
)
def stream_corpus_ingest(spark, t):
    """Streaming corpus ingest: document micro-batches → quality gate
    → exact dedup merged into an accumulating corpus state — the
    daily-crawl-drop shape, as Structured Streaming.

    Each micro-batch filters to quality-passing docs (corpus_curate's
    gate), pre-aggregates per normalized hash (min doc_id, count),
    and merges into the corpus state with a commutative reduce
    (LEAST on the keeper, SUM on the count) — so the final state is
    **independent of how the feed was batched**, which is exactly
    what lets a SQL oracle hash-check a streaming operator: the
    result equals the batch quality ∧ dedup_exact query no matter
    the trigger schedule.  State commits are ``_fold_feed``'s
    copy-on-write snapshots.  At 100 TB the
    state table is 32-byte hashes + two ints per distinct doc —
    three orders smaller than the corpus — and the merge is an
    equi-shuffle on the hash; bucket the state by text_hash and the
    per-batch merge stops reshuffling the accumulated side entirely
    (dedup_incremental's layout, fed by a stream).
    """

    def step(bdf, prev):
        tok = bdf.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        stats = tok.groupBy("doc_id").agg(
            F.count("*").alias("n_tokens"),
            F.countDistinct("token").alias("n_distinct"),
        )
        quality = (F.col("n_tokens").between(20, 1000)) & (
            F.col("n_distinct").cast("double") / F.col("n_tokens") > 0.2
        )
        part = (
            bdf.join(stats, "doc_id")
            .where(quality)
            .groupBy(F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("text_hash"))
            .agg(
                F.min("doc_id").alias("keep_doc_id"),
                F.count("*").alias("n_copies"),
            )
        )
        return (
            _with_prev(part, prev)
            .groupBy("text_hash")
            .agg(
                F.min("keep_doc_id").alias("keep_doc_id"),
                F.sum("n_copies").cast("long").alias("n_copies"),
            )
        )

    docs = t["documents"].select("doc_id", "text")
    return _fold_feed(spark, "tweetdb_ingest", docs, step)


@query("stream_vector_ingest", oracle=None, eager=True)  # streamed index maintenance
def stream_vector_ingest(spark, t):
    """Streaming ANN index maintenance — vectors arrive as a stream
    and are assigned to the EXISTING IVF cells without any refit: the
    online half of the sim_ann_ivf story.

    At 100 TB the coarse quantizer is fit once (or per epoch) and the
    index then grows by ingestion: every new batch is a narrow
    broadcast-join against the 16-row centroid table plus an argmin —
    no shuffle of the corpus, no KMeans rerun, and the cell-partitioned
    layout keeps probe-side pruning valid as the index grows.  Here
    each micro-batch computes squared-L2 argmin against the persisted
    centroids (codegen zip_with/aggregate, deterministic (d², cell)
    struct-min tie-break) inside ``foreachBatch`` and appends the
    assignments to the index dir — exactly how a production pipeline
    extends an IVF index between refits.  The pytest pins streamed
    assignments vector-for-vector to the KMeans model's own batch
    assignment (the persisted index), so online == offline, the same
    invariant the other streaming twins enforce.  Rows-only key
    (centroids are engine-internal; no faithful ANSI oracle).
    """
    from tweetdb_spark.llm.similarity import ensure_ivf_index
    from tweetdb_spark.streaming.sources import stage_embeddings_parquet
    from tweetdb_spark.schemas import TABLE_SCHEMAS

    _idx_path, cents_path = ensure_ivf_index(spark, t)
    centroids = spark.read.parquet(cents_path)

    src = stage_embeddings_parquet(spark, _sf_dir(t))
    feed = (
        spark.readStream.schema(TABLE_SCHEMAS["embeddings"])
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        # same index-ingest guard as the batch build's
        # _valid_embeddings: a NULL/empty vector is unassignable
        # (NULL d²) and must drop out of BOTH halves identically, or
        # online diverges from a refit (r13 rows-only edge survey)
        .where(F.col("embedding").isNotNull() & (F.size("embedding") > 0))
    )

    out_dir = scratch.fresh_dir("tweetdb_vec_ingest")

    d2 = F.aggregate(
        F.zip_with(
            "embedding", "center", lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )

    def assign(batch_df, batch_id: int) -> None:
        scored = batch_df.crossJoin(F.broadcast(centroids)).select(
            "vec_id", "label", d2.alias("d2"), "cell"
        )
        best = scored.groupBy("vec_id").agg(
            F.min(F.struct("d2", "cell")).getField("cell").alias("cell"),
            F.min("label").alias("label"),
        )
        best.withColumn("batch_id", F.lit(int(batch_id))).write.mode(
            "append"
        ).parquet(out_dir)

    drain(feed.writeStream.foreachBatch(assign))
    if not os.path.isdir(out_dir):  # defensive: empty feed
        # same 3-column schema as the normal path below
        return spark.createDataFrame([], "vec_id long, cell int, label int")
    return spark.read.parquet(out_dir).select(
        "vec_id", F.col("cell").cast("int").alias("cell"), "label"
    )


@query(
    "stream_sketch_ingest",
    oracle="""
    WITH j AS (
      SELECT * FROM (VALUES (0, 2654435761, 1), (1, 2246822519, 7),
                            (2, 3266489917, 13), (3, 668265263, 31))
             AS t(j, a, b)
    ), h AS (
      SELECT e.user_id, j.j,
             (((e.user_id % 1000003) * j.a + j.b) % 1000003) % 1024
               AS bucket
      FROM events e CROSS JOIN j
    ), cms AS (
      SELECT j, bucket, count(*) AS c FROM h GROUP BY j, bucket
    ), probes AS (
      SELECT DISTINCT user_id FROM events WHERE user_id < 50
    ), ph AS (
      SELECT p.user_id, j.j,
             (((p.user_id % 1000003) * j.a + j.b) % 1000003) % 1024
               AS bucket
      FROM probes p CROSS JOIN j
    ), est AS (
      SELECT ph.user_id, min(cms.c) AS cms_est
      FROM ph JOIN cms USING (j, bucket) GROUP BY ph.user_id
    ), exact AS (
      SELECT user_id, count(*) AS exact_cnt FROM events
      WHERE user_id < 50 GROUP BY user_id
    )
    SELECT est.user_id,
           CAST(est.cms_est AS BIGINT) AS cms_est,
           CAST(exact.exact_cnt AS BIGINT) AS exact_cnt,
           CAST(est.cms_est - exact.exact_cnt AS BIGINT) AS overcount
    FROM est JOIN exact USING (user_id)
    """,
)
def stream_sketch_ingest(spark, t):
    """Streaming Count-Min maintenance: the event feed arrives in
    micro-batches, each batch contributes its sparse CMS partial grid
    and its probe-key counts, and the state is the running
    counter-sum of both — `sketch_cms_merge`'s two-level pattern with
    the shards arriving *over time* instead of lying in partitions.

    Counter addition is commutative and associative, so the final
    state is independent of trigger schedule and batch boundaries —
    which is what makes this streaming key oracle-HASH-checked (the
    stream_corpus_ingest argument, applied to sketch state): the
    end-state estimates must equal the batch-built CMS value for
    value.  State lives in one ``_fold_feed`` snapshot per batch
    ((j, bucket) grid rows ∪ probe-count rows, merged by one
    grouped SUM — ≤4096 + 50 rows whatever the stream has seen).
    At 100 TB this is the always-on ingest monitor:
    per-batch work is one map-side-combined partial agg over the
    batch plus a merge against KBs of state, and any frequency
    question over the whole history reads the grid, never the
    history.  Docstring lineage: SURVEY.md §2 ST-rows + the sketch
    trio (operators/aggregates.py).
    """
    from tweetdb_spark.operators.aggregates import _cms_hashes

    def step(bdf, prev):
        grid = (
            bdf.select(F.explode(_cms_hashes(F.col("user_id"))).alias("h"))
            .groupBy(F.col("h.j").alias("j"), F.col("h.bucket").alias("bucket"))
            .agg(F.count("*").alias("c"))
            .select("j", "bucket", F.lit(None).cast("bigint").alias("user_id"), "c")
        )
        probe = (
            bdf.where(F.col("user_id") < 50)
            .groupBy("user_id")
            .agg(F.count("*").alias("c"))
            .select(
                F.lit(None).cast("int").alias("j"),
                F.lit(None).cast("bigint").alias("bucket"),
                "user_id",
                "c",
            )
        )
        return (
            _with_prev(grid.unionByName(probe), prev)
            .groupBy("j", "bucket", "user_id")
            .agg(F.sum("c").alias("c"))
        )

    st = _fold_feed(
        spark, "tweetdb_sketchingest", t["events"].select("user_id"), step
    )
    grid = st.where(F.col("user_id").isNull()).select("j", "bucket", "c")
    probes = st.where(F.col("user_id").isNotNull()).select(
        "user_id", F.col("c").alias("exact_cnt")
    )
    probe_h = probes.select(
        "user_id",
        "exact_cnt",
        F.explode(_cms_hashes(F.col("user_id"))).alias("h"),
    ).select("user_id", "exact_cnt", "h.j", "h.bucket")
    return (
        probe_h.join(F.broadcast(grid), ["j", "bucket"])
        .groupBy("user_id", "exact_cnt")
        .agg(F.min("c").alias("cms_est"))
        .select(
            "user_id",
            "cms_est",
            "exact_cnt",
            (F.col("cms_est") - F.col("exact_cnt")).alias("overcount"),
        )
    )


@query(
    "stream_rollup_ingest",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket_start,
           event_type,
           count(*) AS cnt,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM events GROUP BY 1, 2
    """,
)
def stream_rollup_ingest(spark, t):
    """Streaming continuous-aggregate maintenance: the hourly
    (bucket, type) partial that ``events_multires_rollup`` derives its
    day/week tiers from, maintained incrementally as micro-batches
    arrive — the TimescaleDB continuous aggregate with the refresh
    policy replaced by the stream itself.

    Each batch contributes its own hourly partial (count + integer-
    cent sum, both map-side combined); merging into state is one
    grouped SUM — commutative and associative, so the end state is
    independent of trigger schedule and batch boundaries, which is
    what lets a STREAMING key carry a full value-hash ORACLE (the
    stream_corpus_ingest argument).  State is a ``_fold_feed``
    snapshot of ≤ |types|×|hours| rows.  At 100 TB: per-batch work is
    proportional to the batch, the merge touches KBs, and every
    coarser rollup (day/week/dashboards) reads this state — raw
    events are scanned exactly once, by the ingest itself.
    """

    def step(bdf, prev):
        part = bdf.groupBy(
            F.date_trunc("hour", "ts").alias("bucket_start"), "event_type"
        ).agg(
            F.count("*").alias("cnt"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
        )
        return (
            _with_prev(part, prev)
            .groupBy("bucket_start", "event_type")
            .agg(F.sum("cnt").alias("cnt"), F.sum("sum_cents").alias("sum_cents"))
        )

    ev = t["events"].select("ts", "event_type", "value")
    return _fold_feed(spark, "tweetdb_rollupingest", ev, step)


@query(
    "stream_topk_windowed",
    oracle="""
    WITH counts AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             user_id, count(*) AS cnt
      FROM events GROUP BY 1, 2
    ), ranked AS (
      SELECT day, user_id, cnt,
             row_number() OVER (
               -- NULLS FIRST: the anonymous-user (NULL user_id) group
               -- tie-breaks first like Spark's ASC default, else the
               -- top-3 membership flips on count ties (r11 NULL survey)
               PARTITION BY day ORDER BY cnt DESC, user_id NULLS FIRST
             ) AS rnk
      FROM counts
    )
    SELECT day, user_id, cnt, rnk FROM ranked WHERE rnk <= 3
    """,
)
def stream_topk_windowed(spark, t):
    """Streaming windowed top-k (the classic "trending users per day"
    leaderboard): per-(day, user) activity counts maintained by
    commutative merge as batches arrive, ranked top-3 per day from
    the FINAL state.

    The decomposition is the whole design: the STREAM maintains only
    the mergeable part (counter state — order-independent, so the end
    state is batching-invariant and the key carries a full value-hash
    ORACLE), while the rank is computed over the compact state table
    (|days|×|users| rows, not raw events) wherever it's read — rank
    is NOT mergeable, so pushing it into the stream would force
    complete-mode rewrites of every window per trigger.  This is how
    leaderboards actually run at 100 TB: counters in the streaming
    state store, top-k on read (or per trigger over changed windows
    only).  State is a ``_fold_feed`` snapshot chain, as in
    stream_rollup_ingest; deterministic ties by user_id.
    """

    def step(bdf, prev):
        part = bdf.groupBy(
            F.date_trunc("day", "ts").alias("day"), "user_id"
        ).agg(F.count("*").alias("cnt"))
        return (
            _with_prev(part, prev)
            .groupBy("day", "user_id")
            .agg(F.sum("cnt").alias("cnt"))
        )

    st = _fold_feed(
        spark, "tweetdb_topkingest", t["events"].select("ts", "user_id"), step
    )
    w = Window.partitionBy("day").orderBy(F.col("cnt").desc(), "user_id")
    return (
        st.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("day", "user_id", "cnt", "rnk")
    )


@query(
    "stream_cdc_delete_apply",
    oracle="""
    WITH changes AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 5 = 0 THEN 'D' ELSE 'U' END AS op,
             CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice
                  ELSE FLOOR(o_totalprice * 1.1 * 100 + 0.5) / 100 END
               AS o_totalprice,
             2 AS version
      FROM orders WHERE o_orderkey % 3 = 0
    ), base AS (
      SELECT o_orderkey, 'U' AS op, o_totalprice, 1 AS version FROM orders
    ), unioned AS (
      SELECT * FROM base UNION ALL SELECT * FROM changes
    ), ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY o_orderkey ORDER BY version DESC
             ) AS rn
      FROM unioned
    )
    SELECT o_orderkey, o_totalprice, version
    FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
)
def stream_cdc_delete_apply(spark, t):
    """CDC apply WITH DELETES — the full I/U/D change-feed contract
    ``stream_cdc_apply`` left at upserts: every third order gets a
    change, every fifteenth a tombstone (op='D'), and the final table
    must contain neither the deleted keys nor any resurrected
    version of them.

    Deletes ride the SAME latest-wins state machine as updates — a
    tombstone is just the winning version whose rows are excluded AT
    READ (rn=1 ∧ op≠'D') — which preserves the two properties that
    make the key hash-checkable: batch-order independence (max-
    version wins regardless of arrival order) and replay idempotence
    (re-applying any batch reproduces the same snapshot).  Dropping
    the tombstone ROW at write time instead would break both: a
    late-arriving version-1 row for a deleted key would resurrect
    it.  Tombstones compact away only once no older version can
    still arrive — the retention contract every CDC consumer
    (Debezium → Delta/Iceberg MERGE WHEN MATCHED DELETE) documents,
    here made explicit in a COW snapshot chain.
    """
    deleted = F.col("o_orderkey") % 5 == 0
    changes = (
        t["orders"]
        .where(F.col("o_orderkey") % 3 == 0)
        .select(
            "o_orderkey",
            F.when(deleted, "D").otherwise("U").alias("op"),
            F.when(deleted, F.col("o_totalprice"))
            .otherwise(F.floor(F.col("o_totalprice") * 1.1 * 100 + 0.5) / 100)
            .alias("o_totalprice"),
            F.lit(2).alias("version"),
        )
    )
    base = t["orders"].select(
        "o_orderkey",
        F.lit("U").alias("op"),
        "o_totalprice",
        F.lit(1).alias("version"),
    )
    return (
        _fold_feed(spark, "tweetdb_cdcdel", changes, _latest_version_wins, base)
        .where(F.col("op") != "D")
        .select("o_orderkey", "o_totalprice", "version")
    )
