"""Scan / source / sink operators (SURVEY.md §2.1, S1–S3, S6).

S4/S5 (streaming source, foreachBatch JDBC-style sink) live in
``tweetdb_spark/streaming``.

100 TB posture: these operators are where read efficiency is decided —
column pruning and predicate pushdown must reach the parquet reader
(verified in tests/test_plans.py via ``explain``: ``ReadSchema`` shows
only the projected columns, ``PushedFilters`` the predicates).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from tweetdb_spark import scratch
from tweetdb_spark.registry import query
from tweetdb_spark.schemas import PROPS_JSON


@query(
    "scan_parquet",
    oracle="""
    SELECT l_orderkey, l_partkey, l_linenumber, l_quantity
    FROM lineitem
    """,
)
def scan_parquet(spark, t):
    """S1: projection-only scan.

    Catalyst's ColumnPruning pushes the 4-column projection into the
    parquet reader — at 100 TB this is the difference between reading
    4 columns' row-groups and all 11.
    """
    return t["lineitem"].select("l_orderkey", "l_partkey", "l_linenumber", "l_quantity")


@query(
    "scan_pruned",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice, l_shipdate
    FROM lineitem
    WHERE l_quantity < 5 AND l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
    """,
)
def scan_pruned(spark, t):
    """S2: scan with pushed filter + column pruning.

    Both predicates are parquet-pushable (min/max row-group skipping);
    note l_quantity is *not* in the output — pruning and pushdown are
    independent.
    """
    return (
        t["lineitem"]
        .where((F.col("l_quantity") < 5) & (F.col("l_shipdate") >= F.lit("2000-01-01")))
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate")
    )


@query(
    "ingest_json",
    oracle="""
    SELECT event_id,
           -- json_valid guard: DuckDB's json_extract ERRORS on a
           -- malformed/empty payload where Spark's from_json yields
           -- NULL (r11 empty-value survey)
           CASE WHEN json_valid(props)
                THEN CAST(json_extract_string(props, '$.k') AS INTEGER)
           END AS k,
           event_type
    FROM events
    """,
)
def ingest_json(spark, t):
    """S3: parse the nested-JSON payload column into typed fields.

    The tweet-object ingestion analog: the reference pipeline parsed
    each streamed JSON document into typed relational columns; here
    ``from_json`` with an explicit StructType does it vectorized
    JVM-side (never schema inference in the hot path).
    """
    return t["events"].select(
        "event_id",
        F.from_json(F.col("props"), PROPS_JSON).getField("k").alias("k"),
        "event_type",
    )


@query(
    "ingest_json_corrupt",
    oracle="""
    WITH feed AS (
      SELECT event_id, event_type,
             CASE WHEN event_id % 10 = 0 THEN substr(props, 1, 3)
                  ELSE props END AS raw
      FROM events
    )
    SELECT event_type,
           CAST(SUM(CASE WHEN json_valid(raw) THEN 1 ELSE 0 END) AS BIGINT)
             AS n_valid,
           CAST(SUM(CASE WHEN json_valid(raw) THEN 0 ELSE 1 END) AS BIGINT)
             AS n_corrupt,
           CAST(SUM(CASE WHEN json_valid(raw)
                    THEN CAST(json_extract_string(raw, '$.k') AS INTEGER)
                    ELSE 0 END) AS BIGINT) AS sum_k
    FROM feed GROUP BY event_type
    """,
)
def ingest_json_corrupt(spark, t):
    """Corrupt-record handling on the JSON ingest path.

    Every 10th payload is deliberately truncated; PERMISSIVE
    ``from_json`` with ``columnNameOfCorruptRecord`` quarantines bad
    rows into a side column instead of failing the pipeline — the
    data-quality triage every real feed needs (the FAILFAST mode is
    the same parse with mode=FAILFAST).  Valid/corrupt tallies and the
    valid-only aggregate are hash-checked against DuckDB's
    ``json_valid``.
    """
    from pyspark.sql.types import StringType, StructField, StructType

    # one source of truth for the payload shape: PROPS_JSON + the
    # quarantine column
    schema = StructType(
        list(PROPS_JSON.fields) + [StructField("_corrupt", StringType(), True)]
    )
    raw = t["events"].select(
        "event_id",
        "event_type",
        F.when(
            F.col("event_id") % 10 == 0, F.substring("props", 1, 3)
        ).otherwise(F.col("props")).alias("raw"),
    )
    parsed = raw.select(
        "event_type",
        "raw",
        F.from_json(
            "raw",
            schema,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
        ).alias("p"),
    )
    # a MISSING payload counts as corrupt, not valid: from_json(NULL)
    # returns a NULL struct with a NULL quarantine column, which a bare
    # _corrupt-IS-NULL test would tally as valid — while the oracle's
    # json_valid(NULL) routes it to the corrupt side (r11 NULL survey).
    # DQ-wise that's also the right call: absent payloads belong in the
    # quarantine tally.
    is_valid = (
        F.col("raw").isNotNull()
        & (F.col("raw") != "")  # '' parses to a NULL struct, not _corrupt
        & F.col("p._corrupt").isNull()
    )
    return parsed.groupBy("event_type").agg(
        F.sum(F.when(is_valid, 1).otherwise(0)).alias("n_valid"),
        F.sum(F.when(is_valid, 0).otherwise(1)).alias("n_corrupt"),
        F.sum(F.when(is_valid, F.col("p.k")).otherwise(0)).alias("sum_k"),
    )


@query(
    "source_custom_python",
    oracle="""
    WITH feed AS (
      SELECT i AS id,
             i % 100 AS user_id,
             (['en','de','es','fr','zh'])[CAST(i % 5 AS INT) + 1] AS lang,
             (i * 2654435761) % 1000 / 10.0 AS score
      FROM range(0, 2000) t(i)
    )
    SELECT lang,
           count(*) AS n_tweets,
           count(DISTINCT user_id) AS n_users,
           ROUND(SUM(score), 2) AS sum_score
    FROM feed GROUP BY lang
    """,
)
def source_custom_python(spark, t):
    """Custom connector via the Spark 4 Python DataSource API.

    ``spark.read.format("tweetgen")`` — the engine's stand-in for the
    reference's bespoke network source (sources/tweetgen.py).  Reads
    are partition-parallel (8 input partitions here); the generator is
    deterministic, so the DuckDB oracle reproduces the identical feed
    from range() arithmetic and the hash check covers the whole
    connector path: partition planning → per-partition iterator →
    schema projection → aggregation.
    """
    from tweetdb_spark.sources.tweetgen import register

    register(spark)
    feed = (
        spark.read.format("tweetgen")
        .option("rows", 2000)
        .option("partitions", 8)
        .load()
    )
    return feed.groupBy("lang").agg(
        F.count("*").alias("n_tweets"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum("score"), 2).alias("sum_score"),
    )


@query(
    "sink_parquet_part",
    oracle="""
    -- NULLIF models the Hive partition-value convention the Spark
    -- side inherits: a partition column written as '' (or NULL) lands
    -- in __HIVE_DEFAULT_PARTITION__ and reads back as NULL (r11
    -- empty-value survey)
    SELECT NULLIF(event_type, '') AS event_type,
           count(*) AS cnt, ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY 1
    """,
)
def sink_parquet_part(spark, t):
    """S6: partitioned parquet write + read-back verification.

    Writes events partitioned by event_type (the layout a 100 TB store
    wants: partition pruning on the dominant filter column), reads the
    written copy back, and aggregates it — the oracle aggregates the
    *original*, so the hash check proves the round-trip is lossless.
    """
    # pid-tagged scratch dir: a shared fixed dir races when two
    # processes (pytest + check.py) overwrite/read it concurrently
    out = scratch.fresh_dir("tweetdb_sink_part")
    (
        t["events"]
        .write.mode("overwrite")
        .partitionBy("event_type")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return back.groupBy("event_type").agg(
        F.count("*").alias("cnt"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@query(
    "sink_jsonl_sharded",
    oracle="""
    SELECT doc_id, text, lang, source, n_chars FROM documents
    """,
)
def sink_jsonl_sharded(spark, t):
    """Training-data delivery export: the corpus as size-controlled
    JSONL shards, read back and value-hash-verified lossless.

    JSONL is what trainer ingestion actually consumes; the two levers
    that matter at 100 TB are both exercised: ``repartition(n, key)``
    fixes the shard COUNT and spreads docs hash-uniformly (no giant
    shard from a skewed source), and ``maxRecordsPerFile`` caps rows
    per file so no single shard exceeds what a dataloader worker
    streams — Spark rolls to ``part-*-c001`` files past the cap
    without another shuffle.  The read-back uses the writer's explicit
    schema (never inference — at scale, schema inference is an extra
    full pass and can widen types on dirty shards).  The oracle reads
    the ORIGINAL table, so the driver's hash check proves the full
    JSON round-trip exact: unicode escaping, embedded newlines (JSON
    ``\\n`` keeps one doc per line), and int widths all survive.
    """
    out = scratch.fresh_dir("tweetdb_jsonl")
    docs = t["documents"]
    (
        docs.repartition(4, F.col("doc_id"))
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 200)
        .json(out)
    )
    back = spark.read.schema(docs.schema).json(out)
    return back.select("doc_id", "text", "lang", "source", "n_chars")


@query(
    "ingest_binary_files",
    oracle="""
    WITH first_doc AS (
      SELECT source, text FROM (
        SELECT source, text,
               row_number() OVER (PARTITION BY source ORDER BY doc_id)
                 AS rn
        FROM documents
        WHERE text IS NOT NULL AND text <> ''
          AND source IS NOT NULL AND source <> ''
      ) WHERE rn = 1
    )
    SELECT source || '.bin' AS fname,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS digest
    FROM first_doc
    """,
)
def ingest_binary_files(spark, t):
    """Opaque-blob ingestion via the built-in ``binaryFile`` source —
    the entry path for multimodal stores (images/audio staged as raw
    files; llm/multimodal.py takes over after this read).

    Stages one deterministic blob per document source (the UTF-8
    bytes of that source's first doc — tiny by construction: 20
    driver-written files at any SF; production reads an EXISTING blob
    store, no staging), then reads them back with
    ``spark.read.format("binaryFile")`` and emits per-file name, byte
    length, and sha256 digest.  The oracle recomputes all three from
    the documents table (DuckDB ``sha256``/``octet_length`` over the
    same UTF-8 text), so the hash check proves the blob round-trip
    byte-exact.  Scale posture: binaryFile parallelizes per file and
    honors ``pathGlobFilter``/``recursiveFileLookup`` for store
    layouts; the ``content`` column here is consumed map-side
    (digest) and never shuffled — the same never-shuffle-payloads
    rule multimodal_dedup follows.
    """
    import os as _os

    from pyspark.sql.window import Window

    out = scratch.fresh_dir("tweetdb_blobs")
    _os.makedirs(out)  # fresh_dir returns an uncreated path
    w = Window.partitionBy("source").orderBy("doc_id")
    firsts = (
        t["documents"]
        # a file needs a NAME and BYTES: a NULL/'' source can't name a
        # file (''.bin is a dot-file Spark's lister hides) and a
        # NULL/'' text can't fill one (0-byte blobs read back
        # inconsistently) — elect blobs only from rows with both,
        # mirrored in the oracle's WHERE (r11 NULL + empty surveys)
        .where(
            F.col("text").isNotNull()
            & (F.col("text") != "")
            & F.col("source").isNotNull()
            & (F.col("source") != "")
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("source", "text")
        .collect()  # one row per source: 20 at every SF
    )
    for r in firsts:
        with open(_os.path.join(out, f"{r.source}.bin"), "wb") as fh:
            fh.write(r.text.encode("utf-8"))
    back = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(out)
    )
    return back.select(
        F.regexp_extract("path", r"([^/]+)$", 1).alias("fname"),
        F.col("length").alias("n_bytes"),
        F.sha2("content", 256).alias("digest"),
    )


@query(
    "scan_merge_schema",
    oracle="""
    SELECT CAST(o_orderkey % 2 AS INTEGER) AS vintage,
           count(*) AS cnt,
           ROUND(SUM(o_totalprice), 2) AS sum_price,
           CAST(SUM(CASE WHEN o_orderkey % 2 = 0
                         OR o_orderpriority IS NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_null_priority
    FROM orders
    GROUP BY 1
    """,
)
def scan_merge_schema(spark, t):
    """Schema-evolution read: two parquet drops with DIFFERENT schemas
    (an old 2-column vintage and a new 3-column one) read back as one
    table via ``mergeSchema``.

    The 100 TB reality this models: a store written over years carries
    every historical schema, and the reader — not a rewrite of
    petabytes — reconciles them (missing columns become NULLs).  The
    oracle computes the same aggregate from the ORIGINAL orders table,
    so the hash check proves the evolved read lossless.  The grouping
    is the explicit vintage (key parity), NOT priority-nullability: a
    source row whose priority VALUE is legitimately NULL would be
    indistinguishable from the old vintage's backfilled NULLs (r11
    NULL-survey catch); instead ``n_null_priority`` carries the
    backfill proof — for the old vintage it must equal ``cnt`` (the
    column didn't exist), for the new it counts genuine NULL values,
    and both sides compute it identically.
    """
    # pid-tagged scratch naming (not a bare uuid): purely intermediate
    # data, so prior runs must be reapable — a uuid dir with no pid tag
    # is invisible to fresh_dir's reaping and accumulates forever
    out = scratch.fresh_dir("tweetdb_evolve")
    old = t["orders"].where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    new = t["orders"].where(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    old.write.mode("overwrite").parquet(os.path.join(out, "v1"))
    new.write.mode("overwrite").parquet(os.path.join(out, "v2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(out, "v1"), os.path.join(out, "v2")
    )
    return merged.groupBy(
        (F.col("o_orderkey") % 2).cast("int").alias("vintage")
    ).agg(
        F.count("*").alias("cnt"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.sum(F.col("o_orderpriority").isNull().cast("int")).alias(
            "n_null_priority"
        ),
    )


@query(
    "compact_files",
    oracle="""
    SELECT o_orderstatus, count(*) AS cnt,
           ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def compact_files(spark, t):
    """Small-files compaction: rewrite a fragmented dataset into few
    right-sized files, read back, verify losslessness.

    The table-maintenance primitive every long-lived 100 TB store
    needs (streaming ingest + partitioned writes breed small files;
    scan cost is per-file).  Here orders is deliberately fragmented
    into 64 files, compacted with a plain repartition(4) rewrite
    (on a cluster: repartitionByRange on the sort key to keep files
    clusterable, or the table format's OPTIMIZE), and the oracle
    aggregates the ORIGINAL — the hash proves the rewrite lost
    nothing.  tests/test_scans assert the file-count drop.
    """
    # per-process namespacing: only THIS process's prior dirs are
    # reaped, so a concurrent check.py/pytest pair can't delete each
    # other's in-flight output (lexicographic-latest still holds
    # within the process for the file-count test)
    frag = scratch.fresh_dir("tweetdb_frag")
    compact = scratch.fresh_dir("tweetdb_compact")
    t["orders"].repartition(64).write.mode("overwrite").parquet(frag)
    spark.read.parquet(frag).repartition(4).write.mode("overwrite").parquet(
        compact
    )
    back = spark.read.parquet(compact)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("cnt"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


@query(
    "ingest_csv",
    oracle="""
    -- NULLIF models Spark's CSV text convention: '' and NULL are the
    -- same wire token (empty field), so both read back as NULL — a
    -- lossy-for-'' but lossless-for-values round-trip every CSV
    -- pipeline inherits (r11 empty-value survey)
    SELECT c_custkey, NULLIF(c_name, '') AS c_name, c_nationkey,
           c_acctbal, NULLIF(c_mktsegment, '') AS c_mktsegment
    FROM customer
    """,
)
def ingest_csv(spark, t):
    """CSV ingest roundtrip: export customer as headered CSV, read it
    back with an EXPLICIT schema, return the full rows.

    The oracle reads the ORIGINAL parquet — the hash proves the
    text roundtrip lossless, including doubles (Spark writes the
    shortest decimal that uniquely identifies the double, which
    parses back bit-identical).  Explicit schema, never inference:
    on a 100 TB drop zone, schema inference is an extra full read
    and a correctness hazard (a column of int-looking strings).
    """
    from tweetdb_spark.schemas import CUSTOMER

    path = scratch.fresh_dir("tweetdb_csv")
    t["customer"].write.mode("overwrite").option("header", True).csv(path)
    return spark.read.schema(CUSTOMER).option("header", True).csv(path)


@query(
    "sink_orc_roundtrip",
    oracle="""
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cnt,
           ROUND(SUM(o_totalprice), 2) AS sum_price,
           CAST(MIN(o_orderdate) AS TIMESTAMP) AS first_order
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def sink_orc_roundtrip(spark, t):
    """ORC sink + scan: write orders as ORC, read back, aggregate.

    Parquet is the default; ORC is the other columnar format Spark
    ships natively (vectorized reader, predicate pushdown, zlib/zstd)
    and the one a Hive-era lake hands you.  The oracle aggregates the
    ORIGINAL parquet (DuckDB reads no ORC), so the hash proves the
    format conversion lost nothing — types, timestamps, doubles.
    """
    path = scratch.fresh_dir("tweetdb_orc")
    t["orders"].write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("cnt"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.min("o_orderdate").alias("first_order"),
    )


def _snapshot_root(spark, t) -> str:
    """Build a 2-version manifest-tracked snapshot store for orders
    (once per call site; fixture-scale, see snapshot_time_travel).

    Layout:  <root>/data/...parquet   (immutable data files)
             <root>/_manifests/v{N}.json  ({"files": [...]})
    v0 = orders split into one file-group per orderstatus.
    v1 = copy-on-write: only the 'F' group is rewritten (repriced
    +10%); v1's manifest re-lists v0's untouched 'O'/'P' files.
    """
    import glob
    import json

    root = scratch.fresh_dir("tweetdb_snap")
    data = os.path.join(root, "data")
    man = os.path.join(root, "_manifests")
    os.makedirs(man, exist_ok=True)
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
    base = t["orders"].select(*cols)

    def write_group(df, name) -> list[str]:
        out = os.path.join(data, name)
        df.coalesce(1).write.mode("overwrite").parquet(out)
        return sorted(glob.glob(os.path.join(out, "*.parquet")))

    groups = {
        s: write_group(base.where(F.col("o_orderstatus") == s), f"v0_{s}")
        for s in ("O", "F", "P")
    }
    # RESIDUAL group: rows whose status is NULL, '', or any value
    # outside the known set need a file group too — `== s` matches
    # none of them, and without it the snapshot store silently LOSES
    # those orders (r11 NULL + empty-value surveys).  The same reason
    # Hive/Iceberg keep a __HIVE_DEFAULT_PARTITION__.
    groups["OTHER"] = write_group(
        base.where(
            F.col("o_orderstatus").isNull()
            | ~F.col("o_orderstatus").isin("O", "F", "P")
        ),
        "v0_OTHER",
    )
    v1_f = write_group(
        base.where(F.col("o_orderstatus") == "F").withColumn(
            "o_totalprice",
            F.floor(F.col("o_totalprice") * 1.1 * 100 + 0.5) / 100,
        ),
        "v1_F",
    )
    with open(os.path.join(man, "v0.json"), "w") as fh:
        json.dump({"version": 0, "files": sum(groups.values(), [])}, fh)
    with open(os.path.join(man, "v1.json"), "w") as fh:
        json.dump(
            {
                "version": 1,
                # COW touches only the 'F' group; the rest carry over
                "files": groups["O"] + groups["P"] + groups["OTHER"] + v1_f,
            },
            fh,
        )
    return root


def read_snapshot(spark, root: str, version: int):
    """Plan a read from the manifest's file list alone — no directory
    listing, no partition discovery: the metadata IS the table."""
    import json

    with open(os.path.join(root, "_manifests", f"v{version}.json")) as fh:
        files = json.load(fh)["files"]
    return spark.read.parquet(*files)


@query(
    "snapshot_time_travel",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders
    """,
)
def snapshot_time_travel(spark, t):
    """Time travel on plain parquet via manifest commit logs (the
    Iceberg/Delta core idea, format-free).

    Snapshots are immutable file sets named by per-version manifests;
    a new version copy-on-writes only the file groups it touches and
    re-lists the rest, so historical reads stay exact forever at the
    cost of rewriting only changed data.  The reader plans from the
    manifest's explicit file list — at 100 TB that means no O(files)
    directory listing on the object store, snapshot isolation against
    concurrent writers (their files aren't in your manifest), and
    file-level pruning still applies on top.  This key reads v0 AFTER
    v1 was committed — the hash vs the original table proves the old
    version is byte-stable under later writes.  tests/test_scans
    assert v1 semantics and cross-version file sharing.
    """
    root = _snapshot_root(spark, t)
    return read_snapshot(spark, root, 0)


def expire_snapshots(root: str, keep_last: int = 1) -> dict:
    """Retention: drop all but the newest ``keep_last`` manifests and
    physically delete data files no surviving manifest references.
    Returns {kept_manifests, removed_manifests, removed_files,
    retained_files} for the audit log."""
    import glob
    import json

    man = sorted(
        glob.glob(os.path.join(root, "_manifests", "v*.json")),
        key=lambda p: int(os.path.basename(p)[1:-5]),
    )
    keep, drop = man[-keep_last:], man[:-keep_last]
    live: set[str] = set()
    for m in keep:
        with open(m) as fh:
            live.update(json.load(fh)["files"])
    removed = 0
    for f in glob.glob(os.path.join(root, "data", "*", "*.parquet")):
        if f not in live:
            os.remove(f)
            removed += 1
    for m in drop:
        os.remove(m)
    return {
        "kept_manifests": len(keep),
        "removed_manifests": len(drop),
        "removed_files": removed,
        "retained_files": len(live),
    }


@query(
    "snapshot_expire",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN o_orderstatus = 'F'
                THEN FLOOR(o_totalprice * 1.1 * 100 + 0.5) / 100
                ELSE o_totalprice END AS o_totalprice
    FROM orders
    """,
)
def snapshot_expire(spark, t):
    """Snapshot retention (VACUUM / expire_snapshots, format-free):
    drop old manifests, physically delete data files no surviving
    manifest references, and prove the surviving version still reads
    byte-exactly.

    Completes the maintenance triad (compact_files, layout_zorder,
    expire): time travel is only free until storage fills — retention
    deletes v0's manifest plus the ONLY files exclusive to it (the
    pre-reprice 'F' group), while the 'O'/'P' files v1 re-listed from
    v0 survive because liveness is computed from surviving manifests,
    not file age (the mistake that makes naive TTL-based vacuums eat
    shared files).  The returned frame is the post-expiry v1 read,
    hash-checked against the repriced-orders SQL — deletion safety is
    proven by value parity, not just by file counts; the counts and
    the v0-read failure are pinned in tests/test_scans.py.  At 100 TB
    this is a metadata-only job plus O(dead files) deletes: the live
    set streams from K manifests, never from listing the data tree.
    """
    root = _snapshot_root(spark, t)
    report = expire_snapshots(root, keep_last=1)
    assert report["removed_manifests"] == 1, report  # v0 gone
    return read_snapshot(spark, root, 1)


@query(
    "ingest_xml",
    oracle="""
    SELECT o_orderkey AS order_id,
           o_orderstatus AS status,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS total_cents,
           CAST(o_orderdate AS DATE) AS order_date
    FROM orders WHERE o_orderkey % 10 = 0
    """,
)
def ingest_xml(spark, t):
    """XML ingestion via Spark 4's native ``from_xml`` (the built-in
    successor to spark-xml): attribute + element extraction with a
    declared schema, no regex parsing.

    The fixture set has no XML files, so the wire format is
    SYNTHESIZED per order row (documented, same policy as ingest_json
    / the tweet wire format) — ``<order id=".." status=".."><total_
    cents>..</total_cents><date>..</date></order>`` — then parsed
    back with ``from_xml`` using attribute-prefix fields (``_id``)
    and typed elements.  The ORACLE computes the extracted columns
    straight from the table, so schema-directed XML parsing is value-
    hash-checked: attributes, long/date coercion, element text.  At
    100 TB XML parsing is per-row CPU in JVM codegen (no Python), and
    malformed rows follow the PERMISSIVE/corrupt-record pattern
    ``ingest_json_corrupt`` demonstrates.  Money rides as integer
    cents — double→string→double round-trips are not format-stable
    across engines.
    """
    # Per-field optional serialization: a NULL field must become a
    # MISSING attribute/element (which from_xml reads back as NULL),
    # not NULL-poison the whole document through concat — one NULL
    # price used to blank every column of the row (r11 NULL survey).
    def opt_attr(name, col):
        return F.when(
            col.isNotNull(), F.concat(F.lit(f' {name}="'), col, F.lit('"'))
        ).otherwise(F.lit(""))

    def opt_elem(name, col):
        return F.when(
            col.isNotNull(),
            F.concat(F.lit(f"<{name}>"), col, F.lit(f"</{name}>")),
        ).otherwise(F.lit(""))

    xml = F.concat(
        F.lit('<order id="'),
        F.col("o_orderkey").cast("string"),
        F.lit('"'),
        opt_attr("status", F.col("o_orderstatus")),
        F.lit(">"),
        opt_elem(
            "total_cents",
            F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
        ),
        opt_elem("date", F.col("o_orderdate").cast("date").cast("string")),
        F.lit("</order>"),
    )
    wire = (
        t["orders"]
        .where(F.col("o_orderkey") % 10 == 0)
        .select(xml.alias("xml"))
    )
    parsed = wire.select(
        F.from_xml(
            "xml",
            "_id BIGINT, _status STRING, total_cents BIGINT, date DATE",
        ).alias("o")
    )
    return parsed.select(
        F.col("o._id").alias("order_id"),
        F.col("o._status").alias("status"),
        F.col("o.total_cents").alias("total_cents"),
        F.col("o.date").alias("order_date"),
    )


@query(
    "ingest_jdbc",
    oracle="""
    SELECT o_orderkey,
           o_orderstatus,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents,
           o_orderpriority
    FROM orders
    WHERE o_orderkey % 20 = 0 AND o_totalprice > 50000
    """,
)
def ingest_jdbc(spark, t):
    """Partitioned JDBC SOURCE — the federation read completing S5's
    sink: a real ``spark.read.jdbc`` against an embedded Derby
    database, split into 4 RANGE PARTITIONS on the key so executors
    read in parallel, with the price predicate pushed into the
    database as SQL.

    Partitioned JDBC reads are how Spark onboards operational stores
    at scale: ``partitionColumn/lowerBound/upperBound/numPartitions``
    turn one cursor into N non-overlapping ``WHERE key BETWEEN``
    cursors (here 4; production sizes to the DB's read replicas, and
    a skewed key needs hand-built predicates — the same skew story as
    joins).  The filter travels INTO the generated queries
    (PushedFilters on the JDBC relation — plan-asserted), so the
    database ships only matching rows.  The staging table is loaded
    via ``df.write.jdbc`` from the fixture (the fixture set has no
    live DBMS; Derby ships with PySpark — same gating as S5), and the
    ORACLE reads the original parquet, so the full JDBC round-trip
    (type mapping included, money as integer cents) is value-hash-
    checked.  Skipped-registration if the driver jar is absent.
    """
    from tweetdb_spark.session import DERBY_DRIVER, jvm_has_class

    if not jvm_has_class(spark, DERBY_DRIVER):  # pragma: no cover - jar ships with pyspark
        raise RuntimeError("Derby JDBC driver not on classpath")

    db = scratch.fresh_dir("tweetdb_jdbcsrc") + "/db"
    url = f"jdbc:derby:{db};create=true"
    src = (
        t["orders"]
        .where(F.col("o_orderkey") % 20 == 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
            "o_orderpriority",
        )
    )
    src.write.mode("overwrite").jdbc(url, "orders_feed")
    bounds = src.agg(
        F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi")
    ).collect()[0]
    return (
        spark.read.jdbc(
            url,
            "orders_feed",
            column="o_orderkey",
            lowerBound=bounds.lo,
            upperBound=bounds.hi + 1,
            numPartitions=4,
        )
        .where(F.col("price_cents") > 5000000)
    )


@query(
    "sink_parquet_codec",
    oracle="""
    SELECT codec, count(*) AS n_rows, TRUE AS roundtrip_ok
    FROM (SELECT unnest(['gzip', 'snappy', 'zstd']) AS codec)
    CROSS JOIN orders
    GROUP BY codec
    """,
)
def sink_parquet_codec(spark, t):
    """Compression-codec matrix for the parquet sink: the same table
    written under snappy / zstd / gzip, each read back and proven
    byte-equal to the source (count + full-row xxhash64 fold compared
    per codec).

    Codec choice is a real 100 TB lever — zstd typically reads ~30%
    smaller than snappy at similar scan CPU, gzip smaller still but
    decode-bound — and the SAFE part that must be proven is
    losslessness across the codec boundary, which the
    ``roundtrip_ok`` column pins per codec (order-insensitive bit_xor
    fold of per-row xxhash64 equality
    engine-side; the oracle fixes TRUE).  Sizes are reported to the
    log, not the result: byte counts are layout/version-dependent and
    would make the hash fragile for no correctness gain.  The write
    path is the production shape: per-codec ``option("compression",
    ...)``, partition layout unchanged, readers codec-agnostic (the
    parquet footer self-describes — a mixed-codec table reads fine,
    which is what makes incremental codec migration possible).
    """
    src = t["orders"]
    fold = F.expr(
        "bit_xor(xxhash64(o_orderkey, o_orderstatus, o_totalprice, "
        "o_orderpriority))"
    )
    src_fold = src.agg(fold.alias("h")).collect()[0].h
    root = scratch.fresh_dir("tweetdb_codecmatrix")
    rows = []
    for codec in ["gzip", "snappy", "zstd"]:
        path = f"{root}/{codec}"
        src.write.mode("overwrite").option("compression", codec).parquet(path)
        back = spark.read.parquet(path)
        agg = back.agg(F.count("*").alias("n"), fold.alias("h")).collect()[0]
        rows.append((codec, agg.n, agg.h == src_fold))
    return spark.createDataFrame(
        rows, "codec string, n_rows long, roundtrip_ok boolean"
    )


# Most-recent Observation handle, for tests/monitors to read after an
# action runs (the driver only collects the rows; the metrics are the
# side channel).
LAST_OBSERVATION = {}


@query(
    "scan_observed",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_cents
    FROM lineitem
    WHERE l_quantity >= 45
    """,
)
def scan_observed(spark, t):
    """Observed scan — ``df.observe``: ingest metrics (row count, byte
    volume, null tally) collected DURING the query action as
    accumulator-style aggregates, with zero extra passes over the
    data.

    The monitoring primitive every ingest pipeline needs: asserting
    row counts or null rates normally costs a second scan (or a
    cache); ``observe`` rides the same job — each task folds its
    partition's contribution while producing output rows, the driver
    reads the merged result after the action.  The observed metrics
    land in ``LAST_OBSERVATION`` for the monitor (pytest asserts they
    equal independently-computed aggregates); the RESULT rows are an
    ordinary pushed-down filter+projection, hash-checked as usual —
    proving the observation is side-effect-free on the plan.  At
    100 TB this is how dq_expectations-style rules run free on every
    ingest instead of as scheduled audit jobs.
    """
    from pyspark.sql import Observation

    obs = Observation()
    observed = t["lineitem"].observe(
        obs,
        F.count(F.lit(1)).alias("rows_scanned"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
            "total_price_cents"
        ),
        F.sum(
            F.when(F.col("l_returnflag").isNull(), 1).otherwise(0)
        ).alias("null_flags"),
    )
    LAST_OBSERVATION["scan_observed"] = obs
    return observed.where(F.col("l_quantity") >= 45).select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_cents"),
    )


@query(
    "sink_custom_python",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
)
def sink_custom_python(spark, t):
    """Custom Python DataSource WRITE path (Spark 4 ``DataSource
    .writer``) — the outbound twin of ``source_custom_python``: each
    executor partition streams its rows through a Python
    ``DataSourceWriter`` into a task-private file, and the DRIVER
    commits atomically only when every task reported success
    (``WriterCommitMessage`` two-phase protocol; ``abort`` removes
    orphans on failure).

    That task-write / driver-commit split is the same contract every
    production sink honors (parquet's _temporary dirs, JDBC staging
    tables): no reader can observe a partial write.  Here the wire
    format is JSONL; the proof is the round trip — the committed
    files are read back with an explicit schema and hash-checked
    against the source table.  At 100 TB a Python writer is for
    systems with no JVM connector (feature stores, bespoke services);
    throughput scales with partitions since writes never funnel
    through the driver.
    """
    from tweetdb_spark.sources.tweetgen import register_sink

    register_sink(spark)
    out = scratch.fresh_dir("tweetdb_pysink")
    src = t["nation"].select("n_nationkey", "n_name", "n_regionkey")
    src.repartition(4).write.format("jsonlsink").mode("append").option(
        "path", out
    ).save()
    return spark.read.schema(
        "n_nationkey long, n_name string, n_regionkey long"
    ).json(f"{out}/part-*.jsonl")
