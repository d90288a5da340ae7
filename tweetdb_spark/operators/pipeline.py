"""The reference pipeline end-to-end (batch + streaming).

The reference (starkshift/tweetdb) is a tweet ingestion pipeline:
consume a stream of nested JSON tweet objects, dedup by primary key,
normalize nested entities into child tables, persist relationally.
This module reproduces that *whole pipeline* as single operators:

  raw JSON (nested: scalar fields, a user struct, an array-of-structs
  entities payload)
    → explicit-schema ``from_json`` parse (never inference)
    → ``dropDuplicates`` on the tweet id  (PK dedup)
    → ``explode`` of the entities array   (child-table normalization)
    → aggregate / persist

Because the environment has no Twitter feed, the tweet documents are
*synthesized deterministically inside the query* from the documents
fixture (to_json of a nested struct), then parsed back — so the
parse→dedup→normalize path is exercised against a JSON wire format
exactly shaped like the tweet payload, and the DuckDB oracle computes
the same logical result directly from the fixture (proving the JSON
round-trip is lossless).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from tweetdb_spark.registry import query

# The tweet wire schema: nested user struct + array-of-structs entities
# (the public v1.1 tweet-object shape, reduced to fixture columns).
TWEET_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField(
            "user",
            StructType(
                [
                    StructField("uid", LongType()),
                    StructField("lang", StringType()),
                ]
            ),
        ),
        StructField("text", StringType()),
        StructField(
            "entities",
            StructType(
                [
                    StructField(
                        "hashtags",
                        ArrayType(
                            StructType(
                                [
                                    StructField("tag", StringType()),
                                    StructField("pos", IntegerType()),
                                ]
                            )
                        ),
                    )
                ]
            ),
        ),
    ]
)

def synth_tweets(documents, include_coordinates=False):
    """documents → one raw JSON tweet string per row (deterministic).

    ``include_coordinates`` appends the optional v1.1 geo field
    ([longitude, latitude] doubles, integer-valued → exact on every
    engine) — one wire format, one constructor, so the batch-pipeline
    and filter-endpoint payloads can never silently diverge.

    (Built inside the function: Column construction requires an active
    SparkContext, so no expressions at import time.)
    """
    fields = [
        F.col("doc_id").alias("id"),
        F.struct(
            (F.col("doc_id") % 100).alias("uid"),
            F.col("lang").alias("lang"),
        ).alias("user"),
        F.col("text").alias("text"),
        F.struct(
            F.expr(
                "transform(split(text, ' '), (w, i) -> struct(w AS tag, i AS pos))"
            ).alias("hashtags")
        ).alias("entities"),
    ]
    if include_coordinates:
        fields.append(
            F.array(
                (F.col("doc_id") % 360 - 180).cast("double"),
                (F.col("doc_id") % 180 - 90).cast("double"),
            ).alias("coordinates")
        )
    return documents.select(F.to_json(F.struct(*fields)).alias("raw"))


@query(
    "tweet_pipeline_normalize",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tag
      FROM documents
    )
    SELECT lang, tag,
           count(*) AS n_uses,
           count(DISTINCT doc_id % 100) AS n_users,
           MIN(doc_id) AS first_tweet_id
    FROM tok
    GROUP BY lang, tag
    """,
)
def tweet_pipeline_normalize(spark, t):
    """The full reference pipeline, batch form.

    synthesize JSON → parse with explicit nested schema → PK dedup on
    a deliberately doubled feed → explode entities.hashtags → hashtag
    rollup (the entity child-table + its top-tags query in one plan).
    The oracle computes the same result straight from the fixture, so
    the hash check proves the JSON round-trip, the dedup, and the
    normalization are all lossless.
    """
    raw = synth_tweets(t["documents"])
    doubled = raw.unionAll(raw)  # at-least-once delivery simulation
    parsed = doubled.select(
        F.from_json("raw", TWEET_SCHEMA).alias("tw")
    ).select("tw.*")
    deduped = parsed.dropDuplicates(["id"])  # PK dedup on tweet id
    tags = deduped.select(
        F.col("id"),
        F.col("user.uid").alias("uid"),
        F.col("user.lang").alias("lang"),
        F.explode("entities.hashtags").alias("h"),
    )
    return tags.groupBy("lang", F.col("h.tag").alias("tag")).agg(
        F.count("*").alias("n_uses"),
        F.countDistinct("uid").alias("n_users"),
        F.min("id").alias("first_tweet_id"),
    )


@query("tweet_pipeline_stream", oracle=None)
def tweet_pipeline_stream(spark, t):
    """The full reference pipeline, streaming form (BASELINE.json's
    'Structured Streaming + JDBC sink' architecture).

    The staged events feed plays the raw stream; each micro-batch is
    parsed, watermark-deduped on event_id (the tweet-id dedup), and
    normalized; the per-type rollup lands in the sink in complete mode.
    Equal to the batch groupBy on the same feed (asserted in tests).
    """
    from tweetdb_spark.streaming.sources import read_events_stream, run_to_memory

    s = read_events_stream(spark, t.sf_dir, files_per_trigger=5)
    deduped = (
        s.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    rollup = deduped.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.approx_count_distinct("user_id").alias("n_users_approx"),
    )
    return run_to_memory(rollup, "complete")


# Wire schema for the filter endpoint: TWEET_SCHEMA + the optional geo
# coordinates array (public v1.1 shape: [longitude, latitude] doubles).
from pyspark.sql.types import DoubleType  # noqa: E402

FILTER_TWEET_SCHEMA = StructType(
    TWEET_SCHEMA.fields + [StructField("coordinates", ArrayType(DoubleType()))]
)


@query(
    "tweet_filter_track",
    oracle="""
    WITH tw AS (
      SELECT doc_id AS id, doc_id % 100 AS uid, lang, text,
             CAST(doc_id % 360 - 180 AS DOUBLE) AS lon,
             CAST(doc_id % 180 - 90 AS DOUBLE) AS lat
      FROM documents
    ), flagged AS (
      SELECT id, uid, lang,
             len(list_intersect(string_split(text, ' '),
                 ['spark', 'merge'])) > 0 AS matched_track,
             uid IN (7, 23, 42) AS matched_follow,
             (lon BETWEEN -10 AND 40 AND lat BETWEEN 35 AND 70)
               AS matched_bbox
      FROM tw
    )
    SELECT * FROM flagged
    WHERE matched_track OR matched_follow OR matched_bbox
    """,
)
def tweet_filter_track(spark, t):
    """The reference's stream-filter predicate surface: a tweet passes
    if it matches ANY of a keyword track list (token match, the
    public filter-endpoint semantics), a follow list (author uids), or
    a location bounding box over the optional geo coordinates — here
    over the same synthesized JSON wire format as the pipeline ops,
    extended with the v1.1 ``coordinates`` [lon, lat] array, so the
    geo field's JSON round-trip is part of what the hash check proves
    (coordinates are integer-valued doubles → exact on both engines).

    Spark-first shape: the three predicates are one codegen'd filter —
    ``arrays_overlap`` against a literal token array, an ``isin``, and
    two range conjuncts on ``element_at`` — evaluated in a single
    narrow map over the parse; no shuffle at all until whatever
    downstream agg consumes the survivors.  On a real stream this
    exact expression sits behind ``readStream`` unchanged (the batch
    and stream filter stages are the same DataFrame code; see
    tweet_pipeline_stream for the feed mechanics).
    """
    parsed = (
        synth_tweets(t["documents"], include_coordinates=True)
        .select(F.from_json("raw", FILTER_TWEET_SCHEMA).alias("tw"))
        .select("tw.*")
    )
    return _apply_track_filter(parsed)


def _apply_track_filter(parsed):
    """The filter-endpoint predicate stage, shared verbatim by the
    batch key and its streaming twin (same DataFrame code behind
    ``read`` and ``readStream`` — the claim, made literal)."""
    lon = F.element_at("coordinates", 1)
    lat = F.element_at("coordinates", 2)
    flagged = parsed.select(
        "id",
        F.col("user.uid").alias("uid"),
        F.col("user.lang").alias("lang"),
        F.arrays_overlap(
            F.split("text", " "), F.array(F.lit("spark"), F.lit("merge"))
        ).alias("matched_track"),
        F.col("user.uid").isin(7, 23, 42).alias("matched_follow"),
        (lon.between(-10, 40) & lat.between(35, 70)).alias("matched_bbox"),
    )
    return flagged.where(
        F.col("matched_track")
        | F.col("matched_follow")
        | F.col("matched_bbox")
    )


@query(
    "tweet_filter_stream",
    oracle="""
    WITH tw AS (
      SELECT doc_id AS id, doc_id % 100 AS uid, lang, text,
             CAST(doc_id % 360 - 180 AS DOUBLE) AS lon,
             CAST(doc_id % 180 - 90 AS DOUBLE) AS lat
      FROM documents
    ), flagged AS (
      SELECT id, uid, lang,
             len(list_intersect(string_split(text, ' '),
                 ['spark', 'merge'])) > 0 AS matched_track,
             uid IN (7, 23, 42) AS matched_follow,
             (lon BETWEEN -10 AND 40 AND lat BETWEEN 35 AND 70)
               AS matched_bbox
      FROM tw
    )
    SELECT * FROM flagged
    WHERE matched_track OR matched_follow OR matched_bbox
    """,
)
def tweet_filter_stream(spark, t):
    """tweet_filter_track behind ``readStream`` — the raw JSON lines
    arrive as a text-file stream and pass through the IDENTICAL
    predicate stage (``_apply_track_filter``, shared function, not
    copied code), appending survivors to a parquet sink.

    The filter is a stateless narrow map, so the final sink content
    is independent of trigger schedule and batch boundaries — which
    makes this streaming key oracle-HASH-checked with the exact same
    SQL as the batch form: streamed survivors must equal the batch
    filter row-for-row.  At 100 TB this is the reference's always-on
    filter endpoint: per-batch cost is parse + one codegen'd
    predicate, no state, no shuffle; backpressure is just file-source
    trigger sizing.
    """
    from tweetdb_spark import scratch
    from tweetdb_spark.streaming.sources import run_to_parquet

    feed_dir = scratch.fresh_dir("tweetdb_filterfeed")
    raw = synth_tweets(t["documents"], include_coordinates=True)
    raw.repartition(4).write.mode("overwrite").text(feed_dir)

    feed = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(feed_dir)
    )
    parsed = feed.select(
        F.from_json("value", FILTER_TWEET_SCHEMA).alias("tw")
    ).select("tw.*")
    return run_to_parquet(_apply_track_filter(parsed))
