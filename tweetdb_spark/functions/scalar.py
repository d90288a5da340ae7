"""Scalar function surface (SURVEY.md §2.7, F1–F8).

All JVM-side builtins inside whole-stage codegen — the fast path the
reference delegated to its RDBMS's expression evaluator.

Cross-engine parity notes (each verified against DuckDB 1.0):
- day-of-week: Spark ``weekday()`` is Mon=0; DuckDB ``isodow`` is
  Mon=1 → we emit ``weekday+1`` as ``dow_iso``.
- epoch: integer ``unix_millis`` ↔ ``epoch_ms`` (never float epoch).
- ``ceil``/``floor`` return BIGINT in Spark vs DOUBLE in DuckDB → cast
  in the oracle.
- transcendentals (ln) are rounded to 4 decimals on both sides (libm
  last-bit differences); pow uses exponent 2 (exact).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tweetdb_spark.registry import query


@query(
    "fn_string",
    oracle="""
    SELECT doc_id,
           lower(lang) AS lang_lc,
           upper(source) AS source_uc,
           substring(text, 1, 10) AS text_head,
           -- `||`, not concat(): DuckDB's concat SKIPS NULL args while
           -- Spark's concat propagates NULL — `||` propagates in both
           -- (r11 NULL-survey catch; NULL lang must give NULL lang_trim)
           trim(' ' || lang || ' ') AS lang_trim,
           concat_ws('-', lang, source) AS lang_source,
           length(text) AS text_len,
           regexp_extract(text, '^(\\w+)', 1) AS first_word
    FROM documents
    """,
)
def fn_string(spark, t):
    """F1: lower/upper/substring/trim/concat_ws/length/regexp_extract."""
    return t["documents"].select(
        "doc_id",
        F.lower("lang").alias("lang_lc"),
        F.upper("source").alias("source_uc"),
        F.substring("text", 1, 10).alias("text_head"),
        F.trim(F.concat(F.lit(" "), F.col("lang"), F.lit(" "))).alias("lang_trim"),
        F.concat_ws("-", "lang", "source").alias("lang_source"),
        F.length("text").alias("text_len"),
        F.regexp_extract("text", r"^(\w+)", 1).alias("first_word"),
    )


@query(
    "fn_split_explode",
    oracle="""
    SELECT doc_id, unnest(string_split(text, ' ')) AS token
    FROM documents
    """,
)
def fn_split_explode(spark, t):
    """F2: tokenize → one row per token (the tweet-entity explode analog).

    explode() is a Generate node: per-row fan-out with no shuffle;
    downstream aggs see the exploded cardinality, so at scale the
    token stream goes straight into a partial agg before any exchange.
    """
    return t["documents"].select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )


@query(
    "fn_datetime",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate) AS yr,
           month(o_orderdate) AS mo,
           isodow(o_orderdate) AS dow_iso,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           datediff('day', TIMESTAMP '1995-01-01', o_orderdate) AS days_since,
           epoch_ms(o_orderdate) AS epoch_msec
    FROM orders
    """,
)
def fn_datetime(spark, t):
    """F3: datetime kit — extract/trunc/diff/epoch (timezone-pinned UTC)."""
    d = F.col("o_orderdate")
    return t["orders"].select(
        "o_orderkey",
        F.year(d).alias("yr"),
        F.month(d).alias("mo"),
        (F.weekday(d) + 1).alias("dow_iso"),
        F.date_trunc("month", d).alias("month_start"),
        F.datediff(d, F.lit("1995-01-01")).alias("days_since"),
        F.unix_millis(d).alias("epoch_msec"),
    )


@query(
    "fn_math",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice, 1) AS price_r1,
           ABS(l_discount - 0.05) AS disc_dev,
           CAST(CEIL(l_quantity) AS BIGINT) AS qty_ceil,
           CAST(FLOOR(l_extendedprice / 1000) AS BIGINT) AS price_kbin,
           POW(l_discount, 2) AS disc_sq,
           ROUND(LN(l_extendedprice), 4) AS price_ln,
           CAST(l_quantity AS INTEGER) % 7 AS qty_mod7,
           SQRT(l_extendedprice) AS price_sqrt
    FROM lineitem
    """,
)
def fn_math(spark, t):
    """F4: round/abs/ceil/floor/pow/ln/mod/sqrt.

    pow(x,2) and sqrt are exactly rounded per IEEE-754 (safe raw);
    ln rounded to 4 decimals (libm tie risk, SURVEY.md §5).
    """
    return t["lineitem"].select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 1).alias("price_r1"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.ceil("l_quantity").alias("qty_ceil"),
        F.floor(F.col("l_extendedprice") / 1000).alias("price_kbin"),
        F.pow("l_discount", 2).alias("disc_sq"),
        F.round(F.log("l_extendedprice"), 4).alias("price_ln"),
        (F.col("l_quantity").cast("int") % 7).alias("qty_mod7"),
        F.sqrt("l_extendedprice").alias("price_sqrt"),
    )


@query(
    "fn_conditional",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice < 50000 THEN 'low'
                WHEN o_totalprice < 200000 THEN 'mid'
                ELSE 'high' END AS price_band,
           COALESCE(NULLIF(o_orderstatus, 'P'), 'PENDING') AS status_norm,
           CASE WHEN o_orderpriority LIKE '1%' OR o_orderpriority LIKE '2%'
                THEN 1 ELSE 0 END AS is_priority
    FROM orders
    """,
)
def fn_conditional(spark, t):
    """F5: CASE WHEN bands; coalesce/nullif normalization."""
    p = F.col("o_totalprice")
    return t["orders"].select(
        "o_orderkey",
        F.when(p < 50000, "low").when(p < 200000, "mid").otherwise("high").alias(
            "price_band"
        ),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("PENDING")).alias(
            "status_norm"
        ),
        F.when(
            F.col("o_orderpriority").like("1%") | F.col("o_orderpriority").like("2%"),
            1,
        )
        .otherwise(0)
        .alias("is_priority"),
    )


@query(
    "fn_array",
    oracle="""
    SELECT vec_id,
           len(embedding) AS dim,
           embedding[1] AS first_val,
           -- same left-fold order as Spark's aggregate() below:
           -- (((0+e1)+e2)+e3)+e4 in double => bit-identical
           CAST(embedding[1] AS DOUBLE) + CAST(embedding[2] AS DOUBLE)
             + CAST(embedding[3] AS DOUBLE) + CAST(embedding[4] AS DOUBLE)
             AS head4_sum,
           list_max(embedding) AS max_val,
           list_min(embedding) AS min_val
    FROM embeddings
    """,
)
def fn_array(spark, t):
    """F6: array ops over the embedding column (size/element_at/slice/
    array_max plus a higher-order ``aggregate`` fold).

    Array columns stay columnar (Arrow) end-to-end; element access and
    the fold are codegen'd, no Python.  The slice is reduced to a
    scalar (left-fold sum) rather than returned as an array: array
    cells crash the driver's pandas canonicalizer (r01 agg_collect),
    and a fixed-order fold in double is bit-identical cross-engine.
    """
    e = F.col("embedding")
    return t["embeddings"].select(
        "vec_id",
        F.size(e).alias("dim"),
        # try_element_at: index 1 of an EMPTY array is NULL in DuckDB
        # but an ANSI error in element_at (r11 empty-value survey)
        F.try_element_at(e, F.lit(1)).alias("first_val"),
        # NULL (not a partial sum) when dim < 4, matching the oracle's
        # out-of-range element_at semantics on any input
        F.when(
            F.size(e) >= 4,
            F.aggregate(
                F.slice(e, 1, 4).cast("array<double>"),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        ).alias("head4_sum"),
        F.array_max(e).alias("max_val"),
        F.array_min(e).alias("min_val"),
    )


@query(
    "fn_map_json",
    oracle="""
    SELECT CASE WHEN json_valid(props)
                THEN CAST(json_extract_string(props, '$.k') AS INTEGER) % 10
           END AS k_bucket,  -- json_valid: see ingest_json (r11)
           count(*) AS cnt,
           FLOOR(ROUND(SUM(value), 2) * 100 / count(*)) / 100 AS avg_value
    FROM events
    GROUP BY 1
    """,
)
def fn_map_json(spark, t):
    """F7: JSON path extraction → bucket → aggregate.

    ``get_json_object`` path-extracts without materializing the full
    struct (vs S3's ``from_json`` which builds the typed struct).
    """
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        t["events"]
        .groupBy((k % 10).alias("k_bucket"))
        .agg(
            F.count("*").alias("cnt"),
            # rounded-sum/count: see events_sliding note (stable mean)
            (F.floor(F.round(F.sum("value"), 2) * 100 / F.count("*")) / 100).alias("avg_value"),
        )
    )


@query(
    "fn_cast_decimal",
    oracle="""
    SELECT o_orderstatus,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_dec,
           ROUND(CAST(AVG(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
             AS avg_dec
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def fn_cast_decimal(spark, t):
    """F8: decimal money arithmetic — exact, order-insensitive sums.

    Decimal *sums* need no rounding discipline: fixed-point addition
    is associative, so Spark and DuckDB agree exactly.  The exact sum
    is then CAST to DOUBLE on both sides for the wire format: Spark
    decimal arrives in pandas as object-dtype ``Decimal`` while DuckDB
    decimal arrives as float64, which the driver's dtype-sensitive
    hash treats as different values (same skew class as r01's HUGEINT
    fail).  A 2-dp sum < 2^53/100 converts to double exactly, so no
    precision is lost.  AVG: Spark returns DECIMAL(16,6) (exact) while
    DuckDB returns DOUBLE, so both sides round the mean to 2 via
    double.
    """
    dec = F.col("o_totalprice").cast("decimal(12,2)")
    return t["orders"].groupBy("o_orderstatus").agg(
        F.sum(dec).cast("double").alias("total_dec"),
        F.round(F.avg(dec).cast("double"), 2).alias("avg_dec"),
    )


@query(
    "fn_variant_json",
    oracle="""
    WITH e AS (
      SELECT CASE WHEN json_valid(props)
                  THEN CAST(json_extract_string(props, '$.k') AS INTEGER)
             END AS k  -- json_valid: see ingest_json (r11)
      FROM events
    )
    SELECT CAST(FLOOR(k / 25) AS INTEGER) AS k_quartile,
           count(*) AS cnt,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           MIN(k) AS min_k,
           MAX(k) AS max_k
    FROM e
    GROUP BY 1
    """,
)
def fn_variant_json(spark, t):
    """Semi-structured access via Spark 4 VariantType — the scale path
    for the JSON surface (F7's sibling).

    ``parse_json`` encodes the document ONCE into Variant's binary
    form; every ``variant_get`` after that is a path lookup on the
    encoded bytes — no string re-parse per field access, unlike
    ``get_json_object`` which re-tokenizes the text for every path.
    At 100 TB the variant column is also what you'd persist (parquet
    shreds it columnar), so repeated analytics never pay text parsing
    again.  Output is plain scalars, so the key stays hash-checkable
    against DuckDB's text-path extraction.
    """
    # try_parse_json: an empty/malformed payload becomes a NULL
    # variant (every variant_get then NULL) instead of a FAILFAST
    # crash — the oracle's json_valid guard mirrors it (r11
    # empty-value survey)
    v = F.try_parse_json("props")
    k = F.variant_get(v, "$.k", "int")
    return (
        t["events"]
        .select(k.alias("k"))
        .groupBy(F.floor(F.col("k") / 25).cast("int").alias("k_quartile"))
        .agg(
            F.count("*").alias("cnt"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


@query(
    "fn_collation",
    oracle="""
    WITH mixed AS (
      SELECT c_custkey, c_nationkey,
             CASE WHEN c_custkey % 2 = 0 THEN lower(c_mktsegment)
                  ELSE c_mktsegment END AS seg
      FROM customer
    )
    SELECT c_nationkey AS nationkey,
           count(*) AS n_building,
           count(DISTINCT seg) AS n_raw_spellings
    FROM mixed
    WHERE upper(seg) = 'BUILDING'
    GROUP BY c_nationkey
    """,
)
def fn_collation(spark, t):
    """Spark 4 collations: a UTF8_LCASE comparison matches
    case-insensitively WITHOUT materializing a lower()/upper()
    normalized copy of the column.

    Input case is deliberately mixed (even keys lowercased), then the
    predicate compares under ``collate(seg, 'UTF8_LCASE')``.  The
    oracle uses the classical upper()-normalization, so the hash
    check proves the collated comparison equivalent.  The
    ``n_raw_spellings`` column (counted on the RAW binary collation)
    pins that the input really contained both spellings — i.e. the
    collation did work, the test isn't vacuously single-case.  At
    100 TB collation-aware comparison beats normalize-then-compare
    exactly where it matters: no second string column in the shuffle,
    and data-source filters can push collated predicates (Spark maps
    them to storage-level case-insensitive filters where the format
    supports it).
    """
    seg = F.when(
        F.col("c_custkey") % 2 == 0, F.lower("c_mktsegment")
    ).otherwise(F.col("c_mktsegment"))
    mixed = t["customer"].select(
        "c_custkey", "c_nationkey", seg.alias("seg")
    )
    return (
        mixed.where(
            F.collate("seg", "UTF8_LCASE") == F.lit("building")
        )
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count("*").alias("n_building"),
            F.countDistinct("seg").alias("n_raw_spellings"),
        )
    )


@query(
    "fn_try_arithmetic",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_discount = 0 THEN NULL
                ELSE ROUND(l_extendedprice / l_discount, 2) + 0
           END AS price_per_disc,
           TRY_CAST(l_returnflag AS BIGINT) AS flag_as_int,
           TRY_CAST(l_shipdate AS BIGINT) IS NULL AS date_not_numeric
    FROM lineitem WHERE l_orderkey % 50 = 0
    """,
)
def fn_try_arithmetic(spark, t):
    """Error-safe evaluation family — ``try_divide`` / ``try_cast``:
    failures become NULL instead of aborting the job (Spark's ANSI-
    mode escape hatches, and the lenient/strict switch every ingest
    engine exposes).

    On a 1000-executor job, one malformed row throwing in strict mode
    kills the stage after hours; the ``try_`` forms give per-ROW
    error containment with ANSI semantics elsewhere — the right
    default for ingest, with ``dq_expectations`` counting the NULLs
    so failures are visible, not silent.  ``try_divide`` returns
    NULL on /0 (fixture discounts hit 0.0), ``try_cast`` NULLs the
    unparseable (returnflag 'N' → BIGINT) — both value-hash-
    checked against DuckDB's CASE/TRY_CAST equivalents.
    """
    li = t["lineitem"].where(F.col("l_orderkey") % 50 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.round(F.try_divide("l_extendedprice", "l_discount"), 2) + 0
        ).alias("price_per_disc"),
        F.expr("try_cast(l_returnflag AS BIGINT)").alias("flag_as_int"),
        F.expr("try_cast(cast(l_shipdate AS STRING) AS BIGINT) IS NULL").alias(
            "date_not_numeric"
        ),
    )


@query(
    "fn_aes_roundtrip",
    oracle="""
    SELECT c_custkey,
           c_name AS decrypted,
           TRUE AS roundtrip_ok,
           TRUE AS ciphertext_differs
    FROM customer WHERE c_custkey <= 500
    """,
)
def fn_aes_roundtrip(spark, t):
    """Column-level encryption in the engine: ``aes_encrypt`` /
    ``aes_decrypt`` (AES-128-ECB here for deterministic ciphertext;
    production uses GCM, whose random IV makes ciphertext
    non-reproducible BY DESIGN).

    The crypto itself has no DuckDB twin, so the ORACLE pins the
    INVARIANTS instead: decrypt(encrypt(x)) must return x exactly
    (``decrypted`` is hash-checked against the plaintext column), the
    round-trip flag and ciphertext≠plaintext flag are pinned TRUE.
    The at-scale posture: encryption is a narrow codegen map (JVM
    AES-NI, no Python, no shuffle), keys come from a KMS — the
    literal here stands in — and ECB's determinism is exactly what
    lets encrypted columns still equi-JOIN (deterministic ciphertext
    = join-preserving pseudonymization, the same property
    mask_format_preserving provides without a key).  GCM trades that
    joinability for semantic security — the choice is per-column
    policy, and both run identically Spark-side.
    """
    enc = F.expr(
        "aes_encrypt(c_name, '0123456789abcdef', 'ECB', 'PKCS')"
    )
    dec = F.expr(
        "cast(aes_decrypt(ciphertext, '0123456789abcdef', 'ECB', 'PKCS') "
        "as string)"
    )
    return (
        t["customer"]
        .where(F.col("c_custkey") <= 500)
        .select("c_custkey", "c_name", enc.alias("ciphertext"))
        .select(
            "c_custkey",
            dec.alias("decrypted"),
            # null-safe: encrypt/decrypt of a NULL plaintext is NULL,
            # which IS a correct round-trip — plain `==` yields NULL
            # where the oracle pins TRUE (r11 NULL survey)
            dec.eqNullSafe(F.col("c_name")).alias("roundtrip_ok"),
            F.when(F.col("c_name").isNull(), F.lit(True))
            .otherwise(F.base64("ciphertext") != F.col("c_name"))
            .alias("ciphertext_differs"),
        )
    )


@query(
    "fn_sql_udf",
    oracle="""
    SELECT o_orderkey,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
           CAST(ROUND(ROUND(o_totalprice * 100) * 1.19) AS BIGINT)
             AS cents_taxed,
           CASE WHEN o_totalprice >= 200000 THEN 'jumbo'
                WHEN o_totalprice >= 100000 THEN 'large'
                ELSE 'standard' END AS size_class
    FROM orders WHERE o_orderkey % 25 = 0
    """,
)
def fn_sql_udf(spark, t):
    """Declarative SQL UDFs (Spark 4 ``CREATE FUNCTION ... RETURN
    expr``) — reusable scalar logic that stays INSIDE Catalyst:
    unlike U1/U2's Python functions, a SQL UDF is inlined into the
    plan at resolution time, so it codegens, pushes down, and costs
    exactly what the expression costs.

    Two functions are defined per session (idempotent OR REPLACE):
    ``cents_taxed`` (nested call over another computed column) and
    ``size_class`` (a CASE policy).  This is the right home for
    shared business rules — the tax rule changes in ONE place and
    every query inlines the new body — reserving Python UDFs for
    logic SQL genuinely can't express.  The oracle inlines the same
    expressions manually, proving the UDF indirection semantics-
    free.  At 100 TB the difference vs a Python UDF is the whole
    Arrow boundary: zero serialization, full predicate transparency.
    """
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION taxed_cents(c BIGINT) "
        "RETURNS BIGINT RETURN CAST(ROUND(c * 1.19) AS BIGINT)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION size_class(p DOUBLE) "
        "RETURNS STRING RETURN CASE WHEN p >= 200000 THEN 'jumbo' "
        "WHEN p >= 100000 THEN 'large' ELSE 'standard' END"
    )
    return (
        t["orders"]
        .where(F.col("o_orderkey") % 25 == 0)
        .selectExpr(
            "o_orderkey",
            "cast(round(o_totalprice * 100) as bigint) AS cents",
            "taxed_cents(cast(round(o_totalprice * 100) as bigint)) "
            "AS cents_taxed",
            "size_class(o_totalprice) AS size_class",
        )
    )


@query(
    "fn_url_parse",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             -- COALESCE/NULLIF: see the Spark body's sanitized src
             'https://' || COALESCE(NULLIF(source, ''), 'nosrc')
               || '.example.com/docs/' || lang || '/'
               || doc_id || '?q=' || lang || '%20'
               || COALESCE(NULLIF(source, ''), 'nosrc') || '&page='
               || (doc_id % 7) AS url
      FROM documents
    )
    SELECT doc_id,
           url,
           regexp_extract(url, '^https://([^/]+)/', 1) AS host,
           regexp_extract(url, '^https://[^/]+(/[^?]*)', 1) AS path,
           regexp_extract(url, '\\?(.*)$', 1) AS query,
           regexp_extract(url, '[?&]q=([^&]*)', 1) AS q_raw,
           replace(regexp_extract(url, '[?&]q=([^&]*)', 1), '%20', ' ')
             AS q_decoded,
           CAST(regexp_extract(url, '[?&]page=([^&]*)', 1) AS BIGINT) AS page
    FROM u
    """,
)
def fn_url_parse(spark, t):
    """URL dissection builtins: ``parse_url`` (HOST / PATH / QUERY /
    keyed query param) + ``url_decode`` — the click-log and crawl-
    ingest primitive (corpus_url_filter's regexp gate is the policy
    layer; this is the structural parser under it).

    URLs are synthesized deterministically from documents columns so
    the fixture needs no URL column; percent-escapes are restricted to
    ``%20`` because DuckDB has no url_decode — the oracle's
    ``replace('%20', ' ')`` is exactly RFC-decode on that alphabet.
    All eight outputs are java.net.URI / codegen expressions: map-only,
    no shuffle, scan stays the only exchange-free stage a 100 TB URL
    normalization pass needs.
    """
    # sanitized source for the SYNTHESIS: an '' source would build the
    # host '.example.com', which java's URI parser (parse_url) rejects
    # as an invalid host label (NULL) while the oracle's regexp happily
    # extracts it — keep the synthesized URLs well-formed instead
    # (r11 empty-value survey; oracle uses the same COALESCE/NULLIF)
    src = F.expr("coalesce(nullif(source, ''), 'nosrc')")
    url = F.concat(
        F.lit("https://"), src, F.lit(".example.com/docs/"),
        F.col("lang"), F.lit("/"), F.col("doc_id"),
        F.lit("?q="), F.col("lang"), F.lit("%20"), src,
        F.lit("&page="), F.col("doc_id") % 7,
    )
    return t["documents"].select(
        "doc_id",
        url.alias("url"),
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
        F.parse_url(url, F.lit("QUERY"), F.lit("q")).alias("q_raw"),
        F.url_decode(F.parse_url(url, F.lit("QUERY"), F.lit("q"))).alias(
            "q_decoded"
        ),
        F.parse_url(url, F.lit("QUERY"), F.lit("page"))
        .cast("bigint")
        .alias("page"),
    )


@query(
    "fn_nested_struct",
    oracle="""
    SELECT o_orderkey,
           u.part AS part,
           u.status AS status,
           u.cents AS cents
    FROM (
      SELECT o_orderkey,
             unnest([
               {'part': 1, 'status': o_orderstatus,
                'cents': CAST(ROUND(o_totalprice * 100) AS BIGINT)},
               {'part': 2, 'status': lower(o_orderstatus),
                'cents': CAST(ROUND(o_totalprice * 100) AS BIGINT) * 2}
             ]) AS u
      FROM orders WHERE o_orderkey % 50 = 0
    )
    """,
)
def fn_nested_struct(spark, t):
    """Nested-struct surgery: ``struct`` build → ``withField`` add /
    replace → ``dropFields`` → array-of-struct → ``inline`` re-
    flatten.  The schema-evolution primitive for deeply nested event
    payloads (add a field, retire a field, fan a record out into
    versioned variants) done entirely inside Catalyst — withField /
    dropFields rewrite the struct expression in place, so there is no
    serialization, no UDF, and column pruning still reaches the scan.

    The pipeline: pack (status, price) into a struct, derive integer
    cents with withField, drop the float price, then emit two struct
    variants per order (part 1 verbatim, part 2 lower-cased and
    doubled) and inline() them back to rows.  Output is flattened to
    scalar cells (driver canonicalizer cannot hash struct cells); the
    oracle builds the same two variants as DuckDB struct literals and
    unnests.  Map-only: the only exchange in the plan is whatever the
    sink needs.
    """
    base = (
        t["orders"]
        .where(F.col("o_orderkey") % 50 == 0)
        .select(
            "o_orderkey",
            F.struct(
                F.col("o_orderstatus").alias("status"),
                F.col("o_totalprice").alias("price"),
            ).alias("s"),
        )
    )
    s2 = (
        F.col("s")
        .withField("cents", F.round(F.col("s.price") * 100).cast("bigint"))
        .dropFields("price")
    )
    v1 = s2.withField("part", F.lit(1))
    v2 = (
        s2.withField("part", F.lit(2))
        .withField("status", F.lower(F.col("s.status")))
        .withField(
            "cents", F.round(F.col("s.price") * 100).cast("bigint") * 2
        )
    )
    return (
        base.select("o_orderkey", F.array(v1, v2).alias("variants"))
        .select("o_orderkey", F.inline("variants"))
        .select("o_orderkey", "part", "status", "cents")
    )


@query(
    "fn_struct_flatten",
    oracle="""
    SELECT c_custkey,
           c_name AS prof_name,
           c_mktsegment AS prof_segment,
           CAST(ROUND(c_acctbal * 100) AS BIGINT) AS prof_acct_cents,
           c_nationkey AS prof_acct_nation
    FROM customer WHERE c_custkey % 7 = 0
    """,
)
def fn_struct_flatten(spark, t):
    """Shared struct-flatten surface: build a two-level nested profile
    struct, then emit it through :func:`functions.structs.
    flatten_structs` — the tested helper that every nested-struct
    operator uses to satisfy the driver canonicalizer's scalar-cells
    requirement (struct cells crash its pandas hasher; see
    ``tools/keys.py check --strict`` and its ``strict_canon``).

    The flatten is pure Catalyst GetStructField projection — no UDF,
    no serialization — so at 100 TB it is map-only and the parquet
    scan still prunes to exactly the referenced leaves.  The oracle is
    the equivalent flat projection with the helper's ``sep``-joined
    leaf names.
    """
    from tweetdb_spark.functions.structs import flatten_structs

    base = (
        t["customer"]
        .where(F.col("c_custkey") % 7 == 0)
        .select(
            "c_custkey",
            F.struct(
                F.col("c_name").alias("name"),
                F.col("c_mktsegment").alias("segment"),
                F.struct(
                    F.round(F.col("c_acctbal") * 100)
                    .cast("bigint")
                    .alias("cents"),
                    F.col("c_nationkey").alias("nation"),
                ).alias("acct"),
            ).alias("prof"),
        )
    )
    return flatten_structs(base)
