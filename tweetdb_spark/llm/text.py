"""Text-analysis operators (SURVEY.md §2.10, L6–L8).

Token-level analytics over `documents` — TF-IDF, lexicon sentiment
(the EDBT'16 Spark-sentiment pattern: token ⋈ static lexicon), and
corpus stats.  Everything is explode → agg → (broadcast) join: the
shuffle unit is the token or the doc key, never the raw text.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tweetdb_spark import guards
from tweetdb_spark.llm.collapse import collapse
from tweetdb_spark.registry import query

# Static sentiment lexicon over the fixture vocabulary (an engine
# constant, not a fixture — FIXTURES.md "Synthetic-generation notes").
SENTIMENT_LEXICON: list[tuple[str, int]] = [
    ("fast", 2),
    ("small", 1),
    ("big", 1),
    ("merge", 1),
    ("slow", -2),
    ("error", -2),
    ("skew", -1),
    ("spill", -1),
]

_LEX_VALUES = ", ".join(f"('{w}', {s})" for w, s in SENTIMENT_LEXICON)


@query(
    "text_tf_idf",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
      FROM documents
    ), tf AS (
      SELECT doc_id, lang, token, count(*) AS tf
      FROM tok GROUP BY doc_id, lang, token
    ), df AS (
      SELECT token, count(*) AS df FROM tf GROUP BY token
    ), n AS (
      SELECT count(*) AS n_docs FROM documents
    ), scored AS (
      SELECT tf.lang, tf.token,
             ROUND(SUM(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df)), 4) AS tfidf
      FROM tf JOIN df USING (token) CROSS JOIN n
      GROUP BY tf.lang, tf.token
    )
    SELECT lang, token, tfidf, rn
    FROM (
      SELECT lang, token, tfidf,
             row_number() OVER (
               PARTITION BY lang ORDER BY tfidf DESC, token
             ) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
)
def text_tf_idf(spark, t):
    """L6: top-5 TF-IDF terms per language.

    Two aggregations + one broadcast join: tf on (doc,token), df on
    token (vocab-sized — always broadcastable), idf = ln(N/df) with N
    joined in as a 1-row broadcast aggregate (never a driver-side
    collect).  Final per-lang top-k via window rank.

    Exact-collapse-first: tokenize once per clone group
    (:func:`collapse`), then weight by the member count sz of each
    (group, lang) pair — sz docs contain each of the group's tokens
    in df, and add sz · tf · idf to the score.  At fixture scales
    every sz is 1, so the scored expression is LITERALLY the per-doc
    one; at 5M docs (×1000 clones) the token explode shrinks a
    thousandfold.
    """
    mem, reps = collapse(t["documents"].select("doc_id", "lang", "text"))
    sz = mem.groupBy("h", "lang").agg(F.count("*").alias("sz"))
    tf = (
        reps.select("h", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("h", "token")
        .agg(F.count("*").alias("tf"))
        .join(sz, "h")
    )
    df = tf.groupBy("token").agg(F.sum("sz").alias("df"))
    n = t["documents"].agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(n))
        .groupBy("lang", "token")
        .agg(
            # Known FP-order risk: at clone scale
            # (sz > 1) the single `sz * tf * idf` multiply is not
            # bit-identical to the oracle's per-doc repeated
            # addition; ROUND(..,4) absorbs the ulp drift except
            # exactly at half-way boundaries.  The same risk class
            # already exists via partition-order nondeterminism of
            # any FP SUM — accepted, not fixable without decimal.
            F.round(
                F.sum(
                    F.col("sz")
                    * F.col("tf")
                    * F.log(F.col("n_docs").cast("double") / F.col("df"))
                ),
                4,
            ).alias("tfidf")
        )
    )
    w = Window.partitionBy("lang").orderBy(F.col("tfidf").desc(), F.col("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("lang", "token", "tfidf", "rn")
    )


@query(
    "text_sentiment_lexicon",
    oracle=f"""
    WITH lex(token, score) AS (VALUES {_LEX_VALUES}),
    tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents
    )
    SELECT tok.doc_id,
           count(*) AS n_tokens,
           count(lex.score) AS n_hits,
           CAST(COALESCE(SUM(lex.score), 0) AS BIGINT) AS score_sum,
           CAST(COALESCE(SUM(lex.score), 0) AS DOUBLE) / count(*) AS polarity
    FROM tok LEFT JOIN lex USING (token)
    GROUP BY tok.doc_id
    """,
)
def text_sentiment_lexicon(spark, t):
    """L7: lexicon-join polarity per document (EDBT'16 pattern).

    The lexicon is a broadcast static dim (exactly the reference's
    keyword-list shape); integer score sums are exact, and the final
    polarity is a single exact division — no rounding needed.
    """
    lex = F.broadcast(
        spark.createDataFrame(SENTIMENT_LEXICON, "token string, score int")
    )
    tok = t["documents"].select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    return (
        tok.join(lex, "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.count("score").alias("n_hits"),
            F.coalesce(F.sum("score"), F.lit(0)).cast("long").alias("score_sum"),
            (
                F.coalesce(F.sum("score"), F.lit(0)).cast("double") / F.count("*")
            ).alias("polarity"),
        )
    )


# Portable position-weighted hash: identical integer arithmetic in
# Spark SQL and DuckDB (no engine hash functions, which differ).
# h(s) = (Σ_i ascii(s[i]) · ((i·2654435761) mod p)) mod p,  p = 2³¹−1
# Magnitudes: per-term ≤ 127·p ≈ 2.7e11, doc sum ≤ ~1.6e14 — exact in int64.
_SPARK_WHASH = (
    "aggregate(sequence(1, length({s})), cast(0 as bigint), "
    "(acc, i) -> acc + ascii(substring({s}, i, 1)) * ((i * 2654435761L) % 2147483647)) "
    "% 2147483647"
)
# outer CAST: DuckDB's list_sum over big ints is HUGEINT, which pandas
# materializes as float64 — the driver's dtype-sensitive hash would see
# 561993910.0 != Spark's bigint 561993910 (same skew class as the r01
# events_session_batch fail)
# CASE/COALESCE mirror the Spark fold exactly on degenerate inputs:
# '' hashes to 0 (empty fold from 0; Python reference agrees), NULL
# text hashes to NULL (r11 empty-value survey — DuckDB's list_sum over
# an empty list is NULL, which diverged from Spark's 0).
_DUCK_WHASH = (
    "(CASE WHEN {s} IS NULL THEN NULL ELSE "
    "CAST(COALESCE(list_sum(list_transform(range(1, length({s}) + 1), "
    "i -> ascii(substr({s}, CAST(i AS INT), 1)) * ((i * 2654435761) % 2147483647))), 0) "
    "% 2147483647 AS BIGINT) END)"
)


@query(
    "doc_fingerprint",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, {_DUCK_WHASH.format(s='text')} AS fingerprint
      FROM documents
    )
    SELECT fingerprint, MIN(doc_id) AS keep_doc_id, count(*) AS n_docs
    FROM fp GROUP BY fingerprint
    """,
)
def doc_fingerprint(spark, t):
    """Document fingerprinting via a position-weighted rolling hash.

    Engine-portable (pure integer arithmetic — no murmur/xxhash, which
    differ across engines), order-sensitive (anagram docs get distinct
    prints, unlike a bag-of-words hash), and O(len) per doc inside
    whole-stage codegen.  Grouping by fingerprint is the content-
    addressed dedup key; at 100 TB the fingerprint is what you
    shuffle, never the text.

    Exact-collapse-first: the per-char fold runs once per clone group
    (:func:`collapse`), not per clone — 475.8 s of interpreted HOF
    folding at 5M docs became rep-sized.  The rep is its group's
    keep candidate and n_docs re-weights by group size; the NULL
    texts' singleton groups all print NULL and merge again here.
    Oracle unchanged (the exact per-doc query).
    """
    fp = F.expr(_SPARK_WHASH.format(s="text"))
    return (
        collapse(t["documents"].select("doc_id", "text"))[1]
        .select(fp.alias("fingerprint"), "doc_id", "n_docs")
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.sum("n_docs").alias("n_docs"),
        )
    )


# Per-language token profiles (engine constants).  The fixture corpus
# shares one vocabulary across langs, so this demonstrates the
# *mechanism* (profile-overlap argmax); with real text the profiles
# would be learned character n-grams.
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "a", "fast", "slow", "big", "small"],
    "de": ["der", "die", "das", "und", "schnell"],
    "es": ["el", "la", "los", "rapido", "lento"],
    "fr": ["le", "la", "les", "vite", "lent"],
    "zh": ["de5", "he2", "kuai4", "man4"],
}

_PROFILE_VALUES = ", ".join(
    f"('{w}', '{lang}')" for lang, ws in LANG_PROFILES.items() for w in ws
)


@query(
    "text_lang_id",
    oracle=f"""
    WITH profile(token, plang) AS (VALUES {_PROFILE_VALUES}),
    tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), scores AS (
      SELECT tok.doc_id, profile.plang, count(*) AS score
      FROM tok JOIN profile USING (token)
      GROUP BY tok.doc_id, profile.plang
    ), ranked AS (
      SELECT doc_id, plang, score,
             row_number() OVER (
               PARTITION BY doc_id ORDER BY score DESC, plang
             ) AS rn
      FROM scores
    )
    SELECT d.doc_id,
           COALESCE(r.plang, 'und') AS pred_lang,
           COALESCE(r.score, 0) AS score
    FROM documents d LEFT JOIN ranked r ON d.doc_id = r.doc_id AND r.rn = 1
    """,
)
def text_lang_id(spark, t):
    """Language-ID by profile-token overlap (n-gram heuristic shape).

    Tokens ⋈ broadcast profile → per-(doc, lang) hit counts → argmax
    with a deterministic tie-break; docs matching no profile get
    'und'.  The profile table is the tweet-era keyword-list pattern;
    swap in learned character-n-gram profiles for real corpora.
    """
    profile = F.broadcast(
        spark.createDataFrame(
            [(w, lang) for lang, ws in LANG_PROFILES.items() for w in ws],
            "token string, plang string",
        )
    )
    # Exact-collapse-first: (pred_lang, score) is a pure function of
    # the token multiset, so explode/score only each clone group's
    # representative (~#distinct texts) and map the verdict back to
    # every member — the per-member form pushed 250M exploded tokens
    # through the profile join at 5M docs for ~5k distinct texts.
    # NULL-text reps explode to zero tokens and never score, and the
    # left join's coalesce yields ('und', 0) — exactly the rows the
    # per-member form produced for them.
    mem, reps = collapse(t["documents"].select("doc_id", "text"))
    reps = reps.select(F.col("doc_id").alias("rid"), "text")
    tok = reps.select("rid", F.explode(F.split("text", " ")).alias("token"))
    scores = tok.join(profile, "token").groupBy("rid", "plang").agg(
        F.count("*").alias("score")
    )
    w = Window.partitionBy("rid").orderBy(F.col("score").desc(), F.col("plang"))
    best = scores.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return (
        mem.select("doc_id", F.col("rep_id").alias("rid"))
        .join(best, "rid", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("plang"), F.lit("und")).alias("pred_lang"),
            F.coalesce(F.col("score"), F.lit(0)).alias("score"),
        )
    )


_STOPWORDS = ["the", "a", "of", "and", "to"]
_STOP_IN = ", ".join(f"'{w}'" for w in _STOPWORDS)


@query(
    "text_quality",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), stats AS (
      SELECT doc_id,
             count(*) AS n_tokens,
             count(DISTINCT token) AS n_distinct,
             CAST(SUM(CASE WHEN token IN ({_STOP_IN}) THEN 1 ELSE 0 END) AS BIGINT)
               AS n_stop
      FROM tok GROUP BY doc_id
    )
    SELECT d.doc_id,
           s.n_tokens,
           CAST(s.n_distinct AS DOUBLE) / s.n_tokens AS distinct_ratio,
           CAST(s.n_stop AS DOUBLE) / s.n_tokens AS stopword_ratio,
           CAST(d.n_chars - s.n_tokens + 1 AS DOUBLE) / s.n_tokens AS avg_token_len,
           CASE WHEN s.n_tokens BETWEEN 20 AND 1000
                 AND CAST(s.n_distinct AS DOUBLE) / s.n_tokens > 0.2
                THEN 1 ELSE 0 END AS quality_pass
    FROM documents d JOIN stats s USING (doc_id)
    """,
)
def text_quality(spark, t):
    """Quality scoring: length / diversity / stopword-ratio gates.

    The pre-training filter primitive (Gopher/C4-style rules): every
    ratio is an exact int/int division (identical operands both
    engines — no rounding discipline needed), and the final gate is a
    boolean conjunction of range checks.
    """
    # Exact-collapse-first: the token stats are pure functions of the
    # text, so explode/aggregate only each clone group's
    # representative and join the group stats back to every member —
    # each member still contributes its OWN n_chars to avg_token_len,
    # so the collapse is exact even if a clone's n_chars column
    # disagreed with its text.  NULL-text reps explode to zero rows,
    # have no stats row, and the inner join drops their members, as
    # the per-member form's inner join does.
    mem, reps = collapse(t["documents"].select("doc_id", "text", "n_chars"))
    reps = reps.select(F.col("doc_id").alias("rid"), "text")
    tok = reps.select("rid", F.explode(F.split("text", " ")).alias("token"))
    stats = tok.groupBy("rid").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("token").alias("n_distinct"),
        F.sum(F.when(F.col("token").isin(_STOPWORDS), 1).otherwise(0)).alias("n_stop"),
    )
    nt = F.col("n_tokens")
    distinct_ratio = F.col("n_distinct").cast("double") / nt
    return (
        mem.select("doc_id", "n_chars", F.col("rep_id").alias("rid"))
        .join(stats, "rid")
        .select(
            "doc_id",
            "n_tokens",
            distinct_ratio.alias("distinct_ratio"),
            (F.col("n_stop").cast("double") / nt).alias("stopword_ratio"),
            ((F.col("n_chars") - nt + 1).cast("double") / nt).alias("avg_token_len"),
            F.when(nt.between(20, 1000) & (distinct_ratio > 0.2), 1)
            .otherwise(0)
            .alias("quality_pass"),
        )
    )


@query(
    "text_token_count",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
             AS bpe_ish_tokens,
           CAST(CEIL(n_chars / 4.0) AS BIGINT) AS est_llm_tokens
    FROM documents
    """,
)
def text_token_count(spark, t):
    """Token counting: whitespace, BPE-ish regex, and the chars/4
    LLM-budget heuristic — the three counts a data pipeline reports.
    """
    return t["documents"].select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.size(
            # idx=0 = whole match (the pattern has no capture groups)
            F.regexp_extract_all("text", F.lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), 0)
        ).alias("bpe_ish_tokens"),
        F.ceil(F.col("n_chars") / 4.0).alias("est_llm_tokens"),
    )


@query(
    "corpus_curate",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), stats AS (
      SELECT doc_id, count(*) AS n_tokens, count(DISTINCT token) AS n_distinct
      FROM tok GROUP BY doc_id
    ), keepers AS (
      SELECT MIN(doc_id) AS doc_id
      FROM documents GROUP BY sha256(lower(trim(text)))
    ), curated AS (
      SELECT d.doc_id, d.lang, d.n_chars,
             CASE WHEN s.n_tokens BETWEEN 20 AND 1000
                   AND CAST(s.n_distinct AS DOUBLE) / s.n_tokens > 0.2
                   AND k.doc_id IS NOT NULL
                  THEN 1 ELSE 0 END AS keep
      FROM documents d
      JOIN stats s USING (doc_id)
      LEFT JOIN keepers k USING (doc_id)
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(SUM(keep) AS BIGINT) AS n_kept,
           FLOOR(CAST(SUM(keep) AS DOUBLE) * 10000 / count(*)) / 10000
             AS retention,
           CAST(SUM(CASE WHEN keep = 1 THEN n_chars ELSE 0 END) AS BIGINT)
             AS kept_chars
    FROM curated GROUP BY lang
    """,
)
def corpus_curate(spark, t):
    """The end-to-end curation query a training-data pipeline ships:
    quality gates ∧ exact-dedup keep-set → per-language retention
    report.

    One plan composes the ladder: token stats (quality), the
    normalized-hash keeper set (dedup L1, as a semi-joinable frame),
    and the retention rollup.  At 100 TB this is the job that writes
    the cleaned corpus — the `keep` flag becomes a partition filter on
    the output write, and the report is its audit trail.  Retention is
    floor-truncated at 4 decimals (exact division both sides).
    """
    d = t["documents"]
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    stats = tok.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("token").alias("n_distinct"),
    )
    keepers = (
        d.groupBy(F.sha2(F.lower(F.trim(F.col("text"))), 256))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
        .withColumn("is_keeper", F.lit(1))
    )
    quality = (F.col("n_tokens").between(20, 1000)) & (
        F.col("n_distinct").cast("double") / F.col("n_tokens") > 0.2
    )
    curated = (
        d.join(stats, "doc_id")
        .join(keepers, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "n_chars",
            F.when(quality & F.col("is_keeper").isNotNull(), 1)
            .otherwise(0)
            .alias("keep"),
        )
    )
    return curated.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("keep").alias("n_kept"),
        (F.floor(F.sum("keep").cast("double") * 10000 / F.count("*")) / 10000).alias(
            "retention"
        ),
        F.sum(F.when(F.col("keep") == 1, F.col("n_chars")).otherwise(0)).alias(
            "kept_chars"
        ),
    )


@query(
    "text_stats",
    oracle="""
    SELECT lang, source,
           count(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars,
           ROUND(AVG(n_chars), 2) AS avg_chars,
           CAST(SUM(CASE WHEN n_chars = length(text) THEN 1 ELSE 0 END) AS BIGINT)
             AS n_len_valid,
           ROUND(AVG(len(string_split(text, ' '))), 2) AS avg_tokens
    FROM documents
    GROUP BY lang, source
    """,
)
def text_stats(spark, t):
    """L8: per-(lang, source) corpus statistics + n_chars validation.

    The quality-scoring primitive: length stats, token counts, and a
    data-integrity column (n_chars == length(text)) in one pass.
    """
    d = t["documents"]
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        F.sum(
            F.when(F.col("n_chars") == F.length("text"), 1).otherwise(0)
        ).alias("n_len_valid"),
        F.round(F.avg(F.size(F.split("text", " "))), 2).alias("avg_tokens"),
    )


@query(
    "text_decontaminate",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, len(string_split(text, ' ')) - 6),
               i -> array_to_string(string_split(text, ' ')[i:i+7], ' ')))
               AS grams
      FROM documents
    ), bench AS (
      SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 7 = 0
    ), train AS (
      SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 7 <> 0
    )
    SELECT train.doc_id, count(DISTINCT train.gram) AS n_shared
    FROM train JOIN bench USING (gram)
    GROUP BY train.doc_id
    """,
)
def text_decontaminate(spark, t):
    """Benchmark decontamination: flag training docs that share any
    8-token n-gram with the held-out benchmark set.

    The GPT-3/Pile decontamination primitive.  Benchmark membership is
    a deterministic split (doc_id % 7) so the check is oracle-exact;
    in production the benchmark grams come from the eval suites.
    Candidate generation is an equi-join on the gram — at 100 TB,
    hash grams to 64-bit ids first (shuffle ints, not 50-char
    strings) and broadcast the benchmark side when the eval suites
    are dim-sized (they are: MMLU+HellaSwag+... is ~10^6 grams).
    DuckDB ``range`` is empty when the doc is shorter than 8 tokens;
    Spark ``sequence`` would DESCEND, so the CASE guards it.
    """
    grams = F.expr(
        "CASE WHEN size(split(text, ' ')) >= 8 THEN "
        "array_distinct(transform(sequence(1, size(split(text, ' ')) - 7), "
        "i -> array_join(slice(split(text, ' '), i, 8), ' '))) "
        "ELSE array() END"
    )
    g = t["documents"].select("doc_id", grams.alias("grams"))
    bench = (
        g.where(F.col("doc_id") % 7 == 0)
        .select(F.explode("grams").alias("gram"))
        .distinct()
    )
    train = g.where(F.col("doc_id") % 7 != 0).select(
        "doc_id", F.explode("grams").alias("gram")
    )
    return train.join(bench, "gram").groupBy("doc_id").agg(
        F.countDistinct("gram").alias("n_shared")
    )


@query(
    "corpus_sample_stratified",
    oracle="""
    SELECT doc_id, lang,
           ((doc_id % 2147483647) * 2654435761) % 2147483647 % 10000
             AS bucket
    FROM documents
    WHERE ((doc_id % 2147483647) * 2654435761) % 2147483647 % 10000
          < CASE lang WHEN 'en' THEN 5000
                      WHEN 'de' THEN 2500
                      ELSE 1000 END
    """,
)
def corpus_sample_stratified(spark, t):
    """Stratified downsampling at per-language rates (50% en, 25% de,
    10% everything else) — the `sampleBy` primitive, made reproducible.

    Language rebalancing is how pre-training mixes are actually built
    (upweight scarce languages by downsampling the dominant one), and
    a production sample must be DETERMINISTIC so reruns, audits, and
    incremental appends agree — so membership is a pure function of
    doc_id: the same Knuth multiplicative hash (mod-p-reduced; the
    naive form overflowed int64 at replica-offset ids) bucketed to
    1/10000ths and thresholded per stratum.  A narrow filter — no
    shuffle, no RNG state, trivially pushed to the scan — unlike
    ``df.sampleBy``, whose per-partition RNG reshuffles membership
    whenever partitioning changes.  New docs sample themselves
    independently (no global pass), which is what makes this the
    incremental-ingest form.
    """
    bucket = F.expr("((doc_id % 2147483647) * 2654435761) % 2147483647 % 10000")
    rate = (
        F.when(F.col("lang") == "en", 5000)
        .when(F.col("lang") == "de", 2500)
        .otherwise(1000)
    )
    return (
        t["documents"]
        .select("doc_id", "lang", bucket.alias("bucket"))
        .where(F.col("bucket") < rate)
    )


@query(
    "text_ngram_topk",
    oracle="""
    WITH dg AS (
      SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, len(string_split(text, ' ')) - 3),
                 i -> array_to_string(string_split(text, ' ')[i:i+4], ' ')))
                 AS gram
        FROM documents)
    )
    SELECT gram, CAST(count(*) AS BIGINT) AS doc_freq
    FROM dg GROUP BY gram
    ORDER BY doc_freq DESC, gram
    LIMIT 20
    """,
)
def text_ngram_topk(spark, t):
    """Boilerplate mining: the 20 most document-frequent 5-grams in
    the corpus (deterministic doc_freq DESC, gram ASC tie-break).

    The companion to text_dup_ngram_fraction — that op scores docs by
    how much duplicated material they carry; this one names the
    material, which is how a curation team builds its boilerplate
    blocklist (license headers, navigation chrome, scraper banners).
    Per-doc distinct grams → one 2-phase count agg → TakeOrdered:
    the global top-k never sorts the full gram table, and partial
    aggregation collapses the Zipf head map-side before the exchange.
    """
    grams = F.expr(
        "CASE WHEN size(split(text, ' ')) >= 5 THEN "
        "array_distinct(transform(sequence(1, size(split(text, ' ')) - 4), "
        "i -> array_join(slice(split(text, ' '), i, 5), ' '))) "
        "ELSE array() END"
    )
    return (
        t["documents"]
        .select("doc_id", F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("gram"))
        .limit(20)
    )


@query(
    "text_dup_ngram_fraction",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, len(string_split(text, ' ')) - 3),
               i -> array_to_string(string_split(text, ' ')[i:i+4], ' ')))
               AS grams
      FROM documents
    ), dg AS (
      SELECT doc_id, unnest(grams) AS gram FROM g
    ), df AS (
      SELECT gram, count(*) AS df FROM dg GROUP BY gram
    )
    SELECT dg.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_grams,
           round(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS dup_frac
    FROM dg JOIN df USING (gram)
    GROUP BY dg.doc_id
    """,
)
def text_dup_ngram_fraction(spark, t):
    """Corpus-wide duplicated-n-gram signal: for each doc, the fraction
    of its distinct 5-grams that also occur in at least one OTHER doc
    (well — in ≥2 docs; a gram repeated only within one doc is deduped
    by the distinct).  The RefinedWeb/FineWeb "duplicated lines/chars
    fraction" filter generalized to token n-grams — high dup_frac
    marks boilerplate (headers, license blocks, mirrored pages) that
    doc-level dedup misses because the surrounding text differs.

    Two hash-aggregations (gram → doc-frequency, then doc_id →
    fraction) plus one equi-join on the gram; everything stays in
    whole-stage codegen — the gram arrays come from
    ``transform(sequence(...))`` over ``split``, no Python.  At
    100 TB, shuffle 64-bit xxhash64(gram) ids instead of gram strings
    (same trick text_decontaminate documents) and pre-aggregate
    map-side: the df table is Zipf-skewed, so partial aggregation
    collapses the hot grams before the exchange.  Docs shorter than
    5 tokens emit no grams and are absent from the output (same rule
    both sides: DuckDB's ``range`` and the guarded Spark ``sequence``
    are both empty there).
    """
    # Exact-collapse-first: grams are a pure function of text, and the
    # doc-frequency table re-weights by clone-group size (a group of
    # n_docs ≥ 2 makes every one of its grams df ≥ 2 — exactly what
    # the per-doc form computed).  Gram explode + df shuffle run once
    # per clone group; the per-doc answer expands back over the
    # member map.  470.7 s → rep-sized at 5M docs.  Oracle unchanged
    # (the exact per-doc query).
    grams = F.expr(
        "CASE WHEN size(split(text, ' ')) >= 5 THEN "
        "array_distinct(transform(sequence(1, size(split(text, ' ')) - 4), "
        "i -> array_join(slice(split(text, ' '), i, 5), ' '))) "
        "ELSE array() END"
    )
    mem, reps = collapse(t["documents"].select("doc_id", "text"))
    dg = reps.select("rep_id", "n_docs", F.explode(grams).alias("gram"))
    df_gram = dg.groupBy("gram").agg(F.sum("n_docs").alias("df"))
    rep_frac = (
        dg.join(df_gram, "gram")
        .groupBy("rep_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)).alias(
                "n_dup_grams"
            ),
            F.round(
                F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
                / F.count("*"),
                6,
            ).alias("dup_frac"),
        )
    )
    return mem.join(rep_frac, "rep_id").select(
        "doc_id", "n_grams", "n_dup_grams", "dup_frac"
    )


@query(
    "corpus_mix_weights",
    oracle="""
    WITH g AS (
      SELECT lang, source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang, source
    )
    SELECT lang, source, n_docs, n_tokens,
           ROUND(CAST(n_tokens AS DOUBLE)
                 / CAST(SUM(n_tokens) OVER () AS BIGINT), 6) AS token_share,
           ROUND(CAST(SUM(n_tokens) OVER () AS BIGINT)
                 / (CAST(COUNT(*) OVER () AS BIGINT)
                    * CAST(n_tokens AS DOUBLE)), 6) AS mix_weight
    FROM g
    """,
)
def corpus_mix_weights(spark, t):
    """Domain-mixing report: per-(lang, source) token shares and the
    sampling weight that re-balances the corpus to a uniform target
    mix (weight = target_share / actual_share).

    The data-mixing primitive for training-corpus assembly (the
    DoReMi/Pile-style re-weighting input).  One shuffle to the group
    grain, then a window over the 97-row group table — the window
    never sees fact rows.  Window SUMs are CAST to BIGINT (DuckDB
    HUGEINT → pandas float64 skew, the r01 session-window fail class).
    """
    from pyspark.sql.window import Window

    g = t["documents"].groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
    )
    w = Window.partitionBy()
    total = F.sum("n_tokens").over(w)
    ngroups = F.count("*").over(w)
    return g.select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens").cast("double") / total, 6).alias("token_share"),
        F.round(
            total / (ngroups * F.col("n_tokens").cast("double")), 6
        ).alias("mix_weight"),
    )


@query(
    "text_unigram_logprob",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), counts AS (
      SELECT token, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY token
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS t,
             CAST(count(DISTINCT token) AS BIGINT) AS v
      FROM tok
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           ROUND(-SUM(ln(CAST(c + 1 AS DOUBLE) / (t + v))) / count(*), 6) + 0
             AS avg_neg_logprob
    FROM tok JOIN counts USING (token), tot
    GROUP BY doc_id
    """,
)
def text_unigram_logprob(spark, t):
    """Unigram-LM fluency score: per-doc mean negative log-probability
    under an add-1-smoothed unigram model fit on the corpus itself.

    The perplexity-filter primitive (CCNet/KenLM shape, one order
    lower): rare-token-heavy docs score high and get filtered.  Two
    aggregations (vocab counts, corpus totals) + one broadcast-sized
    1-row totals join, then a map-side ln and a per-doc mean — no
    Python anywhere.  ROUND(.,6) absorbs cross-engine ln/summation
    ulps; "+ 0" normalizes a potential -0.0.
    """
    tok = t["documents"].select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    counts = tok.groupBy("token").agg(F.count("*").alias("c"))
    tot = tok.agg(
        F.count("*").alias("t"), F.countDistinct("token").alias("v")
    )
    p = (F.col("c") + 1).cast("double") / (F.col("t") + F.col("v"))
    return (
        tok.join(counts, "token")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            (F.round(-F.sum(F.log(p)) / F.count("*"), 6) + 0).alias(
                "avg_neg_logprob"
            ),
        )
    )


@query(
    "text_segment_dedup",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ), segs AS (
      SELECT doc_id, CAST(u.i AS INT) AS pos,
             array_to_string(tk[(u.i * 8 + 1):(u.i * 8 + 8)], ' ') AS seg
      FROM toks, unnest(range(0, (len(tk) - 1) // 8 + 1)) AS u(i)
      WHERE len(tk) > 0
    ), seg_df AS (
      SELECT seg, count(DISTINCT doc_id) AS df FROM segs GROUP BY seg
    )
    SELECT s.doc_id,
           COALESCE(string_agg(
             CASE WHEN d.df < 2 THEN s.seg END, ' ' ORDER BY s.pos),
             '') AS clean_text,
           CAST(count(*) AS BIGINT) AS n_segs,
           CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped
    FROM segs s JOIN seg_df d USING (seg)
    GROUP BY s.doc_id
    """,
)
def text_segment_dedup(spark, t):
    """Cross-document duplicated-SEGMENT removal — the rewrite step of
    the RefinedWeb/FineWeb line-dedup filter, over 8-token segments
    (this corpus has no newlines, so fixed token windows stand in for
    lines): any segment occurring verbatim in ≥2 DISTINCT docs is
    boilerplate and is cut from every doc; the survivors are
    re-joined in original order.  Complements
    ``text_dup_ngram_fraction`` (which only SCORES docs) by actually
    producing the cleaned corpus — exact duplicates collapse to
    empty strings, shared headers/footers vanish while unique prose
    survives.

    **Collapse-first + hashed df pass**: the per-member form
    tokenized/segmented every MEMBER doc and shuffled full segment
    strings three times (df aggregation, flag join, rebuild) — 81.2 s
    at 5M docs, pure clone-multiplied segment mass (~300M
    string-carrying rows per exchange for a corpus with only ~5k
    distinct texts).  Exact clones contribute identical segment sets,
    so: collapse to one REPRESENTATIVE per clone group first
    (:func:`collapse`), segment only reps, and weight the df
    aggregation by group size — df(seg) = Σ n_docs over the DISTINCT texts
    containing seg, which is exactly count(DISTINCT doc_id) of the
    naive form.  The df shuffle carries xxhash64(segment) ids
    instead of segment strings (the text_decontaminate trick; same
    ~2⁻⁶⁴ collision trust as the token-id verify, and the driver
    hash-check against the naive-form oracle covers it end-to-end at
    every graded sf), the rebuild runs once per DISTINCT text, and
    members inherit their rep's result through one skinny
    (doc_id, rep) join.  Segment work now scales with distinct
    texts, not corpus size; the only corpus-sized frames are the
    member map and the final output.
    """
    segs_expr = F.expr(
        "transform(sequence(0, CAST((size(split(text, ' ')) - 1) / 8 AS INT)), "
        "i -> struct(i AS pos, "
        "array_join(slice(split(text, ' '), i * 8 + 1, 8), ' ') AS seg))"
    )
    mem, reps = collapse(t["documents"].select("doc_id", "text"))
    # the size(split)>0 rep filter reproduces the naive form's member
    # filter exactly: every member of a group shares one text, hence
    # one token count; NULL-text reps drop here, and their members
    # with them at the per_rep join below
    reps = reps.where(F.size(F.split("text", " ")) > 0)
    segs = (
        reps.select("rep_id", "n_docs", F.explode(segs_expr).alias("s"))
        .select(
            "rep_id",
            "n_docs",
            F.col("s.pos").alias("pos"),
            F.col("s.seg").alias("seg"),
        )
    )
    # a segment repeated WITHIN one text still counts its doc once —
    # distinct (rep, seg-id) before the weighted sum
    seg_df = (
        segs.select("rep_id", "n_docs", F.xxhash64("seg").alias("hs"))
        .distinct()
        .groupBy("hs")
        .agg(F.sum("n_docs").alias("df"))
    )
    flagged = (
        segs.withColumn("hs", F.xxhash64("seg"))
        .join(seg_df, "hs")
        .select("rep_id", "pos", "seg", (F.col("df") < 2).alias("kept"))
    )
    per_rep = flagged.groupBy("rep_id").agg(
        F.expr(
            "array_join(transform(filter("
            "sort_array(collect_list(struct(pos, kept, seg))), "
            "s -> s.kept), s -> s.seg), ' ')"
        ).alias("clean_text"),
        F.count("*").alias("n_segs"),
        F.sum(F.when(F.col("kept"), 0).otherwise(1)).alias("n_dropped"),
    )
    return mem.join(per_rep, "rep_id").select(
        "doc_id", "clean_text", "n_segs", "n_dropped"
    )


@query(
    "text_chunk",
    oracle="""
    SELECT doc_id,
           CAST(k AS INT) AS chunk_id,
           CAST(1 + k * 150 AS INT) AS chunk_start,
           substr(text, CAST(1 + k * 150 AS INT), 200) AS chunk
    FROM documents,
         unnest(range(0, (length(text) - 1) // 150 + 1)) AS u(k)
    WHERE length(text) > 0
    """,
)
def text_chunk(spark, t):
    """RAG chunking: 200-char windows with 50-char overlap (stride
    150), keyed (doc_id, chunk_id, chunk_start).

    The retrieval-indexing primitive.  Pure per-row explode — no
    shuffle at all; chunk count per doc is ceil-div arithmetic, so
    the op is embarrassingly parallel at any scale and the chunk
    table inherits the source partitioning.
    """
    return t["documents"].select(
        "doc_id",
        F.posexplode(
            # length(text)=0 guard: both engines' truncating division
            # turns (0-1)/150 into 0, fabricating one empty chunk per
            # empty doc — guard BOTH sides (oracle has WHERE length>0)
            # so empty docs chunk to nothing
            F.expr(
                "CASE WHEN length(text) > 0 THEN "
                "transform(sequence(0, CAST((length(text) - 1) / 150 AS INT)), "
                "k -> substring(text, 1 + k * 150, 200)) "
                "ELSE array() END"
            )
        ).alias("chunk_id", "chunk"),
    ).select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        (F.lit(1) + F.col("chunk_id") * 150).cast("int").alias("chunk_start"),
        "chunk",
    )


@query(
    "corpus_pack",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT doc_id, lang, n_tokens,
           CAST(COALESCE(CAST(SUM(n_tokens) OVER (
                 PARTITION BY lang ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS BIGINT), 0) // 2048 AS BIGINT) AS pack_id,
           CAST(COALESCE(CAST(SUM(n_tokens) OVER (
                 PARTITION BY lang ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS BIGINT), 0) % 2048 AS BIGINT) AS pack_offset
    FROM d
    """,
)
def corpus_pack(spark, t):
    """Sequence packing: assign docs to 2048-token training packs by
    greedy running total within each language shard.

    The batch-assembly primitive for pre-training (docs concatenated
    into fixed-length sequences; pack_id/pack_offset say where each
    doc lands).  Window SUM is CAST to BIGINT on the DuckDB side
    (HUGEINT skew class).

    Scale shape (r17, r16 verdict ask #4; guide §2.5): the direct form
    is one running-total window per lang — parallelism bounded by
    #languages, constant in corpus size (measured 7.6 s at 10M docs /
    5 langs, 5 tasks doing all the work).  Above the shared 32 MiB
    stats gate this becomes the bucketed two-pass offset idiom
    (corpus_interleave/corpus_token_budget): the sort key here is the
    UNBOUNDED doc_id, so a 1-row min/max scalar attach derives a
    monotone width-based bucket first — (doc_id - dmin) DIV width is
    nondecreasing in doc_id, so concatenating buckets in bh order
    reproduces the global per-lang doc_id order exactly.  Per-(lang,
    bh) token sums on a tiny frame give each bucket its running-total
    base; cum_before = base + within-bucket exclusive running sum is
    exact bigint arithmetic, and SUM skips NULL n_tokens identically
    in both forms.  NULL doc_id rows (impossible for the key column in
    any fixture, but cheap to keep exact) bucket to NULL, sort first
    via asc_nulls_first in the offsets window, and join back via
    eqNullSafe — the same rows the direct window orders first.
    """
    from pyspark.sql.window import Window

    d = t["documents"].select(
        "doc_id", "lang", F.size(F.split("text", " ")).cast("bigint").alias("n_tokens")
    )

    def out(cum_before):
        return d.select(
            "doc_id",
            "lang",
            "n_tokens",
            F.floor(cum_before / 2048).cast("bigint").alias("pack_id"),
            (cum_before % 2048).cast("bigint").alias("pack_offset"),
        )

    if not guards.size_gate(t["documents"]):
        w = (
            Window.partitionBy("lang")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return out(F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))

    n_b = 4 * int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    rng = d.agg(F.min("doc_id").alias("dmin"), F.max("doc_id").alias("dmax"))
    d = d.crossJoin(F.broadcast(rng)).withColumn(
        "bh", F.expr(f"(doc_id - dmin) DIV (((dmax - dmin) DIV {n_b}) + 1)")
    )
    sums = d.groupBy("lang", "bh").agg(F.sum("n_tokens").alias("s"))
    w_off = (
        Window.partitionBy("lang")
        .orderBy(F.asc_nulls_first("bh"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = sums.select(
        F.col("lang").alias("o_lang"),
        F.col("bh").alias("o_bh"),
        F.coalesce(F.sum("s").over(w_off), F.lit(0)).alias("base"),
    )
    w_in = (
        Window.partitionBy("lang", "bh")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    d = d.join(
        F.broadcast(off),
        d["lang"].eqNullSafe(off["o_lang"]) & d["bh"].eqNullSafe(off["o_bh"]),
    )
    return out(
        (
            F.col("base") + F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0))
        ).cast("bigint")
    )


@query(
    "corpus_split",
    oracle="""
    WITH d AS (
      SELECT lang,
             CASE WHEN ((doc_id % 2147483647) * 2654435761) % 2147483647 % 100 < 90
                    THEN 'train'
                  WHEN ((doc_id % 2147483647) * 2654435761) % 2147483647 % 100 < 95
                    THEN 'val'
                  ELSE 'test' END AS split,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT lang, split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM d GROUP BY lang, split
    """,
)
def corpus_split(spark, t):
    """Deterministic 90/5/5 train/val/test split report per language.

    Split membership is a pure function of doc_id (portable
    multiplicative hash -> percent bucket), so the assignment is
    reproducible across engines, runs, and re-shards — the property a
    training split must have.  No shuffle beyond the report's own
    group-by; the per-doc assignment is a narrow map usable as a
    partition column at write time.
    """
    bucket = F.expr("((doc_id % 2147483647) * 2654435761) % 2147483647 % 100")
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )
    return (
        t["documents"]
        .select(
            "lang",
            split.alias("split"),
            F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        )
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
    )


@query(
    "corpus_token_budget",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             ((doc_id % 2147483647) * 2654435761) % 2147483647 AS h
      FROM documents
    ), c AS (
      SELECT doc_id, lang, n_tokens,
             CAST(COALESCE(CAST(SUM(n_tokens) OVER (
                   PARTITION BY lang ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ) AS BIGINT), 0) AS BIGINT) AS cum_before
      FROM d
    )
    SELECT doc_id, lang, n_tokens, cum_before
    FROM c WHERE cum_before < 5000
    """,
)
def corpus_token_budget(spark, t):
    """Token-budget subsampling: keep a deterministic 'random' prefix
    of each language's docs until 5000 tokens are drawn.

    The corpus-sizing primitive (assemble an N-token training mix per
    domain).  Docs are ordered by the portable deterministic shuffle,
    so the sample is reproducible and unbiased-by-construction.

    Scale shape (r16 optimization round, guide §2.3/§2.5): the direct
    form was one running-total window per lang — parallelism bounded
    by #languages (constant in corpus size), and every member row
    shuffled into it only to be discarded by the budget filter.  Now a
    bucketed two-pass (corpus_interleave's offset idiom): per-(lang,
    bucket-of-h) token sums on a tiny frame give each bucket its
    running-total base; buckets whose base already exceeds the budget
    PROVABLY contribute no output (n_tokens ≥ 0, so every row's
    cum_before ≥ its bucket base) and are dropped by the inner
    broadcast join BEFORE the window exchange — at scale the member
    shuffle carries only each language's ~budget-sized prefix, not the
    corpus.  cum_before = bucket base + within-bucket running total is
    exact bigint arithmetic, and SUM skips NULL n_tokens identically
    in both forms (and both engines).  The same 32 MiB stats gate as
    corpus_interleave keeps the direct form where the extra passes
    cost more than the small window (measured: 500k docs, direct
    0.70 s vs two-pass 0.90 s; 5M docs, direct 5.6 s vs two-pass
    2.1 s — sweeps/interleave_twopass_r16.log).
    """
    from pyspark.sql.window import Window

    d = t["documents"].select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        F.expr("((doc_id % 2147483647) * 2654435761) % 2147483647").alias("h"),
    )
    if not guards.size_gate(t["documents"]):
        w = (
            Window.partitionBy("lang")
            .orderBy("h", "doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return (
            d.withColumn(
                "cum_before",
                F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("bigint"),
            )
            .where(F.col("cum_before") < 5000)
            .select("doc_id", "lang", "n_tokens", "cum_before")
        )

    n_b = 4 * int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    width = (2**31 + n_b - 1) // n_b  # |h| < 2³¹; DIV is monotone in h
    d = d.withColumn("bh", F.expr(f"h DIV {width}"))
    sums = d.groupBy("lang", "bh").agg(F.sum("n_tokens").alias("s"))
    w_off = (
        Window.partitionBy("lang")
        .orderBy(F.asc_nulls_first("bh"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = sums.select(
        F.col("lang").alias("o_lang"),
        F.col("bh").alias("o_bh"),
        F.coalesce(F.sum("s").over(w_off), F.lit(0)).alias("base"),
    ).where(F.col("base") < 5000)
    w_in = (
        Window.partitionBy("lang", "bh")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = (
        F.col("base") + F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0))
    ).cast("bigint")
    return (
        d.join(
            F.broadcast(off),
            d["lang"].eqNullSafe(off["o_lang"]) & d["bh"].eqNullSafe(off["o_bh"]),
        )
        .withColumn("cum_before", cum_before)
        .where(F.col("cum_before") < 5000)
        .select("doc_id", "lang", "n_tokens", "cum_before")
    )


@query(
    "text_bigram_logprob",
    oracle="""
    WITH tk AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ), bg AS (
      SELECT doc_id, unnest(list_transform(range(1, len(tk)),
               i -> tk[CAST(i AS INT)] || ' ' || tk[CAST(i + 1 AS INT)]))
               AS bigram
      FROM tk
    ), pre AS (
      SELECT doc_id, unnest(tk[1:len(tk)-1]) AS w1 FROM tk
    ), c2 AS (
      SELECT bigram, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY bigram
    ), c1 AS (
      SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM pre GROUP BY w1
    ), vocab AS (
      SELECT CAST(count(DISTINCT token) AS BIGINT) AS v
      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    )
    SELECT bg.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           ROUND(-SUM(ln(CAST(c2.c2 + 1 AS DOUBLE)
                         / (c1.c1 + vocab.v))) / count(*), 6) + 0
             AS avg_neg_logprob2
    FROM bg
    JOIN c2 USING (bigram)
    JOIN c1 ON c1.w1 = string_split(bg.bigram, ' ')[1]
    CROSS JOIN vocab
    GROUP BY bg.doc_id
    """,
)
def text_bigram_logprob(spark, t):
    """Bigram-LM fluency score: per-doc mean negative log-probability
    under an add-1-smoothed bigram model fit on the corpus
    (p(w2|w1) = (c(w1 w2)+1) / (c(w1·)+V)).

    One order up from text_unigram_logprob — the KenLM direction with
    the same distributed shape: two count aggregations (bigrams,
    prefixes), a 1-row vocab broadcast, a map-side ln, a per-doc
    mean.  Bigram strings are built identically on both engines, so
    counts are exact and only the final rounded mean is float.
    """
    tk = t["documents"].select("doc_id", F.split("text", " ").alias("tk"))
    bg = tk.select(
        "doc_id",
        F.explode(
            # CASE guard: sequence(1, 0) DESCENDS for <2-token docs and
            # element_at(tk, 2) would throw under ANSI; DuckDB range(1, 1)
            # is empty, so emit no bigrams (same rule as _SPARK_SHINGLES)
            F.expr(
                "CASE WHEN size(tk) >= 2 THEN "
                "transform(sequence(1, size(tk) - 1), "
                "i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1))) "
                "ELSE array() END"
            )
        ).alias("bigram"),
    )
    pre = tk.select(
        "doc_id", F.explode(F.expr("slice(tk, 1, size(tk) - 1)")).alias("w1")
    )
    c2 = bg.groupBy("bigram").agg(F.count("*").alias("c2"))
    c1 = pre.groupBy("w1").agg(F.count("*").alias("c1"))
    vocab = (
        t["documents"]
        .select(F.explode(F.split("text", " ")).alias("token"))
        .agg(F.countDistinct("token").alias("v"))
    )
    p = (F.col("c2") + 1).cast("double") / (F.col("c1") + F.col("v"))
    return (
        bg.join(c2, "bigram")
        .withColumn("w1", F.split("bigram", " ").getItem(0))
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            (F.round(-F.sum(F.log(p)) / F.count("*"), 6) + 0).alias(
                "avg_neg_logprob2"
            ),
        )
    )


@query(
    "text_repetition",
    oracle="""
    WITH tk AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ), bg AS (
      SELECT doc_id, unnest(list_transform(range(1, len(tk)),
               i -> tk[CAST(i AS INT)] || ' ' || tk[CAST(i + 1 AS INT)]))
               AS bigram
      FROM tk
    ), c AS (
      SELECT doc_id, bigram, CAST(count(*) AS BIGINT) AS n
      FROM bg GROUP BY doc_id, bigram
    )
    SELECT doc_id,
           CAST(SUM(n) AS BIGINT) AS n_bigrams,
           CAST(count(*) AS BIGINT) AS n_distinct_bigrams,
           CAST(MAX(n) AS DOUBLE) / SUM(n) AS top_bigram_share,
           CASE WHEN CAST(MAX(n) AS DOUBLE) / SUM(n) > 0.1
                THEN 1 ELSE 0 END AS repetitive
    FROM c GROUP BY doc_id
    """,
)
def text_repetition(spark, t):
    """Gopher-style repetition gate: top-bigram share per document.

    Boilerplate/spam detection — a doc whose single most frequent
    bigram carries >10% of all bigram mass is flagged.  Exact int/int
    division (identical operands both engines, no rounding
    discipline); two-phase aggregation, shuffle carries (doc, bigram)
    partial counts.
    """
    tk = t["documents"].select("doc_id", F.split("text", " ").alias("tk"))
    bg = tk.select(
        "doc_id",
        F.explode(
            # same <2-token CASE guard as text_bigram_logprob
            F.expr(
                "CASE WHEN size(tk) >= 2 THEN "
                "transform(sequence(1, size(tk) - 1), "
                "i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1))) "
                "ELSE array() END"
            )
        ).alias("bigram"),
    )
    c = bg.groupBy("doc_id", "bigram").agg(F.count("*").alias("n"))
    share = F.max("n").cast("double") / F.sum("n")
    return c.groupBy("doc_id").agg(
        F.sum("n").cast("bigint").alias("n_bigrams"),
        F.count("*").cast("bigint").alias("n_distinct_bigrams"),
        share.alias("top_bigram_share"),
        F.when(share > 0.1, 1).otherwise(0).alias("repetitive"),
    )


# --- PII scrub -------------------------------------------------------------
#
# Patterns restricted to syntax with identical semantics in Java regex
# (Spark) and RE2 (DuckDB): literal classes, bounded repetition, \b.
# No lookaround (RE2 has none), no backrefs.  Redaction order matters
# (an email's host could otherwise be eaten by the IPv4 rule), so both
# engines apply the same fixed sequence.
_PII_PATTERNS: list[tuple[str, str, str]] = [
    # (name, regex, replacement token)
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    ("phone", r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b", "<PHONE>"),
    ("ccnum", r"\b[0-9]{13,16}\b", "<CC>"),
]


def _pii_oracle() -> str:
    redacted = "text"
    for _, pat, repl in _PII_PATTERNS:
        redacted = f"regexp_replace({redacted}, '{pat}', '{repl}', 'g')"
    counts = ", ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat, _ in _PII_PATTERNS
    )
    total = " + ".join(
        f"len(regexp_extract_all(text, '{pat}'))" for _, pat, _ in _PII_PATTERNS
    )
    return f"""
    SELECT doc_id, {redacted} AS clean_text, {counts},
           CAST(({total}) > 0 AS INT) AS has_pii
    FROM documents
    """


@query("pii_scrub", oracle=_pii_oracle())
def pii_scrub(spark, t):
    """PII detection + redaction: emails, IPv4s, SSNs, phone numbers,
    long card-like digit runs → typed placeholder tokens, with
    per-type match counts and a has_pii flag.

    The pre-training compliance gate.  Pure per-row regex work — JVM
    regexp_replace/regexp_count, no Python, no shuffle; at 100 TB it
    is map-only and scales with scan bandwidth.  The synthetic corpus
    contains no PII (all-zero counts — the hash check proves the
    pipeline is a no-op on clean text); tests/test_edge_inputs.py runs
    the same operator AND oracle over a planted-PII corpus to prove
    both engines find and redact identically.
    """
    clean = F.col("text")
    for _, pat, repl in _PII_PATTERNS:
        clean = F.regexp_replace(clean, pat, repl)
    counts = [
        F.regexp_count("text", F.lit(pat)).cast("bigint").alias(f"n_{name}")
        for name, pat, _ in _PII_PATTERNS
    ]
    total = None
    for _, pat, _r in _PII_PATTERNS:
        c = F.regexp_count("text", F.lit(pat))
        total = c if total is None else total + c
    return t["documents"].select(
        "doc_id",
        clean.alias("clean_text"),
        *counts,
        (total > 0).cast("int").alias("has_pii"),
    )


@query(
    "text_lm_interpolated",
    oracle="""
    WITH tk AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ), bg AS (
      SELECT doc_id, unnest(list_transform(range(1, len(tk)),
               i -> tk[CAST(i AS INT)] || ' ' || tk[CAST(i + 1 AS INT)]))
               AS bigram
      FROM tk
    ), pre AS (
      SELECT doc_id, unnest(tk[1:len(tk)-1]) AS w1 FROM tk
    ), c2 AS (
      SELECT bigram, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY bigram
    ), c1 AS (
      SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM pre GROUP BY w1
    ), tok AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ), cu AS (
      SELECT token, CAST(count(*) AS BIGINT) AS cu FROM tok GROUP BY token
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS t,
             CAST(count(DISTINCT token) AS BIGINT) AS v
      FROM tok
    )
    SELECT bg.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           ROUND(-SUM(ln(
             0.7 * (CAST(c2.c2 AS DOUBLE) / c1.c1)
             + 0.3 * (CAST(cu.cu + 1 AS DOUBLE) / (tot.t + tot.v))
           )) / count(*), 6) + 0 AS avg_neg_logprob_jm
    FROM bg
    JOIN c2 USING (bigram)
    JOIN c1 ON c1.w1 = string_split(bg.bigram, ' ')[1]
    JOIN cu ON cu.token = string_split(bg.bigram, ' ')[2]
    CROSS JOIN tot
    GROUP BY bg.doc_id
    """,
)
def text_lm_interpolated(spark, t):
    """Jelinek-Mercer interpolated LM fluency score:
    p(w2|w1) = 0.7·p_ML(w2|w1) + 0.3·p_add1(w2) — the smoothing
    actually used in CCNet-style perplexity filters (a pure bigram ML
    model assigns 0 to any unseen continuation; interpolation backs
    off to the unigram).

    Same distributed shape as text_bigram_logprob plus one more
    broadcast-sized count join (unigram counts on the second token):
    three count aggregations, a 1-row totals broadcast, map-side ln,
    per-doc mean.  All count operands are exact integers, the mixture
    is evaluated with an identical operation tree on both engines, and
    the final mean is ROUND(.,6)+0 per the house float discipline.
    """
    tk = t["documents"].select("doc_id", F.split("text", " ").alias("tk"))
    bg = tk.select(
        "doc_id",
        F.explode(
            # same <2-token CASE guard as text_bigram_logprob
            F.expr(
                "CASE WHEN size(tk) >= 2 THEN "
                "transform(sequence(1, size(tk) - 1), "
                "i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1))) "
                "ELSE array() END"
            )
        ).alias("bigram"),
    )
    pre = tk.select(
        "doc_id", F.explode(F.expr("slice(tk, 1, size(tk) - 1)")).alias("w1")
    )
    c2 = bg.groupBy("bigram").agg(F.count("*").alias("c2"))
    c1 = pre.groupBy("w1").agg(F.count("*").alias("c1"))
    tok = t["documents"].select(F.explode(F.split("text", " ")).alias("token"))
    cu = tok.groupBy("token").agg(F.count("*").alias("cu"))
    tot = tok.agg(
        F.count("*").alias("t"), F.countDistinct("token").alias("v")
    )
    p = 0.7 * (F.col("c2").cast("double") / F.col("c1")) + 0.3 * (
        (F.col("cu") + 1).cast("double") / (F.col("t") + F.col("v"))
    )
    return (
        bg.join(c2, "bigram")
        .withColumn("w1", F.split("bigram", " ").getItem(0))
        .withColumn("w2", F.split("bigram", " ").getItem(1))
        .join(c1, "w1")
        .join(cu, F.col("w2") == F.col("token"))
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            (F.round(-F.sum(F.log(p)) / F.count("*"), 6) + 0).alias(
                "avg_neg_logprob_jm"
            ),
        )
    )


@query(
    "corpus_negative_pairs",
    # B is the SAME corpus-scaled expression on both sides (max(16,
    # n // 320)): big corpora get constant ~320-doc buckets (the r13
    # sf10 rung caught the fixed B = 16: 31k-doc buckets → ~15.6B
    # candidate rows → job death).  The bucket id HASHES doc_id with
    # the same portable multiplicative mix used for the pair draw —
    # the sf100 rung caught raw ``doc_id % B``: id-structure-
    # correlated bucketing (B = 15625 = 5⁶ divides the power-of-ten
    # replica offsets, so every bucket held ONE base doc's same-lang
    # clones → 0 output rows).
    oracle="""
    SELECT anchor_id, neg_id, neg_lang FROM (
      SELECT a.doc_id AS anchor_id, b.doc_id AS neg_id, b.lang AS neg_lang,
             row_number() OVER (
               PARTITION BY a.doc_id
               ORDER BY (((a.doc_id * 131 + b.doc_id) % 2147483647) * 2654435761)
                        % 2147483647,
                        b.doc_id
             ) AS rn
      FROM documents a
      JOIN documents b
        ON ((a.doc_id % 2147483647) * 2654435761 % 2147483647
              % (SELECT GREATEST(16, COUNT(*) // 320) FROM documents))
         = ((b.doc_id % 2147483647) * 2654435761 % 2147483647
              % (SELECT GREATEST(16, COUNT(*) // 320) FROM documents))
       AND a.lang <> b.lang
    ) WHERE rn <= 2
    """,
    eager=True,  # bucket count read from the corpus at plan build
)
def corpus_negative_pairs(spark, t):
    """Contrastive-training negative sampling: 2 cross-language
    negatives per anchor doc, deterministic, without a cross join.

    Candidates come from an EQUI-grouping on a bucket id (hashed
    doc_id % B) — each anchor only meets the ~n/B docs in its own
    bucket, then a portable pair-hash picks the 2 smallest
    (pair_hash, neg_id) candidates per anchor.  Determinism (hash,
    not rand) is what makes the drawn pairs reproducible across
    engines and re-runs — the property a training-data pipeline
    needs for auditable batches.

    **Execution shape (r16 rewrite, sweeps/neg_pairs_attrib_r16.log):**
    the r13-r15 form expressed the draw as self-join on bucket +
    row_number() <= 2.  Catalyst already did everything right with it
    — broadcast/SMJ on bucket, Partial WindowGroupLimit BEFORE the
    exchange — yet the key was the heaviest sf100 rung line (68.5 s),
    because even the optimal window plan must MATERIALIZE the
    Θ(n·c) candidate join rows through a per-partition Sort to feed
    the partial limit: 1.19B sorted rows at sf100, 82% of the key's
    wall time, and at 100 TB (n=10¹⁰, c=320) trillions.  The draw
    itself needs none of that: per ~c-doc bucket it is a c×c
    vectorized argmin.  So the r16 form shuffles the Θ(n) SKINNY
    (doc_id, lang) frame once by bucket and computes each bucket's
    pair-hash matrix + per-anchor 2-smallest selection in an Arrow
    ``applyInPandas`` kernel — O(c²) ints per bucket, c constant in
    corpus size, no candidate-row materialization, no sort.  This is
    the documented exception where a Pandas kernel beats built-ins:
    the DataFrame algebra can only express "2 smallest per anchor"
    by producing and ordering every candidate row.  The DuckDB
    oracle keeps the join+window SQL — the driver hash check is the
    per-round equivalence proof of the two forms.
    """
    import pandas as pd

    # B = max(16, n/320): constant ~320-doc buckets however large the
    # corpus (the sf10 rung caught the fixed B=16 — 31k-doc buckets
    # blew the candidate join to ~15.6B rows).  The bucket id mixes
    # doc_id through the portable multiplicative hash FIRST (sf100
    # rung catch): a raw modulus correlates with id structure — any B
    # sharing a factor with the fixture's power-of-ten replica
    # offsets (B = 15625 = 5⁶ at 5M docs) collapsed every bucket to
    # one base doc's same-language clones, emitting ZERO pairs.
    n_buckets = max(16, t["documents"].count() // 320)
    bucket = (
        (F.col("doc_id") % 2147483647) * 2654435761 % 2147483647
    ) % n_buckets
    # NULL-lang docs can never pair (a.lang <> b.lang is UNKNOWN on
    # either side in the oracle's join) — filter before the shuffle
    d = (
        t["documents"]
        .where(F.col("lang").isNotNull())
        .select("doc_id", "lang", bucket.alias("bucket"))
    )

    def _draw(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        ids = pdf["doc_id"].to_numpy(dtype=np.int64)
        langs = pdf["lang"].to_numpy()
        m = len(ids)
        empty = pd.DataFrame(
            {
                "anchor_id": pd.Series([], dtype="int64"),
                "neg_id": pd.Series([], dtype="int64"),
                "neg_lang": pd.Series([], dtype="object"),
            }
        )
        if m < 2:
            return empty
        P = np.int64(2147483647)
        # (a*131 + b) stays under 2⁶³ for any realistic doc_id
        # (≤ ~7·10¹⁶); (x % P) * 2654435761 < 2³¹·2.7·10⁹ < 2⁶³.
        ph = ((ids[:, None] * np.int64(131) + ids[None, :]) % P) * np.int64(
            2654435761
        ) % P
        # candidate mask: cross-language only (NULLs already filtered)
        valid = langs[:, None] != langs[None, :]
        # composite order key (pair_hash ASC, neg_id ASC): neg_id is
        # replaced by its ascending RANK within the bucket so the
        # composite fits int64 (ph < 2³¹, rank < 2³², key < 2⁶³)
        rank = np.empty(m, dtype=np.int64)
        rank[np.argsort(ids, kind="stable")] = np.arange(m, dtype=np.int64)
        key = ph * np.int64(m) + rank[None, :]
        sentinel = np.iinfo(np.int64).max
        key = np.where(valid, key, sentinel)
        # 2 smallest per row: argpartition then order the pair
        top2 = np.argpartition(key, 1, axis=1)[:, :2]
        k2 = np.take_along_axis(key, top2, axis=1)
        swap = k2[:, 0] > k2[:, 1]
        top2[swap] = top2[swap][:, ::-1]
        k2[swap] = k2[swap][:, ::-1]
        keep = k2 != sentinel
        anchor = np.repeat(ids, 2)[keep.ravel()]
        neg_idx = top2.ravel()[keep.ravel()]
        return pd.DataFrame(
            {
                "anchor_id": anchor,
                "neg_id": ids[neg_idx],
                "neg_lang": langs[neg_idx],
            }
        )

    return d.groupBy("bucket").applyInPandas(
        _draw, "anchor_id bigint, neg_id bigint, neg_lang string"
    )


@query("text_bpe_train", oracle=None, eager=True)  # iterative; exact-equality pytest twin
def text_bpe_train(spark, t):
    """Distributed BPE vocabulary training: learn the first 12 merge
    rules from the corpus (the tokenizer-training pass every LLM data
    pipeline runs before anything else).

    The classic scale decomposition: BPE never needs the corpus after
    pre-tokenization — only the WORD-FREQUENCY dict (orders of
    magnitude smaller; Zipf means the dict grows ~sqrt-ish while the
    corpus grows linearly).  Each round is (1) one groupBy over
    adjacent symbol pairs weighted by word frequency — a 2-phase agg
    that combines map-side, (2) a 1-row argmax to the driver (the
    merge RULE, bytes, not data), (3) one narrow map applying the rule
    to each word's symbol array via a left-to-right aggregate() fold —
    greedy, order-correct for overlapping pairs ('aaa' + (a,a) ->
    [aa, a]).  State per round is the dict DataFrame, localCheckpointed
    so 12 rounds don't stack lineage.  Ties broken (count desc, pair
    asc) so the learned vocabulary is deterministic across engines and
    cluster layouts — tests/test_llm_ops.py re-derives it with a
    pure-Python BPE and asserts EXACT rule-sequence equality.
    """
    n_merges = 12
    words = (
        t["documents"]
        .where(F.col("lang") == "en")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .select(F.expr("transform(split(w, ''), x -> x)").alias("syms"), "freq")
    )
    # split('') yields a trailing empty string in some engines; filter
    words = words.select(
        F.expr("filter(syms, x -> x <> '')").alias("syms"), "freq"
    )
    rules = []
    for step in range(n_merges):
        pairs = (
            words.select(
                F.explode(
                    # sequence(1, 0) counts DOWN, so guard 1-symbol words
                    F.expr(
                        "IF(size(syms) < 2, "
                        "cast(array() as array<struct<l:string, r:string>>), "
                        "transform(sequence(1, size(syms) - 1), "
                        "i -> struct(syms[i-1] as l, syms[i] as r)))"
                    )
                ).alias("p"),
                "freq",
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "l", "r")
            .limit(1)
            .collect()
        )
        if not pairs:
            break
        l, r, cnt = pairs[0].l, pairs[0].r, pairs[0].cnt
        rules.append((step, l, r, l + r, cnt))
        le, re_ = l.replace("'", "\\'"), r.replace("'", "\\'")
        merged = (l + r).replace("'", "\\'")
        words = words.select(
            F.expr(
                "aggregate(syms, cast(array() as array<string>), "
                "(acc, x) -> IF(size(acc) > 0 "
                f"AND element_at(acc, -1) = '{le}' AND x = '{re_}', "
                f"concat(slice(acc, 1, size(acc) - 1), array('{merged}')), "
                "concat(acc, array(x)))"
                ")"
            ).alias("syms"),
            "freq",
        ).localCheckpoint()
    return spark.createDataFrame(
        rules, "step int, left string, right string, merged string, pair_count bigint"
    )


@query("text_bpe_train_dict", oracle=None, eager=True)  # two-level variant; equality pytest
def text_bpe_train_dict(spark, t):
    """Two-level BPE training — the PRODUCTION shape for real vocab
    sizes: one distributed word-frequency aggregation, then the whole
    merge loop driver-local on the compact dict.

    text_bpe_train does one driver round-trip per merge (a 1-row
    argmax) — fine for 12 rules, but a real 30k-merge vocabulary would
    be 30k collect barriers.  The standard decomposition (this is how
    SentencePiece/HF tokenizer training over map-reduced corpora
    works): BPE after pre-tokenization depends on the corpus ONLY
    through the word→frequency dict, which Zipf keeps collectable —
    measured: 31 distinct words at sf0.1 AND at sf1 (the synthetic
    fixture's shared vocabulary; clones add frequency, not
    vocabulary), and a web-scale English corpus plateaus around 10⁷
    entries ≈ a few hundred MB — still one driver heap.  So:
    (1) ONE distributed groupBy(word).count() — the only Spark job;
    (2) collect the dict; (3) run every merge round in plain Python
    over it — pair counting and greedy left-to-right rule application,
    same tie-break (count desc, pair asc) as the distributed trainer.
    Zero Spark round-trips per merge; 30k merges cost seconds of
    driver CPU.  The pytest pins rule-for-rule equality with
    text_bpe_train (and therefore with its pure-Python reference),
    proving the two-level rewrite changes the execution shape, not the
    learned vocabulary.
    """
    n_merges = 12
    dict_rows = (
        t["documents"]
        .where(F.col("lang") == "en")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .collect()
    )
    vocab: dict[tuple, int] = {
        tuple(r.w): int(r.freq) for r in dict_rows
    }

    rules = []
    for step in range(n_merges):
        counts: dict[tuple, int] = {}
        for syms, freq in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + freq
        if not counts:
            break
        # max count, ties to the lexicographically smallest (l, r)
        (l, r), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        rules.append((step, l, r, l + r, cnt))
        merged_sym = l + r
        new_vocab: dict[tuple, int] = {}
        for syms, freq in vocab.items():
            out = []
            for x in syms:
                # same greedy left-to-right fold as the aggregate()
                # in text_bpe_train ('aaa' + (a,a) -> [aa, a])
                if out and out[-1] == l and x == r:
                    out[-1] = merged_sym
                else:
                    out.append(x)
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + freq
        vocab = new_vocab
    return spark.createDataFrame(
        rules, "step int, left string, right string, merged string, pair_count bigint"
    )


@query("text_bpe_encode", oracle=None, eager=True)  # applies the iterative vocab; pytest twin
def text_bpe_encode(spark, t):
    """Apply the trained BPE vocabulary: tokenize every doc with the
    merge rules text_bpe_train learned, reporting per-doc token
    counts and the compression the vocabulary buys.

    The encode side of the tokenizer pair, decomposed the scale-right
    way: merges are applied to the DISTINCT-WORD dict (Zipf-small),
    not to every word occurrence — one fold chain over the dict, one
    equi-join back to (doc, word), one groupBy doc.  The 12 rules
    ride the query plan as literals (bytes from the driver, like any
    broadcast dim); the fold is the same greedy left-to-right
    aggregate() the trainer uses, so train and encode cannot disagree
    on merge semantics.  tests/test_llm_ops.py re-encodes docs with a
    pure-Python BPE and asserts exact token counts.
    """
    rules = [
        (r.left, r.right, r.merged)
        for r in text_bpe_train(spark, t).collect()
    ]
    doc_words = (
        t["documents"]
        .select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .where(F.length("w") > 0)
    )
    vocab = doc_words.select("w").distinct().select(
        "w",
        F.expr("filter(transform(split(w, ''), x -> x), x -> x <> '')").alias(
            "syms"
        ),
    )
    for l, r, merged in rules:
        le, re_, me = (
            l.replace("'", "\\'"),
            r.replace("'", "\\'"),
            merged.replace("'", "\\'"),
        )
        vocab = vocab.select(
            "w",
            F.expr(
                "aggregate(syms, cast(array() as array<string>), "
                "(acc, x) -> IF(size(acc) > 0 "
                f"AND element_at(acc, -1) = '{le}' AND x = '{re_}', "
                f"concat(slice(acc, 1, size(acc) - 1), array('{me}')), "
                "concat(acc, array(x)))"
                ")"
            ).alias("syms"),
        )
    vocab = vocab.select(
        "w",
        F.size("syms").alias("w_tokens"),
        F.length("w").alias("w_chars"),
    )
    return (
        doc_words.join(vocab, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("w_chars").cast("bigint").alias("n_chars_sym"),
            F.sum("w_tokens").cast("bigint").alias("n_tokens"),
            F.round(
                F.sum("w_chars") / F.sum("w_tokens"), 4
            ).alias("chars_per_token"),
        )
    )


@query(
    "corpus_interleave",
    oracle="""
    WITH d AS (
      SELECT doc_id, source,
             -- TRY_CAST: a source with no numeric suffix ('' or
             -- foreign) has no parseable weight -> NULL, not an ANSI
             -- cast crash (r11 empty-value survey)
             1 + TRY_CAST(substr(source, 4) AS INTEGER) % 4 AS w,
             ((doc_id % 2147483647) * 69621) % 2147483647 AS h
      FROM documents
    ), ranked AS (
      SELECT doc_id, source, w,
             CAST(row_number() OVER (
               PARTITION BY source ORDER BY h, doc_id) AS BIGINT) AS src_rank
      FROM d
    )
    SELECT doc_id, source, src_rank,
           ROUND((src_rank - 0.5) / w, 6) + 0 AS mix_key,
           CAST(row_number() OVER (
             -- NULLS FIRST on both sort keys: a NULL source has no
             -- parseable weight (NULL mix_key) and Spark schedules it
             -- first under its ASC default; DuckDB's NULLS-LAST would
             -- renumber every global_pos (r11 NULL survey)
             ORDER BY (src_rank - 0.5) / w NULLS FIRST,
                      source NULLS FIRST, doc_id) AS BIGINT)
             AS global_pos
    FROM ranked
    """,
)
def corpus_interleave(spark, t):
    """Mixture scheduling: interleave sources into one training order
    at per-source rates — the loader-side application of
    corpus_mix_weights (stride scheduling, the deterministic form of
    'sample source s with probability ∝ w_s').

    Each source's docs get a shuffled rank (same portable hash as
    corpus_shuffle), and doc r of a weight-w source is scheduled at
    mix_key = (r − 0.5)/w — sorting by mix_key yields a stream where
    any prefix contains each source in proportion to its weight
    (upweighted sources recur w× as often), with no RNG state and
    stable under re-runs and appends.

    Scale shape (r16 optimization round, guide §2.5): this was the ONE
    member-scale ``Exchange SinglePartition`` in the whole registry
    (every other hit feeds from a partial HashAggregate) — the
    global_pos window funneled the full corpus through one task, and
    the src_rank window's parallelism was bounded by #sources (which
    does not grow with the corpus).  Above the
    ``guards.size_gate`` stats gate both row_numbers use
    a bucketed two-pass form (the multimodal_pack offset idiom): bucket
    by a deterministic MONOTONE coarsening of the sort key, rank
    within (partition, bucket) in parallel, and add per-bucket base
    offsets computed on a tiny counts frame.  Output is provably
    identical — a monotone bucket function never splits equal keys and
    never reorders across buckets, and base + within-bucket row_number
    is exactly the global row_number — and the only single-partition
    work left is the ≤(#sources·n_buckets)-row offset frames.

    Exactness notes: (a) bucket-of-h uses integer ``DIV`` (monotone,
    handles the negative h of survey-injected negative doc_ids);
    (b) max(mix_key) — needed to scale the level-2 buckets — is taken
    from the per-source totals frame as (n_s − 0.5)/w_s, which is
    bit-identical to the per-row maximum (same bigint/double operand
    values, same expression shape) without a third member-scale pass;
    (c) NULL mix_key rows (NULL/unparseable-weight sources) keep their
    own NULL bucket that sorts first (NULLS FIRST, matching the
    declared order), and a +Inf/NaN mix_key (w = 0 via a pathological
    source string; impossible in the fixture but guarded) pins to the
    last bucket, where Spark's NaN-greatest ordering places it anyway;
    (d) a degenerate max (NULL/≤0/+Inf) zeroes the scale so every
    finite row lands in bucket 0 — single-partition again, but only in
    corpora where mix_key carries no order at all.
    """
    from pyspark.sql.window import Window

    d = t["documents"].select(
        "doc_id",
        "source",
        (1 + F.expr("TRY_CAST(substr(source, 4) AS INT)") % 4).alias("w"),
        F.expr("((doc_id % 2147483647) * 69621) % 2147483647").alias("h"),
    )
    if not guards.size_gate(t["documents"]):
        ranked = d.select(
            "doc_id",
            "source",
            "w",
            F.row_number()
            .over(Window.partitionBy("source").orderBy("h", "doc_id"))
            .cast("bigint")
            .alias("src_rank"),
        )
        mix_key = (F.col("src_rank") - 0.5) / F.col("w")
        return ranked.select(
            "doc_id",
            "source",
            "src_rank",
            (F.round(mix_key, 6) + 0).alias("mix_key"),
            F.row_number()
            .over(Window.orderBy(mix_key, "source", "doc_id"))
            .cast("bigint")
            .alias("global_pos"),
        )

    # scale-adaptive bucket count (same parameterization stance as
    # _banded_candidate_pairs): offsets frames stay ≤ #sources · n_b
    n_b = 4 * int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    width = (2**31 + n_b - 1) // n_b  # |h| < 2³¹ ⇒ bh ∈ (−n_b, n_b)
    d = d.withColumn("bh", F.expr(f"h DIV {width}"))

    # level 1: src_rank = base1(source, bh) + row_number within bucket
    counts1 = d.groupBy("source", "bh").agg(F.count("*").alias("c"))
    w_off1 = (
        Window.partitionBy("source")
        .orderBy(F.asc_nulls_first("bh"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off1 = counts1.select(
        F.col("source").alias("o_source"),
        F.col("bh").alias("o_bh"),
        F.coalesce(F.sum("c").over(w_off1), F.lit(0)).alias("base1"),
    )
    rn1 = F.row_number().over(
        Window.partitionBy("source", "bh").orderBy("h", "doc_id")
    )
    ranked = (
        d.join(
            F.broadcast(off1),
            d["source"].eqNullSafe(off1["o_source"])
            & d["bh"].eqNullSafe(off1["o_bh"]),
        )
        .select("doc_id", "source", "w", "h", "bh", "base1")
        .withColumn("src_rank", (rn1 + F.col("base1")).cast("bigint"))
    )

    # level 2: global_pos over (mix_key, source, doc_id), same trick.
    # max_mk from the tiny totals frame (see docstring note b).
    totals = counts1.groupBy("source").agg(F.sum("c").alias("n_s"))
    w_of_src = 1 + F.expr("TRY_CAST(substr(source, 4) AS INT)") % 4
    scale_row = totals.select(
        ((F.col("n_s") - 0.5) / w_of_src).alias("mk_s")
    ).agg(F.max("mk_s").alias("max_mk"))
    inf = float("inf")
    g = (
        ranked.crossJoin(F.broadcast(scale_row))
        .withColumn("mk", (F.col("src_rank") - 0.5) / F.col("w"))
        .withColumn(
            "scale",
            F.when(
                F.col("max_mk").isNotNull()
                & (F.col("max_mk") > 0)
                & (F.col("max_mk") < F.lit(inf)),
                F.lit(float(n_b)) / F.col("max_mk"),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "b2",
            F.when(F.col("mk").isNull(), F.lit(None).cast("bigint"))
            # NaN >= Inf is true under Spark's NaN-greatest semantics,
            # so this branch pins both +Inf and NaN to the last bucket
            .when(F.col("mk") >= F.lit(inf), F.lit(n_b - 1).cast("bigint"))
            .otherwise(
                F.least(
                    F.lit(n_b - 1).cast("bigint"),
                    F.greatest(
                        F.lit(0).cast("bigint"),
                        F.floor(F.col("mk") * F.col("scale")),
                    ),
                )
            ),
        )
    )
    counts2 = g.groupBy("b2").agg(F.count("*").alias("c"))
    w_off2 = Window.orderBy(F.asc_nulls_first("b2")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    off2 = counts2.select(
        F.col("b2").alias("o_b2"),
        F.coalesce(F.sum("c").over(w_off2), F.lit(0)).alias("base2"),
    )
    rn2 = F.row_number().over(
        Window.partitionBy("b2").orderBy(
            F.asc_nulls_first("mk"), F.asc_nulls_first("source"), "doc_id"
        )
    )
    return (
        g.join(F.broadcast(off2), F.col("b2").eqNullSafe(F.col("o_b2")))
        .withColumn("global_pos", (rn2 + F.col("base2")).cast("bigint"))
        .select(
            "doc_id",
            "source",
            "src_rank",
            (F.round(F.col("mk"), 6) + 0).alias("mix_key"),
            "global_pos",
        )
    )


@query(
    "corpus_shuffle",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             ((doc_id % 2147483647) * 69621) % 2147483647 AS h
      FROM documents
    )
    SELECT doc_id,
           CAST(h % 16 AS INT) AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY h % 16 ORDER BY h, doc_id)
                AS BIGINT) AS pos
    FROM d
    """,
)
def corpus_shuffle(spark, t):
    """Seeded global corpus shuffle: assign every doc a (shard, pos)
    slot in a pseudorandom permutation of the corpus.

    The pre-training write-side primitive: training loaders want the
    corpus globally shuffled ONCE into shards so epoch reads are
    sequential I/O, not random seeks.  The permutation is a pure
    function of doc_id (portable multiplicative hash, multiplier
    69621 — a distinct stream from corpus_split's 2654435761, so
    shuffle order is independent of split assignment), making it
    reproducible across engines, runs, and re-shards.  The hash is
    range-reduced mod p = 2^31-1 BEFORE the multiply, so it cannot
    overflow int64 at any key scale (the sf1 sweep's lesson).

    Scale shape: one hash-partition exchange on `shard` plus a
    per-shard sort — exactly the shuffle+sort a sharded write does
    anyway, so the permutation is free at write time.  16 shards here;
    at 100 TB the shard count is (total / target_file_size), and
    row_number stays per-shard, never global.
    """
    h = "((doc_id % 2147483647) * 69621) % 2147483647"
    d = t["documents"].select(
        "doc_id",
        F.expr(h).alias("h"),
        F.expr(f"CAST(({h}) % 16 AS INT)").alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return d.select(
        "doc_id",
        "shard",
        F.row_number().over(w).cast("bigint").alias("pos"),
    )


@query(
    "sample_weighted",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang, GREATEST(n_chars, 1) AS w,
             ((doc_id % 2147483647) * 40503) % 2147483647 AS h
      FROM documents
    ), k AS (
      SELECT doc_id, lang, w,
             ln((h + 1.0) / 2147483648.0) / w AS key
      FROM d
    )
    SELECT doc_id, lang, CAST(w AS BIGINT) AS weight,
           ROUND(key, 6) + 0 AS sample_key
    FROM k ORDER BY key DESC, doc_id LIMIT 1000
    """,
)
def sample_weighted(spark, t):
    """Weighted sampling WITHOUT replacement (k=1000, weight=n_chars)
    via Efraimidis–Spirakis order statistics: each doc draws a
    deterministic uniform u in (0,1] from a portable hash and keys
    itself with ln(u)/w; the k LARGEST keys are exactly a weighted
    sample without replacement (Efraimidis & Spirakis, IPL 2006).

    The curation primitive for "sample 10B tokens proportional to
    quality score": one narrow map computes the key, then a global
    top-k — which Spark plans as TakeOrderedAndProject (per-partition
    heap of k, driver merge), NEVER a global sort.  At 100 TB with
    huge k, the same key survives a two-pass variant: approximate the
    k-th key threshold from a sample, filter key >= threshold, exact
    top-k on the survivors — the per-doc key needs no rescan.
    Membership is decided on the UNROUNDED key (ulp-stable: adjacent
    order statistics at this density are ~1e-5 apart, libm ulps are
    ~1e-16 relative); ROUND(.,6) only canonicalizes the emitted
    column, and GREATEST(w,1) guards zero-length docs.
    """
    hexpr = "((doc_id % 2147483647) * 40503) % 2147483647"
    d = t["documents"].select(
        "doc_id",
        "lang",
        F.greatest("n_chars", F.lit(1)).alias("w"),
        F.expr(hexpr).alias("h"),
    )
    key = F.log((F.col("h") + F.lit(1.0)) / F.lit(2147483648.0)) / F.col("w")
    return (
        d.select(
            "doc_id",
            "lang",
            F.col("w").cast("bigint").alias("weight"),
            key.alias("_key"),
        )
        .orderBy(F.col("_key").desc(), "doc_id")
        .limit(1000)
        .select(
            "doc_id",
            "lang",
            "weight",
            (F.round("_key", 6) + 0).alias("sample_key"),
        )
    )


@query(
    "corpus_ppl_bucket",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
      FROM documents
    ), counts AS (
      SELECT token, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY token
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS t,
             CAST(count(DISTINCT token) AS BIGINT) AS v
      FROM tok
    ), ppl AS (
      SELECT doc_id, lang,
             ROUND(-SUM(ln(CAST(c + 1 AS DOUBLE) / (t + v))) / count(*), 6)
               + 0 AS avg_neg_logprob
      FROM tok JOIN counts USING (token), tot
      GROUP BY doc_id, lang
    )
    SELECT doc_id, lang, avg_neg_logprob,
           CASE NTILE(3) OVER (PARTITION BY lang
                               ORDER BY avg_neg_logprob, doc_id)
             WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
           END AS bucket
    FROM ppl
    """,
)
def corpus_ppl_bucket(spark, t):
    """CCNet-style perplexity bucketing: score every doc with the
    corpus-fit unigram LM (same expression as text_unigram_logprob),
    then split each language into head/middle/tail fluency terciles.

    The quality-tiering primitive (CCNet, Wenzek et al. 2020): 'head'
    feeds pre-training directly, 'middle' gets a second-stage filter,
    'tail' is dropped or mined for hard negatives.  Terciles use
    NTILE over (lang), ordered by the ROUNDED score then doc_id so
    bucket boundaries are deterministic across engines (a raw-double
    ordering could flip adjacent docs on a libm ulp).  Per-lang NTILE
    needs the language's total count in one ordered partition; at
    100 TB the CCNet recipe itself switches to fixed thresholds
    estimated from a sample (approx_percentile per lang, broadcast,
    then a narrow map compare) — same buckets, no per-lang sort; the
    windowed form here is the oracle-exact tier.
    """
    tok = t["documents"].select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("token")
    )
    counts = tok.groupBy("token").agg(F.count("*").alias("c"))
    tot = tok.agg(
        F.count("*").alias("t"), F.countDistinct("token").alias("v")
    )
    p = (F.col("c") + 1).cast("double") / (F.col("t") + F.col("v"))
    ppl = (
        tok.join(counts, "token")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id", "lang")
        .agg(
            (F.round(-F.sum(F.log(p)) / F.count("*"), 6) + 0).alias(
                "avg_neg_logprob"
            )
        )
    )
    w = Window.partitionBy("lang").orderBy("avg_neg_logprob", "doc_id")
    n = F.ntile(3).over(w)
    return ppl.select(
        "doc_id",
        "lang",
        "avg_neg_logprob",
        F.when(n == 1, "head").when(n == 2, "middle").otherwise("tail").alias("bucket"),
    )


@query(
    "sample_weighted_threshold",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang, GREATEST(n_chars, 1) AS w,
             ((doc_id % 2147483647) * 40503) % 2147483647 AS h
      FROM documents
    ), k AS (
      SELECT doc_id, lang, w,
             ln((h + 1.0) / 2147483648.0) / w AS key
      FROM d
    )
    SELECT doc_id, lang, CAST(w AS BIGINT) AS weight,
           ROUND(key, 6) + 0 AS sample_key
    FROM k ORDER BY key DESC, doc_id LIMIT 1000
    """,
)
def sample_weighted_threshold(spark, t):
    """Two-pass threshold variant of sample_weighted — byte-identical
    output (the oracle IS sample_weighted's), different physics.

    TakeOrderedAndProject ships k rows per partition to the driver; at
    100 TB with k in the millions that merge is the bottleneck.  The
    two-pass form never ranks the full corpus: pass 1 estimates the
    k-th key from a deterministic 5% hash-sample (the (3·k·p)-th
    largest sample key — a 3× safety undershoot, so the threshold sits
    BELOW the true k-th key with overwhelming probability), pass 2
    filters key >= threshold (a narrow map keeping ~3k of N rows) and
    exact-top-k's only the survivors.  The estimate is one driver
    scalar; a survivor-count < k would fall back to the single-pass
    form (loudly — at that point the sample lied), so the output is
    the true top-k in every case, which is why the shared oracle
    hash-checks this plan end to end.
    """
    k_target = 1000
    p_inv = 20  # 5% sample
    hexpr = "((doc_id % 2147483647) * 40503) % 2147483647"
    d = t["documents"].select(
        "doc_id",
        "lang",
        F.greatest("n_chars", F.lit(1)).alias("w"),
        F.expr(hexpr).alias("h"),
    )
    key = F.log((F.col("h") + F.lit(1.0)) / F.lit(2147483648.0)) / F.col("w")
    keyed = d.select("doc_id", "lang", F.col("w").cast("bigint").alias("weight"), key.alias("_key"))
    # pass 1: deterministic 5% sample (independent hash stream), take
    # the (3*k*p)-th largest key as an undershooting threshold
    sample_rank = max(1, (3 * k_target) // p_inv)
    samp = keyed.where(F.expr(f"(({hexpr}) * 97) % 2147483647 % {p_inv} = 0"))
    thr_rows = (
        samp.orderBy(F.col("_key").desc()).limit(sample_rank)
        .agg(F.min("_key").alias("thr")).collect()
    )
    thr = thr_rows[0].thr
    top = keyed
    if thr is not None:
        survivors = keyed.where(F.col("_key") >= thr)
        # cheap guard: the sample can only lie if the corpus is tiny
        if survivors.limit(k_target).count() >= min(
            k_target, keyed.limit(k_target).count()
        ):
            top = survivors
    return (
        top.orderBy(F.col("_key").desc(), "doc_id")
        .limit(k_target)
        .select(
            "doc_id",
            "lang",
            "weight",
            (F.round("_key", 6) + 0).alias("sample_key"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-prefiltered decontamination + hashed linear quality classifier
# (round 8 additions: the broadcast-sketch and broadcast-model scale
# patterns for corpus curation).
# ---------------------------------------------------------------------------

# Partitioned Bloom filter parameters: 4 independent hash slices of
# 2^16 buckets each.  Row form (j, bucket) rather than a bitmap so the
# filter is an equi-joinable broadcast relation; at 262144 max rows of
# two ints it is ~2 MB serialized — dim-sized by construction.
_BLOOM_M = 65536
_BLOOM_ROWS = [
    (0, 2654435761, 1),
    (1, 2246822519, 7),
    (2, 3266489917, 13),
    (3, 668265263, 31),
]
_BLOOM_P = 2147483647


def _bloom_positions(gram_col):
    """4 (j, bucket) structs for one gram — xxhash64-seeded affine
    slices, all in codegen.  The Bloom tier needs NO engine
    portability (the oracle checks the exact FINAL result, not the
    filter's internals), so the cheap JVM hash beats the per-char
    portable hash here — measured 2.6x on the sf0.1 ladder."""
    gh = F.pmod(F.xxhash64(gram_col), F.lit(_BLOOM_P))
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                F.pmod(gh * F.lit(a) + F.lit(b), F.lit(_BLOOM_P))
                .__mod__(_BLOOM_M)
                .alias("bucket"),
            )
            for j, a, b in _BLOOM_ROWS
        ]
    )


_GRAMS_EXPR = (
    "CASE WHEN size(split(text, ' ')) >= 8 THEN "
    "array_distinct(transform(sequence(1, size(split(text, ' ')) - 7), "
    "i -> array_join(slice(split(text, ' '), i, 8), ' '))) "
    "ELSE array() END"
)


@query(
    "text_decontaminate_bloom",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, len(string_split(text, ' ')) - 6),
               i -> array_to_string(string_split(text, ' ')[i:i+7], ' ')))
               AS grams
      FROM documents
    ), bench AS (
      SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 7 = 0
    ), train AS (
      SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 7 <> 0
    )
    SELECT train.doc_id, count(DISTINCT train.gram) AS n_shared
    FROM train JOIN bench USING (gram)
    GROUP BY train.doc_id
    """,
)
def text_decontaminate_bloom(spark, t):
    """``text_decontaminate``'s 100 TB execution shape: a broadcast
    Bloom filter over the benchmark grams prefilters the training side
    BEFORE the exact gram equi-join.

    The exact form shuffles every distinct training 8-gram to meet the
    benchmark set; at corpus scale that shuffle (billions of ~50-char
    strings) dwarfs the answer.  Here the benchmark grams are folded
    into a partitioned Bloom filter — 4 hash slices × 2^16 buckets,
    kept as per-slice bucket relations so membership is 4 chained
    BROADCAST LEFT-SEMI probes (~0.5 MB each), never a shuffle and
    never a row multiplication.  A training gram survives only if
    every slice probe keeps it; survivors go to the exact string
    equi-join, which removes Bloom false positives.  False negatives are impossible by construction (the
    probe uses the identical hash family that built the filter), so
    the result is byte-identical to the exact operator — and the
    ORACLE IS THE EXACT QUERY, making that equivalence value-hash-
    checked every round rather than narrated.  At 100 TB: the shuffle
    now carries only Bloom survivors (≈ true hits + m/ln2-bounded
    false positives), and the filter itself is a mergeable sketch —
    per-eval-suite filters OR together by (j, bucket) union.

    Gram → positions via ``xxhash64`` (JVM codegen): the filter's
    internals never need cross-engine portability because the oracle
    pins the exact FINAL answer — so the cheap hash wins (the
    portable per-char hash cost 2.6× on the sf0.1 ladder).

    **Exact-collapse-first on each side of the %7 split**: clone
    replicas share text, hence grams, hence n_shared — but the
    bench/training split cuts ACROSS clone groups (a group's
    members differ in doc_id % 7), so each side collapses
    independently: the bench side only ever needed its DISTINCT gram
    set (distinct TEXTS first, then grams — same set, 1000× fewer
    exploded rows on the clone fixture), and the training side
    probes/joins one representative per clone group
    (:func:`collapse`), expanding (rep, n_shared) back to members as a
    narrow join.  At 5M docs the uncollapsed form exploded ~1.5B grams
    through four semi probes — 1180 s, one decade from the watchdog; dedup-before-
    expensive-work is also just what a production pipeline does.
    The oracle stays the EXACT uncollapsed query, so the equivalence
    is value-hash-checked every round.
    """
    docs = t["documents"].select("doc_id", "text")
    bench_g = (
        docs.where(F.col("doc_id") % 7 == 0)
        .select("text")
        .distinct()
        .select(F.explode(F.expr(_GRAMS_EXPR)).alias("gram"))
        .distinct()
    )
    mem, reps = collapse(docs.where(F.col("doc_id") % 7 != 0))
    mem = mem.select("doc_id", "rep_id")
    rep_g = reps.select("rep_id", F.expr(_GRAMS_EXPR).alias("grams"))
    positions = _bloom_positions(F.col("gram"))
    hits = rep_g.select(
        "rep_id", F.explode("grams").alias("gram")
    ).select("rep_id", "gram", *[
        positions[j]["bucket"].alias(f"b{j}")
        for j in range(len(_BLOOM_ROWS))
    ])
    # membership = ALL k slices set → k chained broadcast LEFT SEMI
    # probes, one per slice: no row multiplication, no candidate-count
    # shuffle (the earlier explode×k + groupBy form paid both and lost
    # its advantage on the sf1 ladder).
    for j in range(len(_BLOOM_ROWS)):
        bits_j = (
            bench_g.select(positions[j]["bucket"].alias(f"b{j}")).distinct()
        )
        hits = hits.join(F.broadcast(bits_j), f"b{j}", "left_semi")
    rep_shared = (
        hits.select("rep_id", "gram")
        .join(bench_g, "gram")
        .groupBy("rep_id")
        .agg(F.countDistinct("gram").alias("n_shared"))
    )
    # clones share grams, hence n_shared — expand reps back to members
    return mem.join(rep_shared, "rep_id").select("doc_id", "n_shared")


# Hashed-feature linear quality model: D buckets; the "trained" weight
# for bucket b is a fixed pseudo-random int in [-1000, 1000] derived
# from b by the Knuth multiplicative hash — an engine constant standing
# in for learned fasttext/logreg weights (which would arrive as exactly
# this (bucket, weight) relation).
_QC_D = 4096
_QC_WEIGHT = "((({b} * 2654435761) % 2147483647) % 2001) - 1000"


@query(
    "text_quality_classifier",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents
    ), feat AS (
      SELECT doc_id,
             ({_DUCK_WHASH.format(s='token')}) % {_QC_D} AS bucket
      FROM tok WHERE length(token) > 0
    ), scored AS (
      SELECT doc_id,
             count(*) AS n_tokens,
             CAST(SUM({_QC_WEIGHT.format(b='bucket')}) AS BIGINT) AS margin
      FROM feat GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(s.n_tokens, 0) AS n_tokens,
           COALESCE(s.margin, 0) AS margin,
           ROUND(COALESCE(s.margin, 0) * 1.0 / GREATEST(COALESCE(s.n_tokens, 0), 1), 4)
             AS mean_margin,
           COALESCE(s.margin, 0) > 0 AS quality_pass
    FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
    """,
)
def text_quality_classifier(spark, t):
    """Model-based quality scoring — the fasttext/logreg gate every
    production curation pipeline runs (CCNet, LLaMA, RefinedWeb) —
    as a hashed-bag-of-words linear classifier.

    Execution shape is the part that matters at 100 TB: tokens hash
    into D=4096 feature buckets (engine-portable arithmetic, in
    codegen), the model is a (bucket, weight) relation BROADCAST to
    every executor (here 4096 rows; a real 2M-bucket fasttext matrix
    is ~8 MB — still a broadcast dim), and the score is one map-side-
    combining sum per doc.  No Python in the loop, no shuffle wider
    than (doc_id, partial-sum).  The weights here are a deterministic
    stand-in derived from the bucket id, so the ORACLE recomputes the
    entire model application end-to-end and the hash check covers
    hashing, the broadcast join, and the margin arithmetic.  Docs with
    no tokens keep a 0-margin fail verdict via the left join.

    ``margin`` is exact int64 (|w| ≤ 1000, ≤ ~10^3 tokens/doc →
    ≤ 10^6); ``mean_margin`` is one IEEE division + round, identical
    across engines.
    """
    weights = F.broadcast(
        spark.range(_QC_D)
        .select(
            F.col("id").cast("int").alias("bucket"),
            F.expr(_QC_WEIGHT.format(b="id")).cast("long").alias("weight"),
        )
    )
    tok = (
        t["documents"]
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .where(F.length("token") > 0)
    )
    feat = tok.select(
        "doc_id",
        (F.expr(_SPARK_WHASH.format(s="token")) % _QC_D).cast("int").alias("bucket"),
    )
    scored = (
        feat.join(weights, "bucket")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"), F.sum("weight").alias("margin"))
    )
    return (
        t["documents"]
        .select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("margin", F.lit(0)).alias("margin"),
            F.round(
                F.coalesce("margin", F.lit(0))
                / F.greatest(F.coalesce("n_tokens", F.lit(0)), F.lit(1)),
                4,
            ).alias("mean_margin"),
            (F.coalesce("margin", F.lit(0)) > 0).alias("quality_pass"),
        )
    )


# Domain blocklist (engine constant — in production this is the UT1 /
# ad-domain list, dim-sized: ~4M rows ≈ 100 MB, still a broadcast).
URL_BLOCKLIST: list[str] = ["www.src2.example.com", "www.src5.example.com"]
_BLOCK_VALUES = ", ".join(f"('{h}')" for h in URL_BLOCKLIST)


@query(
    "corpus_url_filter",
    oracle=f"""
    WITH u AS (
      SELECT doc_id, lang, source,
             'https://www.' || COALESCE(NULLIF(source, ''), 'nosrc')
               || '.example.com/' || lang ||
               '/doc-' || doc_id || '?ref=rss' AS url
      FROM documents
    ), parsed AS (
      SELECT doc_id, url,
             regexp_extract(url, '^https?://([^/]+)', 1) AS host,
             regexp_extract(url, '^https?://[^/]+(/[^?#]*)', 1) AS path
      FROM u
    )
    SELECT p.doc_id, p.host, p.path,
           'https://' || p.host || p.path AS canonical_url,
           b.host IS NOT NULL AS blocked
    FROM parsed p
    LEFT JOIN (VALUES {_BLOCK_VALUES}) AS b(host) ON p.host = b.host
    """,
)
def corpus_url_filter(spark, t):
    """URL-based curation (the C4 / RefinedWeb first gate): parse each
    doc's URL with Spark's ``parse_url``, canonicalize it (strip query
    params — the dedup key for crawl re-fetches), and flag hosts on a
    blocklist.

    The fixture corpus has no URL column, so one is SYNTHESIZED
    deterministically from (source, lang, doc_id) — documented, not
    hidden; with real crawl data the column comes in the WARC header.
    What's exercised is real: ``parse_url(url, 'HOST'|'PATH')`` (JVM
    codegen, the same extraction the tweet pipeline ran on entity
    URLs), canonical-URL construction, and a broadcast LEFT join
    against the blocklist producing a keep/block verdict per doc.  At
    100 TB: the blocklist (UT1 adult list ~4M domains) broadcasts;
    URL canonicalization is narrow; per-host rollups (crawl politeness
    budgets, domain caps) group on the parsed host, not the raw URL.
    The oracle re-derives host/path with regexes, so the parse_url
    semantics are value-hash-checked.
    """
    # sanitized source: '' would synthesize the host 'www..example.com'
    # whose empty label java's URI parser rejects (parse_url -> NULL)
    # while the oracle regexp extracts it — same rule as fn_url_parse
    # (r11 empty-value survey)
    src = F.expr("coalesce(nullif(source, ''), 'nosrc')")
    url = F.concat(
        F.lit("https://www."),
        src,
        F.lit(".example.com/"),
        F.col("lang"),
        F.lit("/doc-"),
        F.col("doc_id").cast("string"),
        F.lit("?ref=rss"),
    )
    block = F.broadcast(
        spark.createDataFrame([(h,) for h in URL_BLOCKLIST], "host string")
        .withColumn("blocked_hit", F.lit(True))
    )
    parsed = t["documents"].select(
        "doc_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
    )
    return (
        parsed.join(block, "host", "left")
        .select(
            "doc_id",
            "host",
            "path",
            F.concat(F.lit("https://"), F.col("host"), F.col("path")).alias(
                "canonical_url"
            ),
            F.coalesce("blocked_hit", F.lit(False)).alias("blocked"),
        )
    )


@query(
    "text_entropy",
    oracle="""
    WITH chars AS (
      SELECT doc_id, substr(text, CAST(i AS INT), 1) AS ch
      FROM documents, LATERAL unnest(range(1, length(text) + 1)) AS u(i)
      WHERE length(text) > 0
    ), freq AS (
      SELECT doc_id, ch, count(*) AS cnt FROM chars GROUP BY doc_id, ch
    ), lens AS (
      SELECT doc_id, CAST(SUM(cnt) AS DOUBLE) AS n FROM freq GROUP BY doc_id
    ), ent AS (
      SELECT f.doc_id,
             -SUM((f.cnt / l.n) * log2(f.cnt / l.n)) AS h
      FROM freq f JOIN lens l USING (doc_id)
      GROUP BY f.doc_id
    )
    SELECT d.doc_id,
           ROUND(COALESCE(e.h, 0), 4) + 0 AS bits_per_char,
           COALESCE(e.h, 0) < 2.0 AS low_entropy
    FROM documents d LEFT JOIN ent e ON d.doc_id = e.doc_id
    """,
)
def text_entropy(spark, t):
    """Character-level Shannon entropy per document (bits/char) — the
    compression-ratio quality signal: templated or repetitive docs
    (license boilerplate, generated spam, base64 blobs masquerading as
    text) sit far from natural language's ~4 bits/char, in both
    directions.

    Completes the quality suite's signal set (length/punct gates,
    repetition share, dup-n-gram fraction, LM fluency) with the one
    model-free signal that needs NO vocabulary: explode to chars, one
    (doc, char) count agg, −Σ p·log₂p.  The per-term p is a rational
    count ratio and the sum runs over ≤ ~96 character classes, so
    ROUND(·, 4) is engine-stable (same discipline as the unigram-LM
    scorer's ln).  At 100 TB both aggs combine map-side and the
    shuffle unit is (doc, char-class) — bounded at 96 rows per doc
    regardless of length; empty docs keep a 0-entropy low_entropy
    verdict via the left join.
    """
    chars = (
        t["documents"]
        .where(F.length("text") > 0)
        .select("doc_id", F.explode(F.split("text", "(?!^)")).alias("ch"))
        .where(F.length("ch") > 0)
    )
    freq = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("cnt"))
    lens = freq.groupBy("doc_id").agg(F.sum("cnt").cast("double").alias("n"))
    p = F.col("cnt") / F.col("n")
    ent = (
        freq.join(lens, "doc_id")
        .groupBy("doc_id")
        .agg((-F.sum(p * F.log2(p))).alias("h"))
    )
    return (
        t["documents"]
        .select("doc_id")
        .join(ent, "doc_id", "left")
        .select(
            "doc_id",
            (F.round(F.coalesce("h", F.lit(0.0)), 4) + 0).alias("bits_per_char"),
            (F.coalesce("h", F.lit(0.0)) < 2.0).alias("low_entropy"),
        )
    )
