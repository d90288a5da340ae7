"""Deduplication operators (SURVEY.md §2.10, L1–L3).

The three-tier dedup ladder a training-data pipeline needs:
  L1 exact       — normalized-hash groupBy; the 100 TB default
                   (shuffle carries 32-byte hashes, not documents).
  L2 near, exact — pairwise token-set Jaccard; quadratic ground truth
                   used to validate L3 and for small candidate sets.
  L3 near, approx— MinHash + LSH banding (portable integer minhashes,
                   shared banded-candidate machinery); the scale path
                   (candidate pairs only for band collisions).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tweetdb_spark.llm.collapse import (
    _expand_rep_pairs,
    _expand_rep_pairs_capped,
    clone_key,
    collapse,
)
from tweetdb_spark.registry import query


@query(
    "dedup_exact",
    oracle="""
    SELECT sha256(lower(trim(text))) AS text_hash,
           MIN(doc_id) AS keep_doc_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact(spark, t):
    """L1: exact dedup on a normalized content hash.

    Canonical-keeper = min(doc_id) per hash.  groupBy on the hash
    spreads uniformly at any scale (sha2 is its own salt); the
    downstream "keep" set is a semi-join of documents against this.
    """
    return (
        t["documents"]
        .select("doc_id", F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


@query(
    "dedup_incremental",
    oracle="""
    WITH h AS (
      SELECT doc_id, sha256(lower(trim(text))) AS text_hash,
             doc_id % 10 = 0 AS is_new
      FROM documents
    ), seen AS (
      SELECT DISTINCT text_hash FROM h WHERE NOT is_new
    ), batch AS (
      SELECT doc_id, text_hash,
             row_number() OVER (
               PARTITION BY text_hash ORDER BY doc_id
             ) AS rn
      FROM h WHERE is_new
    )
    SELECT b.doc_id, b.text_hash,
           CAST(s.text_hash IS NOT NULL AS INTEGER) AS dup_of_corpus,
           CAST(s.text_hash IS NULL AND b.rn = 1 AS INTEGER) AS keep
    FROM batch b LEFT JOIN seen s USING (text_hash)
    """,
)
def dedup_incremental(spark, t):
    """Incremental (new-batch-vs-corpus) exact dedup — the shape a
    daily-ingest training pipeline actually runs.

    A deterministic split stands in for the arrival boundary: docs with
    ``doc_id % 10 == 0`` are "today's batch", the rest the already-
    ingested corpus.  Each batch doc gets two flags: ``dup_of_corpus``
    (its normalized hash already exists in the corpus — a hash-only
    left join) and ``keep`` (not in corpus AND first of its hash within
    the batch, via a window over the batch only).

    100 TB story: the corpus side is a 32-byte-hash projection, orders
    of magnitude smaller than the documents themselves, bucketed by
    hash at ingest so the daily join is co-located; the intra-batch
    window shuffles only the new batch (days, not the corpus).  The
    corpus hash set then grows by exactly the ``keep`` rows —
    append-only, no rewrite of history.
    """
    docs = t["documents"].select(
        "doc_id",
        F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("text_hash"),
    )
    batch = docs.where(F.col("doc_id") % 10 == 0)
    seen = (
        docs.where(F.col("doc_id") % 10 != 0)
        .select("text_hash")
        .distinct()
        .withColumn("in_corpus", F.lit(1))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("text_hash").orderBy("doc_id")
    return (
        batch.join(seen, "text_hash", "left")
        .withColumn("rn", F.row_number().over(w))
        .select(
            "doc_id",
            "text_hash",
            F.col("in_corpus").isNotNull().cast("int").alias("dup_of_corpus"),
            (F.col("in_corpus").isNull() & (F.col("rn") == 1))
            .cast("int")
            .alias("keep"),
        )
    )


@query(
    "dedup_near_jaccard",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS tokens
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(
             CAST(len(list_intersect(a.tokens, b.tokens)) AS DOUBLE)
             / (len(a.tokens) + len(b.tokens) - len(list_intersect(a.tokens, b.tokens))),
             6) AS jaccard
    FROM toks a JOIN toks b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.tokens, b.tokens)) AS DOUBLE)
          / (len(a.tokens) + len(b.tokens) - len(list_intersect(a.tokens, b.tokens)))
          >= 0.8
    """,
)
def dedup_near_jaccard(spark, t):
    """L2: exact pairwise token-set Jaccard ≥ 0.8.

    Quadratic by construction (ground truth for L3) — |A∪B| computed
    as |A|+|B|−|A∩B| so both engines use identical set primitives.
    The division is a single exact-operand double op: raw values
    match; rounded for output hygiene.  Size-guarded: refuses >50k
    docs (use dedup_minhash_banded / dedup_minhash_lsh at scale).
    """
    from tweetdb_spark.guards import exact_twin_input

    toks = exact_twin_input(
        t["documents"], "dedup_near_jaccard", "dedup_minhash_banded"
    ).select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("tokens")
    )
    a = toks.alias("a")
    b = toks.alias("b")
    inter = F.size(F.array_intersect(F.col("a.tokens"), F.col("b.tokens")))
    union = F.size(F.col("a.tokens")) + F.size(F.col("b.tokens")) - inter
    # try_divide: an empty token/gram set (NULL or degenerate text)
    # gives union 0 — DuckDB yields NULL and the threshold filter
    # drops it; ANSI `/` would crash (r11 NULL-survey catch)
    jac = F.try_divide(inter.cast("double"), union)
    # lossless size-ratio prefilter (see _size_ratio_ok): skips the
    # intersect for pairs provably under threshold, output unchanged
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .where(
            _size_ratio_ok(F.col("a.tokens"), F.col("b.tokens"), 4, 5)
            & (jac >= 0.8)
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(jac, 6).alias("jaccard"),
        )
    )


# Portable token hash (same construction as text.doc_fingerprint;
# pure integer arithmetic so Spark SQL and DuckDB agree exactly).
_SPARK_TOKHASH = (
    "aggregate(sequence(1, length(token)), cast(0 as bigint), "
    "(acc, i) -> acc + ascii(substring(token, i, 1)) * ((i * 2654435761L) % 2147483647)) "
    "% 2147483647"
)
_DUCK_TOKHASH = (
    "list_sum(list_transform(range(1, length(token) + 1), "
    "i -> ascii(substr(token, CAST(i AS INT), 1)) * ((i * 2654435761) % 2147483647))) "
    "% 2147483647"
)

_HAMMING_MAX = 3


def _simhash_group_fps(spark, reps):
    """(h, g_rep, simhash) per clone group of :func:`collapse`'s
    ``reps`` — the 32-bit tf-weighted bit-vote fingerprint, computed
    once per GROUP (a SimHash is a pure function of the tf multiset,
    so exact clones share it by construction).  NULL-text groups
    tokenize to no rows and get no fingerprint; empty-string texts do
    (split('', ' ') is [''])."""
    tok = reps.select(
        F.col("rep_id").alias("g_rep"),
        "h",
        F.explode(F.split("text", " ")).alias("token"),
    )
    tf = tok.groupBy("g_rep", "h", "token").agg(F.count("*").alias("cnt"))
    th = tf.select("token").distinct().withColumn("th", F.expr(_SPARK_TOKHASH))
    bits = (
        tf.join(F.broadcast(th), "token")
        .crossJoin(F.broadcast(spark.range(32).select(F.col("id").alias("b"))))
        .groupBy("g_rep", "h", "b")
        .agg(
            F.sum(
                # pyspark's shiftright() only takes a literal shift, so
                # the column-shift goes through SQL expr
                F.when(
                    F.expr("shiftright(th, cast(b as int)) & 1") == 1, F.col("cnt")
                ).otherwise(-F.col("cnt"))
            ).alias("s")
        )
    )
    return bits.groupBy("h", "g_rep").agg(
        F.sum(
            F.when(
                F.col("s") > 0,
                F.expr("shiftleft(cast(1 as bigint), cast(b as int))"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("simhash")
    )


def _simhash_fingerprints(spark, t):
    """(doc_id, simhash) for every document with a non-NULL text —
    single implementation shared by dedup_simhash and the graph keys
    so the Spark pipeline can never drift from the (identical) oracle
    SQL they embed.

    Collapse-first: fingerprint each clone group's representative and
    map members back through ONE equi-join on h (the per-doc form
    pushed ~800M vote rows through the (doc, bit) aggregation at 500k
    docs and died in GC).  NULL-text groups have no fingerprint, so
    the inner join drops exactly the rows the per-doc form never
    produced."""
    docs = t["documents"].select("doc_id", "text")
    gfp = _simhash_group_fps(spark, collapse(docs)[1])
    return (
        docs.select("doc_id", clone_key().alias("h"))
        .join(gfp.select("h", "simhash"), "h")
        .select("doc_id", "simhash")
    )


def _simhash_rep_pairs(spark, fp, max_hamming):
    """(m, rep_pairs): fingerprint-VALUE collapse of ``fp`` plus the
    verified rep-level pair graph (r13, sf10 rung catch).

    ``m`` is fp + rep_id where rep_id = min doc_id sharing the SAME
    32-bit fingerprint — a superset of the md5(text) clone groups
    (coincidental cross-text fingerprint collisions collapse too,
    which is sound because every consumer treats equal fingerprints
    identically: hamming 0 passes every threshold, and identical
    values collide in every band).  ``rep_pairs`` is
    (rep_a, rep_b, sh_a, sh_b) for distinct-value rep pairs that
    band-collide AND pass hamming <= max_hamming.

    Why the filter lives HERE, at rep granularity: 4×8-bit bands have
    only 256 values per band, so once the corpus holds ≫256 distinct
    fingerprints the buckets densify from RANDOM collisions — at sf10
    (500k docs) the per-doc band join enumerated ~1.9B collision rows
    and died of shuffle spill ("no space left on device", 33 GB free).
    Collapsing to values first and hamming-filtering before any
    member expansion makes enumeration O(distinct values² / 256) and
    expansion proportional to TRUE near-dup output only.
    """
    from pyspark.sql import Window as _W

    m = fp.withColumn("rep_id", F.min("doc_id").over(_W.partitionBy("simhash")))
    reps = m.where(F.col("doc_id") == F.col("rep_id")).select("doc_id", "simhash")
    bands = reps.crossJoin(
        F.broadcast(spark.range(4).select(F.col("id").alias("j")))
    ).select(
        "doc_id",
        "simhash",
        "j",
        F.expr("shiftright(simhash, cast(8 * j as int)) & 255").alias("band"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    rep_pairs = (
        a.join(
            b,
            (F.col("a.j") == F.col("b.j"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
            <= max_hamming
        )
        .select(
            F.col("a.doc_id").alias("rep_a"),
            F.col("b.doc_id").alias("rep_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return m, rep_pairs


def _simhash_band_candidates(spark, fp, max_hamming=_HAMMING_MAX):
    """Banded near-dup pairs (doc_a, doc_b, sh_a, sh_b) from
    fingerprints: 4 bands × 8 bits, equi-join on (band index, band
    value) — shared by dedup_simhash, graph_pagerank and the triangle
    count so the banding scheme the hamming ≤ 3 pigeonhole proof
    depends on lives in ONE place.

    Since r13 the enumeration goes through the fingerprint-value
    collapse (:func:`_simhash_rep_pairs`) and the hamming ≤
    ``max_hamming`` verify happens BEFORE member expansion, so the
    returned pairs are already verified — consumers' own hamming
    re-filters become no-op re-assertions.  The output pair multiset
    is IDENTICAL to the historical per-doc band join + filter: equal
    fingerprints collide in every band and have hamming 0 (the WITHIN
    leg), and a cross-group member pair band-collides/passes iff its
    rep pair does (same two fingerprint values — the CROSS leg, with
    sh columns swapped when least/greatest reorders the doc ids)."""
    m, rep_pairs = _simhash_rep_pairs(spark, fp, max_hamming)
    ma = m.select(F.col("simhash").alias("sh_a"), F.col("doc_id").alias("da"))
    mb = m.select(F.col("simhash").alias("sh_b"), F.col("doc_id").alias("db"))
    cross = (
        # rebalance before the broadcast expansion joins — same
        # output-explosion reasoning as _expand_rep_pairs (r16):
        # without it the clone-quadratic cross mass lands in the ~1
        # AQE-coalesced partition of the rep-pair frame
        rep_pairs.select("sh_a", "sh_b")
        .repartition(spark.sparkContext.defaultParallelism)
        .join(ma, "sh_a")
        .join(mb, "sh_b")
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            F.when(F.col("da") < F.col("db"), F.col("sh_a"))
            .otherwise(F.col("sh_b"))
            .alias("sh_a"),
            F.when(F.col("da") < F.col("db"), F.col("sh_b"))
            .otherwise(F.col("sh_a"))
            .alias("sh_b"),
        )
    )
    within = (
        m.alias("x")
        .join(
            m.alias("y"),
            (F.col("x.rep_id") == F.col("y.rep_id"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.simhash").alias("sh_a"),
            F.col("y.simhash").alias("sh_b"),
        )
    )
    return cross.unionAll(within)


@query(
    "dedup_simhash",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), tf AS (
      SELECT doc_id, token, count(*) AS cnt FROM tok GROUP BY doc_id, token
    ), th AS (
      SELECT token, {_DUCK_TOKHASH} AS h FROM (SELECT DISTINCT token FROM tf)
    ), bits AS (
      SELECT tf.doc_id, b.b,
             SUM(CASE WHEN (th.h >> CAST(b.b AS INT)) & 1 = 1
                      THEN tf.cnt ELSE -tf.cnt END) AS s
      FROM tf JOIN th USING (token)
      CROSS JOIN (SELECT unnest(range(0, 32)) AS b) b
      GROUP BY tf.doc_id, b.b
    ), fp AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << CAST(b AS INT)) ELSE 0 END)
                  AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id
    ), banded AS (
      SELECT doc_id, simhash, j, (simhash >> CAST(8 * j AS INT)) & 255 AS band
      FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS j) bands
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS sh_a, b.simhash AS sh_b
      FROM banded a JOIN banded b
        ON a.j = b.j AND a.band = b.band AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, bit_count(xor(sh_a, sh_b)) AS hamming
    FROM cand
    WHERE bit_count(xor(sh_a, sh_b)) <= {_HAMMING_MAX}
    """,
)
def dedup_simhash(spark, t):
    """SimHash near-dup detection with banded LSH candidate generation.

    32-bit SimHash: each token's portable hash votes ±tf on every bit;
    the fingerprint is the sign vector.  Candidates come from an
    *equi-join on (band_index, 8-bit band)* — the 100 TB-scalable move
    (shuffle keyed on band buckets, never all-pairs) — then the exact
    Hamming filter (bit_count(xor) ≤ {3}) runs only on collisions.
    A true near-dup differs in few bits, so by pigeonhole it shares at
    least one of the 4 bands.
    """
    fp = _simhash_fingerprints(spark, t)
    cand = _simhash_band_candidates(spark, fp)
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.select(
        "doc_a", "doc_b", hamming.alias("hamming")
    ).where(F.col("hamming") <= _HAMMING_MAX)


@query(
    "dedup_ngram_jaccard",
    oracle="""
    WITH grams AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, length(text) - 1),
               i -> substr(text, CAST(i AS INT), 3))) AS g
      FROM documents WHERE lang = 'en'
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                 / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))), 6)
             AS ngram_jaccard
    FROM grams a JOIN grams b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
          / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) >= 0.7
    """,
)
def dedup_ngram_jaccard(spark, t):
    """Character-3-gram Jaccard near-dup (token-order-sensitive-ish
    complement to the token-set Jaccard of dedup_near_jaccard).

    Character shingles catch token reorderings and small edits that
    token sets miss.  Scoped to one language partition — exactly how
    the quadratic ground-truth pass stays affordable at scale (run
    per-shard, validate the MinHash/SimHash approximations against it).
    Size-guarded: refuses >50k docs (use dedup_simhash at scale).
    """
    from tweetdb_spark.guards import exact_twin_input

    grams = (
        exact_twin_input(
            t["documents"], "dedup_ngram_jaccard", "dedup_simhash"
        )
        .where(F.col("lang") == "en")
        .select(
            "doc_id",
            # CASE guard like _SPARK_SHINGLES: sequence(1, n) DESCENDS
            # for n < 1, fabricating ''-grams for sub-3-char texts —
            # two EMPTY docs then scored jaccard 1.0 while DuckDB's
            # range() is empty and emits no pair (r11 empty survey)
            F.array_distinct(
                F.expr(
                    "CASE WHEN length(text) >= 3 THEN "
                    "transform(sequence(1, length(text) - 2), "
                    "i -> substring(text, i, 3)) "
                    "ELSE array() END"
                )
            ).alias("g"),
        )
    )
    a, b = grams.alias("a"), grams.alias("b")
    inter = F.size(F.array_intersect(F.col("a.g"), F.col("b.g")))
    union = F.size(F.col("a.g")) + F.size(F.col("b.g")) - inter
    # try_divide: an empty token/gram set (NULL or degenerate text)
    # gives union 0 — DuckDB yields NULL and the threshold filter
    # drops it; ANSI `/` would crash (r11 NULL-survey catch)
    jac = F.try_divide(inter.cast("double"), union)
    # lossless size-ratio prefilter (see _size_ratio_ok): skips the
    # intersect for pairs provably under threshold, output unchanged
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .where(
            _size_ratio_ok(F.col("a.g"), F.col("b.g"), 7, 10) & (jac >= 0.7)
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(jac, 6).alias("ngram_jaccard"),
        )
    )


@query(
    "dedup_embedding_cosine",
    oracle="""
    WITH n AS (
      SELECT vec_id,
             embedding,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
      FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_sum(list_transform(list_zip(a.embedding, b.embedding),
                   p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                 / (a.norm * b.norm), 6) AS cos_sim
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
            p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
          / (a.norm * b.norm) >= 0.35
    """,
)
def dedup_embedding_cosine(spark, t):
    """Embedding-cosine near-dup pairs (semantic dedup tier).

    All-pairs here (ground truth at fixture scale); the 100 TB path is
    dedup_semantic_blocked below (KMeans cells + 2-probe blocking,
    exact filter on candidates only).  τ=0.35 sits in the top tail of
    this corpus's cosine distribution (99.9th pctile ≈ 0.377).
    Size-guarded: refuses >50k vectors.
    """
    from tweetdb_spark.guards import exact_twin_input
    from tweetdb_spark.llm.similarity import cosine, dot, with_norm

    n = with_norm(
        exact_twin_input(
            t["embeddings"], "dedup_embedding_cosine", "dedup_semantic_blocked"
        )
    ).select("vec_id", "embedding", "norm")
    a, b = n.alias("a"), n.alias("b")
    cos = cosine(
        dot("a.embedding", "b.embedding"),
        F.col("a.norm"),
        F.col("b.norm"),
    )
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .where(cos >= 0.35)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cos, 6).alias("cos_sim"),
        )
    )


# Shared oracle CTE chain: exact connected-component labels over the
# simhash hamming<=1 pair graph (recursive-CTE transitive closure).
# Quadratic in N on the oracle side by design — it is the ground truth
# for the distributed label-propagation loop, run at fixture scale only.
_SIMHASH_LABELS_CTE = f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), tf AS (
      SELECT doc_id, token, count(*) AS cnt FROM tok GROUP BY doc_id, token
    ), th AS (
      SELECT token, {_DUCK_TOKHASH} AS h FROM (SELECT DISTINCT token FROM tf)
    ), bits AS (
      SELECT tf.doc_id, b.b,
             SUM(CASE WHEN (th.h >> CAST(b.b AS INT)) & 1 = 1
                      THEN tf.cnt ELSE -tf.cnt END) AS s
      FROM tf JOIN th USING (token)
      CROSS JOIN (SELECT unnest(range(0, 32)) AS b) b
      GROUP BY tf.doc_id, b.b
    ), fp AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << CAST(b AS INT)) ELSE 0 END)
                  AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id
    ), edges AS (
      SELECT a.doc_id AS u, b.doc_id AS v
      FROM fp a JOIN fp b
        ON a.doc_id < b.doc_id
       AND bit_count(xor(a.simhash, b.simhash)) <= 1
    ), sym AS (
      SELECT u, v FROM edges UNION SELECT v, u FROM edges
    ), reach AS (
      WITH RECURSIVE r(src, dst) AS (
        SELECT u, v FROM sym
        UNION
        SELECT r.src, s.v FROM r JOIN sym s ON r.dst = s.u
      )
      SELECT src, dst FROM r
    ), labels AS (
      SELECT d.doc_id,
             LEAST(d.doc_id, COALESCE(MIN(reach.dst), d.doc_id)) AS component_id
      FROM documents d LEFT JOIN reach ON reach.src = d.doc_id
      GROUP BY d.doc_id
    )
"""


@query(
    "dedup_cluster_resolve",
    eager=True,  # component fixpoint at build
    oracle=_SIMHASH_LABELS_CTE
    + """
    SELECT component_id,
           count(*) AS n_docs,
           MIN(doc_id) AS keep_doc_id
    FROM labels GROUP BY component_id
    """,
)
def dedup_cluster_resolve(spark, t):
    """Near-dup *cluster* resolution: connected components over the
    hamming ≤ 1 simhash pair graph, canonical keeper per component.

    Pairwise dedup is not enough — a≈b and b≈c must collapse to one
    cluster even when a,c aren't a pair.  Components are computed by
    iterative min-label propagation (each round every node takes the
    min label in its neighborhood; driver loop = bounded control flow
    only, all data stays distributed).  Converges in graph-diameter
    rounds with an early-stop check.  At 100 TB use the same loop
    with per-round checkpointing (cut lineage) or the large/small-star
    algorithm; the oracle is an exact recursive-CTE transitive
    closure, which proves the propagation's fixpoint.

    Collapse-first: the member-level label frame only ever fed a
    COUNT here, and counts are additive over clone groups — so the
    component aggregation runs on group rows (~#distinct texts), each
    carrying its size.  NULL-text groups have no fingerprint, hence no
    label, and stay their own singleton components through the left
    join's coalesce, exactly as the per-doc form labeled them; a
    singleton's doc_id is no other component's id, since every
    component id is the least doc_id of its own members.  Output row
    multiset unchanged: n_docs = Σ group sizes of the component,
    keep_doc_id = min rep = min member doc_id.
    """
    # checkpointed: feeds both the fingerprint pipeline and the sum
    reps = collapse(t["documents"].select("doc_id", "text"))[1].select(
        "doc_id", "rep_id", "h", "text", "n_docs"
    ).localCheckpoint(eager=True)
    glab = _simhash_group_labels(spark, reps)
    return (
        reps.join(glab.select("h", "component_id"), "h", "left")
        .groupBy(F.coalesce("component_id", "doc_id").alias("component_id"))
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


def _simhash_group_labels(spark, reps):
    """Connected-component labels (h, g_rep, component_id) over the
    simhash hamming ≤ 1 pair graph, at clone-GROUP granularity — one
    row per fingerprinted group of :func:`collapse`'s ``reps``;
    min-label propagation with pointer doubling.  Shared by
    dedup_cluster_resolve, corpus_dedup_e2e and corpus_pipeline_audit,
    which map members back through one equi-join on h.

    Edges come from the banded candidate equi-join, NOT an all-pairs
    join: hamming ≤ 1 < 4 bands, so by pigeonhole every qualifying
    pair shares a band and the banding is EXACT here (same recall-1.0
    argument dedup_simhash makes for ≤ 3).  The oracle's all-pairs
    edge SQL therefore proves the banded generation complete as a side
    effect of checking the components.

    The fixpoint runs on the REP graph alone (bounded by #distinct
    fingerprints): a member only ever inherits its rep's component,
    which is a join, not a graph problem — a clique over a clone group
    and a star onto its rep connect the same node set, and a
    cross-group member pair qualifies iff its rep pair does.
    component_id is the min doc_id of the member component: the
    rep-graph min label is the min simhash-rep id, each simhash-rep is
    the min g_rep of its value group, and each g_rep is its text
    group's min doc_id."""
    # checkpointed: the frame spans several jobs (edge checkpoint,
    # component solve, final map), each of which would otherwise
    # re-execute the token-explode × bit-vote fingerprint pipeline
    gfp = _simhash_group_fps(spark, reps).localCheckpoint(eager=True)
    m, rep_pairs = _simhash_rep_pairs(
        spark,
        gfp.select(F.col("g_rep").alias("doc_id"), "simhash"),
        max_hamming=1,
    )
    edges = rep_pairs.select(
        F.col("rep_a").alias("u"), F.col("rep_b").alias("v")
    )
    rep_nodes = m.where(F.col("doc_id") == F.col("rep_id")).select("doc_id")
    rep_labels = _min_label_components(rep_nodes, edges).withColumnRenamed(
        "doc_id", "rep_id"
    )
    return (
        gfp.select("h", "g_rep")
        .join(
            m.select(F.col("doc_id").alias("g_rep"), "rep_id"), "g_rep"
        )
        .join(rep_labels, "rep_id")
        .select("h", "g_rep", "component_id")
    )


# Edge-count bound for solving connected components driver-side (the
# broadcast-join-threshold analogue for the component fixpoint): a
# 4M-row (u, v) int64 frame is ~64 MB through Arrow — comfortably
# driver-sized — and covers every ≤sf1 fixture graph, while the
# sf10/sf100 rung graphs stay on the distributed loop.
_LOCAL_COMPONENTS_MAX_EDGES = 4_000_000


def _local_components(nodes, edges):
    """Driver-side connected components for small edge lists:
    vectorized numpy min-propagation with pointer doubling — the
    O(E log N) array form of the distributed loop, converging to the
    identical unique min-label partition.  One Arrow transfer in, one
    skinny (doc_id, component_id) frame out; isolated nodes label
    themselves through the left join's coalesce."""
    import numpy as np
    import pandas as pd

    pdf = edges.toPandas()
    if len(pdf) == 0:
        return nodes.select("doc_id", F.col("doc_id").alias("component_id"))
    u = pdf["u"].to_numpy(dtype=np.int64)
    v = pdf["v"].to_numpy(dtype=np.int64)
    # hash-based factorize + a small argsort over the (node-count-
    # sized) uniques instead of np.unique over the edge-count-sized
    # concat — sorting 5.9M endpoints was 1.9 s of the 2.4 s local
    # solve at the sf0.1 bench graph; hashing them is ~0.2 s and the
    # rank remap restores the property the fixpoint needs (index
    # order == doc_id order, so the min-INDEX fixpoint is the min
    # DOC_ID of the component)
    codes, uniq = pd.factorize(np.concatenate([u, v]))
    uniq = np.asarray(uniq, dtype=np.int64)
    order = np.argsort(uniq, kind="stable")
    rank_of_code = np.empty(len(uniq), dtype=np.int64)
    rank_of_code[order] = np.arange(len(uniq), dtype=np.int64)
    rc = rank_of_code[codes]
    ui, vi = rc[: len(u)], rc[len(u) :]
    ids = uniq[order]  # node id per rank
    lbl = np.arange(len(ids), dtype=np.int64)
    for _ in range(64):
        old = lbl.copy()
        m = np.minimum(lbl[ui], lbl[vi])
        np.minimum.at(lbl, ui, m)  # unbuffered scatter-min
        np.minimum.at(lbl, vi, m)
        lbl = np.minimum(lbl, lbl[lbl])  # pointer jump
        if np.array_equal(lbl, old):
            # no change ⇒ every edge has equal endpoint labels ⇒
            # labels constant per component, and connectivity forces
            # that constant to the component minimum
            break
    else:  # pragma: no cover - 2^64 diameter is impossible
        raise RuntimeError("local components did not converge")
    found = nodes.sparkSession.createDataFrame(
        pd.DataFrame({"doc_id": ids, "component_id": ids[lbl]})
    )
    return (
        nodes.select("doc_id")
        .join(found, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component_id", F.col("doc_id")).alias("component_id"),
        )
    )


def _min_label_components(nodes, edges):
    """Connected-component labels (doc_id, component_id) over an
    undirected edge set — min-label propagation with pointer doubling
    AND per-round edge contraction, shared by the simhash tier and the
    MinHash verdict tier.

    ``nodes`` is (doc_id); ``edges`` is (u, v) with one row per
    undirected pair.  component_id comes out as the minimum doc_id of
    the component — a pure function of the component PARTITION, not of
    the algorithm path, so the r12 contraction rewrite is
    checksum-identical to the r11 plain loop by construction (A/B'd at
    sf0.01/sf0.1/sf1 on all five consuming keys).

    **Precondition (r16 ADVICE): every edge endpoint must appear in
    ``nodes``.**  The two size-gated strategies only agree under it:
    the local numpy path labels every edge ENDPOINT (then left-joins
    onto ``nodes``, silently dropping labels for endpoints outside
    it), while the distributed loop only ever labels rows of ``nodes``
    (an endpoint missing from ``nodes`` still PROPAGATES its id as a
    min-label candidate through the edge frame).  A caller passing
    edges over a superset of ``nodes`` — e.g. edges built before a
    filter that ``nodes`` reflects — could therefore get
    strategy-dependent labels.  Every current caller derives both
    frames from the same candidate set, satisfying this by
    construction.

    r11 shape: every round re-joined the FULL symmetric edge list
    against current labels even after most components had converged,
    plus a changed-rows count join (sf0.1 verdict graph, 5.9M sym
    rows: 5 rounds, 8.2 s).  r12 shape (this one):

    - **neighbor-min runs on a CONTRACTED frame** ``E`` whose
      endpoints are current *labels*: after each round every edge is
      rewritten to (label(u), label(v)), self-loops dropped, distinct.
      Converged components vanish from ``E`` entirely, so round k+1
      only pays for still-open components — near-clique dup clusters
      collapse in round 1 and cost nothing after (sf0.1: E goes
      5.9M → 0 in two rounds, loop 3.5 s).
    - **doubling is unchanged**: the grand step (label :=
      label-of-label) composes the CUMULATIVE node→label map with
      itself, so the O(log diameter) bound survives contraction — a
      descending 59-hop chain (the probe that killed a fixed-cap
      variant in verification) still converges logarithmically.
      Propagation through the contracted frame is ≥ as fast as the
      per-node form: a node inherits the min over its whole label
      group's neighborhood, a superset of its own.
    - **convergence**: when the contracted frame empties, labels are
      constant per component only in LABEL space — per-node labels can
      still be stale pointers.  (r12 regression, caught in r13 review:
      on the path 1-2-3-4 the frame empties with label[4]=2 while
      label[2]=1, because node 4's edge was contracted into label
      space and closed there before node 4's own pointer caught up.
      Near-clique graphs converge in lockstep, which is why the sf0.01
      /0.1/1 A/B checksums missed it; chain-shaped clusters do not.)
      So the emptiness probe is only a TRIGGER: we then pointer-jump
      labels to the per-node fixpoint and re-verify against the
      ORIGINAL edge list before trusting the exit.  That final verify
      is one full-frame join paid once — the r11 shape paid it every
      round.

    **Size-gated local strategy (r15)**: below
    ``_LOCAL_COMPONENTS_MAX_EDGES`` the edge list is solved on the
    driver with vectorized numpy min-propagation instead — the same
    strategy pick Catalyst makes when it swaps a shuffle join for a
    broadcast join under a size threshold.  Profiling the sf0.1 bench
    graph (5k nodes, 2.96M edges) showed the distributed loop spent
    7.6 of its 8.2 s in nine localCheckpoint materializations across
    ~60 scheduler jobs — pure fixed overhead at that scale — while
    the numpy fixpoint is milliseconds.  The distributed loop remains
    the 100 TB path (and still runs at the sf10/sf100 rungs, whose
    graphs exceed the bound); both paths compute the identical unique
    min-label partition, asserted by
    tests/test_llm_ops.py::test_local_and_distributed_components_agree.
    """
    # One materialization either way: the edge checkpoint both cuts
    # the (banding+verify) lineage and backs the strategy gate; the
    # symmetric frame is a cheap union VIEW over the checkpoint (the
    # r14 form materialized sym itself — twice the rows written for
    # the same lineage cut).
    edges = edges.localCheckpoint(eager=True)
    if edges.count() <= _LOCAL_COMPONENTS_MAX_EDGES:
        return _local_components(nodes, edges)
    sym = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )  # reads the checkpoint; kept for the final verify
    labels = nodes.select("doc_id", F.col("doc_id").alias("component_id"))
    e = sym
    for i in range(64):
        # min label adjacent to each still-open label node (e's
        # endpoints are label values after round 1, node ids before)
        neighbor_min = e.groupBy(F.col("u").alias("lbl")).agg(
            F.min("v").alias("nmin")
        )
        parent = labels.select(
            F.col("doc_id").alias("p_id"), F.col("component_id").alias("grand")
        )
        new_labels = (
            labels.join(
                neighbor_min, labels.component_id == neighbor_min.lbl, "left"
            )
            .join(parent, labels.component_id == parent.p_id, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("component_id"),
                    F.coalesce("nmin", F.col("component_id")),
                    F.coalesce("grand", F.col("component_id")),
                ).alias("component_id"),
            )
        )
        new_labels = new_labels.localCheckpoint(eager=True)
        labels = new_labels
        # contract: rewrite both endpoints through the node→label map
        # (endpoints are always node ids, valid keys of ``labels``),
        # drop closed edges, dedupe — the frame shrinks to the open
        # frontier.  distinct() cost is bounded by the shrinking frame,
        # not the original edge count, after round 1.
        lu = labels.select(F.col("doc_id").alias("u"), F.col("component_id").alias("lu"))
        lv = labels.select(F.col("doc_id").alias("v"), F.col("component_id").alias("lv"))
        e = (
            e.join(lu, "u")
            .join(lv, "v")
            .where(F.col("lu") != F.col("lv"))
            .select(F.col("lu").alias("u"), F.col("lv").alias("v"))
            .distinct()
        )
        e = e.localCheckpoint(eager=True)
        if not e.isEmpty():
            continue
        # Contracted frame is empty — resolve stale per-node pointers,
        # then prove the exit on the original edges (see docstring).
        labels = _pointer_jump_fixpoint(labels)
        lu = labels.select(F.col("doc_id").alias("u"), F.col("component_id").alias("lu"))
        lv = labels.select(F.col("doc_id").alias("v"), F.col("component_id").alias("lv"))
        e = (
            sym.join(lu, "u")
            .join(lv, "v")
            .where(F.col("lu") != F.col("lv"))
            .select(F.col("lu").alias("u"), F.col("lv").alias("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        if e.isEmpty():
            break
    else:  # pragma: no cover - 2^64 diameter is impossible
        raise RuntimeError("connected components did not converge")
    return labels


def _pointer_jump_fixpoint(labels):
    """Iterate component_id := min(component_id, labels[component_id])
    until no row changes.  Labels form a decreasing pointer forest
    (label[n] <= n and every label value is a node id), so this is
    plain pointer doubling: O(log depth) rounds on a node-count-sized
    frame, no edge frame involved."""
    for _ in range(64):
        parent = labels.select(
            F.col("doc_id").alias("p_id"), F.col("component_id").alias("grand")
        )
        new_labels = (
            labels.join(parent, labels.component_id == parent.p_id, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("component_id"),
                    F.coalesce("grand", F.col("component_id")),
                ).alias("component_id"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .where(F.col("n.component_id") != F.col("o.component_id"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(  # pragma: no cover - 2^64 chain depth impossible
        "pointer jumping did not converge"
    )


@query(
    "corpus_dedup_e2e",
    eager=True,  # component fixpoint at build
    oracle=_SIMHASH_LABELS_CTE
    + """
    , lab AS (
      SELECT l.doc_id, l.component_id, md5(d.text) AS h, d.n_chars
      FROM labels l JOIN documents d USING (doc_id)
    ), canon AS (
      SELECT component_id, doc_id AS keep_doc_id, h AS keep_h
      FROM (SELECT lab.*, row_number() OVER (
                PARTITION BY component_id
                ORDER BY n_chars DESC, doc_id) AS rn FROM lab)
      WHERE rn = 1
    )
    SELECT lab.doc_id, lab.component_id,
           lab.doc_id = canon.keep_doc_id AS keep,
           canon.keep_doc_id,
           CASE WHEN lab.doc_id = canon.keep_doc_id THEN 'kept'
                WHEN lab.h = canon.keep_h THEN 'exact_dup'
                ELSE 'near_dup' END AS reason
    FROM lab JOIN canon USING (component_id)
    """,
)
def corpus_dedup_e2e(spark, t):
    """End-to-end dedup verdict — the single table a training pipeline
    feeds downstream: for EVERY doc, its dup-cluster id, whether it
    survives, which doc superseded it, and why.

    Composition of the ladder's tiers in one pass: simhash components
    (exact duplicates have identical fingerprints, so hamming-0 edges
    subsume the L1 exact tier; hamming ≤ 1 adds the near tier) →
    canonical pick per cluster by quality (longest text wins, doc_id
    tiebreak — at 100 TB substitute the text_quality score) → reason
    codes ('kept' / 'exact_dup' = byte-identical to the keeper /
    'near_dup').  Everything after the component loop is one window
    over component_id plus one broadcast-sized join back — no new
    shuffle class beyond dedup_cluster_resolve.  The oracle replays
    the full chain: recursive-CTE components + the same window, so
    cluster membership, canonical choice, and reason codes are all
    value-hash-checked.

    Collapse-first: every output column is a function of
    (doc_id, clone key, the group's component, the component's
    keeper), so the component solve and the keeper run on group rows
    (~#distinct texts) and members map back by clone key through two
    small-frame equi-joins.  The member-level keeper order
    (n_chars DESC NULLS LAST, doc_id) collapses exactly onto groups:
    each group carries its own first member under that order as
    ``best``, and the component's first member is the least ``best``
    over its groups.  ``best`` orders by the member's own n_chars, so
    this stays exact even if a clone's stored n_chars disagreed with
    its text.  NULL-text docs are their own kept singletons through
    the left joins' coalesces, exactly as the per-doc form labeled
    them.
    """
    # struct order = (n_chars DESC NULLS LAST, doc_id); bitwise NOT
    # reverses the order of every long without overflow
    best = F.min(
        F.struct(
            F.col("n_chars").isNull(), F.bitwise_not("n_chars"), F.col("doc_id")
        )
    )
    docs = t["documents"].select("doc_id", "text", "n_chars")
    # checkpointed: feeds the fingerprint pipeline and the keeper
    reps = collapse(docs, best=best)[1].select(
        "doc_id", "rep_id", "h", "text", "best"
    ).localCheckpoint(eager=True)
    glab = _simhash_group_labels(spark, reps)
    canon = (
        reps.join(glab.select("h", "component_id"), "h")
        .groupBy("component_id")
        .agg(F.min(F.struct("best", "h")).alias("k"))
        .select(
            "component_id",
            F.col("k.best.doc_id").alias("keep_doc_id"),
            F.col("k.h").alias("keep_h"),
        )
    )
    keep_id = F.coalesce("keep_doc_id", F.col("doc_id"))
    return (
        docs.select("doc_id", clone_key().alias("h"))
        .join(glab.select("h", "component_id"), "h", "left")
        .withColumn(
            "component_id", F.coalesce("component_id", F.col("doc_id"))
        )
        .join(canon, "component_id", "left")
        .select(
            "doc_id",
            "component_id",
            (F.col("doc_id") == keep_id).alias("keep"),
            keep_id.alias("keep_doc_id"),
            F.when(F.col("doc_id") == keep_id, F.lit("kept"))
            .when(F.col("h") == F.col("keep_h"), F.lit("exact_dup"))
            .otherwise(F.lit("near_dup"))
            .alias("reason"),
        )
    )


@query(
    "corpus_pipeline_audit",
    eager=True,  # component fixpoint at build
    oracle=_SIMHASH_LABELS_CTE
    + """
    , lab AS (
      SELECT l.doc_id, l.component_id, d.n_chars
      FROM labels l JOIN documents d USING (doc_id)
    ), canon AS (
      SELECT component_id, doc_id AS keep_doc_id
      FROM (SELECT lab.*, row_number() OVER (
                PARTITION BY component_id
                ORDER BY n_chars DESC, doc_id) AS rn FROM lab)
      WHERE rn = 1
    ), stats AS (
      SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
             count(*) AS n_distinct
      FROM tf GROUP BY doc_id
    ), g AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, len(string_split(text, ' ')) - 6),
               i -> array_to_string(string_split(text, ' ')[i:i+7], ' ')))
               AS grams
      FROM documents
    ), bench AS (
      SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 7 = 0
    ), contaminated AS (
      SELECT DISTINCT tr.doc_id
      FROM (SELECT doc_id, unnest(grams) AS gram FROM g
            WHERE doc_id % 7 <> 0) tr
      JOIN bench USING (gram)
    ), audit AS (
      SELECT d.doc_id, d.lang,
             d.doc_id % 7 <> 0 AS is_train,
             CASE WHEN s.n_tokens BETWEEN 20 AND 1000
                   AND CAST(s.n_distinct AS DOUBLE) / s.n_tokens > 0.2
                  THEN 1 ELSE 0 END AS quality_pass,
             lab.doc_id = canon.keep_doc_id AS dedup_keep,
             c.doc_id IS NULL AS decontam_clean
      FROM documents d
      JOIN stats s USING (doc_id)
      JOIN lab ON lab.doc_id = d.doc_id
      JOIN canon ON canon.component_id = lab.component_id
      LEFT JOIN contaminated c ON c.doc_id = d.doc_id
    )
    SELECT doc_id, lang, is_train, quality_pass, dedup_keep,
           decontam_clean,
           (is_train AND quality_pass = 1 AND dedup_keep
            AND decontam_clean) AS selected,
           CASE WHEN is_train AND quality_pass = 1 AND dedup_keep
                 AND decontam_clean
                THEN ((doc_id % 2147483647) * 2654435761) % 2147483647 % 8
                ELSE -1 END AS shard
    FROM audit
    """,
)
def corpus_pipeline_audit(spark, t):
    """Flagship curation audit: EVERY doc's disposition through the
    full training-data pipeline in one table — benchmark split,
    quality gate, near-dup verdict, decontamination, and the output
    shard the survivors land in.

    Composes the suite's stages end-to-end: is_train (deterministic
    doc_id % 7 holdout, matching text_decontaminate's bench split) →
    quality_pass (corpus_curate's length + diversity gate) →
    dedup_keep (corpus_dedup_e2e's component-canonical verdict, so
    exact AND near duplicates drop) → decontam_clean (no 8-gram
    shared with the bench split; vacuously true for bench docs, which
    is_train already excludes) → selected = the conjunction → shard =
    portable multiplicative hash % 8 for selected docs, -1 otherwise
    (sentinel, not NULL — a nullable int column lands as float64 in
    one engine's pandas view and not the other's).

    One pass per signal, each an equi-join back to doc_id: the audit
    is the union of the stages' shuffles, nothing quadratic — at
    100 TB the `selected`+`shard` pair drives the final partitioned
    write, and this table IS the pipeline's audit trail (why did doc
    X drop? which stage?).  The oracle replays every stage, so the
    whole pipeline composition is value-hash-checked.

    Collapse-first: token stats and the 8-gram set are pure functions
    of the TEXT, so both explodes run once per clone group
    (~#distinct texts) instead of per member (~250M + 215M exploded
    rows at 5M docs in the per-member form).  Contamination is the one
    signal that is NOT text-pure (it depends on each member's
    doc_id % 7 split), but it factors exactly through two per-group
    member flags: a group's grams enter the bench set iff the group
    HAS a bench member, and a TRAIN member is contaminated iff its
    group's grams intersect that set.  decontam_clean for bench docs
    stays vacuously true (the member form never put them in the
    contaminated set), hence the `~is_train OR clean` disjunction.
    NULL-text docs drop out through the inner stats join on h exactly
    as they dropped out of the per-doc inner stats join (explode of a
    NULL split yields no rows).
    """
    d = t["documents"]
    # One row per clone group: rep text + the two split flags
    # contamination needs.  Checkpointed because it feeds three
    # branches (rep explode, bench-gram set, contamination map-back).
    reps = collapse(
        d.select("doc_id", "text"),
        has_bench=F.max((F.col("doc_id") % 7 == 0).cast("int")),
        has_train=F.max((F.col("doc_id") % 7 != 0).cast("int")),
    )[1].select("h", "text", "has_bench", "has_train").localCheckpoint(eager=True)
    rtok = reps.select("h", F.explode(F.split("text", " ")).alias("token"))
    gstats = rtok.groupBy("h").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("token").alias("n_distinct"),
    )
    verdict = corpus_dedup_e2e(spark, t).select(
        "doc_id", F.col("keep").alias("dedup_keep")
    )
    grams = F.expr(
        "CASE WHEN size(split(text, ' ')) >= 8 THEN "
        "array_distinct(transform(sequence(1, size(split(text, ' ')) - 7), "
        "i -> array_join(slice(split(text, ' '), i, 8), ' '))) "
        "ELSE array() END"
    )
    g = reps.select("h", "has_bench", "has_train", grams.alias("grams"))
    bench = (
        g.where(F.col("has_bench") == 1)
        .select(F.explode("grams").alias("gram"))
        .distinct()
    )
    contaminated_h = (
        g.where(F.col("has_train") == 1)
        .select("h", F.explode("grams").alias("gram"))
        .join(bench, "gram")
        .select("h")
        .distinct()
        .withColumn("is_contaminated", F.lit(1))
    )
    is_train = (F.col("doc_id") % 7) != 0
    quality_pass = F.when(
        F.col("n_tokens").between(20, 1000)
        & (F.col("n_distinct").cast("double") / F.col("n_tokens") > 0.2),
        1,
    ).otherwise(0)
    audit = (
        d.select("doc_id", "lang", clone_key().alias("h"))
        .join(gstats, "h")
        .join(verdict, "doc_id")
        .join(contaminated_h, "h", "left")
        .select(
            "doc_id",
            "lang",
            is_train.alias("is_train"),
            quality_pass.alias("quality_pass"),
            "dedup_keep",
            # a doc is unclean only if it is a TRAIN doc of a
            # contaminated text group — bench members of the same
            # group were never in the member form's contaminated set
            (~is_train | F.col("is_contaminated").isNull()).alias(
                "decontam_clean"
            ),
        )
    )
    selected = (
        F.col("is_train")
        & (F.col("quality_pass") == 1)
        & F.col("dedup_keep")
        & F.col("decontam_clean")
    )
    return audit.select(
        "doc_id",
        "lang",
        "is_train",
        "quality_pass",
        "dedup_keep",
        "decontam_clean",
        selected.alias("selected"),
        F.when(
            selected,
            F.expr("((doc_id % 2147483647) * 2654435761) % 2147483647 % 8"),
        )
        .otherwise(F.lit(-1))
        .cast("bigint")
        .alias("shard"),
    )


def _np_kmeans(X, k, seed=42, iters=20, chunk=8192):
    """Deterministic vectorized Lloyd's k-means for coarse-quantizer
    training on a driver-side bounded sample (r15; see the call-site
    note in dedup_semantic_blocked).  k-means++ D² seeding with a
    seeded RandomState, chunked assignment so the distance matrix
    never exceeds chunk×k doubles, empty cells keep their previous
    center.  Everything is fixed-shape numpy on a fixed-order input —
    byte-stable run to run, unlike a distributed fit's arrival-order
    float reductions."""
    import numpy as np

    X = np.asarray(X, dtype=np.float64)
    # Non-finite screen (r16 ADVICE): _valid_embeddings only drops
    # NULL/empty VECTORS, so a NaN/Inf ELEMENT inside a row would
    # poison the D² seeding probabilities (rs.choice raises
    # "probabilities contain NaN") instead of degrading gracefully.
    # Drop those rows from the training sample only — downstream
    # assignment still sees them and parks them in some cell.
    finite = np.isfinite(X).all(axis=1)
    if not finite.all():
        X = X[finite]
    if len(X) == 0:
        raise ValueError(
            "k-means training sample is empty: no finite embedding rows "
            "(all candidates NULL/empty or containing NaN/Inf elements)"
        )
    n = len(X)
    k = max(1, min(k, n))
    rs = np.random.RandomState(seed)
    C = np.empty((k, X.shape[1]), dtype=np.float64)
    C[0] = X[rs.randint(n)]
    d2 = ((X - C[0]) ** 2).sum(axis=1)
    for j in range(1, k):
        tot = d2.sum()
        idx = rs.choice(n, p=d2 / tot) if tot > 0 else rs.randint(n)
        C[j] = X[idx]
        np.minimum(d2, ((X - C[j]) ** 2).sum(axis=1), out=d2)
    assign = np.empty(n, dtype=np.int64)
    for _ in range(iters):
        c2 = (C * C).sum(axis=1)
        for s in range(0, n, chunk):
            G = X[s : s + chunk] @ C.T
            assign[s : s + chunk] = np.argmin(c2[None, :] - 2.0 * G, axis=1)
        newC = np.zeros_like(C)
        np.add.at(newC, assign, X)
        counts = np.bincount(assign, minlength=k).astype(np.float64)
        nonempty = counts > 0
        newC[nonempty] /= counts[nonempty, None]
        newC[~nonempty] = C[~nonempty]
        shift = ((newC - C) ** 2).sum()
        C = newC
        if shift < 1e-12:
            break
    return C


@query("dedup_semantic_blocked", oracle=None, eager=True)  # quantizer fit at build  # cell-blocked ≈ → rows-only
def dedup_semantic_blocked(spark, t):
    """Cell-blocked semantic near-dup — the 100 TB path for
    dedup_embedding_cosine, executable (not just prose in SCALE.md).

    A KMeans coarse quantizer assigns every vector a cell; candidate
    pairs are generated by an *equi-join on cell id* (each vector
    blocks into its 3 nearest cells, so border pairs split across
    neighboring cells still collide), then the exact cosine ≥ τ
    filter runs only on candidates.  Complexity drops from N²/2 to Σ|cell|² — with C
    balanced cells that's a C× reduction, and the cell id doubles as
    the table's physical partitioning at scale.  **k scales with the
    corpus (k = max(8, N/300), i.e. ~300-vector cells)** so the
    within-cell verify stays constant-cost per cell as N grows —
    standard IVF practice; a fixture-fixed k made the sf0.1→sf1 step
    go 21× instead of ~linear (SCALE.md ladder).  Approximate (a pair
    split across non-adjacent cells is missed) → rows-only; recall vs
    the exact all-pairs twin is measured in tests.

    **Index-build scale posture (r13, sf10 rung catch)**: the r12
    form fit KMeans on the FULL corpus and ranked cells via an N×k
    crossJoin + per-vector rank window — 133M rows through a window
    at sf10 (200k vecs × 666 cells), ~30 min for one key.  Standard
    IVF practice applies on both counts: the coarse quantizer trains
    on a bounded sample (~100 vectors per centroid, ≥50k), and the
    3-nearest-cell assignment is one Arrow-batched BLAS product per
    vector batch against the broadcast centroid matrix — N·k
    multiply-adds inside numpy, 3 rows per vector out, no N×k row
    explosion.  argsort(kind="stable") breaks d2 ties by cell id,
    matching the old window's (d2, cell_id) order.

    **Output-size bound (r15, r14 verdict ask #2)**: above
    ``_LSH_EXACT_PAIRS_MAX_DOCS`` valid vectors the member-pair
    expansion switches to the bounded per-doc
    top-``_LSH_PAIRS_PER_DOC`` form (cos_sim DESC) — see the inline
    note at the return site and dedup_minhash_banded's docstring for
    the generator's proof sketch.
    """
    import numpy as np

    from tweetdb_spark.llm.similarity import _valid_embeddings

    # NULL/empty vectors crash KMeans.fit (array_to_vector NPE / dim-0
    # sample) and can never clear a positive cosine threshold — same
    # index-ingest guard every ANN tier applies (r13 rows-only edge
    # survey catch, sweeps/rows_only_survey_r13.log).  Zero-NORM
    # vectors are equally unrankable (cosine NaN fails every mask) and
    # are dropped with them — in the pre-collapse form they rode along
    # producing no pairs; dropping them up front keeps that contract.
    # NaN norms must be dropped explicitly (ADVICE r13): Spark orders
    # NaN above every number, so `sq > 0` PASSES a NaN-containing
    # embedding — two docs sharing one would collapse into a single
    # xxhash64 group and emit a cos_sim-1.0 pair the pre-collapse
    # numpy verify (NaN cosine, no emit) never produced.
    raw = _valid_embeddings(t["embeddings"])
    sq = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    raw = raw.where((sq > 0) & ~F.isnan(sq))
    # Exact-vector collapse (r13 sf100 rung catch — the same
    # collapse-first posture as the text tiers' md5(text) collapse):
    # clone replicas carry byte-identical embeddings, so the ×1000
    # clone mass of the sf100 fixture made the within-cell gram
    # verify quadratic in multiplicity (GC death at 2M vectors).
    # Quantize / assign / verify only the min-vec_id representative
    # of each distinct vector (xxhash64 over the float array — the
    # same ~2⁻⁶⁴ collision trust the token-id verify places in
    # xxhash64), then expand rep pairs back to member pairs as pure
    # (id, id, double) generation via _expand_rep_pairs: identical
    # vectors have cosine exactly 1 ≥ τ, so every within-group pair
    # is a pair, and a cross-group member pair verifies to exactly
    # its rep pair's cosine.
    # Collapse via groupBy, not a window (r15): the r13 window form
    # pushed 2M embedding-carrying rows (~600 MB at sf100) through the
    # partitionBy(h) exchange, and every downstream consumer (m, arrs,
    # ranked) re-executed it.  The groupBy ships only (h, vec_id)
    # pairs — embeddings never ride the collapse shuffle — and the
    # rep frame `e` reaches its embeddings through an equi-join on h
    # that AQE broadcasts whenever the distinct-vector side is small
    # (plan-asserted at fixture scale).  Same (doc_id → min-vec_id)
    # mapping, identical outputs.
    grp = (
        raw.select(F.xxhash64("embedding").alias("h"), "vec_id")
        .groupBy("h")
        .agg(F.min("vec_id").alias("rep_id"))
    )
    mem = (
        raw.select(
            F.xxhash64("embedding").alias("h"),
            F.col("vec_id").alias("doc_id"),
        )
        .join(grp, "h")
        .select("doc_id", "rep_id")
    )
    e = (
        raw.select(F.xxhash64("embedding").alias("h"), "vec_id", "embedding")
        .join(grp, "h")
        .where(F.col("vec_id") == F.col("rep_id"))
        .select("vec_id", "embedding")
    )
    # k scales with UNIQUE vectors (~300 reps/cell — the verify-cost
    # intent; clone mass no longer inflates the cell count), but the
    # quantizer still FITS on a sample of the RAW corpus, so at clone
    # scales the training distribution is the member-weighted one the
    # pre-collapse form saw.
    n_rep = grp.count()
    k = max(8, n_rep // 300)  # constant ~300-UNIQUE-vector cells
    fit_target = max(50_000, 100 * k)  # ~100 training vectors/centroid
    n_raw = raw.count()
    # Explicit empty-input error (r16 ADVICE): with zero valid
    # embeddings the driver-side fit would otherwise die inside
    # np.stack with "need at least one array to stack" — opaque
    # compared to the old MLlib fit error it replaced.
    if n_raw == 0:
        raise ValueError(
            "dedup_semantic_blocked: embeddings table has no valid "
            "(non-NULL, non-empty) vectors to fit the quantizer on"
        )
    # seed MUST be passed as a keyword pair with fraction=: PySpark
    # 4.1.2's sample(0.025, seed=42) overload shim silently DROPS a
    # keyword seed when fraction is positional, drawing a fresh random
    # seed per invocation — root cause of the r15 run-to-run jitter
    # (~±3e4 member pairs at the sf100 rung; see
    # sweeps/ab_r15_semantic_cap.log bisection).
    fit_df = (
        raw
        if n_raw <= fit_target
        else raw.sample(fraction=fit_target / n_raw, seed=42)
    )
    # Driver-side numpy Lloyd on the BOUNDED training sample (r15):
    # the MLlib fit was both the key's dominant cost once the
    # expansion was capped (~30 s of its 62 s at the sf100 rung —
    # k-means|| init + Lloyd passes as separate distributed jobs over
    # a 50k-row frame) and, distributed, run-to-run NONDETERMINISTIC
    # (treeAggregate arrival-order float reduction jittered centers
    # in the last ulps and moved the sf100 pair count by ~1e4 between
    # identical runs; pinning it to one partition restored
    # determinism but made it slower still).  Training a coarse
    # quantizer on a collected bounded sample is the standard IVF
    # pattern (faiss trains driver-side): the transfer is ~100
    # vectors/centroid — fit_target rows ≈ 25 MB at 64 dims, CONSTANT
    # in corpus size, index metadata not corpus data — and vectorized
    # Lloyd over it runs in well under a second, deterministically
    # (seeded RandomState, fixed chunking, stable scan order).
    sample_pdf = fit_df.select("embedding").toPandas()
    X = np.stack(sample_pdf["embedding"].to_numpy()).astype(np.float64)
    centers = _np_kmeans(X, k, seed=42)

    bc = spark.sparkContext.broadcast(centers)

    def _top3_cells(batches):
        import numpy as np
        import pandas as pd

        C = np.asarray(bc.value, dtype=np.float64)
        c2 = (C * C).sum(axis=1)
        nb = min(3, C.shape[0])
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            # ||v||² is constant per row — rank-invariant, omitted
            d2 = c2[None, :] - 2.0 * (V @ C.T)
            idx = np.argsort(d2, axis=1, kind="stable")[:, :nb]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy().repeat(nb),
                    "embedding": pdf["embedding"].to_numpy().repeat(nb),
                    "block": idx.ravel().astype("int32"),
                }
            )

    ranked = e.select("vec_id", "embedding").mapInPandas(
        _top3_cells, "vec_id bigint, embedding array<float>, block int"
    )
    # Within-cell verify as one BLAS gram matrix per cell (r13): the
    # r12 self-join evaluated the zip_with/aggregate cosine — a
    # CodegenFallback interpreted path — once per candidate pair
    # (~270M pairs × 64 dims at sf10).  applyInPandas computes each
    # cell's pairwise cosines as chunked float64 matrix products;
    # zero-norm rows yield NaN and fail the threshold exactly like
    # try_divide's NULL.  Chunking bounds memory even if KMeans hands
    # back a degenerate mega-cell.
    def _block_pairs(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "vec_a": pd.Series(dtype="int64"),
                "vec_b": pd.Series(dtype="int64"),
                "cos_sim": pd.Series(dtype="float64"),
            }
        )
        if len(pdf) < 2:
            return empty
        V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        ids = pdf["vec_id"].to_numpy()
        norms = np.sqrt((V * V).sum(axis=1))
        out = []
        chunk = 2048
        for s in range(0, len(ids) - 1, chunk):
            t_ = min(s + chunk, len(ids))
            G = V[s:t_] @ V.T  # (t_-s, n)
            denom = np.outer(norms[s:t_], norms)
            with np.errstate(divide="ignore", invalid="ignore"):
                C = np.where(denom > 0, G / denom, np.nan)
            # strict upper triangle in GLOBAL index space: j > i
            gi = np.arange(s, t_)[:, None]
            gj = np.arange(len(ids))[None, :]
            with np.errstate(invalid="ignore"):
                m = (gj > gi) & (C >= 0.35)
            ii, jj = np.nonzero(m)
            if len(ii) == 0:
                continue
            a_ids, b_ids = ids[ii + s], ids[jj]
            out.append(
                pd.DataFrame(
                    {
                        "vec_a": np.minimum(a_ids, b_ids),
                        "vec_b": np.maximum(a_ids, b_ids),
                        "cos_sim": np.round(C[ii, jj], 6),
                    }
                )
            )
        return pd.concat(out) if out else empty

    rep_pairs = (
        ranked.groupBy("block")
        .applyInPandas(
            _block_pairs, "vec_a bigint, vec_b bigint, cos_sim double"
        )
        .distinct()  # a pair can collide in both of its shared blocks
        .select(
            F.col("vec_a").alias("rep_a"),
            F.col("vec_b").alias("rep_b"),
            "cos_sim",
        )
    )
    # identical vectors: cosine exactly 1 (the verify's round-6 value
    # for a self-pair is 1.0 too — v·v/(‖v‖‖v‖) differs from 1 only
    # in the last ulp, under the 1e-6 rounding)
    #
    # Output-size bound (r15, r14 verdict ask #2): the full member-pair
    # expansion is quadratic in clone multiplicity — the sf100 fixture
    # (2M valid vectors at 1000× clone mass) made this key emit 4.95B
    # pair rows in 182.5 s (sweeps/sf100_r14_llm_rung.log), the
    # heaviest LLM rung line, for a diagnostic output no pipeline
    # consumes (dedup_minhash_verdicts is the one-row-per-doc
    # production form).  Same conditional cap dedup_minhash_banded got
    # in r14: at fixture scales (≤ _LSH_EXACT_PAIRS_MAX_DOCS valid
    # vectors — covers every driver/pytest scale, so outputs there are
    # byte-identical to the uncapped form) the pair list stays EXACT;
    # above it, emit per vec_a only its _LSH_PAIRS_PER_DOC most-similar
    # neighbors (cos_sim DESC, vec_b tiebreak) via the bounded
    # per-source-top-k generator — output linear in corpus size,
    # never materializing the clone-quadratic mass.
    if n_raw <= _LSH_EXACT_PAIRS_MAX_DOCS:
        expanded = _expand_rep_pairs(rep_pairs, mem, "cos_sim", 1.0)
    else:
        expanded = _expand_rep_pairs_capped(
            rep_pairs, mem, "cos_sim", 1.0, _LSH_PAIRS_PER_DOC,
            descending=True,
        )
    return expanded.select(
        F.col("doc_a").alias("vec_a"),
        F.col("doc_b").alias("vec_b"),
        "cos_sim",
    )


# dedup_minhash_lsh output bound (r13, verdict ask #8): exact pair
# list up to this many documents (covers every fixture scale the
# twin/recall pytests and the driver grade: sf0.001/0.01/0.1 = 50/500/
# 5000 docs); beyond it, a per-doc nearest-neighbor sample bounded at
# _LSH_PAIRS_PER_DOC rows/doc keeps output LINEAR in corpus size
# (sf1's 50k clone-heavy docs used to emit a 297M-row pair list).
_LSH_EXACT_PAIRS_MAX_DOCS = 10_000
_LSH_PAIRS_PER_DOC = 100


def _size_ratio_ok(arr_a, arr_b, num: int, den: int):
    """LOSSLESS set-size prefilter for a Jaccard ≥ num/den verify:
    J(A,B) = |A∩B|/|A∪B| ≤ min(|A|,|B|)/max(|A|,|B|), so any pair with
    den·min < num·max is provably below threshold and the expensive
    ``array_intersect`` never runs for it (codegen short-circuits the
    AND).  Integer arithmetic on exact set sizes — no float edge: a
    rational J < num/den with denominator ≤ |A∪B| sits ≥ 1/(den·|A∪B|)
    below the threshold, orders of magnitude beyond double ulp, so the
    float threshold filter and this bound agree on every pair
    (r13 A/B: candidate survivors identical, 42% of sf0.1 candidates
    skip the intersect).  Arrays are non-NULL at every call site
    (empty signatures are dropped before banding)."""
    sa, sb = F.size(arr_a), F.size(arr_b)
    return F.least(sa, sb) * den >= F.greatest(sa, sb) * num


@query("dedup_minhash_lsh", oracle=None)  # approx candidates → rows-only
def dedup_minhash_lsh(spark, t):
    """L3: MinHash+LSH near-dup pairs (token Jaccard dist ≤ 0.2) — the
    100 TB path for L2.

    Candidates come from the shared portable banded-signature
    machinery (:func:`_banded_candidate_pairs`): token ids are 31-bit
    xxhash64 values, 16 affine minhashes fold into **8 bands of 2
    rows**, candidates are an equi-join on (band, value), and the
    exact token-set Jaccard re-filter runs on candidates only.
    ``ml.MinHashLSH.approxSimilarityJoin`` materializes per-row hash
    arrays and explodes BOTH sides — 273 s at sf0.1 where this banding
    does the identical tier in seconds (SCALE.md); the ML pipeline
    survives as a recall cross-check in
    tests/test_llm_ops.py.  Banding recall at the s = 0.8 threshold is
    1-(1-s²)^8 ≥ 0.9997, ≥ the old 5-table ML config's 1-(1-s)^5.
    Rows-only check (LSH is approximate); L2 is the hash-checked exact
    twin at small N.

    The candidate verify intersects SORTED 64-BIT token ids, not the
    token strings: string array_intersect re-hashes ~200
    multi-byte tokens per candidate pair (10.7M pairs at sf0.1),
    while bigint intersection stays primitive — 11.3 s → 4.7 s for
    the IDENTICAL edge set.  Flipping a Jaccard verdict would need
    two different tokens inside one candidate pair to share a full
    xxhash64 value (~|doc|²/2⁶⁴ ≈ 2e-15 per pair) — the same trust
    level the exact tier places in md5(text); A/B checksum-verified
    identical at sf0.01/sf0.1/sf1.

    **Output-size bound**: a raw pair list is
    QUADRATIC in clone multiplicity — the sf1 fixture (10 clones/doc)
    makes it 297M rows, a diagnostic no pipeline consumes (the
    production form is dedup_minhash_verdicts, one row/doc).  Above
    ``_LSH_EXACT_PAIRS_MAX_DOCS`` documents this key therefore emits a
    BOUNDED SAMPLE: per doc_a, the ``_LSH_PAIRS_PER_DOC`` nearest
    neighbors (jaccard_dist ASC, doc_b tiebreak) via a window over the
    doc_a-partitioned candidate stream — same schema, output linear in
    corpus size, and the enumeration stays band-bounded (the window
    rides the doc_a exchange _banded_candidate_pairs already emits).
    At fixture scales (≤ the threshold) the pair list stays EXACT so
    the banded hash-twin and the ML-recall pytest are untouched.

    **Exact-collapse-first**: like the banded tier and the verdicts
    form, tokens are hashed / banded / verified only for the
    representative of each clone group (:func:`collapse`), and rep
    pairs expand back to member pairs via
    :func:`_expand_rep_pairs` — the 297M-pair sf1 enumeration stops
    carrying two ~200-element token-id arrays per pair (the collapse
    removes clone multiplicity, the quadratic term, from the verify)
    and becomes rep-level verify + pure (id, id, double) generation.
    """
    toks = (
        t["documents"]
        .select(
            "doc_id",
            "text",
            F.array_distinct(F.split("text", " ")).alias("tokens"),
        )
        # the population the naive form bands (empty signatures are
        # dropped inside _banded_candidate_pairs)
        .where(F.size("tokens") > 0)
    )
    mem, reps = collapse(toks)
    mem = mem.select("doc_id", "rep_id")
    rt = reps.select("doc_id", "tokens")
    # 31-bit ids keep a*x+b inside bigint (ANSI-safe), collisions ~0
    g = rt.select(
        "doc_id",
        F.expr("transform(tokens, w -> xxhash64(w) & 2147483647)").alias("g"),
    )
    # size_ratio pushes the lossless 4/5 set-size bound (implied by
    # dist <= 0.2) into the band join itself — see _banded_candidate_pairs
    cand = _banded_candidate_pairs(g, n_bands=8, size_ratio=(4, 5))
    ids = rt.select(
        "doc_id",
        F.sort_array(F.expr("transform(tokens, w -> xxhash64(w))")).alias("i"),
    )
    ta = ids.select(F.col("doc_id").alias("doc_a"), F.col("i").alias("t_a"))
    tb = ids.select(F.col("doc_id").alias("doc_b"), F.col("i").alias("t_b"))
    inter = F.size(F.array_intersect(F.col("t_a"), F.col("t_b")))
    union = F.size(F.col("t_a")) + F.size(F.col("t_b")) - inter
    dist = 1.0 - F.try_divide(inter.cast("double"), union)
    rep_pairs = (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .where(_size_ratio_ok(F.col("t_a"), F.col("t_b"), 4, 5) & (dist <= 0.2))
        .select(
            F.col("doc_a").alias("rep_a"),
            F.col("doc_b").alias("rep_b"),
            F.round(dist, 6).alias("jaccard_dist"),
        )
    )
    pairs = _expand_rep_pairs(rep_pairs, mem, "jaccard_dist", 0.0)
    if t["documents"].count() <= _LSH_EXACT_PAIRS_MAX_DOCS:
        return pairs
    from pyspark.sql import Window

    # NOTE: a prune-before-expand variant (per doc_a, keep only the K
    # smallest same-group successors and the K smallest greater
    # members per adjacent group, then window) was output-identical at
    # sf0.1 but slower: with THIS key's dense rep adjacency (~1200
    # verified neighbors/rep at the 0.2-distance threshold) and
    # K ≥ group size, it generates MORE intermediate rows than the
    # plain expansion (sf1: 78.9 s vs 31.3 s, identical 3,423,964
    # rows).  _expand_rep_pairs_capped (used by the BANDED key, whose
    # 0.7-similarity threshold keeps rep adjacency near zero) is that
    # same idea made exact+bounded — but its cross term is still
    # Ω(members × adjacency), so it would regress THIS key the same
    # way.  Dense-adjacency corpora beyond this window's reach should
    # read dedup_minhash_verdicts (one row per doc, flat in pair
    # count) instead.
    w = Window.partitionBy("doc_a").orderBy("jaccard_dist", "doc_b")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _LSH_PAIRS_PER_DOC)
        .drop("rn")
    )


@query("dedup_minhash_verdicts", oracle=None, eager=True)  # component fixpoint at build  # LSH tier → rows-only
def dedup_minhash_verdicts(spark, t):
    """L3's PRODUCTION output form: one dedup verdict per document
    (keep / dup_of / reason) — never a pair list.

    On dup-heavy corpora the pair list is the scale-killer even when
    candidate generation is banded: the sf1 fixture (10 byte-identical
    clones of every doc) makes ``dedup_minhash_lsh`` materialize 297M
    pairs that no training pipeline wants — the consumer wants "which
    docs survive".  This operator computes exactly that, in three
    output-bounded stages:

    1. **Exact collapse first** (the production ordering):
       :func:`collapse` elects one representative per clone group, and
       each NULL-text doc is its own group.  Byte-identical clones
       never enter the LSH tier — on the sf1 fixture this cuts
       candidate-pair volume ~100x because pair count is quadratic in
       clone multiplicity.
    2. **LSH on unique representatives only**: identical machinery and
       thresholds to dedup_minhash_lsh (xxhash64 token ids, 16
       minhashes in 8 bands of 2, exact token-Jaccard dist <= 0.2
       verify on candidates).  Connectivity is PROVABLY unchanged by
       the collapse: clones share their representative's token set, so
       every clone-pair edge maps to the same rep (intra-group) or to
       a rep-rep edge with identical Jaccard and identical band
       signatures (inter-group) — recall is the pair form's recall.
    3. **Components + verdicts**: min-label propagation with pointer
       doubling over the verified rep-rep edges (the shared
       _min_label_components loop), canonical keeper per component by
       (n_chars DESC, doc_id) — corpus_dedup_e2e's quality rule — then
       every doc inherits its representative's component.

    Output is one row per input doc (fixed-size in N, not in pair
    count): doc_id, component_id (min doc_id of the dup cluster), keep
    flag, keep_doc_id, reason ('kept' / 'exact_dup' = byte-identical
    to the keeper / 'near_dup').  Rows-only check (the tier is
    approximate by nature, like L3); pytest pins consistency against
    the pair form — every dedup_minhash_lsh pair lands in one
    component, one keeper per component, singletons keep.
    """
    from pyspark.sql import Window

    # Two-level collapse: the clone collapse first so byte-identical
    # clones are NEVER tokenized, then elect a token-set
    # representative (ts_rep) over the text-reps only.  member = (doc_id, h, n_chars, ts_rep) for
    # every doc; uids = (ts_rep doc_id, sorted token ids) for the LSH
    # nodes.  The token-set partition is a coarsening of the clone
    # partition (identical text ⟹ identical token array), so each
    # member inherits the ts_rep of its clone rep through the
    # rep-scale rep_map join.  NULL-text docs keep their singleton
    # groups at both levels (i is NULL iff text is NULL, and
    # xxhash64(NULL) is a constant, hence the ts sentinel).  A
    # single-exchange collapse (one ts window over members) was
    # inside noise at sf0.1, and 35.5-38.9 s vs 29.8 s at 10M docs /
    # 2000x clone multiplicity (sweeps/mh_singlepass_r17.log).
    ts_key_of = lambda i_col, id_col: F.when(  # noqa: E731
        i_col.isNotNull(),
        F.concat(F.lit("t:"), F.xxhash64(i_col.cast("string")).cast("string")),
    ).otherwise(F.concat(F.lit(":null:"), id_col.cast("string")))
    docs = collapse(t["documents"].select("doc_id", "n_chars", "text"))[0]
    docs = docs.select(
        "doc_id",
        "h",
        "n_chars",
        "rep_id",
        F.when(F.col("doc_id") == F.col("rep_id"), F.col("text")).alias(
            "rep_text"
        ),
    )
    # localCheckpoint: the collapse chain feeds every downstream
    # subtree (band a/b sides, t_a, t_b, component nodes, member
    # assembly); the checkpoint holds one narrow row per doc plus text
    # ONLY for the elected rep.
    docs = docs.localCheckpoint(eager=True)
    toks = docs.where(F.col("doc_id") == F.col("rep_id")).select(
        "doc_id",
        F.array_distinct(F.split("rep_text", " ")).alias("tokens"),
    )
    ids = toks.select(
        "doc_id",
        F.sort_array(
            F.expr("transform(tokens, w -> xxhash64(w))")
        ).alias("i"),
    )
    ids = ids.withColumn(
        "ts_rep",
        F.min("doc_id").over(
            Window.partitionBy(ts_key_of(F.col("i"), F.col("doc_id")))
        ),
    ).localCheckpoint(eager=True)
    # every member row carries its ts_rep (rep_map is rep-scale,
    # broadcast by the planner)
    rep_map = ids.select(F.col("doc_id").alias("rep_id"), "ts_rep")
    member = docs.join(rep_map, "rep_id").select(
        "doc_id", "h", "n_chars", "ts_rep"
    )
    uids = ids.where(F.col("doc_id") == F.col("ts_rep")).select(
        "doc_id", "i"
    )
    # minhash ids: same value set as the old transform(tokens, ...) &
    # mask form — masking the already-hashed ids; minhash is
    # order/multiplicity-invariant so banding is unchanged
    g = uids.select(
        "doc_id", F.expr("transform(i, x -> x & 2147483647)").alias("g")
    )
    # size_ratio: lossless 4/5 set-size bound (implied by dist <= 0.2)
    # applied inside the band join (A/B checksum-identical).
    # rebalance stays ON: although the verify below is two broadcast
    # joins, fusing it into the band-join
    # stage leaves the intersect work on the ~n_salt·n_bands
    # bucket-keyed tasks — measured 5.79 s vs 4.15 s WITH the doc_a
    # exchange at sf0.1, i.e. the (now size-pruned) pair shuffle buys
    # back 2.5x its cost in verify balance.
    cand = _banded_candidate_pairs(g, n_bands=8, size_ratio=(4, 5))
    ta = uids.select(F.col("doc_id").alias("doc_a"), F.col("i").alias("t_a"))
    tb = uids.select(F.col("doc_id").alias("doc_b"), F.col("i").alias("t_b"))
    # Exact-integer threshold, single intersect evaluation.  The
    # double form — dist = 1 - try_divide(inter, union) with
    # union = sa + sb - inter — referenced
    # size(array_intersect(...)) TWICE in the filter predicate
    # (numerator and union term), and codegen evaluated the intersect
    # (hash-set build + probe + result-array alloc per pair) twice for
    # every one of the 3.59M candidate pairs.  dist <= 0.2 over sets
    # is EXACTLY i/u >= 4/5, i.e. 5i >= 4(sa + sb - i), i.e.
    # 9i >= 4(sa + sb): pure int64 arithmetic, one intersect, no
    # division, no float boundary (the nearest rational i/u != 4/5 at
    # these set sizes is ~1e-7 away from 0.8 — 10^9 times the double
    # rounding error — and u = 0 cannot reach this filter: banding
    # drops empty signatures, so every candidate has sa, sb >= 1).
    # Interleaved noop A/B at sf0.1: 0.923s -> 0.481s median for the
    # verify stage, edge multiset checksum-identical
    # (sweeps/verify_expr_ab_r16.log).
    inter = F.size(F.array_intersect(F.col("t_a"), F.col("t_b")))
    within = (F.lit(9) * inter) >= (
        F.lit(4) * (F.size(F.col("t_a")) + F.size(F.col("t_b")))
    )
    edges = (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .where(_size_ratio_ok(F.col("t_a"), F.col("t_b"), 4, 5) & within)
        .select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    )

    # components over token-set reps only; members inherit directly
    # through their ts_rep (one join).  component_id stays the min
    # doc_id of the FULL component: a ts_rep is the min doc_id of its token-set group, so
    # min over ts_reps == min over all members of the component.
    ts_labels = _min_label_components(uids.select("doc_id"), edges)
    lab = member.join(
        ts_labels.withColumnRenamed("doc_id", "ts_rep"), "ts_rep"
    )
    # Keeper election as ONE first_value window: a
    # row_number→filter→join-back form computed the whole lab subtree
    # TWICE and rejoined the copies
    # with a SortMergeJoin (two extra component_id exchanges + sorts;
    # see plans/r16/dedup_minhash_verdicts_before.txt ops 44/91/97).
    # first_value over the same total order (n_chars DESC, doc_id —
    # deterministic: doc_id is unique) yields the keeper row's doc_id
    # and h directly on every member row in a single component_id
    # exchange.  A/B checksum-identical at sf0.01/sf0.1.
    w = Window.partitionBy("component_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return lab.select(
        "doc_id",
        "component_id",
        "h",
        F.first("doc_id").over(w).alias("keep_doc_id"),
        F.first("h").over(w).alias("keep_h"),
    ).select(
        "doc_id",
        "component_id",
        (F.col("doc_id") == F.col("keep_doc_id")).alias("keep"),
        "keep_doc_id",
        F.when(F.col("doc_id") == F.col("keep_doc_id"), F.lit("kept"))
        .when(F.col("h") == F.col("keep_h"), F.lit("exact_dup"))
        .otherwise(F.lit("near_dup"))
        .alias("reason"),
    )


# --- Portable banded MinHash (hash-checkable LSH) ----------------------
#
# dedup_minhash_lsh above tokenizes with xxhash64 — JVM-internal, so
# its oracle can only be rows-only even now that it rides the shared
# banded machinery.  This variant builds the same banded-signature
# algorithm from portable integer arithmetic, so DuckDB can run the
# IDENTICAL computation and the driver hash-checks the full LSH
# pipeline end-to-end:
#   shingle id: 3-gram -> ascii polynomial, base 257 (injective for
#               printable ASCII: c1*257^2 + c2*257 + c3)
#   minhash_k:  min over shingles of (a_k * id + b_k) % (2^31 - 1)
#   bands:      16 signatures in 4 bands of 4 rows; candidates =
#               equi-join on (band index, band value)
#   verify:     exact 3-gram Jaccard >= 0.7 on candidates only
_MH_P = 2147483647
_MH_K = 16
_MH_BANDS = 4
_MH_AB = [
    (((k + 1) * 2654435761) % _MH_P, ((k + 1) * 40503 * 65537) % _MH_P)
    for k in range(_MH_K)
]
_SPARK_SHINGLES = (
    # CASE guard: Spark sequence(1, n) DESCENDS for n < 1, so texts
    # under 3 chars would fabricate shingles where DuckDB range() is
    # empty (same rule as text_decontaminate's gram guard)
    "CASE WHEN length(text) >= 3 THEN "
    "array_distinct(transform(sequence(1, length(text) - 2), "
    "i -> cast(ascii(substring(text, i, 1)) * 66049 "
    "+ ascii(substring(text, i + 1, 1)) * 257 "
    "+ ascii(substring(text, i + 2, 1)) as bigint))) "
    "ELSE cast(array() as array<bigint>) END"
)
_DUCK_SHINGLES = (
    "list_distinct(list_transform(range(1, length(text) - 1), "
    "i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) * 66049 "
    "+ ascii(substr(text, CAST(i + 1 AS INT), 1)) * 257 "
    "+ ascii(substr(text, CAST(i + 2 AS INT), 1)) AS BIGINT)))"
)


def _mh_band_sql(engine: str, n_bands: int = _MH_BANDS) -> list[str]:
    """Per-band value expressions over the 16 shared (a, b) minhash
    permutations: ``n_bands`` bands of ``16 // n_bands`` row-mins each.

    4 bands of 4 (the default) tunes the S-curve for a 0.7-Jaccard
    shingle threshold; 8 bands of 2 for the 0.8-token threshold of L3
    (recall 1-(1-s²)^8 ≥ 0.9997 at s = 0.8 — above ml.MinHashLSH's
    5-table 1-(1-s)^5 = 0.9997 everywhere s ≥ 0.8).

    Band-value representation (r16 optimization round): 2-row bands
    pack their two sub-2³¹ minima into ONE bigint (m0·2³¹ + m1 < 2⁶²,
    injective — exactly the pairs that were equal as '-'-joined
    strings are equal as packed longs, so every candidate SET is
    unchanged) instead of concat_ws strings.  The band equi-join keys
    and the ≤7 first-collision-ownership compares per raw band match
    then run on 8-byte longs instead of ~21-char strings (guide §2.3,
    narrower types: the r16 attribution put 41% of the verdict
    headline in banding, and the band join evaluates those compares
    tens of millions of times).  4-row bands (4·31 bits > 63) keep
    the string form — that is the portable oracle tier, whose DuckDB
    CTE mirrors it string-for-string.
    """
    if engine == "spark":
        mins = [
            f"array_min(transform(g, x -> ({a}L * x + {b}L) % {_MH_P}L))"
            for a, b in _MH_AB
        ]
    else:
        mins = [
            f"list_min(list_transform(g, x -> ({a} * x + {b}) % {_MH_P}))"
            for a, b in _MH_AB
        ]
    rows = _MH_K // n_bands
    if rows == 2:
        return [
            f"({mins[j * 2]}) * 2147483648 + ({mins[j * 2 + 1]})"
            for j in range(n_bands)
        ]
    return [
        "concat_ws('-', " + ", ".join(mins[j * rows : (j + 1) * rows]) + ")"
        for j in range(n_bands)
    ]


def _banded_candidate_pairs(
    g_df,
    n_bands: int = _MH_BANDS,
    n_salt: int | None = None,
    size_ratio: tuple[int, int] | None = None,
    rebalance: bool = True,
):
    """(doc_a, doc_b) pairs colliding in ≥1 minhash band — each pair
    emitted EXACTLY ONCE, with no distinct().

    ``size_ratio=(num, den)`` (r16 optimization round) pushes the
    caller's LOSSLESS set-size prefilter (see :func:`_size_ratio_ok`:
    J ≥ num/den forces den·min(|A|,|B|) ≥ num·max(|A|,|B|)) INTO the
    band join condition: each banded row carries one extra int
    (``size(g)``) and provably-below-threshold pairs are dropped
    map-side inside the join, before they are ever materialized,
    shuffled to the consumer, or joined against token arrays (guide
    §2.3 "shuffle fewer bytes" / §1.2 "don't compute things you throw
    away").  Callers keep their verify-side filter — it is two int
    ops — so passing this is purely an optimization; the surviving
    edge set is unchanged by construction.

    ``rebalance=False`` skips the final doc_a repartition, for callers
    with NO downstream per-pair work.  Measured (r16 optimization
    round) it is the WRONG choice for the verify tiers even though
    their token joins are broadcast: fused into the band-join stage
    the intersect work rides the ~n_salt·n_bands bucket-keyed tasks
    and skews (verdict key sf0.1: 5.79 s without the exchange, 4.15 s
    with), so the narrow 2-bigint pair shuffle earns its cost back in
    balance exactly as the r12 A/B found.  Kept as an explicit knob so
    the trade-off stays measurable per caller.

    ``g_df`` is (doc_id, g: array<bigint>) with ids < 2³¹ (so the
    affine mixes never overflow a bigint under ANSI mode).  This is
    THE shuffle of every LSH tier: each doc contributes ``n_bands``
    short (j, v) keys — never a pair, never a signature matrix — and
    candidates fall out of an equi-join on (j, v).

    Dedup-free banding (r11): a pair colliding in k bands used to be
    emitted k times and collapsed by ``.distinct()`` — on a near-dup-
    dense corpus that second shuffle dominated the whole tier (sf0.1:
    42M raw collisions → 10.7M pairs; the distinct cost 24.7 s of the
    band stage's 27 s).  Instead each banded row carries the doc's
    full per-band signature array (n_bands short strings), and the
    join keeps a collision only when NO EARLIER band also collides —
    the standard first-collision-ownership rule: every colliding pair
    is owned by exactly one band, so uniqueness holds by construction
    and the only shuffle left is the (j, v) equi-join itself.  The
    filter is a ≤n_bands string-compare loop inside codegen, map-side
    after the join.  Output set is IDENTICAL to the distinct() form.

    Degenerate-signature guard (r12, ADVICE r11): a doc with an EMPTY
    shingle/token-id set (text shorter than the gram width, empty or
    NULL text) minhashes to NULL in every row, so concat_ws folds all
    its band values to '' — every pair of such docs collides in every
    band, an O(n_degenerate²) candidate blow-up that survives
    first-collision ownership at band 0 and is only discarded by the
    exact-Jaccard verify (an empty set can never reach any positive
    similarity threshold: its intersection is 0, so the ratio is 0 or
    NULL).  Dropping empty signatures BEFORE banding is therefore
    semantics-preserving for every consumer; the hash-checked
    portable tier mirrors the same ``len(g) > 0`` filter in its
    DuckDB oracle CTE so both engines band the identical doc set.
    """
    g_df = g_df.where(F.size("g") > 0)
    bands = _mh_band_sql("spark", n_bands)
    vcols = [f"v{i}" for i in range(n_bands)]
    size_cols = [F.size("g").alias("sz")] if size_ratio else []
    banded = g_df.select(
        "doc_id", *size_cols, *[F.expr(b).alias(c) for c, b in zip(vcols, bands)]
    ).select(
        "doc_id",
        *(["sz"] if size_ratio else []),
        *vcols,
        F.posexplode(F.array(*[F.col(c) for c in vcols])).alias("j", "v"),
    )
    # Pin the join's partition count: the (j, v) exchange input is tiny
    # (n_bands rows/doc) so AQE coalesces it to a handful of partitions
    # — but the join OUTPUT is the collision blow-up, and with the
    # distinct() gone there is no later exchange to restore parallelism.
    # An explicit numbered repartition is exempt from AQE coalescing.
    n_part = int(
        g_df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    # Bucket-salting (r12): pair enumeration is bucket-local, so a
    # dense template cluster colliding in all n_bands bands used to
    # cap the stage at ~n_bands useful tasks whatever the partition
    # count (the r11 comment called that bound "inherent" — it isn't).
    # Salt the A side by hash(doc_id) % n_salt and replicate the B
    # side once per salt: each (j, v) bucket's quadratic work splits
    # into n_salt independent partitions of |bucket|/n_salt × |bucket|
    # comparisons, and every colliding pair still meets EXACTLY once
    # (at the B copy whose salt equals the smaller doc's salt), so the
    # output multiset is unchanged.  Cost: the B-side band shuffle
    # grows ×n_salt — n_bands·n_salt short rows per doc, still
    # signature-sized, never pair-sized.  sf0.1 verdict graph A/B on
    # the warm enumeration stage (10.7M candidates): salt 1 → 9.1 s,
    # 4 → 4.4 s, 8 → 3.5 s, 16 → 3.6 s (plateau: past ~2 bucket
    # groups per core the split only adds replication).  2× core
    # oversubscription is the sweet spot, hence 2·n_part/n_bands.
    #
    # Salting is OPT-IN per consumer (r13, ADVICE r12): the replication
    # tax is paid by every caller, but only callers with downstream
    # per-pair work (exact-Jaccard verify joins on token arrays — the
    # verdict/lsh tiers, which skew onto ~n_bands tasks without it)
    # earn it back.  dedup_minhash_banded's cost IS the banding, so
    # the default formula regressed it 60.3 s → 87.9 s at sf1
    # (sweeps/ab_r12_dedup_rewrite.log); it passes n_salt=1 and keeps
    # the unreplicated shuffle.  n_salt=None → density formula.
    if n_salt is None:
        n_salt = max(1, min(16, (2 * n_part) // n_bands))
    if n_salt > 1:
        a = banded.withColumn(
            "salt", F.pmod(F.xxhash64("doc_id"), F.lit(n_salt))
        )
        b = banded.withColumn(
            "salt", F.explode(F.array(*[F.lit(s) for s in range(n_salt)]))
        )
        a = a.repartition(n_part, "j", "v", "salt").alias("a")
        b = b.repartition(n_part, "j", "v", "salt").alias("b")
    else:
        a = banded.repartition(n_part, "j", "v").alias("a")
        b = banded.repartition(n_part, "j", "v").alias("b")
    # first-collision ownership: drop the match unless NO earlier band
    # i < j also collides.  Expressed as a flat boolean OR-chain over
    # the scalar band columns — zero per-row allocations (an earlier
    # slice/zip_with/exists form allocated 3 arrays per matched row,
    # which at 42M matches cost more than the distinct() it replaced).
    earlier_collision = F.lit(False)
    for i in range(n_bands - 1):
        earlier_collision = earlier_collision | (
            (F.lit(i) < F.col("a.j"))
            & (F.col(f"a.v{i}") == F.col(f"b.v{i}"))
        )
    join_cond = (
        (F.col("a.j") == F.col("b.j"))
        & (F.col("a.v") == F.col("b.v"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
    )
    if n_salt > 1:
        join_cond = join_cond & (F.col("a.salt") == F.col("b.salt"))
    if size_ratio:
        num, den = size_ratio
        join_cond = join_cond & (
            F.least(F.col("a.sz"), F.col("b.sz")) * den
            >= F.greatest(F.col("a.sz"), F.col("b.sz")) * num
        )
    pairs = (
        a.join(b, join_cond)
        .where(~earlier_collision)
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
    )
    if not rebalance:
        return pairs
    # Re-balance before returning: pair production is bucket-local (a
    # dense cluster's pairs all emerge from ~n_bands·n_salt tasks), and
    # every consumer immediately does per-pair work that dwarfs a
    # narrow 2-bigint shuffle — the exact-Jaccard verify joins token
    # arrays onto each pair.  The old distinct() paid a 4x-wider
    # exchange + hash-agg for this balancing as a side effect.  The
    # rebalance key is doc_a, NOT round-robin: every consumer's first
    # move is a join on doc_a, so a doc_a hash exchange satisfies that
    # join's distribution requirement and the shuffle is paid ONCE
    # (sf1 A/B on the banded tier, candidates + verify end-to-end:
    # doc_a-keyed 64 s, old distinct() 70 s, round-robin 97 s — the
    # extra exchange — and no rebalance at all 488 s, skew-bound).
    # Within a dense clique doc_a spreads across all members (the
    # smaller id of each pair), so the key is balanced enough.
    return pairs.repartition(n_part, "doc_a")


def _mh_oracle() -> str:
    bands = _mh_band_sql("duck")
    band_union = "\n      UNION ALL ".join(
        f"SELECT doc_id, {j} AS j, {b} AS v FROM g" for j, b in enumerate(bands)
    )
    jac = (
        "CAST(len(list_intersect(ga.g, gb.g)) AS DOUBLE) "
        "/ (len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g)))"
    )
    return f"""
    WITH g_all AS (
      SELECT doc_id, {_DUCK_SHINGLES} AS g
      FROM documents WHERE lang = 'en'
    ), g AS (
      -- mirror of the Spark side's size(g) > 0 pre-band filter
      -- (degenerate-signature guard, r12): both engines band the
      -- identical doc set; empty-gram docs can never pass the
      -- Jaccard threshold, so the final output is unchanged either way
      SELECT * FROM g_all WHERE len(g) > 0
    ), bands AS (
      {band_union}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.j = b.j AND a.v = b.v AND a.doc_id < b.doc_id
    ), pairs AS (
      SELECT c.doc_a, c.doc_b, ROUND({jac}, 6) AS ngram_jaccard
      FROM cand c
      JOIN g ga ON ga.doc_id = c.doc_a
      JOIN g gb ON gb.doc_id = c.doc_b
      WHERE {jac} >= 0.7
    ), capped AS (
      -- mirror of the Spark side's above-threshold per-doc_a bounded
      -- sample (r13 verdict ask #5); on fixture-scale corpora
      -- (count(documents) <= 10000) the rn predicate is vacuous and
      -- the pair list stays EXACT, so sf<=0.1 hash checks are
      -- byte-for-byte the pre-cap oracle.  Ordering ties on the
      -- ROUNDED jaccard (both engines round to 6 before ranking)
      -- with doc_b as the deterministic tiebreak.
      SELECT doc_a, doc_b, ngram_jaccard,
             row_number() OVER (
               PARTITION BY doc_a
               ORDER BY ngram_jaccard DESC, doc_b
             ) AS rn
      FROM pairs
    )
    SELECT doc_a, doc_b, ngram_jaccard
    FROM capped
    WHERE rn <= {_LSH_PAIRS_PER_DOC}
       OR (SELECT count(*) FROM documents) <= {_LSH_EXACT_PAIRS_MAX_DOCS}
    """


@query("dedup_minhash_banded", oracle=_mh_oracle())
def dedup_minhash_banded(spark, t):
    """Banded MinHash near-dup — the LSH tier, hash-proven.

    Same asymptotics as dedup_minhash_lsh (candidates are
    band-collision-bound: the shuffle carries 4 short band keys per
    doc, never pairs), but built from portable integer minhashes so
    THE ORACLE RUNS THE IDENTICAL ALGORITHM — the driver hash-checks
    signature generation, banding, candidate join, and exact-Jaccard
    verify end-to-end, where the ML variant can only be graded
    rows-only.  Per-band collision probability for similarity s is
    s^4; across 4 bands, recall = 1-(1-s^4)^4 (0.987 at s = 0.9 — see
    the recall pytest vs the exact quadratic twin).

    **Exact-collapse-first**: shingle, band and verify only the
    representative of each clone group (:func:`collapse`), then
    expand rep pairs back to member pairs (:func:`_expand_rep_pairs`).
    The naive all-member form pulls two gram arrays through every
    candidate pair; on clone-heavy corpora that traffic is quadratic
    in clone multiplicity (~10M pairs × ~2.4 KB of arrays each at
    500k docs in ~100-clone groups, GC death at 8-48 g heap), while
    reps stay ~constant.  The DuckDB oracle keeps the naive form — the
    oracle hash-check is exactly the proof the two forms agree.  The
    empty-gram ingest filter is evaluated on reps and reaches members
    through a semi join: a group shares one text, hence one gram set,
    and the naive form bands neither empty signatures nor NULL texts.

    **Output-size bound**: even with collapse-first banding, the
    expanded MEMBER-pair list is quadratic in clone multiplicity —
    5M docs in ~1000-clone groups made this diagnostic key generate
    1.13B pairs in 1122 s (sweeps/sf100_r13.log) for an output no
    pipeline consumes (the production form is dedup_minhash_verdicts,
    one row/doc).  Same treatment as dedup_minhash_lsh: above
    ``_LSH_EXACT_PAIRS_MAX_DOCS`` documents, emit per doc_a only the
    ``_LSH_PAIRS_PER_DOC`` MOST-similar neighbors (ngram_jaccard DESC,
    doc_b tiebreak) — output linear in corpus size, generated without
    ever enumerating the full pair mass.  At fixture scales (≤ the
    threshold) the pair list stays EXACT, and the oracle applies the
    IDENTICAL conditional cap in SQL, so the oracle hash-check covers
    the capped form end-to-end at every sf.
    """
    mem, reps = collapse(
        t["documents"].where(F.col("lang") == "en").select("doc_id", "text")
    )
    g = reps.select(
        F.col("rep_id").alias("doc_id"), F.expr(_SPARK_SHINGLES).alias("g")
    ).where(F.size("g") > 0)
    mem = mem.select("doc_id", "rep_id").join(
        g.select(F.col("doc_id").alias("rep_id")), "rep_id", "left_semi"
    )
    # n_salt=1: at rep level every bucket holds one row per DISTINCT
    # text, so the dense-bucket skew salting addresses cannot form —
    # clone multiplicity, the only unbounded density source, was
    # removed by the collapse (sf1 A/B: salt within noise either way)
    cand = _banded_candidate_pairs(g, n_bands=_MH_BANDS, n_salt=1)
    ga = g.select(F.col("doc_id").alias("doc_a"), F.col("g").alias("g_a"))
    gb = g.select(F.col("doc_id").alias("doc_b"), F.col("g").alias("g_b"))
    inter = F.size(F.array_intersect(F.col("g_a"), F.col("g_b")))
    union = F.size(F.col("g_a")) + F.size(F.col("g_b")) - inter
    # try_divide: an empty gram set gives union 0 — DuckDB yields NULL
    # and the threshold filter drops it; ANSI `/` would crash
    jac = F.try_divide(inter.cast("double"), union)
    rep_pairs = (
        cand.join(ga, "doc_a")
        .join(gb, "doc_b")
        .where(_size_ratio_ok(F.col("g_a"), F.col("g_b"), 7, 10) & (jac >= 0.7))
        .select(
            F.col("doc_a").alias("rep_a"),
            F.col("doc_b").alias("rep_b"),
            F.round(jac, 6).alias("ngram_jaccard"),
        )
    )
    if t["documents"].count() <= _LSH_EXACT_PAIRS_MAX_DOCS:
        return _expand_rep_pairs(rep_pairs, mem, "ngram_jaccard", 1.0)
    return _expand_rep_pairs_capped(
        rep_pairs, mem, "ngram_jaccard", 1.0, _LSH_PAIRS_PER_DOC,
        descending=True,
    )


def _pagerank_iter_ctes(n_iters: int) -> str:
    """pr1..prN CTEs, each one synchronous PageRank step (d = 0.85)."""
    out = []
    for i in range(1, n_iters + 1):
        out.append(
            f"""pr{i} AS (
      SELECT s.v AS id, 0.15 / nn.n + 0.85 * SUM(pr{i-1}.p / deg.d) AS p
      FROM sym s
      JOIN pr{i-1} ON pr{i-1}.id = s.u
      JOIN deg ON deg.u = s.u
      CROSS JOIN nn
      GROUP BY s.v, nn.n
    )"""
        )
    return ", ".join(out)


@query(
    "graph_pagerank",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), tf AS (
      SELECT doc_id, token, count(*) AS cnt FROM tok GROUP BY doc_id, token
    ), th AS (
      SELECT token, {{_DUCK_TOKHASH}} AS h FROM (SELECT DISTINCT token FROM tf)
    ), bits AS (
      SELECT tf.doc_id, b.b,
             SUM(CASE WHEN (th.h >> CAST(b.b AS INT)) & 1 = 1
                      THEN tf.cnt ELSE -tf.cnt END) AS s
      FROM tf JOIN th USING (token)
      CROSS JOIN (SELECT unnest(range(0, 32)) AS b) b
      GROUP BY tf.doc_id, b.b
    ), fp AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << CAST(b AS INT)) ELSE 0 END)
                  AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id
    ), edges AS (
      SELECT a.doc_id AS u, b.doc_id AS v
      FROM fp a JOIN fp b
        ON a.doc_id < b.doc_id
       AND bit_count(xor(a.simhash, b.simhash)) <= {_HAMMING_MAX}
    ), sym AS (
      SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges
    ), nodes AS (
      SELECT DISTINCT u AS id FROM sym
    ), nn AS (
      SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes
    ), deg AS (
      SELECT u, CAST(count(*) AS DOUBLE) AS d FROM sym GROUP BY u
    ), pr0 AS (
      SELECT id, 1.0 / nn.n AS p FROM nodes CROSS JOIN nn
    ), {{_ITERS}}
    SELECT id AS doc_id, ROUND(p, 6) + 0 AS pagerank
    FROM pr5
    """.replace("{_DUCK_TOKHASH}", _DUCK_TOKHASH.replace("{s}", "token")
                if "{s}" in _DUCK_TOKHASH else _DUCK_TOKHASH)
       .replace("{_ITERS}", _pagerank_iter_ctes(5)),
)
def graph_pagerank(spark, t):
    """PageRank (5 synchronous iterations, d = 0.85) over the simhash
    near-dup graph — importance ranking inside duplicate clusters.

    The iterative-graph-algorithm primitive beyond connected
    components: each step is one equi-join (rank mass flows along
    edges) + one aggregation, the Pregel pattern as plain DataFrames;
    the driver loop is bounded control flow only and the frame is
    localCheckpoint'ed per round to cut lineage.  Candidates come
    from the BANDED simhash join while the oracle uses the all-pairs
    form — the hash match additionally proves band completeness at
    hamming ≤ 3.  The symmetric graph has no dangling nodes, so no
    redistribution term is needed.
    """
    # checkpoint the fingerprint table once (r15): the iterative key
    # is multi-JOB (a checkpoint per round), and every downstream
    # consumer (sizes via m, rsym via rep_pairs, the final member
    # join) otherwise re-executes the token-explode × 32-bit-vote
    # pipeline in its own job — the dominant fixed cost at fixture
    # scale (sf0.1 build 15.6 s → 8.6 s with rsym cut, → ~4 s with
    # this).  Single-plan consumers of _simhash_fingerprints don't
    # need this: exchange reuse covers them inside one job.
    fp = _simhash_fingerprints(spark, t).localCheckpoint(eager=True)
    m, rep_pairs = _simhash_rep_pairs(spark, fp, _HAMMING_MAX)
    # Collapsed iteration (r13): the member graph is clique-per-group
    # + complete-bipartite across adjacent groups, so every member of
    # a group carries the SAME rank and degree at every step; the 5
    # synchronous rounds run on the rep graph with size weights —
    # contribution to G is (c_G−1)·p_G/d_G (fellow members) plus
    # Σ_{G'~G} c_{G'}·p_{G'}/d_{G'} — and members inherit their
    # group's rank at the end.  The member pair list (quadratic in
    # clone multiplicity) never materializes; round(…, 6) absorbs the
    # multiply-vs-repeated-add ulp drift exactly as it already does
    # between Spark's and DuckDB's member-level sum orders.
    sizes = m.groupBy("rep_id").agg(F.count("*").alias("c"))
    # checkpoint the symmetric rep adjacency ONCE (r15): it rides the
    # cross-contribution join in EVERY iteration, and without the
    # lineage cut each round's job re-executed the whole
    # banding+verify pipeline upstream of rep_pairs — five recomputes
    # of the expensive part for five cheap rounds
    rsym = rep_pairs.select(
        F.col("rep_a").alias("r"), F.col("rep_b").alias("nb")
    ).unionAll(
        rep_pairs.select(F.col("rep_b").alias("r"), F.col("rep_a").alias("nb"))
    ).localCheckpoint(eager=True)
    nsum = (
        rsym.join(
            sizes.select(F.col("rep_id").alias("nb"), F.col("c").alias("nc")),
            "nb",
        )
        .groupBy("r")
        .agg(F.sum("nc").alias("nsum"))
    )
    grp = (
        sizes.join(nsum, sizes.rep_id == nsum.r, "left")
        .select(
            "rep_id",
            "c",
            (F.col("c") - 1 + F.coalesce("nsum", F.lit(0).cast("long")))
            .cast("double")
            .alias("d"),
        )
        .where(F.col("d") > 0)
        .localCheckpoint(eager=True)
    )
    nn = F.broadcast(grp.agg(F.sum("c").cast("double").alias("n")))
    p = grp.crossJoin(nn).select(
        "rep_id", (F.lit(1.0) / F.col("n")).alias("p")
    )
    for _ in range(5):
        pc = p.join(grp, "rep_id").select(
            "rep_id", "c", (F.col("p") / F.col("d")).alias("pd")
        )
        own = pc.select(
            "rep_id", ((F.col("c") - 1) * F.col("pd")).alias("s")
        )
        cross = (
            rsym.join(pc.withColumnRenamed("rep_id", "nb"), "nb")
            .select(
                F.col("r").alias("rep_id"),
                (F.col("c") * F.col("pd")).alias("s"),
            )
        )
        p = (
            own.unionAll(cross)
            .groupBy("rep_id")
            .agg(F.sum("s").alias("s"))
            .crossJoin(nn)
            .select(
                "rep_id",
                (F.lit(0.15) / F.col("n") + F.lit(0.85) * F.col("s")).alias("p"),
            )
            .localCheckpoint(eager=True)
        )
    return m.select("doc_id", "rep_id").join(p, "rep_id").select(
        "doc_id", (F.round("p", 6) + 0).alias("pagerank")
    )


def _mh_incremental_oracle() -> str:
    bands = _mh_band_sql("duck")
    band_union = "\n      UNION ALL ".join(
        f"SELECT doc_id, is_new, {j} AS j, {b} AS v FROM g"
        for j, b in enumerate(bands)
    )
    jac = (
        "CAST(len(list_intersect(ga.g, gb.g)) AS DOUBLE) "
        "/ (len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g)))"
    )
    return f"""
    WITH g AS (
      SELECT doc_id, doc_id % 10 = 0 AS is_new, {_DUCK_SHINGLES} AS g
      FROM documents WHERE lang = 'en'
    ), bands AS (
      {band_union}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, a.is_new AS a_new, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.j = b.j AND a.v = b.v AND b.is_new
       AND (NOT a.is_new OR a.doc_id < b.doc_id)
       AND a.doc_id <> b.doc_id
    ), p AS (
      SELECT c.doc_b, c.a_new
      FROM cand c
      JOIN g ga ON ga.doc_id = c.doc_a
      JOIN g gb ON gb.doc_id = c.doc_b
      WHERE {jac} >= 0.7
    ), flags AS (
      SELECT doc_b,
             MAX(CASE WHEN NOT a_new THEN 1 ELSE 0 END) AS dup_of_corpus,
             MAX(CASE WHEN a_new THEN 1 ELSE 0 END) AS dup_in_batch
      FROM p GROUP BY doc_b
    )
    SELECT g.doc_id,
           COALESCE(f.dup_of_corpus, 0) AS dup_of_corpus,
           COALESCE(f.dup_in_batch, 0) AS dup_in_batch,
           CAST(COALESCE(f.dup_of_corpus, 0) = 0
                AND COALESCE(f.dup_in_batch, 0) = 0 AS INTEGER) AS keep
    FROM g LEFT JOIN flags f ON f.doc_b = g.doc_id
    WHERE g.is_new
    """


@query("dedup_incremental_minhash", oracle=_mh_incremental_oracle())
def dedup_incremental_minhash(spark, t):
    """Incremental NEAR-dup: today's batch vs the already-ingested
    corpus via the banded MinHash index — dedup_incremental's fuzzy
    sibling, hash-proven end-to-end (the oracle runs the identical
    portable banding).

    Split is the same deterministic arrival boundary (doc_id % 10 = 0
    is "today").  Batch docs get three flags: ``dup_of_corpus`` (a
    corpus doc collides in ≥1 band AND verifies at 3-gram Jaccard ≥
    0.7), ``dup_in_batch`` (an EARLIER batch doc does — greedy
    first-keeper, same rule as dedup_incremental's rn = 1), and
    ``keep``.

    100 TB story: the corpus side is the persisted banded signature
    index — (doc_id, j, v) keys, append-only, never re-hashed; only
    the day's batch computes new signatures.  The candidate join
    shuffles short band keys (batch-sized on one side), and the
    exact-Jaccard verify joins shingle arrays for CANDIDATES only.
    Corpus growth = appending the keep-set's band rows, exactly like
    the exact tier's hash set.

    **Exact-collapse-first** (the member-level form took 809 s at
    500k docs: band signatures are identical across byte-identical
    clones, so the member candidate join was quadratic in clone
    multiplicity).  Shingles, band values and the exact-Jaccard
    verify are pure functions of the TEXT, so the match predicate
    lives at clone-group level (:func:`collapse`) and each batch
    doc's flags reduce to group adjacency plus two group stats:

      dup_of_corpus(b) = some matched group (incl. b's own) holds a
                         corpus member;
      dup_in_batch(b)  = some matched group's EARLIEST batch member
                         precedes b (within b's own group this is
                         exactly "an earlier batch clone exists" —
                         the greedy first-keeper rule);

    where groups match iff they collide in ≥1 band AND verify at
    Jaccard ≥ 0.7, and a group self-matches iff it has ≥1 shingle
    (identical signatures collide in every band, jaccard exactly 1).
    NULL/short-text docs have empty shingle arrays in BOTH forms
    (banding drops them), so they emit flag-free batch rows exactly
    as before; each NULL-text doc is its own group, so no group
    statistic aggregates unrelated docs.  The registered
    member-level oracle is unchanged — the driver hash check is a
    standing equivalence proof — and tools/bounded_oracle.py
    value-checks this form at sf10 (group-level bounded oracle,
    sweeps/sf10_r17_bounded_oracles.log).
    """
    is_new = (F.col("doc_id") % 10 == 0).cast("boolean")
    frame = (
        collapse(
            t["documents"]
            .where(F.col("lang") == "en")
            .select("doc_id", is_new.alias("is_new"), "text"),
            n_corpus=F.sum(F.when(~F.col("is_new"), 1).otherwise(0)),
            min_batch=F.min(F.when(F.col("is_new"), F.col("doc_id"))),
        )[0]
        .select(
            "doc_id",
            "is_new",
            "rep_id",
            "n_corpus",
            "min_batch",
            F.when(
                F.col("doc_id") == F.col("rep_id"), F.expr(_SPARK_SHINGLES)
            ).alias("rep_g"),
        )
        .localCheckpoint(eager=True)
    )
    reps = frame.where(
        (F.col("doc_id") == F.col("rep_id")) & (F.size("rep_g") > 0)
    ).select(F.col("rep_id").alias("rep"), F.col("rep_g").alias("g"))
    banded = reps.select(
        "rep",
        F.size("g").alias("sz"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("j"), F.expr(b).alias("v"))
                    for j, b in enumerate(_mh_band_sql("spark"))
                ]
            )
        ).alias("band"),
    ).select("rep", "sz", "band.j", "band.v")
    a, b = banded.alias("a"), banded.alias("b")
    # rep <= rep: the self-pair (a band row matching itself) carries
    # the "identical texts always match" case; size_ratio 7/10 is the
    # lossless jaccard>=0.7 set-size bound, applied in-join
    cand = (
        a.join(
            b,
            (F.col("a.j") == F.col("b.j"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col("a.rep") <= F.col("b.rep"))
            & (
                F.least(F.col("a.sz"), F.col("b.sz")) * 10
                >= F.greatest(F.col("a.sz"), F.col("b.sz")) * 7
            ),
        )
        .select(
            F.col("a.rep").alias("rep_a"), F.col("b.rep").alias("rep_b")
        )
        .distinct()
    )
    ga = reps.select(F.col("rep").alias("rep_a"), F.col("g").alias("g_a"))
    gb = reps.select(F.col("rep").alias("rep_b"), F.col("g").alias("g_b"))
    inter = F.size(F.array_intersect(F.col("g_a"), F.col("g_b")))
    union = F.size(F.col("g_a")) + F.size(F.col("g_b")) - inter
    # try_divide: an empty gram set gives union 0 — cannot reach here
    # (reps filters size > 0), and the filter stays NULL-safe if it did
    jac = F.try_divide(inter.cast("double"), union)
    vm = (
        cand.join(ga, "rep_a")
        .join(gb, "rep_b")
        .where(jac >= 0.7)
        .select("rep_a", "rep_b")
    )
    sym = vm.unionAll(
        vm.where(F.col("rep_a") != F.col("rep_b")).select(
            F.col("rep_b").alias("rep_a"), F.col("rep_a").alias("rep_b")
        )
    )
    # group stats are window-constant per group: the rep row already
    # carries them, so this is a projection of the checkpoint, not an
    # aggregation exchange
    gstat = frame.where(F.col("doc_id") == F.col("rep_id")).select(
        "rep_id",
        F.col("n_corpus").alias("g_corpus"),
        F.col("min_batch").alias("g_min_batch"),
    )
    adj = (
        sym.join(gstat, sym.rep_b == gstat.rep_id)
        .groupBy("rep_a")
        .agg(
            F.max((F.col("g_corpus") > 0).cast("int")).alias("any_corpus"),
            F.min("g_min_batch").alias("min_b"),
        )
    )
    batch = frame.where(F.col("is_new")).select("doc_id", "rep_id")
    return (
        batch.join(adj, batch.rep_id == adj.rep_a, "left")
        .select(
            "doc_id",
            F.coalesce("any_corpus", F.lit(0)).alias("dup_of_corpus"),
            F.coalesce(
                (F.col("min_b") < F.col("doc_id")).cast("int"), F.lit(0)
            ).alias("dup_in_batch"),
            (
                (F.coalesce("any_corpus", F.lit(0)) == 0)
                & ~F.coalesce(
                    F.col("min_b") < F.col("doc_id"), F.lit(False)
                )
            )
            .cast("int")
            .alias("keep"),
        )
    )


@query(
    "dedup_containment",
    oracle="""
    WITH grams AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, length(text) - 1),
               i -> substr(text, CAST(i AS INT), 3))) AS g
      FROM documents WHERE lang = 'en'
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                 / LEAST(len(a.g), len(b.g)), 6) AS containment
    FROM grams a JOIN grams b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
          / LEAST(len(a.g), len(b.g)) >= 0.6
    """,
)
def dedup_containment(spark, t):
    """Asymmetric containment near-dup — |A∩B| / min(|A|,|B|) ≥ 0.6 —
    the doc-in-doc detector Jaccard misses (a paragraph quoted inside
    a long page scores near-zero Jaccard but high containment).

    Candidate generation is PREFIX FILTERING (PPJoin family), not
    all-pairs: grams get a global rarity order (document frequency,
    then gram); each doc probes with only its |g|−⌈τ·|g|⌉+1 rarest
    grams, against an inverted index of ALL grams.  Completeness is a
    theorem, not a recall estimate: if none of the smaller set's
    prefix grams hit the other doc, the overlap is < ⌈τ·min⌉ — so the
    oracle's all-pairs result is matched exactly and the whole
    blocking scheme is value-hash-checked.  Cost is Θ(Σ_g df(g)·
    prefix_count(g)) — linear-ish equi-joins on gram keys, no N².
    At 100 TB: df table is one groupBy, prefixes shrink as τ grows,
    and hot grams never enter probes (rarest-first order).

    **Exact-collapse-first** (same posture as the minhash/simhash
    tiers): prefix-filter and verify only the representative of each
    clone group (:func:`collapse`), then expand rep pairs to
    member pairs (:func:`_expand_rep_pairs`, within-group containment
    ≡ 1.0).  Without it, clones share every prefix gram, so the
    inverted-index join is quadratic in clone multiplicity — the same
    failure mode the simhash band join had at 500k docs.
    Completeness survives the collapse: the prefix theorem holds for
    ANY consistent global gram order, so computing df over reps
    instead of members only re-ranks the prefixes; the exact verify
    makes the output invariant (hash-checked vs the all-pairs oracle).
    """
    from pyspark.sql.window import Window

    tau = 0.6
    docs = (
        t["documents"]
        .where(F.col("lang") == "en")
        .select(
            "doc_id",
            "text",
            F.array_distinct(
                # sequence(1, 0) counts DOWN in Spark ([1, 0]), so texts
                # shorter than 3 chars would emit spurious grams the
                # oracle's range() (empty) never produces — guard like
                # the 5/8-gram ops in text.py do.
                F.expr(
                    "CASE WHEN length(text) >= 3 THEN "
                    "transform(sequence(1, length(text) - 2), "
                    "i -> substring(text, i, 3)) "
                    "ELSE array() END"
                )
            ).alias("g"),
        )
        # empty-gram docs can never appear in the naive form's output
        # (no inverted-index rows → never a candidate) — filtering
        # them BEFORE the collapse keeps _expand_rep_pairs from
        # fabricating within-group pairs the oracle never emits
        .where(F.size("g") > 0)
    )
    mem, reps = collapse(docs)
    mem = mem.select("doc_id", "rep_id")
    rd = reps.select("doc_id", "g")
    grams = rd.select(
        "doc_id", F.size("g").alias("n"), F.explode("g").alias("gram")
    )
    df_tbl = grams.groupBy("gram").agg(F.count("*").alias("df"))
    ranked = grams.join(df_tbl, "gram")
    w = Window.partitionBy("doc_id").orderBy("df", "gram")
    prefix = (
        ranked.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= F.col("n") - F.ceil(tau * F.col("n")) + 1)
        .select("doc_id", "gram")
    )
    cand = (
        prefix.alias("p")
        .join(grams.select("doc_id", "gram").alias("i"), "gram")
        .where(F.col("p.doc_id") != F.col("i.doc_id"))
        .select(
            F.least("p.doc_id", "i.doc_id").alias("doc_a"),
            F.greatest("p.doc_id", "i.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    a = rd.select(F.col("doc_id").alias("doc_a"), F.col("g").alias("ga"))
    b = rd.select(F.col("doc_id").alias("doc_b"), F.col("g").alias("gb"))
    inter = F.size(F.array_intersect("ga", "gb"))
    mn = F.least(F.size("ga"), F.size("gb"))
    contain = inter.cast("double") / mn
    rep_pairs = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .where(contain >= tau)
        .select(
            F.col("doc_a").alias("rep_a"),
            F.col("doc_b").alias("rep_b"),
            F.round(contain, 6).alias("containment"),
        )
    )
    return _expand_rep_pairs(rep_pairs, mem, "containment", 1.0)


@query(
    "graph_triangle_count",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), tf AS (
      SELECT doc_id, token, count(*) AS cnt FROM tok GROUP BY doc_id, token
    ), th AS (
      SELECT token, {_DUCK_TOKHASH} AS h FROM (SELECT DISTINCT token FROM tf)
    ), bits AS (
      SELECT tf.doc_id, b.b,
             SUM(CASE WHEN (th.h >> CAST(b.b AS INT)) & 1 = 1
                      THEN tf.cnt ELSE -tf.cnt END) AS s
      FROM tf JOIN th USING (token)
      CROSS JOIN (SELECT unnest(range(0, 32)) AS b) b
      GROUP BY tf.doc_id, b.b
    ), fp AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << CAST(b AS INT)) ELSE 0 END)
                  AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id
    ), edges AS (
      SELECT a.doc_id AS u, b.doc_id AS v
      FROM fp a JOIN fp b
        ON a.doc_id < b.doc_id
       AND bit_count(xor(a.simhash, b.simhash)) <= {_HAMMING_MAX}
    )
    SELECT CAST(count(*) AS BIGINT) AS n_triangles
    FROM edges e1
    JOIN edges e2 ON e1.v = e2.u
    JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    """,
)
def graph_triangle_count(spark, t):
    """Triangle counting over the near-dup graph — the standard graph
    statistic behind clustering-coefficient / community-density checks
    on a dedup pair graph (dense triangles = true duplicate cliques;
    sparse bridges = likely false-positive edges worth re-verifying).

    Edges come from the engine's own banded-simhash pipeline; the
    oracle rebuilds them ALL-PAIRS, so this hash check proves band
    completeness AND the count in one shot.

    **Collapsed counting (r13)**: the expanded member graph is a
    pure function of the fingerprint-value groups — equal-value
    members form cliques, adjacent groups complete bipartite blocks —
    so the triangle count decomposes exactly into (1) ΣC(c,3) within
    groups, (2) C(c,2)·c' + C(c',2)·c per adjacent group pair, and
    (3) a compact-forward join over the REP graph (rep_a < rep_b
    orientation counts each rep triangle once) weighted by the size
    product.  All integer arithmetic — byte-identical to the member-
    level compact-forward count, but the joins touch only rep rows:
    the member pair list is quadratic in clone multiplicity (~2.3B
    pairs at sf10) and never materializes.  At 100 TB the compact-
    forward join on reps keeps the classic skew bound (high-degree
    reps get mostly in-edges), and group sizes ride a broadcast-sized
    frame.
    """
    fp = _simhash_fingerprints(spark, t)
    m, rep_pairs = _simhash_rep_pairs(spark, fp, _HAMMING_MAX)
    sizes = m.groupBy("rep_id").agg(F.count("*").alias("c"))
    # (1) all three inside one group: C(c,3); product of 3 consecutive
    # ints is divisible by 6, so integral `div` is exact
    t1 = sizes.select(F.expr("c * (c - 1) * (c - 2) div 6").alias("tri"))
    # (2) two in one group + one in an adjacent group, both directions
    # of each unordered rep pair
    sa = sizes.select(F.col("rep_id").alias("rep_a"), F.col("c").alias("ca"))
    sb = sizes.select(F.col("rep_id").alias("rep_b"), F.col("c").alias("cb"))
    psz = rep_pairs.select("rep_a", "rep_b").join(sa, "rep_a").join(sb, "rep_b")
    t2 = psz.select(
        (
            F.expr("ca * (ca - 1) div 2") * F.col("cb")
            + F.expr("cb * (cb - 1) div 2") * F.col("ca")
        ).alias("tri")
    )
    # (3) one member in each of three pairwise-adjacent groups:
    # compact-forward on the (rep_a < rep_b)-oriented rep graph, one
    # row per rep triangle, weighted by the size product
    r = rep_pairs.select("rep_a", "rep_b")
    r1, r2, r3 = r.alias("r1"), r.alias("r2"), r.alias("r3")
    rep_tri = (
        r1.join(r2, F.col("r1.rep_b") == F.col("r2.rep_a"))
        .join(
            r3,
            (F.col("r3.rep_a") == F.col("r1.rep_a"))
            & (F.col("r3.rep_b") == F.col("r2.rep_b")),
        )
        .select(
            F.col("r1.rep_a").alias("ga"),
            F.col("r1.rep_b").alias("gb"),
            F.col("r2.rep_b").alias("gc"),
        )
    )
    t3 = (
        rep_tri.join(sizes.select(F.col("rep_id").alias("ga"), F.col("c").alias("ca")), "ga")
        .join(sizes.select(F.col("rep_id").alias("gb"), F.col("c").alias("cb")), "gb")
        .join(sizes.select(F.col("rep_id").alias("gc"), F.col("c").alias("cc")), "gc")
        .select((F.col("ca") * F.col("cb") * F.col("cc")).alias("tri"))
    )
    return (
        t1.unionAll(t2)
        .unionAll(t3)
        .agg(F.coalesce(F.sum("tri"), F.lit(0).cast("long")).alias("n_triangles"))
    )


@query(
    "graph_degree_distribution",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), tf AS (
      SELECT doc_id, token, count(*) AS cnt FROM tok GROUP BY doc_id, token
    ), th AS (
      SELECT token, {{_DUCK_TOKHASH}} AS h FROM (SELECT DISTINCT token FROM tf)
    ), bits AS (
      SELECT tf.doc_id, b.b,
             SUM(CASE WHEN (th.h >> CAST(b.b AS INT)) & 1 = 1
                      THEN tf.cnt ELSE -tf.cnt END) AS s
      FROM tf JOIN th USING (token)
      CROSS JOIN (SELECT unnest(range(0, 32)) AS b) b
      GROUP BY tf.doc_id, b.b
    ), fp AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << CAST(b AS INT)) ELSE 0 END)
                  AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id
    ), edges AS (
      SELECT a.doc_id AS u, b.doc_id AS v
      FROM fp a JOIN fp b
        ON a.doc_id < b.doc_id
       AND bit_count(xor(a.simhash, b.simhash)) <= {_HAMMING_MAX}
    ), sym AS (
      SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges
    ), deg AS (
      SELECT u, count(*) AS degree FROM sym GROUP BY u
    )
    SELECT degree, count(*) AS n_nodes
    FROM deg GROUP BY degree
    """.replace("{_DUCK_TOKHASH}", _DUCK_TOKHASH.replace("{s}", "token")
                if "{s}" in _DUCK_TOKHASH else _DUCK_TOKHASH),
)
def graph_degree_distribution(spark, t):
    """Degree distribution of the near-dup graph — the first statistic
    a dedup-graph sanity check reads: a heavy tail means hub documents
    (boilerplate matching everything, the false-positive factory), and
    its shape decides whether component resolution needs a hub cutoff.

    Edges come from the engine's banded-simhash candidates (as in
    graph_pagerank / graph_triangle_count), the oracle rebuilds them
    ALL-PAIRS — so band completeness is re-proven through yet another
    lens, and the whole histogram is value-hash-checked.  Computed on
    the COLLAPSED rep graph (r13): all members of a fingerprint-value
    group share one degree, so the histogram is a size-weighted agg
    over rep rows, never the member pair list.  At 100 TB this is the
    cheap pre-flight before pointer-doubling components: degrees are
    one agg over the rep edge list, and the histogram tells you the
    iteration count and the skew story before you commit to the
    expensive pass.
    """
    fp = _simhash_fingerprints(spark, t)
    m, rep_pairs = _simhash_rep_pairs(spark, fp, _HAMMING_MAX)
    # Collapsed degrees (r13): every member of a fingerprint-value
    # group G has the same degree (|G|-1 clique edges) + Σ|G'| over
    # adjacent groups — so the histogram is computable on the REP
    # graph with size weights, without expanding the member pair list
    # (quadratic in clone multiplicity).  Isolated docs (singleton
    # group, no neighbors → degree 0) never appear in the edge list,
    # matching the member-level form.
    sizes = m.groupBy("rep_id").agg(F.count("*").alias("c"))
    rsym = rep_pairs.select(
        F.col("rep_a").alias("r"), F.col("rep_b").alias("nb")
    ).unionAll(
        rep_pairs.select(F.col("rep_b").alias("r"), F.col("rep_a").alias("nb"))
    )
    nsum = (
        rsym.join(
            sizes.select(F.col("rep_id").alias("nb"), F.col("c").alias("nc")),
            "nb",
        )
        .groupBy("r")
        .agg(F.sum("nc").alias("nsum"))
    )
    deg = (
        sizes.join(nsum, sizes.rep_id == nsum.r, "left")
        .select(
            "c",
            (
                F.col("c") - 1 + F.coalesce("nsum", F.lit(0).cast("long"))
            ).alias("degree"),
        )
        .where(F.col("degree") > 0)
    )
    return deg.groupBy("degree").agg(F.sum("c").alias("n_nodes"))
