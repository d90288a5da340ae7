"""Similarity-search / embedding operators (SURVEY.md §2.10, L4, L5, L9).

All vector math runs JVM-side via higher-order functions
(``zip_with`` + ``aggregate``, evaluated interpreted, outside
whole-stage codegen) — no Python in the loop.  float32 elements are
widened to float64 *before* any arithmetic, and sums accumulate
left-to-right, mirroring DuckDB's ``list_sum`` order so raw doubles
agree bit-for-bit.

Every score is :func:`cosine` over a :func:`dot` and two norms the
frames already carry: :func:`with_norm` stores each vector's norm once,
on the corpus side and on the one- or Q-row query side, so no norm is
computed per pair.

Scale story: brute-force cosine is O(N·d) per query — fine to ~10⁷
vectors per executor-core batch.  Past that, bucket with LSH (random
hyperplane signs → band equi-join, same shape as dedup L3) or an IVF
coarse quantizer (k-means cells → probe nearest cells only); both
reduce the scan to a candidate slice and re-rank exactly.
"""

from __future__ import annotations

# module-level (not function-local) so pandas-UDF type hints — which are
# strings under `from __future__ import annotations` and get resolved
# against MODULE globals by pyspark — can name pd.Series/pd.DataFrame
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tweetdb_spark import scratch
from tweetdb_spark.catalog import table_path
from tweetdb_spark.registry import query


def dot(a: str, b: str) -> Column:
    """Σ aᵢ·bᵢ in float64, left-to-right (matches DuckDB list_sum), of
    the array columns named ``a`` and ``b`` (SQL names, so ``x.col``
    qualifies).  One SQL expression: a fold built from Python lambdas
    costs tens of ms of Python time per call, this one py4j call."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0D, (acc, x) -> acc + x)"
    )


def l2_norm(a: str) -> Column:
    return F.sqrt(dot(a, a))


def with_norm(df: DataFrame) -> DataFrame:
    """``df`` plus ``norm``, the L2 norm of its ``embedding``: the one
    place a norm is computed, once per vector."""
    return df.withColumn("norm", l2_norm("embedding"))


def cosine(d: Column, na: Column, nb: Column) -> Column:
    """Cosine of a dot product ``d`` and the two vectors' norms, with
    SQL-NULL zero-norm semantics: an empty or all-zero vector has no
    direction, so its cosine is NULL — exactly what DuckDB's x/0
    yields; Spark's ANSI `/` would crash instead.  Downstream
    thresholds/ranks then drop the row identically on both engines.
    ``na * nb`` is the product the oracles divide by (IEEE
    multiplication is commutative, so operand order is immaterial)."""
    return F.try_divide(d, na * nb)


def _queries(n: DataFrame, where: Column) -> DataFrame:
    """The query vectors of the normed frame ``n`` selected by ``where``,
    as a broadcast frame ``(q_id, qv, qnorm)``: a query *parameter*,
    not data."""
    return F.broadcast(
        n.where(where).select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("qv"),
            F.col("norm").alias("qnorm"),
        )
    )


def _query_cos() -> Column:
    """Exact cosine of a corpus row (``embedding``, ``norm``) against
    the query (``qv``, ``qnorm``) it is joined to, rounded to 6."""
    return F.round(
        cosine(dot("embedding", "qv"), F.col("norm"), F.col("qnorm")),
        6,
    )


# DuckDB-side mirror of dot(): identical association order.
# CASE/COALESCE mirror Spark's fold-from-0.0 exactly: an EMPTY vector
# has norm 0 (list_sum([]) is NULL in DuckDB, but Spark's aggregate
# starts at 0.0), while a NULL vector has norm NULL on both engines.
_DUCK_NORM = (
    "(CASE WHEN {v} IS NULL THEN NULL ELSE sqrt(COALESCE("
    "list_sum(list_transform({v}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 0)) END)"
)
_DUCK_DOT = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
)


@query(
    "sim_topk_cosine",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, e.label,
           ROUND({_DUCK_DOT.format(a='e.embedding', b='q.qv')}
                 / ({_DUCK_NORM.format(v='e.embedding')}
                    * {_DUCK_NORM.format(v='q.qv')}), 6) AS cos_sim
    FROM embeddings e, q
    WHERE e.vec_id <> 0
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """,
)
def sim_topk_cosine(spark, t):
    """L4: top-10 cosine neighbors of the query vector (vec_id=0).

    The query vector joins in as a broadcast single-row frame (a query
    *parameter*, not data).  Scoring is a narrow map over embeddings —
    no shuffle; TakeOrderedAndProject merges per-partition top-10s.
    """
    n = with_norm(t["embeddings"])
    scored = (
        n.where(F.col("vec_id") != 0)
        .crossJoin(_queries(n, F.col("vec_id") == 0))
        .select("vec_id", "label", _query_cos().alias("cos_sim"))
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col("vec_id")).limit(10)


@query(
    "sim_topk_cosine_batch",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5
    ), c AS (
      SELECT q.q_id, e.vec_id, e.label,
             ROUND({_DUCK_DOT.format(a='e.embedding', b='q.qv')}
                   / ({_DUCK_NORM.format(v='e.embedding')}
                      * {_DUCK_NORM.format(v='q.qv')}), 6) AS cos_sim
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id >= 5
    ), r AS (
      SELECT q_id, vec_id, label, cos_sim,
             row_number() OVER (
               PARTITION BY q_id ORDER BY cos_sim DESC, vec_id
             ) AS rn
      FROM c
    )
    SELECT q_id, vec_id, label, cos_sim, CAST(rn AS INT) AS rank
    FROM r WHERE rn <= 3
    """,
)
def sim_topk_cosine_batch(spark, t):
    """Batch similarity search: top-3 neighbors for EACH of a set of
    query vectors (vec_id < 5), in one plan.

    The shape that scales where a per-query loop cannot: queries are a
    broadcast dimension (Q rows), scoring is one narrow pass over the
    corpus (N·Q scores, no shuffle), and per-query top-k is a
    row_number window whose rank filter Spark pushes BELOW the shuffle
    (InferWindowGroupLimit → per-partition partial top-3 before any
    exchange — asserted in tests/test_plans.py).  At 100 TB with 10⁶
    queries this becomes the cell-joined ANN variant (probe cells of
    :func:`ensure_ivf_index` instead of the full corpus); the
    window-group-limit tail is identical.
    """
    from pyspark.sql.window import Window

    n = with_norm(t["embeddings"])
    scored = (
        n.where(F.col("vec_id") >= 5)
        .crossJoin(_queries(n, F.col("vec_id") < 5))
        .select("q_id", "vec_id", "label", _query_cos().alias("cos_sim"))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("q_id", "vec_id", "label", "cos_sim", "rank")
    )


@query(
    "sim_pairwise_label",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, label, embedding,
             {_DUCK_NORM.format(v='embedding')} AS norm
      FROM embeddings
    )
    SELECT CAST(a.label = b.label AS INTEGER) AS same_label,
           count(*) AS n_pairs,
           ROUND(AVG({_DUCK_DOT.format(a='a.embedding', b='b.embedding')}
                     / (a.norm * b.norm)), 3) + 0 AS mean_cos
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    GROUP BY 1
    """,
)
def sim_pairwise_label(spark, t):
    """L5: mean intra- vs inter-label cosine (embedding-quality report).

    All-pairs (N²/2) — acceptable ≤ ~10⁴ vectors; at scale, sample per
    label first (stratified) — the estimate converges fast and the
    shape is unchanged.  Norms precomputed once per vector, not per
    pair.  Size-guarded: refuses >50k vectors (use
    sim_pairwise_label_sampled at scale).
    """
    from tweetdb_spark.guards import exact_twin_input

    n = with_norm(
        exact_twin_input(
            t["embeddings"], "sim_pairwise_label", "sim_pairwise_label_sampled"
        )
    ).select("vec_id", "label", "embedding", "norm")
    a, b = n.alias("a"), n.alias("b")
    cos = cosine(
        dot("a.embedding", "b.embedding"),
        F.col("a.norm"),
        F.col("b.norm"),
    )
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .groupBy(
            (F.col("a.label") == F.col("b.label")).cast("int").alias("same_label")
        )
        .agg(
            F.count("*").alias("n_pairs"),
            # "+ 0" absorbs IEEE -0.0 (a near-zero mean can round to
            # -0.0 on one engine and +0.0 on the other; the
            # established analytics.py parity rule)
            (F.round(F.avg(cos), 3) + F.lit(0.0)).alias("mean_cos"),
        )
    )


_IVF_K = 16


def _valid_embeddings(df):
    """Rows whose embedding can actually be indexed/scored: NULL and
    zero-length vectors crash KMeans / ragged-stack numpy paths and are
    unrankable (cosine NULL) — every index ingest shares this filter."""
    return df.where(F.col("embedding").isNotNull() & (F.size("embedding") > 0))


def ensure_ivf_index(spark, t) -> tuple[str, str]:
    """Build (once per session and source content) the IVF index:
    vectors written partitioned by ``cell`` + a 16-row centroid table.

    This is the ingest-time step of an IVF deployment: at 100 TB the
    partitioned write IS the vector table's physical layout, paid once,
    and the centroid table is tiny reference data.  Returns
    (assignments_path, centroids_path).
    """
    return scratch.derived(
        spark, "ivf", [table_path(t.sf_dir, "embeddings")],
        lambda out: _build_ivf_index(spark, t, out),
    )


def _build_ivf_index(spark, t, out) -> tuple[str, str]:
    import numpy as np

    # degenerate-vector ingest filter: a NULL or empty embedding would
    # crash quantizer training and can never be a meaningful neighbor
    # anyway (its cosine is NULL in the exact twin, sorted last) — drop
    # it from the index, mirroring the exact tier's effective
    # semantics.  Also keeps the PQ tier clean: ensure_pq_index
    # trains/encodes over THIS table's residuals.
    e = _valid_embeddings(t["embeddings"])
    # Coarse quantizer trained driver-side on a BOUNDED seeded sample,
    # as dedup_semantic_blocked does and for the same two reasons
    # (sweeps/ab_r15_semantic_cap.log): a fit over the FULL corpus was
    # the dominant share of the index build (45 s at 2M vectors) and
    # run-to-run nondeterministic (treeAggregate arrival-order float
    # reductions).  faiss-style train-on-sample: ~100 vectors/centroid,
    # constant in corpus size; seeded numpy Lloyd is byte-stable.  The
    # cell ASSIGNMENT pass stays distributed (Arrow-batched argmin
    # against the broadcast centers — one BLAS product per batch, no
    # ml.Vector conversion).
    n_valid = e.count()
    # Explicit empty-input error: zero valid embeddings would otherwise
    # surface as an opaque np.stack ValueError ("need at least one
    # array to stack") from the driver-side fit.
    if n_valid == 0:
        raise ValueError(
            "ensure_ivf_index: embeddings table has no valid (non-NULL, "
            "non-empty) vectors to index"
        )
    fit_target = max(50_000, 100 * _IVF_K)
    fit_df = (
        e
        if n_valid <= fit_target
        else e.sample(fraction=fit_target / n_valid, seed=42)
    )
    X = np.stack(
        fit_df.select("embedding").toPandas()["embedding"].to_numpy()
    ).astype(np.float64)
    from tweetdb_spark.llm.dedup import _np_kmeans

    centers = _np_kmeans(X, _IVF_K, seed=42)
    bc = spark.sparkContext.broadcast(centers)

    def _assign(batches):
        import numpy as np
        import pandas as pd  # noqa: F401  (Arrow batch interface)

        C = np.asarray(bc.value, dtype=np.float64)
        c2 = (C * C).sum(axis=1)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            # nearest center by euclidean: ||v||² is row-constant, so
            # argmin(c² − 2 v·c) — identical to the old MLlib transform
            cell = np.argmin(c2[None, :] - 2.0 * (V @ C.T), axis=1)
            yield pdf.assign(cell=cell.astype("int32"))

    assigned = e.select("vec_id", "label", "embedding").mapInPandas(
        _assign, "vec_id bigint, label int, embedding array<float>, cell int"
    )
    idx = out("tweetdb_ivf")
    assigned.write.mode("overwrite").partitionBy("cell").parquet(idx)
    cents = out("tweetdb_ivfc")
    centers_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centers)],
        "cell int, center array<double>",
    )
    centers_df.write.mode("overwrite").parquet(cents)
    return idx, cents


@query("sim_ann_ivf", oracle=None, eager=True)  # approx (probes 8/16 cells) → rows-only
def sim_ann_ivf(spark, t):
    """ANN top-10 via an IVF coarse quantizer — the 100 TB path for L4.

    KMeans (k=16, fixed seed) partitions the vector space into cells;
    the query probes only its 8 nearest centroids and re-ranks exactly
    within them.  The fit + cell-partitioned write are AMORTIZED out of
    the query path via :func:`ensure_ivf_index` (once per session and
    source content, like the bucketed join tables); the query itself
    only (1) picks probe cells from the 16-row persisted centroid table
    (driver-side argmin — the model is tiny reference data), and (2)
    scans the probed partitions, pruned at the parquet level
    (PartitionFilters on ``cell``, asserted in tests).  Recall vs the
    exact brute-force twin (sim_topk_cosine) is asserted in tests.
    """
    import numpy as np

    idx_path, cents_path = ensure_ivf_index(spark, t)

    q = _queries(with_norm(t["embeddings"]), F.col("vec_id") == 0)
    q_row = q.select("qv").first()
    emb = None if q_row is None else q_row.qv
    if emb is None or len(emb) == 0:
        # degenerate query (missing row, NULL or empty vector): probe
        # nothing — the pipeline below then returns an empty frame with
        # the production schema, mirroring the exact twin where such a
        # query scores every row NULL
        probe = []
    else:
        qv = np.asarray(emb, dtype="float64")
        cents = spark.read.parquet(cents_path).orderBy("cell").collect()  # 16 rows
        centers = np.stack([np.asarray(r.center) for r in cents])
        # probe the 8 centroids nearest the query (driver-side: 16×64 floats)
        probe = np.argsort(((centers - qv) ** 2).sum(axis=1))[:8].tolist()

    assigned = spark.read.parquet(idx_path)
    scored = (
        with_norm(assigned.where(F.col("cell").isin(probe) & (F.col("vec_id") != 0)))
        .crossJoin(q)
        .select(
            "vec_id",
            "label",
            F.col("cell").cast("int").alias("cell"),
            _query_cos().alias("cos_sim"),
        )
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col("vec_id")).limit(10)


@query(
    "multimodal_norm",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, {_DUCK_NORM.format(v='embedding')} AS norm
      FROM embeddings
    )
    SELECT CAST(FLOOR(norm) AS INTEGER) AS norm_bucket,
           count(*) AS n_vecs,
           ROUND(AVG(norm), 4) AS avg_norm,
           MIN(norm) AS min_norm,
           MAX(norm) AS max_norm
    FROM n GROUP BY 1
    """,
)
def multimodal_norm(spark, t):
    """L9: L2-norm distribution of the embedding column, bucketed.

    The normalize-and-report primitive for any vector/multimodal
    column; min/max are order-insensitive exact, avg rounded.
    """
    n = with_norm(t["embeddings"])
    return (
        n.groupBy(F.floor("norm").cast("int").alias("norm_bucket"))
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg("norm"), 4).alias("avg_norm"),
            F.min("norm").alias("min_norm"),
            F.max("norm").alias("max_norm"),
        )
    )


# Portable deterministic "random" order: a Knuth multiplicative hash of
# vec_id, expressible identically in Spark SQL and DuckDB.  The key is
# reduced mod P BEFORE the multiply: replica-offset vec_ids reach ~9e9
# at sf1+ and 9e9 × 2654435761 overflows int64 (ANSI
# ARITHMETIC_OVERFLOW in sim_ann_ivf_pq's codebook sample);
# (P−1) × 2654435761 ≈ 5.7e18 < 2^63.  Used instead of rand(seed)
# because engine RNGs never agree; determinism makes the SAMPLED
# estimator hash-checkable against an oracle that draws the same
# sample.
_PORTABLE_SHUFFLE = "((vec_id % 2147483647) * 2654435761) % 2147483647"


@query(
    "sim_pairwise_label_sampled",
    oracle=f"""
    WITH h AS (
      SELECT vec_id, label, embedding,
             row_number() OVER (
               PARTITION BY label
               ORDER BY {_PORTABLE_SHUFFLE}, vec_id
             ) AS rn,
             count(*) OVER (PARTITION BY label) AS cnt
      FROM embeddings
    ), s AS (
      SELECT vec_id, label, embedding,
             {_DUCK_NORM.format(v='embedding')} AS norm
      FROM h WHERE rn * 2 <= cnt
    )
    SELECT CAST(a.label = b.label AS INTEGER) AS same_label,
           count(*) AS n_pairs,
           ROUND(AVG({_DUCK_DOT.format(a='a.embedding', b='b.embedding')}
                     / (a.norm * b.norm)), 3) + 0 AS mean_cos
    FROM s a JOIN s b ON a.vec_id < b.vec_id
    GROUP BY 1
    """,
)
def sim_pairwise_label_sampled(spark, t):
    """The scale path for sim_pairwise_label: stratified 50% sample.

    Per-label stratified sampling (row_number over a portable
    deterministic shuffle, keep the first half of each stratum) cuts
    the pair count 4x here and N^2/s^2-fold in general; the
    intra/inter-label mean-cosine estimate converges fast (see
    tests/test_llm_ops.py convergence test).  Deterministic sampling
    makes this hash-checkable: THE ORACLE DRAWS THE IDENTICAL SAMPLE,
    so this is graded as strictly as the exact twin — stronger
    evidence than the rows-only check a rand()-sampled variant would
    get.  At 100 TB: sample fraction becomes 1/sqrt(N)-ish, strata
    stay balanced by construction, and the all-pairs join runs on the
    sample only.
    """
    from pyspark.sql.window import Window

    # Skinny-rank sampling ("shuffle keys and metadata instead of
    # payloads"): the stratified row_number/count windows need only
    # (vec_id, label), so they rank a two-column projection and the
    # surviving vec_ids equi-join back to the vector table.  The window
    # exchange carries ~16 B/row, not the full frame's ~540 B/row
    # (twice: the a/b self-join below duplicates the subtree), and only
    # SAMPLED vectors move through the join.  Output-identical to
    # ranking the full frame: rn/cnt are computed over the identical
    # row set (the projection drops no rows), vec_id is the embeddings
    # key so the join re-attaches exactly the sampled rows, and a NULL
    # vec_id row — which contributes nothing downstream (a.vec_id <
    # b.vec_id is UNKNOWN for NULL) — is dropped by the equi-join with
    # the same net output.
    w = Window.partitionBy("label").orderBy(F.expr(_PORTABLE_SHUFFLE), "vec_id")
    wc = Window.partitionBy("label")
    keys = (
        t["embeddings"]
        .select("vec_id", "label")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("cnt", F.count("*").over(wc))
        .where(F.col("rn") * 2 <= F.col("cnt"))
        .select("vec_id")
    )
    sampled = t["embeddings"].join(keys, "vec_id")
    n = with_norm(sampled).select("vec_id", "label", "embedding", "norm")
    a, b = n.alias("a"), n.alias("b")
    cos = cosine(
        dot("a.embedding", "b.embedding"),
        F.col("a.norm"),
        F.col("b.norm"),
    )
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .groupBy(
            (F.col("a.label") == F.col("b.label")).cast("int").alias("same_label")
        )
        .agg(
            F.count("*").alias("n_pairs"),
            (F.round(F.avg(cos), 3) + 0).alias("mean_cos"),
        )
    )


@query(
    "embed_project_jl",
    oracle="""
    SELECT e.vec_id, kk.k,
           ROUND(list_sum(list_transform(range(0, 64), i ->
             (CASE WHEN ((((i * 2654435761 + (kk.k + 1) * 2654876161)
                           % 2147483647)
                          * ((i * 2654435761 + (kk.k + 1) * 2654876161)
                             % 2147483647))
                         % 2147483647) % 2 = 0
                   THEN 1.0 ELSE -1.0 END)
             * CAST(e.embedding[CAST(i AS INT) + 1] AS DOUBLE)))
             / 4.0, 6) + 0 AS proj
    FROM embeddings e
    CROSS JOIN (SELECT unnest(range(0, 16)) AS k) kk
    """,
)
def embed_project_jl(spark, t):
    """Johnson–Lindenstrauss sign-projection sketch: 64-dim float
    embeddings → 16-dim via a DETERMINISTIC ±1 matrix (sign of a
    portable integer hash of (i, k)), scaled by 1/√16.

    The cheap-dimensionality-reduction primitive for 100 TB embedding
    pipelines (Achlioptas-style database-friendly projection): pure
    per-row array math in codegen — no matrix broadcast, no Python,
    no shuffle; the "matrix" is an arithmetic expression both engines
    evaluate identically, and the fold adds the 64 terms in fixed
    index order so the doubles match bit-for-bit before the final
    ROUND.  Output is long-format (vec_id, k, proj) — scalar cells
    hash across engines; the array form is one groupBy away.
    Distance preservation (the reason JL exists) is asserted by
    pytest against exact cosines, not assumed.
    """
    # sign bit = parity of h² mod p, h = (i·K₁ + (k+1)·K₂) mod p: the
    # SQUARE is load-bearing — parities of the affine h alone repeat
    # with period 8 in i, collapsing the matrix to shifted copies of
    # one row (distance correlation 0.15; caught by the pytest).
    # h ≤ p-1 so h² < 2^62: no int64 overflow in either engine.
    h = "((i * 2654435761L + (k + 1) * 2654876161L) % 2147483647)"
    proj = F.expr(
        "transform(sequence(0, 15), k -> "
        "round(aggregate(sequence(0, 63), cast(0 as double), (acc, i) -> "
        f"acc + (CASE WHEN (({h} * {h}) % 2147483647) % 2 = 0 "
        "THEN 1.0D ELSE -1.0D END) "
        "* CAST(try_element_at(embedding, CAST(i AS INT) + 1) AS DOUBLE)) "
        "/ 4.0, 6) + 0)"
    )
    # Exact-collapse-first: the projection is a pure function of the
    # embedding, and the 16×64 interpreted fold is the whole cost
    # (254 s at 2M vectors) — evaluate it once per DISTINCT
    # vector (xxhash64 collapse, as in dedup_semantic_blocked) and
    # expand (rep, k, proj) back over the member map.  The fold itself
    # is untouched, so the bit-for-bit cross-engine arithmetic the
    # docstring promises is unchanged — fewer evaluations, same
    # doubles.
    from pyspark.sql import Window as _W

    d = t["embeddings"].withColumn("hh", F.xxhash64("embedding")).withColumn(
        "rep_id", F.min("vec_id").over(_W.partitionBy("hh"))
    )
    mem = d.select("vec_id", "rep_id")
    rep_proj = (
        d.where(F.col("vec_id") == F.col("rep_id"))
        .select(F.col("vec_id").alias("rep_id"), F.posexplode(proj).alias("k", "proj"))
    )
    return mem.join(rep_proj, "rep_id").select(
        "vec_id", F.col("k").cast("bigint").alias("k"), "proj"
    )


@query(
    "embed_quantize_i8",
    oracle="""
    WITH b AS (
      SELECT vec_id, embedding,
             CAST(list_min(embedding) AS DOUBLE) AS lo,
             CAST(list_max(embedding) AS DOUBLE) AS hi
      FROM embeddings
    ), s AS (
      SELECT vec_id, embedding, lo, hi, (hi - lo) / 255 AS sc FROM b
    )
    SELECT vec_id,
           ROUND(lo, 6) AS lo,
           ROUND(hi, 6) AS hi,
           CASE WHEN hi = lo THEN 0.0 ELSE
             ROUND(list_sum(list_transform(
                     list_transform(embedding, x ->
                       CAST(x AS DOUBLE)
                       - (lo + floor((CAST(x AS DOUBLE) - lo) / sc + 0.5) * sc)),
                     e -> e * e))
                   / len(embedding), 8) + 0
           END AS mse_q8
    FROM s
    """,
)
def embed_quantize_i8(spark, t):
    """Scalar int8 quantization QA: per-vector [min, max] affine code
    (q = half-up round of (x-lo)/scale, 0..255) and the reconstruction
    MSE it would incur.

    The embedding-storage primitive at 100 TB: 4x smaller than
    float32, and this report is the acceptance gate for switching the
    ANN index to quantized codes.  Everything is per-row array math
    (no shuffle); rounding is the portable half-up floor(x+0.5) form
    and the error fold is fixed left-to-right order, so both engines
    produce bit-identical doubles before the final ROUND.
    """
    e = F.col("embedding")
    base = t["embeddings"].select(
        "vec_id",
        "embedding",
        F.array_min(e).cast("double").alias("lo"),
        F.array_max(e).cast("double").alias("hi"),
    ).withColumn("sc", (F.col("hi") - F.col("lo")) / 255)
    err = F.expr(
        "transform(embedding, x -> CAST(x AS DOUBLE) "
        "- (lo + floor(try_divide(CAST(x AS DOUBLE) - lo, sc) + 0.5) * sc))"
    )
    # try_divide: an EMPTY vector has size 0 (ANSI / crashes; DuckDB
    # yields NULL) and a constant vector has scale 0 (same class)
    mse = F.try_divide(
        F.aggregate(err, F.lit(0.0), lambda acc, v: acc + v * v),
        F.size("embedding"),
    )
    return base.select(
        "vec_id",
        F.round("lo", 6).alias("lo"),
        F.round("hi", 6).alias("hi"),
        F.when(F.col("hi") == F.col("lo"), F.lit(0.0))
        .otherwise(F.round(mse, 8) + 0)
        .alias("mse_q8"),
    )


@query(
    "embed_centroids",
    oracle="""
    SELECT label,
           CAST(p AS INT) AS pos,
           CAST(count(*) AS BIGINT) AS n_vecs,
           ROUND(AVG(CAST(embedding[CAST(p + 1 AS INT)] AS DOUBLE)), 6) + 0
             AS mean_val
    FROM embeddings, unnest(range(0, len(embedding))) AS u(p)
    GROUP BY label, p
    """,
)
def embed_centroids(spark, t):
    """Per-label centroid vectors, long format (label, dim, mean).

    The class-prototype primitive (IVF coarse-quantizer training,
    semantic-dedup blocking, nearest-class-mean classification all
    start here).  posexplode → two-phase avg: the shuffle carries
    (label, pos) partial sums — labels × dims rows, independent of N.
    Long format keeps every cell scalar (array outputs crash the
    driver canonicalizer); consumers pivot back with
    array_agg-sort-by-pos when they need vectors.
    """
    return (
        t["embeddings"]
        .select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(
            F.count("*").alias("n_vecs"),
            (F.round(F.avg(F.col("v").cast("double")), 6) + 0).alias("mean_val"),
        )
    )


# Deterministic pseudo-random hyperplane weight for (plane i, dim j):
# portable integer mix scaled to [-0.5, 0.5) — no RNG, so signatures
# are reproducible across engines, runs, and re-shards.
_HYPERPLANE_W = (
    "(CAST(({i} * 2654435761 + ({j} + 1) * 2654876161) % 2147483647 AS DOUBLE)"
    " / 2147483647.0 - 0.5)"
)


def _rh_signature_expr(vec: str = "embedding") -> str:
    """32-bit random-hyperplane signature: bit i = sign of v·w_i."""
    return (
        "aggregate(sequence(0, 31), cast(0 as bigint), (acc, i) -> acc + "
        "CASE WHEN aggregate(zip_with(" + vec + ", sequence(0, size(" + vec + ") - 1), "
        "(x, j) -> CAST(x AS DOUBLE) * " + _HYPERPLANE_W.format(i="i", j="j") + "), "
        "cast(0.0 as double), (a, v) -> a + v) > 0 "
        "THEN shiftleft(cast(1 as bigint), cast(i as int)) ELSE 0 END)"
    )


_LSH_BANDS = 8


def ensure_lsh_index(spark, t) -> str:
    """Build (once per session and source content) the band-partitioned
    LSH index and return its path.

    The ingest-time step of an LSH deployment: signatures are computed
    in one narrow pass and the table is written partitioned by
    ``(j, band)`` — 8×16 = 128 physical partitions — so a probe is a
    parquet partition-pruned read of the 8 (single-probe) or 40
    (multi-probe) buckets it names, never a scan.  Each vector appears
    once per band (8×): the standard multi-band redundancy an LSH index
    stores in exchange for probe-time partition pruning (at extreme
    scale, store ids only and join the vectors back from the base table).
    """
    return scratch.derived(
        spark, "lsh", [table_path(t.sf_dir, "embeddings")],
        lambda out: _build_lsh_index(t, out),
    )


def _build_lsh_index(t, out) -> str:
    sig = F.expr(_rh_signature_expr())
    # same degenerate-vector ingest filter as the IVF tier: a NULL/
    # empty embedding signs to a NULL signature, which would land in a
    # NULL band partition nothing ever probes — drop it at ingest
    base = with_norm(_valid_embeddings(t["embeddings"])).withColumn("sig", sig)
    bands = base.select(
        "vec_id", "label", "embedding", "norm",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.expr(f"shiftright(sig, {4 * j}) & 15").alias("band"),
                    )
                    for j in range(_LSH_BANDS)
                ]
            )
        ).alias("b"),
    ).select("vec_id", "label", "embedding", "norm", "b.j", "b.band")
    path = out("tweetdb_lsh")
    bands.write.mode("overwrite").partitionBy("j", "band").parquet(path)
    return path


def _lsh_query_row(t):
    """(embedding, norm, sig) of the query vector — one driver-side row,
    like the IVF centroid read."""
    return (
        with_norm(t["embeddings"])
        .withColumn("sig", F.expr(_rh_signature_expr()))
        .where(F.col("vec_id") == 0)
        .select("embedding", "norm", "sig")
        .first()
    )


def _lsh_probe(spark, t, probes):
    """Partition-pruned candidate read + exact cosine re-rank for the
    given [(j, band), ...] probe list."""
    idx = ensure_lsh_index(spark, t)
    qrow = _lsh_query_row(t)
    if qrow is None or qrow.sig is None or qrow.embedding is None or len(
        qrow.embedding
    ) == 0:
        # degenerate query (missing row, NULL/empty vector -> NULL
        # signature): probe nothing — empty result, production schema
        # (same contract as the IVF guards)
        pred = F.lit(False)
        qv = spark.createDataFrame([], "qv array<double>, qnorm double")
    else:
        pred = None
        for j, b in probes(int(qrow.sig)):
            c = (F.col("j") == j) & (F.col("band") == b)
            pred = c if pred is None else (pred | c)
        qv = spark.createDataFrame(
            [([float(x) for x in qrow.embedding], float(qrow.norm))],
            "qv array<double>, qnorm double",
        )
    cand = (
        spark.read.parquet(idx)
        .where(pred & (F.col("vec_id") != 0))
        .dropDuplicates(["vec_id"])
        .crossJoin(F.broadcast(qv))
    )
    return (
        cand.select("vec_id", "label", _query_cos().alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(10)
    )


@query("sim_ann_lsh", oracle=None, eager=True)  # approx (band-probed) → rows-only
def sim_ann_lsh(spark, t):
    """ANN top-10 via random-hyperplane (SimHash-for-vectors) LSH —
    the other scale path for L4 alongside sim_ann_ivf.

    32 deterministic hyperplanes give every vector a 32-bit sign
    signature; 8 bands of 4 bits become the index's PHYSICAL partition
    keys (:func:`ensure_lsh_index`, built once per corpus).  A query
    reads exactly the 8 partitions its own band values name —
    partition-pruned at the parquet level, asserted in tests — then
    exact cosine re-ranks the candidate slice.  No trained model,
    unlike IVF — LSH is the choice when the corpus distribution
    drifts.  Recall vs the exact scan is asserted by pytest.
    """
    def probes(sig):
        return [(j, (sig >> (4 * j)) & 15) for j in range(_LSH_BANDS)]

    return _lsh_probe(spark, t, probes)


@query("sim_ann_multiprobe", oracle=None, eager=True)  # approx (probe-expanded) → rows-only
def sim_ann_multiprobe(spark, t):
    """Multi-probe LSH ANN: sim_ann_lsh plus the Hamming-1
    neighborhood of every query band (Lv et al., VLDB'07).

    A true neighbor that disagrees with the query on exactly one
    hyperplane per band is invisible to single-probe LSH; flipping
    each of the 4 bits of each query band (8 bands × 5 probes = 40
    partitions read instead of 8) recovers those near-miss buckets.
    This is the standard recall/index-size trade: multi-probe gets
    the recall of 5× more hash tables while storing ONE index —
    the table side (:func:`ensure_lsh_index`, shared with
    sim_ann_lsh) is unchanged, only the probe list grows.  Recall ≥
    single-probe is asserted by pytest.
    """
    def probes(sig):
        out = []
        for j in range(_LSH_BANDS):
            band = (sig >> (4 * j)) & 15
            out.append((j, band))
            out.extend((j, band ^ (1 << b)) for b in range(4))
        return out

    return _lsh_probe(spark, t, probes)


# ---------------------------------------------------------------------------
# IVF-PQ: product-quantized codes over the IVF cells — the tier that makes
# the 100 TB vector scan cheap in BYTES, not just in partitions.  Where
# sim_ann_ivf prunes which cells are read, PQ shrinks what each cell costs:
# a d=64 float32 vector (256 B) becomes _PQ_M=8 uint4 codes (4 B) — 64×
# smaller — scored against a per-query lookup table without ever touching
# the original floats.  Faiss-style residual encoding (Jégou et al., TPAMI
# 2011): codes quantize (x − coarse_centroid), which concentrates the
# distribution each codebook must cover.
#
# Division of labor, chosen for Spark's execution model:
#   - codebook TRAINING: driver-side numpy Lloyd's on a deterministic
#     ≤2048-vector sample — codebooks are (8×16×8) floats of reference
#     data, and sample-trained codebooks are standard practice at any
#     corpus size (Faiss trains on ~10⁵ samples for 10⁹-vector indexes);
#   - ENCODING: one distributed Arrow-batched pandas UDF pass at ingest
#     (argmin over 16 centroids × 8 subspaces, vectorized numpy), written
#     cell-partitioned next to the IVF layout;
#   - QUERY: pure JVM — the ADC lookup table (probe_cells × 8 × 16 floats)
#     joins in as a broadcast dim and codes are scored by
#     aggregate(sequence, element_at) inside codegen; top-C by approx
#     distance (TakeOrdered), then an exact-cosine re-rank of C=50
#     candidates against the float vectors.  No Python in the query path.
# ---------------------------------------------------------------------------

_PQ_M = 8      # subspaces (d=64 → 8 dims each)
_PQ_KSUB = 16  # centroids per subspace → 4-bit codes


def _train_pq(X, m: int = _PQ_M, ksub: int = _PQ_KSUB, iters: int = 15):
    """Per-subspace Lloyd's k-means on a residual sample (numpy, seeded).

    n ≤ 2048 × d = 64: milliseconds on the driver.  Deterministic by
    fixed seed so the index (and the recall test) is reproducible.
    """
    import numpy as np

    n, d = X.shape
    dsub = d // m
    rng = np.random.RandomState(42)
    books = []
    for s in range(m):
        Xs = X[:, s * dsub : (s + 1) * dsub]
        C = Xs[rng.choice(n, size=ksub, replace=n < ksub)].copy()
        for _ in range(iters):
            d2 = ((Xs[:, None, :] - C[None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(1)
            for k in range(ksub):
                pts = Xs[assign == k]
                if len(pts):
                    C[k] = pts.mean(0)
        books.append(C)
    return np.stack(books)  # (m, ksub, dsub)


def ensure_pq_index(spark, t) -> tuple[str, str]:
    """Build (once per session and source content) the IVF-PQ index on
    top of :func:`ensure_ivf_index`'s cell layout.

    Returns (codes_path, codebook_path).  The codes table holds
    (vec_id, label, cell, norm, codes array<int>) partitioned by
    cell; the codebook table holds (s, k, center array<double>) —
    m×ksub tiny reference rows, read driver-side at probe time like
    the IVF centroids.
    """
    return scratch.derived(
        spark, "pq", [table_path(t.sf_dir, "embeddings")],
        lambda out: _build_pq_index(spark, t, out),
    )


def _build_pq_index(spark, t, out) -> tuple[str, str]:
    import numpy as np

    idx_path, cents_path = ensure_ivf_index(spark, t)
    assigned = spark.read.parquet(idx_path)
    cents = spark.read.parquet(cents_path)

    # deterministic ≤2048-vector training sample (portable hash order,
    # same device as sim_pairwise_label_sampled): TakeOrdered, not a sort
    sample = (
        assigned.join(F.broadcast(cents), "cell")
        .select(
            F.expr(
                "zip_with(embedding, center,"
                " (x, c) -> CAST(x AS DOUBLE) - c)"
            ).alias("resid")
        )
        .orderBy(F.expr(_PORTABLE_SHUFFLE), "vec_id")
        .limit(2048)
        .collect()
    )
    books = _train_pq(np.asarray([r.resid for r in sample], dtype="float64"))

    # distributed encode: one Arrow-batched pass, vectorized argmin
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    m, ksub, dsub = books.shape

    # explicit-signature form: module-level `from __future__ import
    # annotations` stringifies hints, which pandas_udf can't inspect
    def _encode(resid):
        R = np.stack(resid.to_numpy())  # (n, d)
        out = np.empty((len(R), m), dtype="int32")
        for s in range(m):
            Rs = R[:, s * dsub : (s + 1) * dsub]
            d2 = ((Rs[:, None, :] - books[s][None, :, :]) ** 2).sum(-1)
            out[:, s] = d2.argmin(1)
        return pd.Series(list(out))

    encode = pandas_udf(_encode, "array<int>")

    codes_path = out("tweetdb_pq")
    (
        with_norm(assigned)
        .join(F.broadcast(cents), "cell")
        .withColumn(
            "resid",
            F.expr("zip_with(embedding, center, (x, c) -> CAST(x AS DOUBLE) - c)"),
        )
        .select(
            "vec_id",
            "label",
            "cell",
            # one scalar per vector: lets ADC rank by approximate COSINE
            # (the exact metric) instead of L2, at 8 extra bytes/vector
            "norm",
            encode("resid").alias("codes"),
        )
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(codes_path)
    )
    books_path = out("tweetdb_pqb")
    spark.createDataFrame(
        [
            (s, k, [float(x) for x in books[s][k]])
            for s in range(m)
            for k in range(ksub)
        ],
        "s int, k int, center array<double>",
    ).write.mode("overwrite").parquet(books_path)
    return codes_path, books_path


@query("sim_ann_ivf_pq", oracle=None, eager=True)  # approx (PQ-scored candidates) → rows-only
def sim_ann_ivf_pq(spark, t):
    """ANN top-10 via IVF cells + product-quantized ADC scoring + exact
    re-rank — the bytes-scale path for L4.

    Probes the 8 nearest cells like sim_ann_ivf, but scores CODES (4 B
    per vector) against a per-(subspace, code) inner-product lookup
    table built driver-side from the query — dot(q, x) decomposes as
    dot(q, cell_centroid) + Σₛ dot(qₛ, bookₛ[codeₛ]), so the ADC ranks
    by APPROXIMATE COSINE (the exact metric; each vector's true norm
    rides along as one stored scalar), not by a proxy L2.  The
    aggregate(sequence, element_at) fold stays in whole-stage codegen;
    the float embeddings are touched only for the 50 ADC-best
    candidates, which an exact cosine re-ranks to the final 10.
    Recall vs the brute-force scan asserted in tests.
    """
    import numpy as np

    codes_path, books_path = ensure_pq_index(spark, t)
    _, cents_path = ensure_ivf_index(spark, t)

    e = t["embeddings"]
    q = _queries(with_norm(e), F.col("vec_id") == 0)
    q_row = q.select("qv").first()
    m, ksub = _PQ_M, _PQ_KSUB
    emb = None if q_row is None else q_row.qv
    if emb is None or len(emb) == 0:
        # degenerate query: empty probe/LUT set -> empty result with
        # the production schema (same contract as sim_ann_ivf's guard)
        probe, lut_rows, qnorm = [], [], 0.0
    else:
        qv = np.asarray(emb, dtype="float64")
        cents = spark.read.parquet(cents_path).orderBy("cell").collect()
        centers = np.stack([np.asarray(r.center) for r in cents])
        probe = np.argsort(((centers - qv) ** 2).sum(axis=1))[:8].tolist()

        brows = spark.read.parquet(books_path).collect()  # m×ksub tiny rows
        dsub = len(qv) // m
        books = np.zeros((m, ksub, dsub))
        for r in brows:
            books[r.s][r.k] = np.asarray(r.center)

        # inner-product ADC: the (m·ksub) dot(qₛ, bookₛ[k]) table is
        # cell-independent; the per-cell dot(q, centroid) offset is one
        # double per probed cell.  One broadcast row per cell carries both.
        qnorm = float(np.sqrt((qv * qv).sum()))
        flat = [
            float(qv[s * dsub : (s + 1) * dsub] @ books[s][k])
            for s in range(m)
            for k in range(ksub)
        ]
        lut_rows = [
            (int(c), float(qv @ centers[c]), flat) for c in probe
        ]
    lut = spark.createDataFrame(
        lut_rows, "cell int, offset double, lut array<double>"
    )

    codes = spark.read.parquet(codes_path)
    adot = F.col("offset") + F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, s: acc
        + F.element_at(
            F.col("lut"),
            (s * ksub + F.element_at(F.col("codes"), s + 1) + 1).cast("int"),
        ),
    )
    acos = cosine(adot, F.col("norm"), F.lit(qnorm))
    cand = (
        codes.where(F.col("cell").isin(probe) & (F.col("vec_id") != 0))
        .join(F.broadcast(lut), "cell")
        .select("vec_id", "norm", acos.alias("acos"))
        .orderBy(F.col("acos").desc(), F.col("vec_id"))
        .limit(50)
    )

    # the candidates carry the norm the codes table stores per vector
    return (
        e.join(F.broadcast(cand), "vec_id")
        .crossJoin(q)
        .select("vec_id", "label", _query_cos().alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(10)
    )


@query("sim_ann_ivf_pq_batch", oracle=None, eager=True)  # approx → rows-only
def sim_ann_ivf_pq_batch(spark, t):
    """Batch IVF-PQ ANN: top-3 neighbors for EACH query (vec_id < 5)
    through the quantized index, in one plan — the PQ tier of
    sim_topk_cosine_batch's "a join, not a loop" shape.

    Per query, an Arrow-batched pandas UDF over the QUERY DATAFRAME
    derives probe cells and the (offset per cell, dot-product LUT,
    query norm) rows — Q×8 tiny rows that broadcast-join the
    cell-partitioned codes table, fanning each code row out to exactly
    the queries probing its cell.  The only driver-side reads are the
    index's MODEL data (16 IVF centroids + m·ksub codebook rows, both
    corpus-size-independent), shipped to executors in the UDF closure;
    query vectors themselves never leave the executors.  ADC ranks by
    approximate cosine inside codegen; a row_number window takes the
    50 ADC-best PER QUERY (WindowGroupLimit pre-prunes below the
    shuffle); exact cosine re-ranks those to 3.  At 10⁶ queries the
    only thing that grows is the broadcast LUT side (Q×8 rows of
    ~1 KB) — the corpus is still read once, partition-pruned to the
    union of probed cells.
    """
    import numpy as np

    from pyspark.sql.window import Window

    codes_path, books_path = ensure_pq_index(spark, t)
    _, cents_path = ensure_ivf_index(spark, t)

    # bounded model-data reads: 16 centroid rows + m*ksub codebook rows
    cents = spark.read.parquet(cents_path).orderBy("cell").collect()
    centers = np.stack([np.asarray(r.center) for r in cents])
    brows = spark.read.parquet(books_path).collect()
    m, ksub = _PQ_M, _PQ_KSUB
    d = centers.shape[1]
    dsub = d // m
    books = np.zeros((m, ksub, dsub))
    for r in brows:
        books[r.s][r.k] = np.asarray(r.center)

    @F.pandas_udf(
        "qnorm double, lut array<double>, "
        "probes array<struct<cell:int, offset:double>>"
    )
    def _qprep(emb: pd.Series) -> pd.DataFrame:
        rows = []
        for e in emb:
            # degenerate query guard: a NULL embedding arrives as None
            # (np.asarray -> 0-d array, the subvector slice would raise
            # IndexError) and an empty/wrong-width one breaks the
            # (centers - qv) broadcast.  Emit an empty probe list; the
            # explode below then drops the query — mirroring cosine()'s
            # NULL for a degenerate vector.
            if e is None or len(e) != d:
                rows.append((None, None, []))
                continue
            qv = np.asarray(e, dtype="float64")
            qnorm = float(np.sqrt((qv * qv).sum()))
            flat = [
                float(qv[s * dsub : (s + 1) * dsub] @ books[s][k])
                for s in range(m)
                for k in range(ksub)
            ]
            probe = np.argsort(((centers - qv) ** 2).sum(axis=1))[:8]
            rows.append(
                (
                    qnorm,
                    flat,
                    [
                        {"cell": int(c), "offset": float(qv @ centers[c])}
                        for c in probe
                    ],
                )
            )
        return pd.DataFrame(rows, columns=["qnorm", "lut", "probes"])

    lut = (
        t["embeddings"]
        .where(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("q_id"), _qprep("embedding").alias("p"))
        .select(
            "q_id",
            F.col("p.qnorm").alias("qnorm"),
            F.col("p.lut").alias("lut"),
            F.explode("p.probes").alias("pr"),
        )
        .select(
            "q_id",
            F.col("pr.cell").alias("cell"),
            F.col("pr.offset").alias("offset"),
            "qnorm",
            "lut",
        )
    )

    codes = spark.read.parquet(codes_path)
    adot = F.col("offset") + F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, s: acc
        + F.element_at(
            F.col("lut"),
            (s * ksub + F.element_at(F.col("codes"), s + 1) + 1).cast("int"),
        ),
    )
    # partition-pruning list: the DISTINCT probed cell ids — bounded by
    # the cell count (16), a scalar-id collect, not a vector collect
    probed_cells = sorted(r.cell for r in lut.select("cell").distinct().collect())
    w_adc = Window.partitionBy("q_id").orderBy(
        F.col("acos").desc(), F.col("vec_id")
    )
    cand = (
        codes.where(F.col("cell").isin(probed_cells) & (F.col("vec_id") >= 5))
        .join(F.broadcast(lut), "cell")
        .select(
            "q_id",
            "vec_id",
            "norm",
            cosine(adot, F.col("norm"), F.col("qnorm")).alias("acos"),
        )
        .withColumn("arn", F.row_number().over(w_adc))
        .where(F.col("arn") <= 50)
        .select("q_id", "vec_id", "norm")
    )

    # the candidates carry the norm the codes table stores per vector
    e = t["embeddings"]
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        e.join(F.broadcast(cand), "vec_id")
        .join(_queries(with_norm(e), F.col("vec_id") < 5), "q_id")
        .select("q_id", "vec_id", "label", _query_cos().alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
    )


@query(
    "sim_maxsim_multivector",
    oracle="""
    WITH tok AS (  -- 64-d vector as 4 x 16-d 'token' sub-vectors
      SELECT vec_id, j, embedding[(j*16+1):(j*16+16)] AS sv
      FROM embeddings, (SELECT unnest(range(4)) AS j)
    ), qtok AS (
      SELECT vec_id AS q_id, j AS qi, sv AS qv FROM tok WHERE vec_id < 3
    ), dtok AS (
      SELECT vec_id, j, sv FROM tok WHERE vec_id >= 3
    ), best AS (  -- per (query, doc, query-token): best doc-token match
      SELECT q.q_id, d.vec_id, q.qi,
             MAX(list_sum(list_transform(list_zip(q.qv, d.sv),
                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))) AS m
      FROM qtok q CROSS JOIN dtok d
      GROUP BY q.q_id, d.vec_id, q.qi
    ), score AS (
      SELECT q_id, vec_id, ROUND(SUM(m), 6) AS maxsim
      FROM best GROUP BY q_id, vec_id
    ), r AS (
      SELECT q_id, vec_id, maxsim,
             row_number() OVER (
               PARTITION BY q_id ORDER BY maxsim DESC, vec_id
             ) AS rn
      FROM score
    )
    SELECT q_id, vec_id, maxsim, CAST(rn AS INT) AS rank
    FROM r WHERE rn <= 5
    """,
)
def sim_maxsim_multivector(spark, t):
    """Late-interaction (ColBERT-style MaxSim) retrieval: documents and
    queries are SETS of token vectors; score(q,d) = Σ_i max_j ⟨q_i,d_j⟩.

    The retrieval model behind multi-vector RAG indexes, where a
    single pooled vector loses token-level evidence.  Token vectors
    here are 4×16-d slices of the fixture embedding (deterministic, no
    model needed); the plan is the scale shape that matters: query
    tokens are a BROADCAST dim (Q·4 rows), doc tokens a narrow explode
    of the corpus (no shuffle to score), then max-per-query-token and
    sum-per-doc are two partial aggregates that combine map-side; only
    (q,d) score rows — never token pairs — cross an exchange, and the
    top-5 window gets the WindowGroupLimit pushdown like every top-k
    here.  At 100 TB the explode factor is the token count (32-128 for
    real ColBERT), so doc tokens stay co-partitioned with docs and the
    candidate set comes from an ANN tier (sim_ann_*) first; this
    operator is the exact re-scorer on those candidates.
    """
    from pyspark.sql.window import Window

    e = t["embeddings"]
    tok = e.select(
        "vec_id",
        "embedding",
        F.explode(F.array(*[F.lit(j) for j in range(4)])).alias("j"),
    ).select(
        "vec_id",
        "j",
        F.expr("slice(embedding, j*16 + 1, 16)").alias("sv"),
    )
    qtok = tok.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"),
        F.col("j").alias("qi"),
        F.col("sv").alias("qv"),
    )
    dtok = tok.where(F.col("vec_id") >= 3)
    pair_dot = dot("qv", "sv")
    # ONE aggregation, not max-per-token then sum: the 4 per-token
    # maxima pivot into columns of a single groupBy(q_id, vec_id), so
    # token-pair scores cross exactly one Exchange (verified in
    # PLANS.md) and partials combine map-side.
    scored_tok = dtok.crossJoin(F.broadcast(qtok)).select(
        "q_id", "vec_id", "qi", pair_dot.alias("d")
    )
    maxsim = sum(
        F.max(F.when(F.col("qi") == j, F.col("d"))) for j in range(4)
    )
    score = scored_tok.groupBy("q_id", "vec_id").agg(
        F.round(maxsim, 6).alias("maxsim")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("maxsim").desc(), "vec_id")
    return (
        score.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("q_id", "vec_id", "maxsim", "rank")
    )


@query("embed_pca_power", oracle=None, eager=True)  # iterative → rows-only by design
def embed_pca_power(spark, t):
    """Distributed power iteration for the corpus's top principal
    direction (uncentered PCA / dominant right singular vector) — the
    iterative-linear-algebra representative alongside PageRank, and
    the embedding-drift / whitening primitive.

    Each of the 5 iterations is ONE distributed pass: broadcast the
    current 64-float direction as a literal array, compute every
    row's projection ``x·v`` in codegen (``zip_with`` +
    ``aggregate``), scale the row by it, and elementwise-sum via
    ``posexplode → groupBy(pos)`` — a 64-group aggregation whose
    partials combine map-side, so the driver receives exactly 64
    doubles per iteration regardless of corpus size.
    Normalization and the sign convention (first significant
    component positive) happen driver-side on those 64 numbers.
    This is the matvec-outside/driver-inside split every distributed
    Krylov method uses; convergence here is fast because fixture
    embeddings would have a spectral gap; THIS fixture is near-
    isotropic (λ1/λ2 ≈ 1.07), so 5 steps land in the top spectral
    band without fully converging — the pytest pins the distributed
    recurrence exactly against numpy's identical iteration and the
    Rayleigh quotient against λ_max (production: iterate to a
    residual target, or block methods for clustered spectra).  No
    faithful ANSI-SQL oracle (iterative; FP summation order differs
    across engines).  At 100 TB: 5 passes
    over the data, each shuffling 64×n_partitions partials — the
    bottleneck is the scan, which is the theoretical floor.
    """
    iters, dim = 5, 64
    emb = t["embeddings"].select("embedding")
    v = [1.0 / dim**0.5] * dim
    for _ in range(iters):
        # the current direction as a literal array column, named for dot
        scaled = emb.withColumn("v", F.array(*[F.lit(float(x)) for x in v])).select(
            F.posexplode(
                F.transform("embedding", lambda x: x * dot("embedding", "v"))
            ).alias("pos", "val")
        )
        rows = (
            scaled.groupBy("pos").agg(F.sum("val").alias("s")).collect()
        )
        y = [0.0] * dim
        for r in rows:
            y[r.pos] = r.s
        norm = sum(x * x for x in y) ** 0.5
        v = [x / norm for x in y]
    sign = 1.0
    for x in v:
        if abs(x) > 1e-9:
            sign = 1.0 if x > 0 else -1.0
            break
    v = [sign * x for x in v]
    return spark.createDataFrame(
        [(i, round(x, 6)) for i, x in enumerate(v)], "pos int, loading double"
    )


# Hybrid-search query parameters (engine constants): the text leg's
# query terms and the vector leg's query id.  k1/b use exactly binary-
# representable rationals (5/4, 3/4) so every BM25 arithmetic step is
# the same IEEE value on both engines.
_HY_TERMS = ["fast", "merge", "batch"]
_HY_TERM_VALUES = ", ".join(f"('{w}')" for w in _HY_TERMS)


@query(
    "sim_hybrid_rrf",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), lens AS (
      SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id
    ), stats AS (
      SELECT (SELECT count(*) FROM documents) AS n,
             (SELECT AVG(dl) FROM lens) AS avgdl
    ), qt(token) AS (VALUES {_HY_TERM_VALUES}),
    tf AS (
      SELECT tok.doc_id, tok.token, count(*) AS tf
      FROM tok JOIN qt USING (token) GROUP BY 1, 2
    ), df AS (
      SELECT token, count(*) AS df FROM tf GROUP BY token
    ), bm AS (
      SELECT tf.doc_id,
             SUM(tf.tf * 2.25 / (tf.tf + 1.25 * (0.25 + 0.75 * lens.dl / stats.avgdl))
                 * ((stats.n - df.df + 0.5) / (df.df + 0.5))) AS text_score
      FROM tf JOIN df USING (token) JOIN lens USING (doc_id) CROSS JOIN stats
      GROUP BY tf.doc_id
    ), trank AS (
      SELECT doc_id, text_rank FROM (
        SELECT doc_id, row_number() OVER (
                 ORDER BY ROUND(text_score, 6) DESC, doc_id) AS text_rank
        FROM bm
      ) WHERE text_rank <= 100
    ), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    vrank AS (
      SELECT doc_id, vec_rank FROM (
        SELECT e.vec_id AS doc_id, row_number() OVER (
                 ORDER BY ROUND({{_DOT}} / ({{_NA}} * {{_NQ}}), 6) DESC, e.vec_id)
                 AS vec_rank
        FROM embeddings e, q
      ) WHERE vec_rank <= 100
    ), fused AS (
      SELECT COALESCE(t.doc_id, v.doc_id) AS doc_id,
             t.text_rank, v.vec_rank,
             COALESCE(1.0 / (60 + t.text_rank), 0)
               + COALESCE(1.0 / (60 + v.vec_rank), 0) AS rrf
      FROM trank t FULL OUTER JOIN vrank v ON t.doc_id = v.doc_id
    )
    SELECT doc_id, text_rank, vec_rank, ROUND(rrf, 8) + 0 AS rrf_score
    FROM fused
    ORDER BY ROUND(rrf, 8) DESC, doc_id
    LIMIT 10
    """.replace("{_DOT}", _DUCK_DOT.format(a="e.embedding", b="q.qv"))
       .replace("{_NA}", _DUCK_NORM.format(v="e.embedding"))
       .replace("{_NQ}", _DUCK_NORM.format(v="q.qv")),
)
def sim_hybrid_rrf(spark, t):
    """Hybrid retrieval — BM25 text scoring ∪ vector cosine, fused by
    Reciprocal Rank Fusion: the shape modern search actually ships
    (lexical recall + semantic recall, rank-level fusion so neither
    score scale needs calibrating).

    The text leg is real BM25 (k1=1.25, b=0.75 — exactly-binary
    rationals; idf kept in rational form rather than ln so every
    arithmetic step is IEEE-identical across engines — a monotone
    per-term reweighting of textbook BM25, swap ln-idf in when the
    oracle isn't DuckDB).  The vector leg reuses the hash-proven
    cosine machinery (vec_id ≡ doc_id on this fixture — the linkage a
    real corpus carries explicitly).  RRF folds ranks, not scores:
    1/(60+r_text) + 1/(60+r_vec), rational again.  Both rank lists
    are deterministic (ROUND(score,6), id tiebreak), and each leg
    returns only its TOP-100 (TakeOrdered, then a rank window over k
    rows — the window never sees the corpus), so the entire hybrid
    pipeline — two bounded retrievers, a full-outer rank join,
    fusion, top-10 — is value-hash-checked.  At 100 TB each leg is
    its own indexed top-k (inverted/IVF — sim_ann_* for the vector
    side, the token equi-join here IS the inverted-index probe), and
    fusion touches only the two k-row rank lists.  Truncation IS the
    semantics (RRF is defined over the lists the retrievers RETURN,
    not the corpus) — the oracle applies the identical k.
    """
    from pyspark.sql.window import Window

    docs = t["documents"]
    qt = F.broadcast(
        spark.createDataFrame([(w,) for w in _HY_TERMS], "token string")
    )
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    lens = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = F.broadcast(
        docs.agg(F.count("*").alias("n"))
        .crossJoin(lens.agg(F.avg("dl").alias("avgdl")))
    )
    tf = tok.join(qt, "token").groupBy("doc_id", "token").agg(
        F.count("*").alias("tf")
    )
    df_ = tf.groupBy("token").agg(F.count("*").alias("df"))
    bm = (
        tf.join(F.broadcast(df_), "token")
        .join(lens, "doc_id")
        .crossJoin(stats)
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.col("tf") * 2.25
                / (F.col("tf") + 1.25 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl")))
                * ((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
            ).alias("text_score")
        )
    )
    # each retriever returns its TOP-k (k=100) only — standard RRF
    # practice, and what keeps the rank window bounded: orderBy+limit
    # is TakeOrdered (per-partition top-k merge), and row_number then
    # runs over k rows, never the corpus
    wt = Window.orderBy(F.round("text_score", 6).desc(), "doc_id")
    trank = (
        bm.orderBy(F.round("text_score", 6).desc(), "doc_id")
        .limit(100)
        .select("doc_id", F.row_number().over(wt).alias("text_rank"))
    )
    n = with_norm(t["embeddings"])
    wv = Window.orderBy(F.col("cos").desc(), "doc_id")
    vrank = (
        n.crossJoin(_queries(n, F.col("vec_id") == 0))
        .select(F.col("vec_id").alias("doc_id"), _query_cos().alias("cos"))
        .orderBy(F.col("cos").desc(), "doc_id")
        .limit(100)
        .select("doc_id", F.row_number().over(wv).alias("vec_rank"))
    )
    fused = (
        trank.join(vrank, "doc_id", "full_outer")
        .select(
            "doc_id",
            "text_rank",
            "vec_rank",
            (
                F.coalesce(1.0 / (60 + F.col("text_rank")), F.lit(0.0))
                + F.coalesce(1.0 / (60 + F.col("vec_rank")), F.lit(0.0))
            ).alias("rrf"),
        )
    )
    return (
        fused.select(
            "doc_id",
            "text_rank",
            "vec_rank",
            (F.round("rrf", 8) + 0).alias("rrf_score"),
        )
        .orderBy(F.col("rrf_score").desc(), "doc_id")
        .limit(10)
    )


@query(
    "embed_outlier_mean",
    oracle="""
    WITH mu AS (
      SELECT CAST(p AS INT) AS pos,
             AVG(CAST(embedding[CAST(p + 1 AS INT)] AS DOUBLE)) AS mu
      FROM embeddings, unnest(range(0, len(embedding))) AS u(p)
      GROUP BY p
    ),
    cos AS (
      SELECT vec_id,
             SUM(CAST(embedding[pos + 1] AS DOUBLE) * mu)
               / (sqrt(SUM(CAST(embedding[pos + 1] AS DOUBLE)
                           * CAST(embedding[pos + 1] AS DOUBLE)))
                  * sqrt(SUM(mu * mu))) AS c
      FROM embeddings, mu
      GROUP BY vec_id
    ),
    st AS (SELECT AVG(c) AS m, STDDEV_SAMP(c) AS sd FROM cos)
    SELECT vec_id,
           ROUND(c, 6) + 0 AS cos_mean,
           ROUND((c - m) / sd, 4) + 0 AS z,
           ROUND((c - m) / sd, 4) <= -2.0 AS is_outlier
    FROM cos, st
    """,
)
def embed_outlier_mean(spark, t):
    """Embedding-space outlier scoring against the corpus mean vector —
    the cheap first-pass curation gate (mis-embedded rows, encoder
    failures, off-distribution junk) before any clustering is paid for.

    Three aggregates, all map-side-combining, none proportional to a
    pair count: (1) posexplode → (pos) avg gives the mean vector as
    dims rows (shuffle carries 64 partials per task, independent of N);
    (2) the assembled 1-row mean broadcasts onto every vector for a
    codegen zip_with/aggregate cosine — map-only; (3) a 1-row
    mean/stddev of the scores broadcasts back for the z-score.  At
    100 TB this is two scans and two 64-ish-row exchanges.  The outlier
    flag compares the ROUNDED z on both engines, so flag parity is
    implied by the z parity the hash already requires.
    """
    emb = t["embeddings"]
    # the mean vector and its norm, once, in a one-row frame
    mu = with_norm(
        emb.select(F.posexplode("embedding").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.avg(F.col("v").cast("double")).alias("mu"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mu"))),
                lambda s: s["mu"],
            ).alias("embedding")
        )
    ).select(F.col("embedding").alias("mu_vec"), F.col("norm").alias("mu_norm"))
    scored = with_norm(emb).crossJoin(F.broadcast(mu)).select(
        "vec_id",
        cosine(
            dot("embedding", "mu_vec"), F.col("norm"), F.col("mu_norm")
        ).alias("c"),
    )
    st = scored.agg(
        F.avg("c").alias("m"), F.stddev_samp("c").alias("sd")
    )
    # try_divide: equal scores give sd 0 — DuckDB yields NULL, ANSI `/` crashes
    z = F.try_divide(F.col("c") - F.col("m"), F.col("sd"))
    return scored.crossJoin(F.broadcast(st)).select(
        "vec_id",
        (F.round("c", 6) + 0).alias("cos_mean"),
        (F.round(z, 4) + 0).alias("z"),
        (F.round(z, 4) <= -2.0).alias("is_outlier"),
    )
