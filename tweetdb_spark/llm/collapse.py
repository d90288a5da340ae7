"""Exact-clone collapse: the one place the text and dedup operators
decide which documents are clones.

Every text-pure answer (tokens, shingles, fingerprints, verdicts) is
the same for byte-identical texts, so the operators collapse clones to
one representative, do the work once per representative, and map the
answer back to every member.  This module holds the clone key, the
NULL rule, the election, and the inverse expansions for pair outputs.

**Clone key.**  ``h = md5(text)``: two documents are clones iff their
texts are byte-identical (up to an md5 collision, the same trust every
content-addressed store places in it).

**NULL rule.**  A NULL text equals nothing, not even another NULL
text, so each NULL-text document is its own singleton group, keyed
``:null:<doc_id>``.  md5 output is hex, so a ``:``-prefixed key never
collides with a real hash.  Proof that no operator's output depends on
the choice between this rule and "all NULL texts form one group": a
NULL text tokenizes, shingles and splits to no rows, so

- operators that map an answer back through an inner join
  (``text_quality``, ``text_segment_dedup``, ``text_dup_ngram_fraction``,
  ``text_decontaminate_bloom``, the simhash family and the
  ``corpus_pipeline_audit`` stats) have no answer row for any NULL
  group and drop its members under either rule;
- operators that left-join and default (``text_lang_id``) give every
  NULL member the same default under either rule;
- operators that re-aggregate by a text-pure value (``doc_fingerprint``
  groups by a fingerprint that is NULL for every NULL text) merge the
  NULL groups again, with the same ``min(doc_id)`` and the same count;
- operators that count members per group (``text_tf_idf``) add no
  tokens for a NULL group, so its size weights nothing;
- the pair and banding keys (``dedup_minhash_lsh``,
  ``dedup_minhash_banded``, ``dedup_containment``,
  ``dedup_incremental_minhash``) drop empty token or gram sets before
  banding or before the collapse, and a NULL text's set is empty;
- operators that give each document a verdict (``corpus_dedup_e2e``,
  ``dedup_cluster_resolve``, ``dedup_minhash_verdicts``) need the
  singleton rule: one NULL group would make every NULL-text document an
  exact duplicate of the others.

``tests/test_null_semantics.py`` pins this on a table with NULL, empty
and cloned texts, and ``tools/null_survey.py`` checks every key.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window


def clone_key():
    """The clone key of a ``documents`` row under the NULL rule."""
    return F.coalesce(
        F.md5("text"), F.concat(F.lit(":null:"), F.col("doc_id").cast("string"))
    )


def collapse(docs, **aggs):
    """Elect one representative per clone group: ``(mem, reps)``.

    ``docs`` holds ``doc_id``, ``text`` and whatever the caller carries.
    ``mem`` is every row of ``docs`` plus the clone key ``h``, its
    group's ``rep_id`` (the least ``doc_id``), the group size
    ``n_docs`` and one column per ``aggs`` entry, each an aggregate
    expression evaluated over the group.  ``reps`` is the rows of
    ``mem`` whose ``doc_id`` is their ``rep_id``, one per group.

    All of it is one window over one ``h`` exchange: ``mem`` and
    ``reps`` are projections of the same partitioned frame, and only
    the columns a caller reads ride that exchange (Catalyst prunes the
    rest below the window).  Against ``groupBy(h)`` plus a join back
    (warm ``local[4]`` session on a 4-core host, interleaved pairs),
    the window was faster on ``text_quality`` in 35 of 36 pairs
    (``curate`` data 542 vs 636 ms, sf0.1 752 vs 852 ms, a ×100 clone
    fixture 4.43 vs 5.37 s) and on ``text_segment_dedup`` (sf0.1 2.16
    vs 2.40 s, ×100 7.14 vs 7.61 s); per-key pairs for every caller
    are in ``sweeps/collapse_r22.log``.
    """
    w = Window.partitionBy("h")
    mem = docs.withColumn("h", clone_key()).select(
        "*",
        F.min("doc_id").over(w).alias("rep_id"),
        F.count("*").over(w).alias("n_docs"),
        *[agg.over(w).alias(name) for name, agg in aggs.items()],
    )
    # `<=`, not `=`: rep_id is its group's least doc_id, so the two
    # agree, and an equality would let Catalyst infer a second filter
    # that re-evaluates the clone key on every row (it substitutes
    # rep_id for doc_id in the key's definition)
    return mem, mem.where(F.col("doc_id") <= F.col("rep_id"))


def _expand_rep_pairs(rep_pairs, mem, value_col: str, within_value: float):
    """Expand REP-level verified near-dup pairs to member-level pairs.

    ``rep_pairs`` is (rep_a, rep_b, <value_col>) with rep_a < rep_b,
    one row per unordered pair of exact-duplicate groups; ``mem`` is
    the (doc_id, rep_id) member→representative map of :func:`collapse`
    (or of another exact collapse).  Emits

    - every CROSS-group member pair exactly once, as
      (least, greatest, rep pair's value) — exact clones have
      byte-identical text, hence identical shingle/token sets, hence
      the member pair's exact-Jaccard verify value IS the rep pair's
      (same arrays, same double, same round);
    - every WITHIN-group pair (doc_a < doc_b) at ``within_value``,
      the identity similarity (identical sets ⇒ jaccard exactly 1 ⇒
      1.0 / 0.0 depending on the key's sim/dist convention); such a
      pair always banded together in the naive form (identical
      signatures collide in every band) and always passed its verify.

    Both legs are pure small-row generation — no signature or token
    array ever rides an expansion join, which is what makes the
    collapsed form scale-safe: at 500k docs in ~100-clone groups
    (~10M output pairs) the naive form pulled two ~300-element gram
    arrays through every candidate pair (~50 GB of array traffic
    through one join) and died in GC, while the collapsed form
    verifies ~5k reps and then only generates (id, id, double) rows.
    The output multiset equals the naive all-member form's.
    """
    ma = mem.select(F.col("rep_id").alias("rep_a"), F.col("doc_id").alias("da"))
    mb = mem.select(F.col("rep_id").alias("rep_b"), F.col("doc_id").alias("db"))
    # Rebalance the rep-pair frame to full parallelism BEFORE the
    # member joins: the joins broadcast the small
    # member maps, so the expansion inherits rep_pairs' partitioning —
    # which AQE has coalesced to ~1 partition by INPUT size (a few MB
    # of id rows), blind to the clone-quadratic OUTPUT.  At 500k docs
    # a 1.4B-row cross expansion then ran in one task; on a
    # 1000-executor cluster the same plan would idle every core but
    # one.  A round-robin shuffle of the tiny rep-pair frame costs
    # ~nothing and bounds expansion parallelism below by the cluster
    # width.  Output multiset unchanged (repartition only moves rows).
    rep_pairs = rep_pairs.repartition(
        rep_pairs.sparkSession.sparkContext.defaultParallelism
    )
    cross = (
        rep_pairs.join(ma, "rep_a")
        .join(mb, "rep_b")
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            value_col,
        )
    )
    within = (
        mem.alias("x")
        .join(
            mem.alias("y"),
            (F.col("x.rep_id") == F.col("y.rep_id"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.lit(float(within_value)).alias(value_col),
        )
    )
    return cross.unionAll(within)


def _expand_rep_pairs_capped(
    rep_pairs, mem, value_col: str, within_value: float, k: int,
    descending: bool,
):
    """Per-doc_a top-``k`` of the expanded pair list WITHOUT ever
    materializing the full expansion.

    Semantics: identical to
    ``window(_expand_rep_pairs(...), partitionBy doc_a,
    orderBy value [desc], doc_b).filter(rn <= k)`` — but that form
    enumerates the clone-quadratic pair mass before pruning (1.13B
    rows / 1122 s at 5M docs in ~1000-clone groups).  This form
    generates a provable PER-SOURCE-top-k SUPERSET boundedly, then
    windows the small union:

    - WITHIN a group, every pair carries the constant best value
      (``within_value``) so a doc's within-ranking is pure doc_b ASC:
      its top-k within-partners are the next k members in id order.
      Generated via a per-group SORTED MEMBER ARRAY + slice/explode —
      ≤ k rows per doc, no quadratic join.
    - For a CROSS rep pair (Ga, Gb, v), all member pairs share v, so
      a member x ∈ Ga can contribute at most its k smallest partners
      y ∈ Gb with y > x to x's final top-k — a k-slice of Gb's sorted
      array filtered above x (and symmetrically for y ∈ Gb).  ≤ k
      rows per (member, adjacent group).

    Union of per-source top-k lists ⊇ global top-k (any pair in the
    global top-k is in its source's top-k under the same ordering,
    ties included), so the final window over the ≤ k·(1+adjacency)
    rows per doc returns EXACTLY the naive form's capped output.
    Pinned by tests/test_llm_ops.py::test_capped_expansion_equals_
    windowed_naive_form on a multi-group clone corpus.

    **Per-MEMBER merge bypass**: sending every member of every
    ADJACENT group through the merge window pushed, on
    dedup_semantic_blocked at 2M vectors (2k groups of ~1000 clones,
    nearly all groups adjacent under the loose τ=0.35), the whole
    ~200M-row output mass through one row_number exchange, ~110 s of
    the key's 133 s.  But ``within_value`` is the
    IDENTITY similarity — the best possible value under either
    ordering — so a member with ≥ k greater within-partners holds k
    candidates that outrank every cross candidate ranked strictly
    worse than the identity value: its exact top-k IS its within
    slice, no merge needed.  Only members that are BORDERLINE (fewer
    than k greater within-partners — the slice cannot fill the quota
    alone) or TIE-EXPOSED (some adjacent rep pair's value ranks equal
    to or better than ``within_value``, so the doc_b tiebreak can
    interleave cross partners among within ones) ride the union +
    window; everyone else emits their within slice directly.  The
    cross-side generators are restricted to those same borderline
    members — a bypassed member provably contributes no cross pair to
    its own top-k, and pairs where it is doc_b are generated by their
    own doc_a's side.  Groups with no adjacency at all remain the
    trivial case of the bypass (bestv NULL → never merged).

    Group arrays are bounded by clone multiplicity (1000-member
    groups ≈ 8 KB arrays); corpora with million-member
    exact-dup groups should not be asking for pair lists at all
    (dedup_minhash_verdicts is the registered scale form).
    """
    idxw = Window.partitionBy("rep_id").orderBy("doc_id")
    m = mem.withColumn("idx", F.row_number().over(idxw))
    arrs = mem.groupBy("rep_id").agg(
        F.sort_array(F.collect_list("doc_id")).alias("arr")
    )

    # Per-group best CROSS value (max under descending, min under
    # ascending): a group whose best cross value still ranks strictly
    # worse than the identity value can never interleave a cross
    # partner among a full within slice.  ``>=`` / ``<=`` (not ``==``)
    # keeps the bypass sound even for a caller whose within_value is
    # not the extreme of the value domain.
    va = rep_pairs.select(
        F.col("rep_a").alias("rep_id"), F.col(value_col).alias("v")
    )
    vb = rep_pairs.select(
        F.col("rep_b").alias("rep_id"), F.col(value_col).alias("v")
    )
    best = F.max("v") if descending else F.min("v")
    adjv = va.unionAll(vb).groupBy("rep_id").agg(best.alias("bestv"))

    flags = m.join(arrs, "rep_id").join(adjv, "rep_id", "left")
    cross_ties = (
        F.col("bestv") >= F.lit(float(within_value))
        if descending
        else F.col("bestv") <= F.lit(float(within_value))
    )
    n_within = F.least(F.size("arr") - F.col("idx"), F.lit(k))
    # Three member classes (at 2M vectors 1957 of 2000 groups were
    # adjacent but no pair tied, so merging every adjacent member
    # pushed the whole ~200M-row output through one window for
    # nothing):
    #  - COVERED (≥ k greater within-partners, group not tie-exposed):
    #    top-k IS the within slice — direct emit.
    #  - FULL merge (group tie-exposed): cross candidates can
    #    interleave among within rows on the doc_b tiebreak — rank
    #    everything, quota k.
    #  - FILL (borderline in a non-tie group: fewer than k greater
    #    within-partners): every within row still outranks every
    #    cross row (cross strictly worse than the identity value), so
    #    direct-emit the within rows and rank ONLY cross rows for the
    #    remaining quota q = k − n_within; cross slices are generated
    #    at length q, not k.
    needs_full = F.col("bestv").isNotNull() & cross_ties
    needs_fill = (
        F.col("bestv").isNotNull()
        & ~cross_ties
        & (F.size("arr") - F.col("idx") < F.lit(k))
    )
    within_k = flags.select(
        needs_full.alias("full"),
        F.col("doc_id").alias("doc_a"),
        F.explode(F.slice("arr", F.col("idx") + 1, k)).alias("doc_b"),
        F.lit(float(within_value)).alias(value_col),
    )
    direct = within_k.where(~F.col("full")).drop("full")

    # Merge-riding members by MEMBERSHIP (not via within_k: a group's
    # LAST member has an empty within slice — no within_k row — but
    # still needs its cross slices).  quota = per-member cross rank
    # budget: k for full-merge members (within rows ride the window
    # with them), k − n_within for fill members.
    m_need = flags.where(needs_full | needs_fill).select(
        "rep_id",
        "doc_id",
        needs_full.alias("full"),
        F.when(needs_full, F.lit(k)).otherwise(F.lit(k) - n_within).alias(
            "quota"
        ),
    )

    def _side(rep_col, other_col):
        # merge-riding members of one side of a cross rep pair, each
        # taking its quota smallest greater partners from the OTHER
        # side's sorted array
        return (
            rep_pairs.join(
                m_need.select(
                    F.col("rep_id").alias(rep_col), "doc_id", "full", "quota"
                ),
                rep_col,
            )
            .select(
                F.col("doc_id").alias("doc_a"),
                "full",
                "quota",
                F.col(other_col),
                F.col(value_col),
            )
            .join(
                arrs.select(
                    F.col("rep_id").alias(other_col), F.col("arr").alias("o")
                ),
                other_col,
            )
            .select(
                "doc_a",
                "full",
                "quota",
                F.explode(
                    F.slice(
                        F.filter("o", lambda y: y > F.col("doc_a")),
                        F.lit(1),
                        F.col("quota"),
                    )
                ).alias("doc_b"),
                value_col,
            )
        )

    order = (
        F.col(value_col).desc() if descending else F.col(value_col).asc()
    )
    w = Window.partitionBy("doc_a").orderBy(order, "doc_b")

    cross = _side("rep_a", "rep_b").unionAll(_side("rep_b", "rep_a"))
    # FULL-merge members re-rank their within rows together with the
    # cross rows (ties can interleave); FILL members rank cross only.
    full_within = (
        flags.where(needs_full)
        .select(
            F.col("doc_id").alias("doc_a"),
            F.lit(True).alias("full"),
            F.lit(k).cast("int").alias("quota"),
            F.explode(F.slice("arr", F.col("idx") + 1, k)).alias("doc_b"),
            F.lit(float(within_value)).alias(value_col),
        )
    )
    cand = full_within.unionAll(cross)
    merged = (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= F.col("quota"))
        .select("doc_a", "doc_b", value_col)
    )
    # direct already emitted within rows for FILL members (they are
    # always in the top-k); merged must therefore EXCLUDE the within
    # rows of full-merge members from direct — handled above by the
    # ~full filter — and contributes: full members' complete top-k,
    # fill members' cross fill.
    return direct.unionAll(merged)

