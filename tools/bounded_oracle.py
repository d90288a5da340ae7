"""Bounded (tractable) DuckDB oracles for the oracle-intractable
extras: dedup_cluster_resolve + graph_degree_distribution (+ the
corpus_dedup_e2e / corpus_pipeline_audit keyed sums) from r15, and
graph_pagerank + graph_triangle_count added in r16 (r15 verdict ask
#5 — both ride the same fingerprint-VALUE edge closure).

The registered oracles for these keys are deliberately NAIVE —
all-pairs bit_count joins over every MEMBER document plus (for the
cluster key) a member-level recursive transitive closure.  That form
proves band completeness at fixture scale but times out at sf10
(500k docs -> 125e9 member-pair comparisons; the r14 extras sweep
recorded TIME at a 900/920 s budget, sweeps/sf10_r14_extras_sums.log
ADDENDUM).

The blow-up is pure clone multiplicity, not essential: sf10 holds
only ~5k DISTINCT texts.  So this tool gives DuckDB the same
collapse-first algebra the engine uses — group by md5(text), vote
fingerprints once per distinct text, collapse to fingerprint VALUES,
then run the ALL-PAIRS hamming join and the recursive closure over
the ~5k fingerprint nodes (12.5e6 comparisons — trivial) with
group-size weights.  Everything is still computed BY DUCKDB from the
raw parquet: token hash, bit votes, fingerprints, pair predicate,
closure, weighted aggregation.  Only the collapse idea is shared
with the engine; no Spark-computed intermediate is fed in.  The two
forms' equivalence at member level is the same argument the engine's
own collapsed forms carry (clones share fingerprints by construction;
equal values are hamming-0 pairs / collide in every band), and the
naive-form oracle remains the registered one at every driver-graded
scale.

Usage:  SF_DIR=/tmp/tweetdb_sf10 python tools/bounded_oracle.py [key ...]
        PAGERANK_MODE=hist ...   # rank-histogram compare for scales
                                 # where a 5M-row full fetch is
                                 # driver-hostile (sf100)
Prints PASS/FAIL per key with row counts; exit 1 on any mismatch.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Shared CTE prefix: md5(text) collapse -> per-rep tf-weighted 32-bit
# bit-vote fingerprint -> fingerprint-VALUE groups with member counts.
# Token hash / vote arithmetic are copied verbatim from the registered
# naive oracle (tweetdb_spark.llm.dedup._SIMHASH_LABELS_CTE) — only the
# granularity moves from members to distinct texts.
_PREFIX = """
WITH tgrp AS (
  SELECT md5(text) AS h, MIN(doc_id) AS rep, COUNT(*) AS n
  FROM documents GROUP BY md5(text)
), rtext AS (
  SELECT g.rep, g.n, d.text
  FROM tgrp g JOIN documents d ON d.doc_id = g.rep
  WHERE d.text IS NOT NULL
), tok AS (
  SELECT rep, unnest(string_split(text, ' ')) AS token FROM rtext
), tf AS (
  SELECT rep, token, count(*) AS cnt FROM tok GROUP BY rep, token
), th AS (
  SELECT token, {tokhash} AS h FROM (SELECT DISTINCT token FROM tf)
), bits AS (
  SELECT tf.rep, b.b,
         SUM(CASE WHEN (th.h >> CAST(b.b AS INT)) & 1 = 1
                  THEN tf.cnt ELSE -tf.cnt END) AS s
  FROM tf JOIN th USING (token)
  CROSS JOIN (SELECT unnest(range(0, 32)) AS b) b
  GROUP BY tf.rep, b.b
), rfp AS (
  SELECT rep,
         CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << CAST(b AS INT))
                       ELSE 0 END) AS BIGINT) AS simhash
  FROM bits GROUP BY rep
), fpg AS (
  -- fingerprint-VALUE groups: md = min doc_id in the group (the
  -- text-group rep already is its text group's min), c = member count
  SELECT r.simhash, MIN(r.rep) AS md, SUM(g.n) AS c
  FROM rfp r JOIN tgrp g ON g.rep = r.rep
  GROUP BY r.simhash
)
"""


def _cluster_sql(tokhash: str) -> str:
    return (
        _PREFIX.format(tokhash=tokhash)
        + """
, fedges AS (
  SELECT a.simhash AS u, b.simhash AS v
  FROM fpg a JOIN fpg b
    ON a.simhash < b.simhash
   AND bit_count(xor(a.simhash, b.simhash)) <= 1
), fsym AS (
  SELECT u, v FROM fedges UNION ALL SELECT v, u FROM fedges
), reach AS (
  WITH RECURSIVE r(src, dst) AS (
    SELECT u, v FROM fsym
    UNION
    SELECT r.src, s.v FROM r JOIN fsym s ON r.dst = s.u
  )
  SELECT src, dst FROM r
), lab AS (
  SELECT f.simhash, f.c,
         LEAST(f.md, COALESCE(MIN(g.md), f.md)) AS comp
  FROM fpg f
  LEFT JOIN reach ON reach.src = f.simhash
  LEFT JOIN fpg g ON g.simhash = reach.dst
  GROUP BY f.simhash, f.md, f.c
)
SELECT comp AS component_id,
       CAST(SUM(c) AS BIGINT) AS n_docs,
       comp AS keep_doc_id
FROM lab GROUP BY comp
UNION ALL
-- fingerprint-less docs (NULL text): singleton components, exactly
-- the rows the naive oracle's LEFT JOIN fabricates for them
SELECT d.doc_id, CAST(1 AS BIGINT), d.doc_id
FROM documents d WHERE d.text IS NULL
"""
    )


def _degree_sql(tokhash: str, max_hamming: int) -> str:
    return (
        _PREFIX.format(tokhash=tokhash)
        + f"""
, fedges AS (
  SELECT a.simhash AS u, b.simhash AS v
  FROM fpg a JOIN fpg b
    ON a.simhash < b.simhash
   AND bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
), fsym AS (
  SELECT u, v FROM fedges UNION ALL SELECT v, u FROM fedges
), nsum AS (
  SELECT s.u AS simhash, SUM(g.c) AS ns
  FROM fsym s JOIN fpg g ON g.simhash = s.v
  GROUP BY s.u
), deg AS (
  SELECT f.c, (f.c - 1 + COALESCE(n.ns, 0)) AS degree
  FROM fpg f LEFT JOIN nsum n USING (simhash)
  WHERE (f.c - 1 + COALESCE(n.ns, 0)) > 0
)
SELECT CAST(degree AS BIGINT) AS degree,
       CAST(SUM(c) AS BIGINT) AS n_nodes
FROM deg GROUP BY degree
"""
    )


def _e2e_sql(tokhash: str) -> str:
    """Bounded form of corpus_dedup_e2e's oracle: the cluster pipeline
    above (hamming <= 1 on fingerprint-VALUE groups) produces per-doc
    labels through joins instead of a member-level closure, then the
    registered oracle's canon/verdict tail runs verbatim on top.  The
    member-pair blow-up is gone; the 5M-row canon window is plain
    DuckDB work."""
    return (
        _PREFIX.format(tokhash=tokhash)
        + """
, fedges AS (
  SELECT a.simhash AS u, b.simhash AS v
  FROM fpg a JOIN fpg b
    ON a.simhash < b.simhash
   AND bit_count(xor(a.simhash, b.simhash)) <= 1
), fsym AS (
  SELECT u, v FROM fedges UNION ALL SELECT v, u FROM fedges
), reach AS (
  WITH RECURSIVE r(src, dst) AS (
    SELECT u, v FROM fsym
    UNION
    SELECT r.src, s.v FROM r JOIN fsym s ON r.dst = s.u
  )
  SELECT src, dst FROM r
), flab AS (
  SELECT f.simhash, LEAST(f.md, COALESCE(MIN(g.md), f.md)) AS comp
  FROM fpg f
  LEFT JOIN reach ON reach.src = f.simhash
  LEFT JOIN fpg g ON g.simhash = reach.dst
  GROUP BY f.simhash, f.md
), memlab AS (
  SELECT d.doc_id, COALESCE(l.comp, d.doc_id) AS component_id
  FROM documents d
  LEFT JOIN tgrp g ON g.h = md5(d.text)
  LEFT JOIN rfp r ON r.rep = g.rep
  LEFT JOIN flab l ON l.simhash = r.simhash
), lab2 AS (
  SELECT ml.doc_id, ml.component_id, md5(d.text) AS h, d.n_chars
  FROM memlab ml JOIN documents d USING (doc_id)
), canon AS (
  SELECT component_id, doc_id AS keep_doc_id, h AS keep_h
  FROM (SELECT lab2.*, row_number() OVER (
            PARTITION BY component_id
            ORDER BY n_chars DESC, doc_id) AS rn FROM lab2)
  WHERE rn = 1
)
SELECT lab2.doc_id, lab2.component_id,
       lab2.doc_id = canon.keep_doc_id AS keep,
       canon.keep_doc_id,
       CASE WHEN lab2.doc_id = canon.keep_doc_id THEN 'kept'
            WHEN lab2.h = canon.keep_h THEN 'exact_dup'
            ELSE 'near_dup' END AS reason
FROM lab2 JOIN canon USING (component_id)
"""
    )


def _audit_sql(tokhash: str) -> str:
    """Bounded form of corpus_pipeline_audit's oracle: e2e's bounded
    label pipeline plus per-DISTINCT-TEXT token stats and 8-gram sets
    (clones share both), with the member-level doc_id % 7 split
    preserved exactly — a text contributes to the bench gram set iff
    it has at least one bench-split member, and a train doc is
    contaminated iff its text shares a gram with that set, which is
    the naive form's definition verbatim."""
    return (
        _PREFIX.format(tokhash=tokhash)
        + """
, fedges AS (
  SELECT a.simhash AS u, b.simhash AS v
  FROM fpg a JOIN fpg b
    ON a.simhash < b.simhash
   AND bit_count(xor(a.simhash, b.simhash)) <= 1
), fsym AS (
  SELECT u, v FROM fedges UNION ALL SELECT v, u FROM fedges
), reach AS (
  WITH RECURSIVE r(src, dst) AS (
    SELECT u, v FROM fsym
    UNION
    SELECT r.src, s.v FROM r JOIN fsym s ON r.dst = s.u
  )
  SELECT src, dst FROM r
), flab AS (
  SELECT f.simhash, LEAST(f.md, COALESCE(MIN(g.md), f.md)) AS comp
  FROM fpg f
  LEFT JOIN reach ON reach.src = f.simhash
  LEFT JOIN fpg g ON g.simhash = reach.dst
  GROUP BY f.simhash, f.md
), memlab AS (
  SELECT d.doc_id, COALESCE(l.comp, d.doc_id) AS component_id
  FROM documents d
  LEFT JOIN tgrp g ON g.h = md5(d.text)
  LEFT JOIN rfp r ON r.rep = g.rep
  LEFT JOIN flab l ON l.simhash = r.simhash
), lab2 AS (
  SELECT ml.doc_id, ml.component_id, d.n_chars
  FROM memlab ml JOIN documents d USING (doc_id)
), canon AS (
  SELECT component_id, doc_id AS keep_doc_id
  FROM (SELECT lab2.*, row_number() OVER (
            PARTITION BY component_id
            ORDER BY n_chars DESC, doc_id) AS rn FROM lab2)
  WHERE rn = 1
), rstats AS (
  SELECT rep, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
         count(*) AS n_distinct
  FROM tf GROUP BY rep
), tgrams AS (
  SELECT g.h, list_distinct(list_transform(
           range(1, len(string_split(t.text, ' ')) - 6),
           i -> array_to_string(string_split(t.text, ' ')[i:i+7], ' ')))
           AS grams
  FROM tgrp g JOIN documents t ON t.doc_id = g.rep
  WHERE t.text IS NOT NULL
), textsplit AS (
  SELECT md5(text) AS h, BOOL_OR(doc_id % 7 = 0) AS has_bench
  FROM documents WHERE text IS NOT NULL GROUP BY md5(text)
), bench AS (
  SELECT DISTINCT unnest(tg.grams) AS gram
  FROM tgrams tg JOIN textsplit ts USING (h)
  WHERE ts.has_bench
), contam_text AS (
  SELECT DISTINCT e.h
  FROM (SELECT h, unnest(grams) AS gram FROM tgrams) e
  JOIN bench USING (gram)
), audit AS (
  SELECT d.doc_id, d.lang,
         d.doc_id % 7 <> 0 AS is_train,
         CASE WHEN s.n_tokens BETWEEN 20 AND 1000
               AND CAST(s.n_distinct AS DOUBLE) / s.n_tokens > 0.2
              THEN 1 ELSE 0 END AS quality_pass,
         lab2.doc_id = canon.keep_doc_id AS dedup_keep,
         NOT (d.doc_id % 7 <> 0 AND ct.h IS NOT NULL) AS decontam_clean
  FROM documents d
  JOIN tgrp tg ON tg.h = md5(d.text)
  JOIN rstats s ON s.rep = tg.rep
  JOIN lab2 ON lab2.doc_id = d.doc_id
  JOIN canon ON canon.component_id = lab2.component_id
  LEFT JOIN contam_text ct ON ct.h = md5(d.text)
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
"""
    )


def _pagerank_sql(tokhash: str, max_hamming: int) -> str:
    """Bounded form of graph_pagerank's oracle: the engine's collapsed
    iteration (llm/dedup.py graph_pagerank r13 algebra) re-derived BY
    DUCKDB from raw parquet — fingerprint-value groups, hamming <=
    max_hamming adjacency (band collision is implied at hamming <= 3
    by pigeonhole over the 4x8-bit bands, the same argument the
    degree key's r15 bounded oracle passed on), 5 unrolled synchronous
    rounds on the ~5k-group graph with size weights, members
    inheriting their group's rank.  FP expressions keep the engine's
    association — (c-1)*(p/d), c'*(p/d') — so only commutative sum
    order differs, which the shared round(.,6) absorbs exactly as it
    does between Spark's and DuckDB's member-level sum orders."""
    # every multiply-referenced CTE is MATERIALIZED: the unrolled
    # iteration references p{k-1} twice, and without materialization
    # DuckDB inlines the chain — 2^5 re-evaluations of the whole
    # token-explode prefix (observed: 160 s at sf0.01 vs 0.6 s here)
    body = _PREFIX.format(tokhash=tokhash) + f"""
, fpgm AS MATERIALIZED (
  SELECT * FROM fpg
), fedges AS MATERIALIZED (
  SELECT a.simhash AS u, b.simhash AS v
  FROM fpgm a JOIN fpgm b
    ON a.simhash < b.simhash
   AND bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
), fsym AS MATERIALIZED (
  SELECT u, v FROM fedges UNION ALL SELECT v, u FROM fedges
), nsumt AS (
  SELECT s.u AS simhash, SUM(g.c) AS ns
  FROM fsym s JOIN fpgm g ON g.simhash = s.v
  GROUP BY s.u
), grp AS MATERIALIZED (
  SELECT f.simhash, f.c,
         CAST(f.c - 1 + COALESCE(n.ns, 0) AS DOUBLE) AS d
  FROM fpgm f LEFT JOIN nsumt n USING (simhash)
  WHERE (f.c - 1 + COALESCE(n.ns, 0)) > 0
), nn AS MATERIALIZED (
  SELECT CAST(SUM(c) AS DOUBLE) AS n FROM grp
), p0 AS MATERIALIZED (
  SELECT simhash, 1.0 / nn.n AS p FROM grp CROSS JOIN nn
)"""
    for k in range(1, 6):
        body += f"""
, c{k} AS (
  SELECT s.u AS simhash, SUM(g2.c * (pk.p / g2.d)) AS cs
  FROM fsym s
  JOIN grp g2 ON g2.simhash = s.v
  JOIN p{k - 1} pk ON pk.simhash = s.v
  GROUP BY s.u
), p{k} AS MATERIALIZED (
  SELECT g.simhash,
         0.15 / nn.n
         + 0.85 * ((g.c - 1) * (pk.p / g.d) + COALESCE(c{k}.cs, 0)) AS p
  FROM grp g
  JOIN p{k - 1} pk USING (simhash)
  LEFT JOIN c{k} USING (simhash)
  CROSS JOIN nn
)"""
    return body + """
SELECT d.doc_id, ROUND(p5.p, 6) AS pagerank
FROM documents d
JOIN tgrp tg ON tg.h = md5(d.text)
JOIN rfp r ON r.rep = tg.rep
JOIN p5 ON p5.simhash = r.simhash
"""


def _triangle_sql(tokhash: str, max_hamming: int) -> str:
    """Bounded form of graph_triangle_count's oracle: the engine's
    exact r13 decomposition over fingerprint-value groups — (1)
    C(c,3) within groups, (2) C(c,2)*c' + C(c',2)*c per adjacent
    pair, (3) compact-forward rep-triangle join weighted by the size
    product — recomputed by DuckDB from raw parquet.  Orientation is
    by simhash value here vs min-doc_id in the engine; any strict
    total order counts each rep triangle exactly once, so the totals
    agree.  All-integer arithmetic: no FP tolerance anywhere."""
    return (
        _PREFIX.format(tokhash=tokhash)
        + f"""
, fpgm AS MATERIALIZED (
  SELECT * FROM fpg
), fedges AS MATERIALIZED (
  SELECT a.simhash AS u, a.c AS cu, b.simhash AS v, b.c AS cv
  FROM fpgm a JOIN fpgm b
    ON a.simhash < b.simhash
   AND bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
), t1 AS (
  SELECT COALESCE(SUM((c * (c - 1) * (c - 2)) // 6), 0) AS tri FROM fpgm
), t2 AS (
  SELECT COALESCE(SUM(((cu * (cu - 1)) // 2) * cv
                      + ((cv * (cv - 1)) // 2) * cu), 0) AS tri
  FROM fedges
), t3 AS (
  SELECT COALESCE(SUM(e1.cu * e1.cv * e2.cv), 0) AS tri
  FROM fedges e1
  JOIN fedges e2 ON e2.u = e1.v
  JOIN fedges e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT CAST(t1.tri + t2.tri + t3.tri AS BIGINT) AS n_triangles
FROM t1, t2, t3
"""
    )


def _mh_banded_sql() -> str:
    """Bounded form of dedup_minhash_banded's oracle: the registered
    naive SQL computes 16 minhash permutations over every MEMBER's
    shingle array (500k at sf10 -> TIME); here DuckDB collapses to
    distinct md5(text) groups first (clones share shingle sets, hence
    signatures, hence band values and verify results — the engine's
    own r13 argument), bands/verifies the ~5k reps, expands group
    pairs to id-only member pairs (within at exact jaccard 1.0), and
    applies the registered conditional per-doc_a cap verbatim.  The
    jaccard column is compared as round-6-scaled BIGINT so the keyed
    sum covers the VALUE, not just the ids."""
    from tweetdb_spark.llm.dedup import (
        _DUCK_SHINGLES,
        _LSH_EXACT_PAIRS_MAX_DOCS,
        _LSH_PAIRS_PER_DOC,
        _mh_band_sql,
    )

    bands = _mh_band_sql("duck")
    band_union = "\n      UNION ALL ".join(
        f"SELECT rep, {j} AS j, {b} AS v FROM g" for j, b in enumerate(bands)
    )
    jac = (
        "CAST(len(list_intersect(ga.g, gb.g)) AS DOUBLE) "
        "/ (len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g)))"
    )
    return f"""
WITH tgrp AS MATERIALIZED (
  SELECT md5(text) AS h, MIN(doc_id) AS rep
  FROM documents WHERE lang = 'en' AND text IS NOT NULL
  GROUP BY md5(text)
), g_all AS (
  SELECT tg.h, tg.rep, {_DUCK_SHINGLES} AS g
  FROM tgrp tg JOIN documents d ON d.doc_id = tg.rep
), g AS MATERIALIZED (
  SELECT * FROM g_all WHERE len(g) > 0
), bands AS (
      {band_union}
), cand AS (
  SELECT DISTINCT a.rep AS rep_a, b.rep AS rep_b
  FROM bands a JOIN bands b
    ON a.j = b.j AND a.v = b.v AND a.rep < b.rep
), vp AS MATERIALIZED (
  SELECT c.rep_a, c.rep_b, ROUND({jac}, 6) AS jac
  FROM cand c
  JOIN g ga ON ga.rep = c.rep_a
  JOIN g gb ON gb.rep = c.rep_b
  WHERE {jac} >= 0.7
), mem AS MATERIALIZED (
  SELECT d.doc_id, g.rep
  FROM documents d JOIN g ON g.h = md5(d.text)
  WHERE d.lang = 'en'
), allp AS (
  SELECT LEAST(x.doc_id, y.doc_id) AS doc_a,
         GREATEST(x.doc_id, y.doc_id) AS doc_b,
         v.jac AS ngram_jaccard
  FROM vp v
  JOIN mem x ON x.rep = v.rep_a
  JOIN mem y ON y.rep = v.rep_b
  UNION ALL
  SELECT x.doc_id, y.doc_id, CAST(1.0 AS DOUBLE)
  FROM mem x JOIN mem y
    ON x.rep = y.rep AND x.doc_id < y.doc_id
), capped AS (
  SELECT doc_a, doc_b, ngram_jaccard,
         row_number() OVER (
           PARTITION BY doc_a
           ORDER BY ngram_jaccard DESC, doc_b
         ) AS rn
  FROM allp
)
SELECT doc_a, doc_b,
       CAST(ROUND(ngram_jaccard * 1000000) AS BIGINT) AS j6
FROM capped
WHERE rn <= {_LSH_PAIRS_PER_DOC}
   OR (SELECT count(*) FROM documents) <= {_LSH_EXACT_PAIRS_MAX_DOCS}
"""


def _lev_bounded_sql() -> str:
    """Bounded form of fn_levenshtein_blocked's oracle: the registered
    all-pairs SQL is quadratic in supplier MEMBERS; collapsing to
    distinct names first (identical names are edit-distance 0 and
    share every levenshtein value against any third name) keeps the
    all-pairs levenshtein on ~distinct-name reps and expands group
    pairs to id-only member pairs — the rep-level join is still the
    full ground-truth all-pairs, so this check also re-proves blocked
    candidate COMPLETENESS at sf10, not just value parity."""
    return """
WITH grp AS MATERIALIZED (
  SELECT s_name, MIN(s_suppkey) AS rep
  FROM supplier WHERE s_name IS NOT NULL GROUP BY s_name
), rp AS MATERIALIZED (
  SELECT a.rep AS rep_a, b.rep AS rep_b,
         levenshtein(a.s_name, b.s_name) AS d
  FROM grp a JOIN grp b ON a.rep < b.rep
  WHERE levenshtein(a.s_name, b.s_name) <= 2
), mem AS MATERIALIZED (
  SELECT s.s_suppkey, g.rep
  FROM supplier s JOIN grp g ON g.s_name = s.s_name
)
SELECT LEAST(x.s_suppkey, y.s_suppkey) AS supp_a,
       GREATEST(x.s_suppkey, y.s_suppkey) AS supp_b,
       rp.d AS edit_dist
FROM rp
JOIN mem x ON x.rep = rp.rep_a
JOIN mem y ON y.rep = rp.rep_b
UNION ALL
SELECT x.s_suppkey, y.s_suppkey, 0
FROM mem x JOIN mem y
  ON x.rep = y.rep AND x.s_suppkey < y.s_suppkey
"""


def _incremental_sql() -> str:
    """Bounded form of dedup_incremental_minhash's oracle (r17, r16
    verdict ask #7 — the one intractable extra with no direct sf10
    value evidence; its registered naive oracle computes 16 minhash
    permutations over every MEMBER's shingle array).  DuckDB collapses
    to distinct md5(text) groups first: band signatures, collisions and
    the exact-Jaccard verify are pure functions of the TEXT, so the
    batch flags reduce to group-level adjacency plus group stats —
      dup_of_corpus(b) = some matching group (incl b's own) holds a
                         corpus member;
      dup_in_batch(b)  = some matching group's EARLIEST batch member
                         precedes b (within b's own group this is
                         exactly "an earlier batch clone exists");
    where two groups "match" iff they collide in >=1 band AND verify
    at 3-gram Jaccard >= 0.7 (a group self-matches iff it has >=1
    shingle — identical signatures collide in every band, jaccard 1).
    NULL-text batch docs (empty Spark shingle array, NULL DuckDB
    shingles — neither ever collides) are emitted flag-free exactly
    like the registered oracle."""
    from tweetdb_spark.llm.dedup import _DUCK_SHINGLES, _mh_band_sql

    bands = _mh_band_sql("duck")
    band_union = "\n      UNION ALL ".join(
        f"SELECT rep, {j} AS j, {b} AS v FROM gb" for j, b in enumerate(bands)
    )
    jac = (
        "CAST(len(list_intersect(ga.g, g2.g)) AS DOUBLE) "
        "/ (len(ga.g) + len(g2.g) - len(list_intersect(ga.g, g2.g)))"
    )
    return f"""
WITH tgrp AS MATERIALIZED (
  SELECT md5(text) AS h, MIN(doc_id) AS rep
  FROM documents WHERE lang = 'en' AND text IS NOT NULL
  GROUP BY md5(text)
), gr AS (
  SELECT tg.h, tg.rep, {_DUCK_SHINGLES} AS g
  FROM tgrp tg JOIN documents d ON d.doc_id = tg.rep
), gb AS MATERIALIZED (
  SELECT * FROM gr WHERE len(g) > 0
), bands AS (
      {band_union}
), tm AS (
  SELECT DISTINCT a.rep AS rep_a, b.rep AS rep_b
  FROM bands a JOIN bands b ON a.j = b.j AND a.v = b.v AND a.rep <= b.rep
), vm AS MATERIALIZED (
  SELECT t.rep_a, t.rep_b
  FROM tm t
  JOIN gb ga ON ga.rep = t.rep_a
  JOIN gb g2 ON g2.rep = t.rep_b
  WHERE {jac} >= 0.7
), sym AS (
  SELECT rep_a AS r1, rep_b AS r2 FROM vm
  UNION ALL
  SELECT rep_b, rep_a FROM vm WHERE rep_a <> rep_b
), mem AS MATERIALIZED (
  SELECT d.doc_id, tg.rep, d.doc_id % 10 = 0 AS is_new
  FROM documents d JOIN tgrp tg ON tg.h = md5(d.text)
  WHERE d.lang = 'en'
), gstat AS MATERIALIZED (
  SELECT rep,
         COUNT(*) FILTER (WHERE NOT is_new) AS n_corpus,
         MIN(doc_id) FILTER (WHERE is_new) AS min_batch
  FROM mem GROUP BY rep
), adj AS (
  SELECT s.r1,
         MAX(CASE WHEN gs.n_corpus > 0 THEN 1 ELSE 0 END) AS any_corpus,
         MIN(gs.min_batch) AS min_b
  FROM sym s JOIN gstat gs ON gs.rep = s.r2
  GROUP BY s.r1
)
SELECT m.doc_id,
       CASE WHEN COALESCE(a.any_corpus, 0) = 1 THEN 1 ELSE 0 END
         AS dup_of_corpus,
       CASE WHEN a.min_b < m.doc_id THEN 1 ELSE 0 END AS dup_in_batch,
       CAST(COALESCE(a.any_corpus, 0) = 0
            AND NOT COALESCE(a.min_b < m.doc_id, FALSE) AS INTEGER) AS keep
FROM mem m LEFT JOIN adj a ON a.r1 = m.rep
WHERE m.is_new
UNION ALL
SELECT doc_id, 0, 0, 1
FROM documents
WHERE lang = 'en' AND text IS NULL AND doc_id % 10 = 0
"""


def _containment_moments(spark, sf, con):
    """Bounded VALUE check for dedup_containment (r17, r16 verdict ask
    #7): its member-level output is clone-quadratic (19.0B rows at
    sf10 — no oracle may materialize it), and the r14 extras sweep's
    value check died before producing evidence.  Same design as
    _simhash_pairs_moments: the output multiset is a pure function of
    the md5(text)-group pairs, so DuckDB computes GROUND-TRUTH
    rep-level all-pairs containment (re-proving PPJoin prefix-filter
    completeness at sf10, not just value parity) and closed-form EXACT
    symmetric moments of the expanded pair multiset — within a group
    every pair carries 1.0; across a verified rep pair every member
    pair carries the rep value — while the engine sums the identical
    functionals directly over its output rows (two-level mod-Q bigint
    aggregation; value coupled in via the round-6 1e6-scaled int)."""
    from pyspark.sql import functions as F

    P = 2147483647
    K1, K2 = 2654435761, 2246822519
    Q = 2147483629
    sdf = __import__("tweetdb_spark").QUERIES["dedup_containment"](spark, sf)
    ua = (F.col("doc_a") % P) * K1 % P
    ub = (F.col("doc_b") % P) * K1 % P
    va = (F.col("doc_a") % P) * K2 % P
    vb = (F.col("doc_b") % P) * K2 % P
    c6 = F.round(F.col("containment") * 1000000).cast("bigint")
    # c6 <= 1e6 and (ua+ub)%Q < 2^32, so c6*((ua+ub)%Q) < 2^52 — every
    # per-row term stays far inside bigint before the %Q reduction
    terms = {
        "sc": c6 % Q,
        "m1": (ua + ub) % Q,
        "m2": (ua * ub) % Q,
        "mc": (c6 * ((ua + ub) % Q)) % Q,
        "w1": (va + vb) % Q,
        "w2": (va * vb) % Q,
    }
    salt = (F.col("doc_a") + F.col("doc_b")) % 8192
    partial = sdf.groupBy(salt.alias("s")).agg(
        F.count("*").alias("n"),
        F.sum(
            F.when(F.col("doc_a") >= F.col("doc_b"), 1).otherwise(0)
        ).alias("bad_order"),
        *[(F.sum(e) % Q).alias(k) for k, e in terms.items()],
    )
    row = partial.agg(
        F.sum("n").alias("n"),
        F.sum("bad_order").alias("bad_order"),
        *[(F.sum(k) % Q).alias(k) for k in terms],
    ).collect()[0]
    sql = """
WITH grp AS MATERIALIZED (
  -- engine filter: lang = 'en' AND at least one 3-gram (len >= 3);
  -- md5 collapse with member count + two mod-P member-key sums
  SELECT md5(text) AS h, MIN(doc_id) AS rep
  FROM documents
  WHERE lang = 'en' AND length(text) >= 3
  GROUP BY md5(text)
), gg AS MATERIALIZED (
  SELECT g.rep,
         list_distinct(list_transform(range(1, length(d.text) - 1),
           i -> substr(d.text, CAST(i AS INT), 3))) AS g
  FROM grp g JOIN documents d ON d.doc_id = g.rep
), gagg AS MATERIALIZED (
  SELECT g.rep,
         CAST(COUNT(*) AS HUGEINT) AS c,
         CAST(SUM(((d.doc_id % {P}) * {K1}) % {P}) AS HUGEINT) AS su,
         CAST(SUM((((d.doc_id % {P}) * {K1}) % {P})
                  * (((d.doc_id % {P}) * {K1}) % {P})) AS HUGEINT) AS suu,
         CAST(SUM(((d.doc_id % {P}) * {K2}) % {P}) AS HUGEINT) AS sw,
         CAST(SUM((((d.doc_id % {P}) * {K2}) % {P})
                  * (((d.doc_id % {P}) * {K2}) % {P})) AS HUGEINT) AS sww
  FROM documents d
  JOIN grp g ON g.h = md5(d.text)
  WHERE d.lang = 'en' AND length(d.text) >= 3
  GROUP BY g.rep
), rp AS MATERIALIZED (
  -- GROUND-TRUTH rep-level all-pairs containment (no prefix filter):
  -- matching the engine's blocked candidate set re-proves PPJoin
  -- completeness at this scale
  SELECT a.rep AS rep_a, b.rep AS rep_b,
         CAST(ROUND(ROUND(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
               / LEAST(len(a.g), len(b.g)), 6) * 1000000) AS HUGEINT) AS c6
  FROM gg a JOIN gg b ON a.rep < b.rep
  WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
        / LEAST(len(a.g), len(b.g)) >= 0.6
), wi AS (
  SELECT COALESCE(SUM((c * (c - 1)) // 2), 0) AS n,
         COALESCE(SUM(1000000 * ((c * (c - 1)) // 2)), 0) AS sc,
         COALESCE(SUM((c - 1) * su), 0) AS m1,
         COALESCE(SUM((su * su - suu) // 2), 0) AS m2,
         COALESCE(SUM(1000000 * ((c - 1) * su)), 0) AS mc,
         COALESCE(SUM((c - 1) * sw), 0) AS w1,
         COALESCE(SUM((sw * sw - sww) // 2), 0) AS w2
  FROM gagg
), xr AS (
  SELECT COALESCE(SUM(ga.c * gb.c), 0) AS n,
         COALESCE(SUM(p.c6 * ga.c * gb.c), 0) AS sc,
         COALESCE(SUM(ga.su * gb.c + gb.su * ga.c), 0) AS m1,
         COALESCE(SUM(ga.su * gb.su), 0) AS m2,
         COALESCE(SUM(p.c6 * (ga.su * gb.c + gb.su * ga.c)), 0) AS mc,
         COALESCE(SUM(ga.sw * gb.c + gb.sw * ga.c), 0) AS w1,
         COALESCE(SUM(ga.sw * gb.sw), 0) AS w2
  FROM rp p
  JOIN gagg ga ON ga.rep = p.rep_a
  JOIN gagg gb ON gb.rep = p.rep_b
)
SELECT wi.n + xr.n, wi.sc + xr.sc, wi.m1 + xr.m1, wi.m2 + xr.m2,
       wi.mc + xr.mc, wi.w1 + xr.w1, wi.w2 + xr.w2
FROM wi, xr
""".format(P=P, K1=K1, K2=K2)
    o = con.execute(sql).fetchone()
    s_vals = tuple(
        0 if x is None else int(x)
        for x in (row.n, row.sc, row.m1, row.m2, row.mc, row.w1, row.w2)
    )
    o_vals = (int(o[0]),) + tuple(int(x) % Q for x in o[1:])
    ok = s_vals == o_vals and row.bad_order == 0
    detail = (
        f"spark {s_vals} bad_order={row.bad_order} vs oracle {o_vals}"
        if not ok
        else f"{s_vals[0]} pairs, n exact + 6 mod-{Q} moments "
        f"identical (value-coupled), ordering clean"
    )
    return ok, detail


def _simhash_pairs_moments(spark, sf, con, tokhash: str, max_hamming: int):
    """Bounded VALUE check for the pair-emitting dedup_simhash (r16):
    the member-level output is Theta(sum c_i*c_j) rows — quadratic in
    clone multiplicity, so no oracle may materialize it at sf10+.  But
    its row multiset is a pure function of the fingerprint-value
    groups, so DuckDB can compute EXACT symmetric moments of the
    unordered pair multiset in closed form, linear work only:

      within a group   (h = 0):  pairs C(c,2),  S1 = sum_x u_x*(c-1),
                                 S2 = (su^2 - sum u^2)/2
      across an edge (A,B,h):    pairs cA*cB,   S1 = suA*cB + suB*cA,
                                 S2 = suA*suB,  plus h-coupled copies

    with u = ((doc_id % P) * K) % P under TWO independent keys, and
    the engine side summing the same functionals directly over its
    output rows (exact decimal(38,0) arithmetic, no mod collisions).
    Moments identical under both keys + the h-coupled moment pins the
    multiset of (unordered pair, hamming); the doc_a < doc_b ordering
    the schema promises is asserted engine-side (violations counted),
    which together fix the ORDERED row multiset."""
    from pyspark.sql import functions as F

    P = 2147483647
    K1, K2 = 2654435761, 2246822519
    sdf = __import__("tweetdb_spark").QUERIES["dedup_simhash"](spark, sf)
    ua = (F.col("doc_a") % P) * K1 % P
    ub = (F.col("doc_b") % P) * K1 % P
    va = (F.col("doc_a") % P) * K2 % P
    vb = (F.col("doc_b") % P) * K2 % P
    # All engine-side arithmetic stays in BIGINT: per-row moment
    # terms are reduced mod a 31-bit prime Q (SUM of x%Q ≡ SUM x
    # mod Q), and the sum runs two-level — partial sums per salt
    # group (each < 2^31 * rows/8192, no overflow), re-modded, then
    # summed over <=8192 groups.  Spark's decimal(38,0) SUM was the
    # natural exact form but its agg fast path dies with an internal
    # Decimal.setOrNull ArrayIndexOutOfBoundsException on the sf10
    # straggler task (pyspark 4.1.2); DuckDB keeps EXACT HUGEINT
    # moments and Python mods them for the compare, so the check
    # loses nothing but a 2^-31 collision bound per moment (x5
    # independent moments, two member keys).
    Q = 2147483629
    terms = {
        "sh": F.col("hamming") % Q,
        "m1": (ua + ub) % Q,
        "m2": (ua * ub) % Q,
        "mh": (F.col("hamming") * (ua + ub)) % Q,
        "w1": (va + vb) % Q,
        "w2": (va * vb) % Q,
    }
    salt = (F.col("doc_a") + F.col("doc_b")) % 8192
    partial = sdf.groupBy(salt.alias("s")).agg(
        F.count("*").alias("n"),
        F.sum(
            F.when(F.col("doc_a") >= F.col("doc_b"), 1).otherwise(0)
        ).alias("bad_order"),
        *[(F.sum(e) % Q).alias(k) for k, e in terms.items()],
    )
    row = partial.agg(
        F.sum("n").alias("n"),
        F.sum("bad_order").alias("bad_order"),
        *[(F.sum(k) % Q).alias(k) for k in terms],
    ).collect()[0]
    sql = (
        _PREFIX.format(tokhash=tokhash)
        + f"""
, fpgm AS MATERIALIZED (SELECT * FROM fpg
), fedges AS MATERIALIZED (
  SELECT a.simhash AS u, b.simhash AS v,
         bit_count(xor(a.simhash, b.simhash)) AS h
  FROM fpgm a JOIN fpgm b
    ON a.simhash < b.simhash
   AND bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
), mem AS (
  SELECT d.doc_id, r.simhash,
         ((d.doc_id % {P}) * {K1}) % {P} AS u,
         ((d.doc_id % {P}) * {K2}) % {P} AS w
  FROM documents d
  JOIN tgrp tg ON tg.h = md5(d.text)
  JOIN rfp r ON r.rep = tg.rep
), gagg AS MATERIALIZED (
  SELECT simhash, CAST(COUNT(*) AS HUGEINT) AS c,
         CAST(SUM(u) AS HUGEINT) AS su, CAST(SUM(u * u) AS HUGEINT) AS suu,
         CAST(SUM(w) AS HUGEINT) AS sw, CAST(SUM(w * w) AS HUGEINT) AS sww
  FROM mem GROUP BY simhash
), wi AS (
  SELECT COALESCE(SUM((c * (c - 1)) // 2), 0) AS n,
         0 AS sh,
         COALESCE(SUM((c - 1) * su), 0) AS m1,
         COALESCE(SUM((su * su - suu) // 2), 0) AS m2,
         0 AS mh,
         COALESCE(SUM((c - 1) * sw), 0) AS w1,
         COALESCE(SUM((sw * sw - sww) // 2), 0) AS w2
  FROM gagg
), xr AS (
  SELECT COALESCE(SUM(ga.c * gb.c), 0) AS n,
         COALESCE(SUM(e.h * ga.c * gb.c), 0) AS sh,
         COALESCE(SUM(ga.su * gb.c + gb.su * ga.c), 0) AS m1,
         COALESCE(SUM(ga.su * gb.su), 0) AS m2,
         COALESCE(SUM(e.h * (ga.su * gb.c + gb.su * ga.c)), 0) AS mh,
         COALESCE(SUM(ga.sw * gb.c + gb.sw * ga.c), 0) AS w1,
         COALESCE(SUM(ga.sw * gb.sw), 0) AS w2
  FROM fedges e
  JOIN gagg ga ON ga.simhash = e.u
  JOIN gagg gb ON gb.simhash = e.v
)
SELECT wi.n + xr.n, wi.sh + xr.sh, wi.m1 + xr.m1, wi.m2 + xr.m2,
       wi.mh + xr.mh, wi.w1 + xr.w1, wi.w2 + xr.w2
FROM wi, xr
"""
    )
    o = con.execute(sql).fetchone()
    s_vals = tuple(
        0 if x is None else int(x)
        for x in (row.n, row.sh, row.m1, row.m2, row.mh, row.w1, row.w2)
    )
    # n compares exactly; the six moments compare mod Q against
    # DuckDB's exact HUGEINT closed forms
    o_vals = (int(o[0]),) + tuple(int(x) % Q for x in o[1:])
    ok = s_vals == o_vals and row.bad_order == 0
    detail = (
        f"spark {s_vals} bad_order={row.bad_order} vs oracle {o_vals}"
        if not ok
        else f"{s_vals[0]} pairs, n exact + 6 mod-{Q} moments "
        f"identical, ordering clean"
    )
    return ok, detail


def _keyed_sum_compare(sdf, con, sql) -> tuple[bool, str]:
    """``tools/keys.py sum``'s mod-P keyed-sum compare (same mappers/multipliers,
    so numbers are comparable across tools) for outputs too wide/tall
    to fetch row-by-row."""
    from pyspark.sql import functions as F

    from tools.keys import KS, P, _mappers

    specs = []
    for f in sorted(sdf.schema.fields, key=lambda f: f.name):
        m = _mappers(f.dataType.simpleString(), f.name)
        if m is not None:
            specs.append((f.name, m[0], m[1]))
    expr = None
    duck_terms = []
    for (name, s_expr, d_sql), k in zip(specs, KS):
        term = (F.coalesce(s_expr, F.lit(-1)) % P) * k % P
        expr = term if expr is None else expr + term
        duck_terms.append(f"(((COALESCE({d_sql}, -1) % {P}) * {k}) % {P})")
    expr = (expr % P).cast("decimal(28,0)")
    row = sdf.agg(F.sum(expr).alias("s"), F.count("*").alias("n")).collect()[0]
    o = con.execute(
        f"SELECT CAST(SUM(({' + '.join(duck_terms)}) % {P}) AS HUGEINT), count(*) "
        f"FROM ({sql})"
    ).fetchone()
    ok = (None if row.s is None else int(row.s), row.n) == (
        None if o[0] is None else int(o[0]),
        o[1],
    )
    return ok, f"spark=(sum {row.s}, n {row.n}) oracle=(sum {o[0]}, n {o[1]})"


def main() -> int:
    sf = os.environ.get("SF_DIR", "/tmp/tweetdb_sf10")

    import tweetdb_spark
    from tweetdb_spark.llm.dedup import _DUCK_TOKHASH, _HAMMING_MAX
    from tweetdb_spark.session import get_spark
    from tools.keys import register_duck_views

    tweetdb_spark.load_all_operators()
    spark = get_spark("tweetdb-bounded-oracle")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    con.execute("PRAGMA threads=16")
    register_duck_views(con, sf)

    checks = [
        ("dedup_cluster_resolve", _cluster_sql(_DUCK_TOKHASH), "exact"),
        (
            "graph_degree_distribution",
            _degree_sql(_DUCK_TOKHASH, _HAMMING_MAX),
            "exact",
        ),
        # full-result fetch of 5M wide rows is driver-hostile; the
        # keyed-sum covers every column (strings by UTF-8 byte count)
        ("corpus_dedup_e2e", _e2e_sql(_DUCK_TOKHASH), "sum"),
        ("corpus_pipeline_audit", _audit_sql(_DUCK_TOKHASH), "sum"),
        (
            "graph_pagerank",
            _pagerank_sql(_DUCK_TOKHASH, _HAMMING_MAX),
            # exact fetches every member row (fine at sf10's 500k x 2
            # narrow columns); hist compares the rank-value histogram
            # (rank, n_docs, mod-P doc_id keyed sum) for sf100's 5M
            ("hist" if os.environ.get("PAGERANK_MODE") == "hist" else "exact"),
        ),
        (
            "graph_triangle_count",
            _triangle_sql(_DUCK_TOKHASH, _HAMMING_MAX),
            "exact",
        ),
        ("dedup_simhash", None, "pairs"),
        ("dedup_minhash_banded", _mh_banded_sql(), "sum"),
        ("fn_levenshtein_blocked", _lev_bounded_sql(), "sum"),
        # r17 additions (r16 verdict ask #7): the last two extras
        # without direct >=sf10 value evidence
        ("dedup_incremental_minhash", _incremental_sql(), "exact"),
        ("dedup_containment", None, "cmoments"),
    ]
    only = set(sys.argv[1:])
    if only:
        checks = [c for c in checks if c[0] in only]

    def _scale_jaccard(sdf):
        # round-6 double -> exact 1e6-scaled BIGINT so the keyed sum
        # (which excludes FP columns) covers the jaccard VALUE; the
        # bounded SQL applies the identical cast on its side
        from pyspark.sql import functions as F

        return sdf.withColumn(
            "j6", F.round(F.col("ngram_jaccard") * 1000000, 0).cast("bigint")
        ).drop("ngram_jaccard")

    transforms = {"dedup_minhash_banded": _scale_jaccard}
    fails = 0
    for key, sql, mode in checks:
        t0 = time.time()
        if mode == "pairs":
            ok, detail = _simhash_pairs_moments(
                spark, sf, con, _DUCK_TOKHASH, _HAMMING_MAX
            )
            print(
                f"{'PASS' if ok else 'FAIL'} {key}: MOMENTS {detail} "
                f"({time.time() - t0:.1f}s)",
                flush=True,
            )
            fails += 0 if ok else 1
            continue
        if mode == "cmoments":
            ok, detail = _containment_moments(spark, sf, con)
            print(
                f"{'PASS' if ok else 'FAIL'} {key}: MOMENTS {detail} "
                f"({time.time() - t0:.1f}s)",
                flush=True,
            )
            fails += 0 if ok else 1
            continue
        sdf = tweetdb_spark.QUERIES[key](spark, sf)
        if key in transforms:
            sdf = transforms[key](sdf)
        if mode == "sum":
            ok, detail = _keyed_sum_compare(sdf, con, sql)
            t1 = time.time()
            print(
                f"{'PASS' if ok else 'FAIL'} {key}: KEYED-SUM {detail} "
                f"({t1 - t0:.1f}s)",
                flush=True,
            )
            fails += 0 if ok else 1
            continue
        if mode == "hist":
            # rank-value histogram: every distinct round-6 rank with its
            # member count and a mod-P doc_id keyed sum — the full value
            # multiset of the 2-column result, collapsed to ~#groups rows
            from pyspark.sql import functions as F

            P, K = 2147483647, 2654435761
            sdf = sdf.groupBy("pagerank").agg(
                F.count("*").alias("n"),
                F.sum((F.col("doc_id") % P) * K % P).alias("ks"),
            )
            sql = (
                f"SELECT pagerank, count(*) AS n, "
                f"CAST(SUM((doc_id % {P}) * {K} % {P}) AS HUGEINT) AS ks "
                f"FROM ({sql}) GROUP BY pagerank"
            )

        # round-6 doubles (pagerank) scale exactly to ints at 1e6; both
        # engines' fetches go through the same mapping
        def _cell(v):
            return int(round(v * 1_000_000)) if isinstance(v, float) else int(v)

        s_rows = sorted(tuple(_cell(v) for v in r) for r in sdf.collect())
        t1 = time.time()
        o_rows = sorted(
            tuple(_cell(v) for v in r) for r in con.execute(sql).fetchall()
        )
        t2 = time.time()
        if s_rows == o_rows:
            print(
                f"PASS {key}: {len(s_rows)} rows VALUE-IDENTICAL "
                f"(spark {t1 - t0:.1f}s, duck {t2 - t1:.1f}s)",
                flush=True,
            )
        else:
            only_s = [r for r in s_rows if r not in set(o_rows)][:5]
            only_o = [r for r in o_rows if r not in set(s_rows)][:5]
            print(
                f"FAIL {key}: spark {len(s_rows)} vs oracle {len(o_rows)} "
                f"rows; spark-only {only_s} oracle-only {only_o}",
                flush=True,
            )
            fails += 1
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
