"""Short/empty-input edge cases the sf fixtures can't reach.

The generated documents fixture has ≥10 tokens / ≥47 chars per doc, so
it masks the sequence-descend and empty-text divergence classes.  These
tests run the RAW operator bodies on a purpose-built tiny corpus and
compare against the registered DuckDB oracle on the same parquet — the
same parity bar as the driver, on inputs the driver never sends.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from tools.keys import rows_multiset

EDGE_DOCS = [
    # (doc_id, text): empty, 1 token, 2 tokens, 1 char, token-dupes
    (1, ""),
    (2, "solo"),
    (3, "two tokens"),
    (4, "x"),
    (5, "a a a a"),
    (6, "the quick brown fox jumps over the lazy dog"),
]


@pytest.fixture(scope="module")
def edge(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("edge") / "documents.parquet")
    df = spark.createDataFrame(
        [
            (i, txt, "en", "edge", len(txt))
            for i, txt in EDGE_DOCS
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(path)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    return {"documents": spark.read.parquet(path)}, con


def _parity(key, fn, edge, spark):
    t, con = edge
    sdf = fn(spark, t)
    s_rows = [tuple(r) for r in sdf.collect()]
    import tweetdb_spark

    tweetdb_spark.load_all_operators()
    from tweetdb_spark.registry import ORACLES

    res = con.execute(ORACLES[key])
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    assert len(s_rows) == len(d_rows), f"{key}: rowcount {len(s_rows)} vs {len(d_rows)}"
    assert rows_multiset(sdf.columns, s_rows) == rows_multiset(d_cols, d_rows), key
    return s_rows


def test_bigram_logprob_short_docs(edge, spark):
    from tweetdb_spark.llm.text import text_bigram_logprob

    rows = _parity("text_bigram_logprob", text_bigram_logprob, edge, spark)
    ids = {r[0] for r in rows}
    assert 1 not in ids and 2 not in ids  # no bigrams for <2-token docs
    assert {3, 5, 6} <= ids


def test_repetition_short_docs(edge, spark):
    from tweetdb_spark.llm.text import text_repetition

    rows = _parity("text_repetition", text_repetition, edge, spark)
    ids = {r[0] for r in rows}
    assert 1 not in ids and 2 not in ids
    rep = {r[0]: r[4] for r in rows}
    assert rep[5] == 1  # "a a" carries 100% of doc 5's bigram mass


def test_chunk_empty_and_tiny_docs(edge, spark):
    from tweetdb_spark.llm.text import text_chunk

    rows = _parity("text_chunk", text_chunk, edge, spark)
    ids = [r[0] for r in rows]
    assert 1 not in ids  # empty doc emits no chunk on either engine
    assert ids.count(4) == 1  # 1-char doc → exactly one chunk


def test_decontaminate_and_stats_run_on_edge_corpus(edge, spark):
    """The other short-input-sensitive text ops must at least not throw
    (ANSI element_at/sequence classes) on the edge corpus."""
    from tweetdb_spark.llm.text import text_stats, text_unigram_logprob

    t, _ = edge
    assert text_stats(spark, t).count() >= 0
    assert text_unigram_logprob(spark, t).count() > 0


def test_exact_twin_guard_refuses_large_input(spark):
    from pyspark.sql import functions as F

    from tweetdb_spark.guards import exact_twin_input

    big = spark.range(50_001).select(
        F.col("id").alias("s_suppkey"), F.lit("x").alias("s_name")
    )
    with pytest.raises(ValueError, match="GROUND-TRUTH twin"):
        exact_twin_input(big, "fn_levenshtein", "fn_levenshtein_blocked")
    small = spark.range(10).toDF("id")
    assert exact_twin_input(small, "op", "twin") is small


PII_DOCS = [
    (101, "contact me at alice.smith+work@example.co.uk for details"),
    (102, "server at 192.168.1.254 and 10.0.0.1 went down"),
    (103, "ssn 123-45-6789 phone 415-555-1234 card 4111111111111111"),
    (104, "no pii here just plain text"),
    (105, "edge: 999.999.999.999 and 12345678901234567 and a@b.c"),
]


@pytest.fixture(scope="module")
def pii_corpus(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pii") / "documents.parquet")
    df = spark.createDataFrame(
        [(i, txt, "en", "edge", len(txt)) for i, txt in PII_DOCS],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(path)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    return {"documents": spark.read.parquet(path)}, con


def test_pii_scrub_planted_corpus_parity(pii_corpus, spark):
    """Both engines must find and redact the same spans on text that
    actually contains PII (the sf fixtures are clean, so the oracle
    hash alone only proves the no-op path)."""
    from tweetdb_spark.llm.text import pii_scrub

    rows = _parity("pii_scrub", pii_scrub, pii_corpus, spark)
    by_id = {r[0]: r for r in rows}
    # (doc_id) -> (clean_text, n_email, n_ipv4, n_ssn, n_phone, n_ccnum, has_pii)
    assert by_id[101][1] == "contact me at <EMAIL> for details"
    assert by_id[101][2] == 1 and by_id[101][7] == 1
    assert by_id[102][1] == "server at <IP> and <IP> went down"
    assert by_id[102][3] == 2
    assert by_id[103][1] == "ssn <SSN> phone <PHONE> card <CC>"
    assert (by_id[103][4], by_id[103][5], by_id[103][6]) == (1, 1, 1)
    assert by_id[104][1] == PII_DOCS[3][1] and by_id[104][7] == 0
    # 999.999.999.999 still matches the syntactic ipv4 rule; a 17-digit
    # run must NOT match the 13-16 card rule; a@b.c fails the email
    # rule's 2-letter-minimum TLD on both engines
    assert by_id[105][3] == 1 and by_id[105][6] == 0 and by_id[105][2] == 0


def test_segment_dedup_edge_corpus_parity(edge, spark, tmp_path):
    """text_segment_dedup on empty/1-token/short docs: the empty-string
    split ([''] on both engines) and sub-8-token tail segments must
    agree with the oracle; duplicated doc 7 (clone of 6) collapses both
    copies' shared segments."""
    import duckdb as _duck

    t, con = edge
    # extend the corpus with a cross-doc duplicate pair (7 clones 6)
    extra = spark.createDataFrame(
        [(7, "the quick brown fox jumps over the lazy dog", "en", "edge", 43)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs = t["documents"].unionByName(extra)
    path = str(tmp_path / "documents.parquet")
    docs.coalesce(1).write.parquet(path)
    con2 = _duck.connect()
    con2.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    from tweetdb_spark.llm.text import text_segment_dedup
    from tweetdb_spark.registry import ORACLES

    sdf = text_segment_dedup(spark, {"documents": spark.read.parquet(path)})
    s_rows = [tuple(r) for r in sdf.collect()]
    res = con2.execute(ORACLES["text_segment_dedup"])
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    assert rows_multiset(sdf.columns, s_rows) == rows_multiset(d_cols, d_rows)
    by_id = {r[0]: r for r in s_rows}
    assert by_id[6][1] == "" and by_id[7][1] == ""  # clones fully collapse
    assert by_id[2][1] == "solo"  # unique short doc untouched


def test_sketch_ops_degenerate_events(spark):
    """The sketch trio's grid math on inputs the fixtures can't reach:
    empty events (no rows out, no crash), a single row (rank-1
    quantiles exact), and a constant value column (hi==lo → width
    clamps to 1, everything lands in bucket 0, estimates exact)."""
    import datetime

    from tweetdb_spark.operators.aggregates import (
        sketch_cms_merge,
        sketch_quantile_merge,
    )

    schema = (
        "event_id long, user_id long, event_type string, "
        "ts timestamp, value double, props string"
    )
    d = datetime.datetime(2024, 1, 1)
    empty = spark.createDataFrame([], schema)
    one = spark.createDataFrame([(1, 3, "a", d, 7.0, "{}")], schema)
    const = spark.createDataFrame(
        [(i, i % 5, "a", d, 2.5, "{}") for i in range(10)], schema
    )

    assert sketch_quantile_merge(spark, {"events": empty}).count() == 0
    assert sketch_cms_merge(spark, {"events": empty}).count() == 0

    rows = sketch_quantile_merge(spark, {"events": one}).collect()
    assert len(rows) == 5
    assert all(r.exact_cents == 700 and r.within_width for r in rows)
    (cms_row,) = sketch_cms_merge(spark, {"events": one}).collect()
    assert cms_row.user_id == 3 and cms_row.cms_est == 1

    rows = sketch_quantile_merge(spark, {"events": const}).collect()
    # hi == lo: width clamps to 1, estimates are exactly the value
    assert all(
        r.est_hi_cents == 250 and r.exact_cents == 250 for r in rows
    )
    cms = sketch_cms_merge(spark, {"events": const}).collect()
    assert {r.user_id: r.exact_cnt for r in cms} == {0: 2, 1: 2, 2: 2, 3: 2, 4: 2}
    assert all(r.overcount >= 0 for r in cms)


def test_seeded_sample_is_deterministic_across_fresh_plans(spark):
    """Load-bearing PySpark behavior lock (r15): the quantizer's
    bounded training sample relies on df.sample(fraction=..., seed=...)
    returning the SAME rows for freshly-built plans.  PySpark 4.1.2's
    overload shim silently drops a keyword seed when fraction is
    passed positionally — sample(0.025, seed=42) is a fresh random
    draw every call (the r15 nondeterminism root cause,
    sweeps/ab_r15_semantic_cap.log).  This pins the kwargs form we
    use, and documents the positional trap: if an upgrade makes the
    counts below diverge, every seeded-sample call site needs review."""
    base = spark.range(200_000)
    kw = [base.sample(fraction=0.1, seed=42).count() for _ in range(2)]
    assert kw[0] == kw[1], "kwargs-form seeded sample must be stable"
    full3 = [base.sample(False, 0.1, 42).count() for _ in range(2)]
    assert full3[0] == full3[1] == kw[0]
