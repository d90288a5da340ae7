"""Property-based tests (hypothesis) for the engine's portable
primitives — the pieces whose correctness is a *formula parity* claim
across Python / Spark SQL / DuckDB rather than a fixture result.
"""

from __future__ import annotations

import random
import string

import duckdb
import pytest
from hypothesis import given, settings, strategies as st

ASCII = string.ascii_letters + string.digits + " .,;:-_!?/#"


def whash_py(s: str) -> int:
    """Python reference of the position-weighted portable hash
    (llm/text.py _SPARK_WHASH / _DUCK_WHASH)."""
    p = 2147483647
    return sum(ord(c) * ((i * 2654435761) % p) for i, c in enumerate(s, 1)) % p


@given(st.text(alphabet=ASCII, min_size=1, max_size=80))
@settings(max_examples=60, deadline=None)
def test_portable_hash_python_vs_duckdb(s):
    from tweetdb_spark.llm.text import _DUCK_WHASH

    con = duckdb.connect()
    got = con.execute(
        f"SELECT {_DUCK_WHASH.format(s='s')} FROM (SELECT ? AS s)", [s]
    ).fetchone()[0]
    assert got == whash_py(s), s


def test_portable_hash_spark_matches_python(spark):
    from pyspark.sql import functions as F

    from tweetdb_spark.llm.text import _SPARK_WHASH

    rng = random.Random(42)
    samples = [
        "".join(rng.choice(ASCII) for _ in range(rng.randint(1, 120)))
        for _ in range(80)
    ] + ["a", " ", "zz" * 60]
    df = spark.createDataFrame([(s,) for s in samples], "text string")
    got = {
        r.text: r.h
        for r in df.select("text", F.expr(_SPARK_WHASH.format(s="text")).alias("h")).collect()
    }
    for s in samples:
        assert got[s] == whash_py(s), s


def test_dot_and_norm_match_numpy(spark):
    import numpy as np

    from tweetdb_spark.llm.similarity import dot, l2_norm

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((40, 16)).astype("float32")
    rows = [(i, vecs[i].tolist(), vecs[(i + 1) % 40].tolist()) for i in range(40)]
    df = spark.createDataFrame(rows, "i int, a array<float>, b array<float>")
    out = df.select(
        "i",
        dot("a", "b").alias("d"),
        l2_norm("a").alias("n"),
    ).collect()
    for r in out:
        a = vecs[r.i].astype("float64")
        b = vecs[(r.i + 1) % 40].astype("float64")
        assert abs(r.d - float(a @ b)) < 1e-9
        assert abs(r.n - float(np.sqrt(a @ a))) < 1e-9


@given(st.binary(min_size=0, max_size=256))
@settings(max_examples=100, deadline=None)
def test_fake_decode_total_and_bounded(payload):
    from tweetdb_spark.llm.multimodal import fake_decode

    w, h, n = fake_decode(payload)
    assert 16 <= w < 80 and 16 <= h < 80
    assert 1 <= n <= 7


@given(
    st.integers(min_value=0, max_value=10_000),
    st.integers(min_value=0, max_value=10_000),
    st.integers(min_value=1, max_value=64),
)
@settings(max_examples=200, deadline=None)
def test_split_range_partitions_cover_exactly(lo, hi, n_parts):
    """The connector's range splitter must tile [lo, hi) exactly:
    contiguous, non-overlapping, never an empty list."""
    from tweetdb_spark.sources.tweetgen import _split_range

    parts = _split_range(lo, hi, n_parts)
    assert parts, "empty partition list (DataSource API rejects it)"
    if hi <= lo:
        assert all(p.start == p.end for p in parts)
        return
    assert parts[0].start == lo and parts[-1].end == hi
    for a, b in zip(parts, parts[1:]):
        assert a.end == b.start
    assert sum(p.end - p.start for p in parts) == hi - lo


@given(
    st.lists(st.sampled_from(["a", "b", "c", "d", "e"]), min_size=1, max_size=20),
    st.lists(st.sampled_from(["a", "b", "c", "d", "e"]), min_size=1, max_size=20),
)
@settings(max_examples=80, deadline=None)
def test_jaccard_formula_symmetric_and_bounded(xs, ys):
    """|A∩B| / (|A|+|B|−|A∩B|) — the exact formula both engines run
    (dedup.py): symmetric, in [0,1], and 1 iff equal sets."""
    a, b = set(xs), set(ys)
    inter = len(a & b)
    jac = inter / (len(a) + len(b) - inter)
    jac_rev = inter / (len(b) + len(a) - inter)
    assert jac == jac_rev
    assert 0.0 <= jac <= 1.0
    assert (jac == 1.0) == (a == b)


def minhash_sig_py(text: str) -> list[int]:
    """Python reference of the portable banded-MinHash signature
    (llm/dedup.py _SPARK_SHINGLES / _DUCK_SHINGLES + _MH_AB)."""
    from tweetdb_spark.llm.dedup import _MH_AB, _MH_P

    shingles = {
        ord(text[i]) * 66049 + ord(text[i + 1]) * 257 + ord(text[i + 2])
        for i in range(len(text) - 2)
    }
    return [min((a * x + b) % _MH_P for x in shingles) for a, b in _MH_AB]


@given(st.text(alphabet=ASCII, min_size=3, max_size=120))
@settings(max_examples=40, deadline=None)
def test_minhash_signature_python_vs_duckdb(s):
    from tweetdb_spark.llm.dedup import _DUCK_SHINGLES, _mh_band_sql

    con = duckdb.connect()
    bands = con.execute(
        "SELECT " + ", ".join(_mh_band_sql("duck"))
        + f" FROM (SELECT {_DUCK_SHINGLES.replace('text', 's')} AS g"
        "  FROM (SELECT ? AS s))",
        [s],
    ).fetchone()
    ref = minhash_sig_py(s)
    want = ["-".join(str(m) for m in ref[j * 4 : (j + 1) * 4]) for j in range(4)]
    assert list(bands) == want, s


def test_minhash_signature_spark_matches_python(spark):
    from pyspark.sql import functions as F

    from tweetdb_spark.llm.dedup import _SPARK_SHINGLES, _mh_band_sql

    rng = random.Random(7)
    samples = [
        "".join(rng.choice(ASCII) for _ in range(rng.randint(3, 150)))
        for _ in range(50)
    ] + ["abc", "aaaaaa"]
    df = spark.createDataFrame([(s,) for s in samples], "text string")
    exprs = [
        F.expr(b).alias(f"b{j}") for j, b in enumerate(_mh_band_sql("spark"))
    ]
    got = {
        r.text: [r.b0, r.b1, r.b2, r.b3]
        for r in df.select(
            "text", F.expr(_SPARK_SHINGLES).alias("g")
        ).select("text", *exprs).collect()
    }
    for s in samples:
        ref = minhash_sig_py(s)
        want = [
            "-".join(str(m) for m in ref[j * 4 : (j + 1) * 4]) for j in range(4)
        ]
        assert got[s] == want, s


def test_banded_first_collision_equals_distinct_on_random_corpora(spark):
    """Property: the r11 dedup-free banding (first-collision ownership)
    emits EXACTLY the distinct pair set of the emit-per-band reference,
    each pair once — over randomized corpora engineered for heavy
    multi-band collisions (clone groups + near-clones + noise docs).
    A fixed-seed loop rather than @given: each example pays two Spark
    jobs, and the randomness we need is corpus shape, not shrinking."""
    from pyspark.sql import functions as F

    from tweetdb_spark.llm.dedup import _banded_candidate_pairs, _mh_band_sql

    rng = random.Random(20260815)
    vocab = [f"tok{i}" for i in range(60)]
    for trial in range(4):
        docs = []
        doc_id = 0
        for group in range(rng.randint(2, 5)):
            base = rng.sample(vocab, rng.randint(5, 15))
            for member in range(rng.randint(1, 4)):
                words = list(base)
                for _ in range(rng.randint(0, 2)):  # near-clone mutations
                    words[rng.randrange(len(words))] = rng.choice(vocab)
                docs.append((doc_id, " ".join(words)))
                doc_id += 1
        for _ in range(rng.randint(1, 4)):  # noise docs
            docs.append((doc_id, " ".join(rng.sample(vocab, 8))))
            doc_id += 1
        g = spark.createDataFrame(docs, "doc_id long, text string").select(
            "doc_id",
            F.expr(
                "transform(array_distinct(split(text, ' ')),"
                " w -> xxhash64(w) & 2147483647)"
            ).alias("g"),
        )
        for n_bands in (4, 8):
            got = [
                (r.doc_a, r.doc_b)
                for r in _banded_candidate_pairs(g, n_bands=n_bands).collect()
            ]
            assert len(got) == len(set(got)), (trial, n_bands, "duplicate pair")
            bands = _mh_band_sql("spark", n_bands)
            banded = g.select(
                "doc_id",
                F.explode(
                    F.array(
                        *[
                            F.struct(F.lit(j).alias("j"), F.expr(b).alias("v"))
                            for j, b in enumerate(bands)
                        ]
                    )
                ).alias("band"),
            ).select("doc_id", "band.j", "band.v")
            a, b = banded.alias("a"), banded.alias("b")
            ref = {
                (r.doc_a, r.doc_b)
                for r in a.join(
                    b,
                    (F.col("a.j") == F.col("b.j"))
                    & (F.col("a.v") == F.col("b.v"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")),
                )
                .select(
                    F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                )
                .distinct()
                .collect()
            }
            assert set(got) == ref, (trial, n_bands)


def _random_token_corpus(rng, n_groups=4):
    """Clone-group corpus with deliberately varied token-set SIZES so
    the size-ratio bound has pairs on both sides of 4/5."""
    vocab = [f"tok{i}" for i in range(60)]
    docs, doc_id = [], 0
    for _ in range(n_groups):
        base = rng.sample(vocab, rng.randint(4, 20))
        for _ in range(rng.randint(1, 4)):
            words = list(base)
            # grow/shrink mutations move |g| across the 4/5 boundary
            for _ in range(rng.randint(0, 3)):
                roll = rng.random()
                if roll < 0.4 and len(words) > 3:
                    words.pop(rng.randrange(len(words)))
                elif roll < 0.8:
                    words.append(rng.choice(vocab))
                else:
                    words[rng.randrange(len(words))] = rng.choice(vocab)
            docs.append((doc_id, " ".join(words)))
            doc_id += 1
    for _ in range(rng.randint(1, 3)):
        docs.append((doc_id, " ".join(rng.sample(vocab, rng.randint(3, 12)))))
        doc_id += 1
    return docs


def test_band_join_size_ratio_prunes_exactly_the_provable_pairs(spark):
    """Property (r16 optimization round): pushing the lossless 4/5
    set-size bound INTO the band join (``size_ratio=(4, 5)``) drops
    EXACTLY the candidate pairs with 5·min(|A|,|B|) < 4·max(|A|,|B|) —
    the pairs the callers' verify-side ``_size_ratio_ok`` filter would
    discard anyway — so the verified edge set is provably unchanged."""
    from pyspark.sql import functions as F

    from tweetdb_spark.llm.dedup import _banded_candidate_pairs

    rng = random.Random(20260817)
    n_dropped = 0
    for trial in range(3):
        docs = _random_token_corpus(rng)
        g = spark.createDataFrame(docs, "doc_id long, text string").select(
            "doc_id",
            F.expr(
                "transform(array_distinct(split(text, ' ')),"
                " w -> xxhash64(w) & 2147483647)"
            ).alias("g"),
        )
        sizes = {r.doc_id: len(r.g) for r in g.collect()}
        unpruned = {
            (r.doc_a, r.doc_b)
            for r in _banded_candidate_pairs(g, n_bands=8).collect()
        }
        pruned = {
            (r.doc_a, r.doc_b)
            for r in _banded_candidate_pairs(
                g, n_bands=8, size_ratio=(4, 5)
            ).collect()
        }
        want = {
            (a, b)
            for a, b in unpruned
            if min(sizes[a], sizes[b]) * 5 >= max(sizes[a], sizes[b]) * 4
        }
        assert pruned == want, (trial, pruned ^ want)
        n_dropped += len(unpruned) - len(pruned)
    # the corpus generator must actually exercise the bound
    assert n_dropped > 0, "no pair ever crossed the 4/5 size boundary"


def test_integer_jaccard_threshold_equals_double_dist_filter(spark):
    """Property (r16 optimization round, fifth session): the verify
    filter's exact-integer form ``9·|A∩B| >= 4·(|A|+|B|)`` accepts
    EXACTLY the pairs the old double form ``1 - try_divide(i, u) <=
    0.2`` accepted, including pairs sitting exactly ON the 4/5
    boundary and one intersection element off either side — so the
    dedup_minhash_verdicts edge set is unchanged by the swap."""
    from pyspark.sql import functions as F

    # sweep sizes and intersections across the boundary, including
    # exact i/u == 4/5 points (i = 4k shared, u = 5k) and ±1 cases
    rows = []
    pid = 0
    for sa in range(1, 26):
        for sb in range(sa, 26):
            for i in range(0, sa + 1):  # |A∩B| <= min(|A|,|B|)
                rows.append((pid, sa, sb, i))
                pid += 1
    df = spark.createDataFrame(
        rows, "pid long, sa int, sb int, i int"
    ).select(
        "pid", "sa", "sb", "i",
        # A = [0..i) ∪ [1000..1000+sa-i); B = [0..i) ∪ [2000..2000+sb-i).
        # CASE guards: Spark sequence(x, y) DESCENDS for y < x (the
        # codebase's shingle-guard rule), so empty slices must be
        # literal empty arrays, not sequence(0, -1).
        F.expr(
            "concat("
            "CASE WHEN i > 0 THEN sequence(0, i - 1) ELSE array() END, "
            "CASE WHEN sa - i > 0 THEN sequence(1000, 1000 + (sa - i) - 1) "
            "ELSE array() END)"
        ).alias("t_a"),
        F.expr(
            "concat("
            "CASE WHEN i > 0 THEN sequence(0, i - 1) ELSE array() END, "
            "CASE WHEN sb - i > 0 THEN sequence(2000, 2000 + (sb - i) - 1) "
            "ELSE array() END)"
        ).alias("t_b"),
    )
    inter = F.size(F.array_intersect(F.col("t_a"), F.col("t_b")))
    union = F.size(F.col("t_a")) + F.size(F.col("t_b")) - inter
    dist = 1.0 - F.try_divide(inter.cast("double"), union)
    got = df.select(
        "pid", "sa", "sb", "i",
        (dist <= 0.2).alias("old_form"),
        (
            (F.lit(9) * inter)
            >= (F.lit(4) * (F.size(F.col("t_a")) + F.size(F.col("t_b"))))
        ).alias("new_form"),
    ).collect()
    boundary_hits = 0
    for r in got:
        assert bool(r.old_form) == bool(r.new_form), (r.sa, r.sb, r.i)
        if 9 * r.i == 4 * (r.sa + r.sb):
            boundary_hits += 1
    # the sweep must actually exercise the exact boundary
    assert boundary_hits > 10


def test_bigint_band_pack_collides_exactly_like_string_bands(spark):
    """Property (r16 optimization round): the 2-row bigint band pack
    (m0·2³¹ + m1) is injective over sub-2³¹ minima, so two docs share
    a packed band value IFF they share the concat_ws('-') string form
    of the same two minhash rows — the candidate set of every 8-band
    consumer is unchanged by the representation swap."""
    from pyspark.sql import functions as F

    from tweetdb_spark.llm.dedup import _MH_AB, _MH_P, _mh_band_sql

    rng = random.Random(20260816)
    docs = _random_token_corpus(rng, n_groups=5)
    g = spark.createDataFrame(docs, "doc_id long, text string").select(
        "doc_id",
        F.expr(
            "transform(array_distinct(split(text, ' ')),"
            " w -> xxhash64(w) & 2147483647)"
        ).alias("g"),
    )
    packed_exprs = _mh_band_sql("spark", 8)
    mins = [
        f"array_min(transform(g, x -> ({a}L * x + {b}L) % {_MH_P}L))"
        for a, b in _MH_AB
    ]
    string_exprs = [
        f"concat_ws('-', {mins[j * 2]}, {mins[j * 2 + 1]})" for j in range(8)
    ]
    rows = g.select(
        "doc_id",
        *[F.expr(e).alias(f"p{j}") for j, e in enumerate(packed_exprs)],
        *[F.expr(e).alias(f"s{j}") for j, e in enumerate(string_exprs)],
    ).collect()
    assert "2147483648" in " ".join(packed_exprs)  # really the packed tier
    for j in range(8):
        by_packed = {}
        by_string = {}
        for r in rows:
            by_packed.setdefault(r[f"p{j}"], set()).add(r.doc_id)
            by_string.setdefault(r[f"s{j}"], set()).add(r.doc_id)
        assert sorted(map(sorted, by_packed.values())) == sorted(
            map(sorted, by_string.values())
        ), j
