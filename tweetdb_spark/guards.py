"""Defensive guards for operators that are deliberately non-scalable.

A handful of registered keys are quadratic **ground-truth twins**:
exact all-pairs computations kept as recall/hash oracles for their
bucketed scale siblings (MinHash banding, simhash bands, IVF/LSH,
PassJoin segments).  They are correct at fixture scale and would be
catastrophic at corpus scale, so each one routes its input through
:func:`exact_twin_input`, which fails fast — loudly, before any join
is planned — if someone points it at a large table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Fixture tables are ≤60k rows; anything past this on an all-pairs op
# means someone mistook the ground-truth twin for the scale path.
EXACT_TWIN_MAX_ROWS = 50_000

# Shared stats gate for the bucketed two-pass rewrites (corpus_pack,
# corpus_token_budget, corpus_interleave, value_histogram): inputs whose
# catalyst size estimate is below this run the direct window form,
# larger inputs the exact bucketed two-pass form.  The two-pass forms
# pay extra member-scale passes to remove a window whose parallelism is
# bounded by the partition-key cardinality (or a single partition); below
# this size the one-task sort is cheaper.  Measured interleaved A/B on
# corpus_interleave (noop sink, min-of-runs): 500k docs / 3.3 MB parquet
# — direct 0.78 s vs two-pass 1.58 s; 5M docs / 86 MB parquet — direct
# 5.42 s vs two-pass 3.56 s (sweeps/interleave_twopass_r16.log);
# corpus_token_budget's crossover sits in the same 3.3-86 MB window.
# Above the gate, corpus_pack's two-pass runs 1.42x faster at 10M docs
# (sweeps/pack_twopass_r17.log) and value_histogram's ~2.5x at sf100
# (sweeps/interleave_twopass_r16.log).  32 MiB errs toward parallelism: a too-early two-pass costs a bounded
# constant, a too-late single sort is the unbounded one-task wall.  Both
# forms of every gated key are output-identical (oracle-proven at every
# fixture scale, and pinned by tests that force the gate each way).
TWO_PASS_MIN_BYTES = 1 << 25


def size_gate(df: DataFrame) -> bool:
    """True iff ``df``'s catalyst size estimate reaches
    ``TWO_PASS_MIN_BYTES`` (the scale form should run).

    Reads the optimized plan's file-size stats — no job, the same
    estimate the broadcast threshold reads.  The module global is read
    at call time, so tests can force either form by patching it.
    """
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return int(size) >= TWO_PASS_MIN_BYTES


def exact_twin_input(
    df: DataFrame, op: str, scale_twin: str, limit: int = EXACT_TWIN_MAX_ROWS
) -> DataFrame:
    """Return ``df`` unchanged after asserting it is small enough for an
    O(n²) ground-truth computation.

    ``limit(n+1).count()`` touches at most ``limit+1`` rows, so the
    guard itself stays cheap even against a huge table.
    """
    n = df.limit(limit + 1).count()
    if n > limit:
        raise ValueError(
            f"{op} is an exact all-pairs GROUND-TRUTH twin (O(n²)) and "
            f"refuses inputs over {limit:,} rows (got >{limit:,}). "
            f"Use its scale sibling `{scale_twin}` instead."
        )
    return df
