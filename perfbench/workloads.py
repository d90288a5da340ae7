"""Workload definitions: which registry keys run, and how each result is
checked.

Every key is called the way a user calls the program,
``QUERIES[key](spark, sf_dir).collect()``, with the DataFrame built
fresh for each op.  ``MODULES`` is the benchmark's own key -> module map
for per-module attribution; a test checks it against the registry.

Checks (run once per seed on the first warm-up execution, outside the
timing):

- keys in the registry's ``ORACLES`` are compared row-for-row (as an
  order-insensitive digest) with the DuckDB oracle on the same files;
- other keys compare their row count with ``ROW_COUNT_SQL``, a DuckDB
  query over the same files that computes the count independently.

Every timed op's digest must then equal the checked warm-up digest.
"""

from __future__ import annotations

WORKLOADS: dict[str, list[str]] = {
    # Execution-dominated reads: scan, shuffle, join, window.  No Python
    # workers, no build-phase jobs, no streaming state.
    "analytics": [
        "agg_grouped",
        "join_multiway",
        "win_rank_topk",
        "events_funnel",
        "subquery_scalar_corr",
    ],
    # The LLM-curation operators: Python workers, text, dedup and
    # similarity kernels, plus one streaming drain (build-phase jobs) so
    # the streaming layer is measured too.
    "curate": [
        "text_quality",
        "sim_topk_cosine_batch",
        "udf_pandas_scalar",
        "join_stream_static",
        "dedup_exact",
        "multimodal_dedup",
    ],
}

MODULES: dict[str, str] = {
    "agg_grouped": "operators.aggregates",
    "join_multiway": "operators.joins",
    "win_rank_topk": "operators.windows",
    "events_funnel": "operators.events",
    "subquery_scalar_corr": "operators.subqueries",
    "text_quality": "llm.text",
    "sim_topk_cosine_batch": "llm.similarity",
    "udf_pandas_scalar": "functions.udfs",
    "join_stream_static": "streaming.queries",
    "dedup_exact": "llm.dedup",
    "multimodal_dedup": "llm.multimodal",
}

# Every module any workload attributes time to, in report order.
ALL_MODULES: list[str] = list(dict.fromkeys(MODULES.values()))

# Expected row counts for keys without a DuckDB oracle.
ROW_COUNT_SQL: dict[str, str] = {
    "join_stream_static": (
        "SELECT count(*) FROM events e JOIN customer c ON e.user_id = c.c_custkey"
    ),
}
