"""Physical-plan audit and plan writer.

    python tools/plan_audit.py --sf DIR [--write PATH] [KEY ...]

For every key (or the named ones): build the DataFrame at ``DIR`` and
scan its ``explain('formatted')`` output for these anti-pattern nodes:

- ``CartesianProduct``            — accidental cross joins
- ``BroadcastNestedLoopJoin``     — non-equi fallback (fine for tiny
                                    broadcast probes, fatal on big sides)
- ``BatchEvalPython``             — row-pickled Python UDF boundary
- ``ArrowEvalPython``/``MapInArrow``/``FlatMapGroupsInPandas`` etc.
                                  — Arrow boundary (reported, not flagged)
- ``Exchange`` count              — shuffle boundaries
- ``SortMergeJoin`` count         — for cross-checking broadcast choices
- ``bcast``                       — the tables scanned beneath each
                                    ``BroadcastExchange``

Output: one line per key plus a summary; keys listed in
``EXPECTED`` carry a justification and don't count as findings.
Plan-only (nothing is executed), so host load does not move it.

Keys named on the command line are also run, and each
``BroadcastExchange`` of the final adaptive plan is printed with its
``numOutputRows`` and ``dataSize``: counts, not timings, so they are
noise-immune too.

``--write PATH`` also writes each key's audit line and formatted plan
(the tree and the first scan's pushed filters and read schema, before
AQE re-plans it at run time) to the markdown file ``PATH``; without
named keys it writes the ``SHOWCASE`` keys, with the reason each is
shown.  ``PLANS.md`` is ``--sf <sf0.01> --write PLANS.md``.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# key -> justification for an otherwise-flagged node
EXPECTED = {
    "join_cross": "J7: the declared operator IS a cross join",
    "join_theta_range": "non-equi theta join; BNLJ on the declared tiny side",
    "fn_levenshtein": "declared all-pairs diagnostic (size-guarded)",
    "sim_pairwise_label": "declared all-pairs small-N labeler",
    "sim_topk_cosine": "probe x corpus scoring: BNLJ broadcasts the "
    "fixed probe set (tiny), corpus side streams",
    "dedup_near_jaccard": "L2: declared small-N exact tier (size-guarded; "
    "L3 is the scale path)",
    "udf_python": "U1: row-at-a-time Python UDF is contract-REQUIRED; "
    "udf_python_arrow is the transport twin",
    "udtf_python": "U4: @udtf eval is per-row by definition (guide §4.1)",
    "dedup_ngram_jaccard": "declared all-pairs small-N exact tier "
    "(size-guarded diagnostic; the banded LSH twin is the scale path)",
    "dedup_embedding_cosine": "declared all-pairs small-N exact tier "
    "(size-guarded; dedup_semantic_blocked is the scale path)",
    "sim_pairwise_label_sampled": "pair side is sample-bounded by "
    "construction before the non-equi join",
    "sketch_quantile_merge": "non-equi range join against the "
    "k-row quantile-boundary frame (broadcast side bounded by k)",
}


def plan_nodes(plan, follow_reused=False):
    """Every node of a physical plan: adaptive roots yield their current
    (after execution, final) plan, query stages their inner plan, and
    expression subqueries their plans.  A reused exchange is skipped
    (its original is yielded where it ran) unless ``follow_reused``."""
    cls = plan.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from plan_nodes(plan.executedPlan(), follow_reused)
        return
    if cls.endswith("QueryStageExec"):
        yield from plan_nodes(plan.plan(), follow_reused)
        return
    if cls == "ReusedExchangeExec":
        if follow_reused:
            yield from plan_nodes(plan.child(), follow_reused)
        return
    yield plan
    for seq in (plan.subqueries(), plan.children()):
        for i in range(seq.size()):
            yield from plan_nodes(seq.apply(i), follow_reused)


def broadcast_exchanges(df):
    """The ``BroadcastExchangeExec`` nodes of ``df``'s physical plan
    (the final adaptive plan once ``df`` has run)."""
    return [
        n
        for n in plan_nodes(df._jdf.queryExecution().executedPlan())
        if n.getClass().getSimpleName() == "BroadcastExchangeExec"
    ]


def scanned_tables(node) -> list[str]:
    """Fixture tables (``<name>.parquet``) scanned beneath ``node``."""
    names = set()
    for n in plan_nodes(node, follow_reused=True):
        if n.getClass().getSimpleName() == "FileSourceScanExec":
            roots = n.relation().location().rootPaths()
            for i in range(roots.size()):
                m = re.fullmatch(r"(\w+)\.parquet", roots.apply(i).getName())
                names.update(m.groups() if m else ())
    return sorted(names)


def broadcasts(df) -> list[tuple[int, int, list[str]]]:
    """Run ``df``; return ``(numOutputRows, dataSize, scanned tables)``
    of each broadcast in its final adaptive plan."""
    df.collect()
    out = []
    for node in broadcast_exchanges(df):
        m = node.metrics()
        rows, size = (m.apply(k).value() for k in ("numOutputRows", "dataSize"))
        out.append((rows, size, scanned_tables(node)))
    return out


SHOWCASE = [
    ("agg_grouped", "TPC-H Q1 shape — pushed filter, 2-phase hash agg"),
    ("q3_top_orders", "3-way join — lineitem streams past the broadcast filtered orders and customers, one agg exchange, TakeOrdered"),
    ("join_multiway", "6-way join — lineitem streams past 5 broadcasts (filtered orders, customer, 3 dims), one agg exchange"),
    ("events_funnel", "conversion funnel — one events scan, one user_id exchange, a one-row count, no join"),
    ("scan_pruned", "pushdown evidence — PushedFilters + pruned ReadSchema"),
    ("win_rank_topk", "per-group top-k — WindowGroupLimit below the shuffle"),
    ("events_session_batch", "sessionization — one user_id exchange reused"),
    ("sim_topk_cosine", "vector scoring — narrow map + TakeOrdered, no shuffle"),
    ("dedup_simhash", "banded LSH — candidate equi-join on (band, value)"),
    ("join_theta_bucketed", "theta-range rewrite — bin equi-join, no BNLJ"),
    ("fn_levenshtein_blocked", "PassJoin blocking — segment equi-join + verify"),
    ("dedup_minhash_banded", "portable MinHash — band equi-join + Jaccard verify"),
    ("text_decontaminate", "benchmark 8-gram overlap — gram equi-join"),
    ("sim_ann_ivf_pq", "IVF-PQ probe — cell-pruned codes scan, broadcast ADC LUT, TakeOrdered"),
    ("dedup_containment", "prefix-filter blocking — rare-gram probe ⋈ full-gram index"),
    ("sim_maxsim_multivector", "late interaction — broadcast query tokens, ONE agg exchange (pivoted maxima), WindowGroupLimit"),
    ("table_diff", "snapshot diff — PK full-outer join on 8-byte fingerprints"),
    ("graph_triangle_count", "triangles — oriented edge list, two node-key equi-joins"),
    ("sample_weighted", "E-S weighted top-k — narrow key map + TakeOrdered, no global sort"),
    ("corpus_shuffle", "seeded shard permutation — the one exchange a sharded write pays anyway"),
    ("text_dup_ngram_fraction", "corpus dup-gram signal — gram df agg + equi-join, 2-phase aggs"),
    ("corpus_dedup_e2e", "dedup verdict — banded components, co-partitioned window + join"),
    ("corpus_pipeline_audit", "curation audit — stage signals equi-joined back to doc_id"),
    ("table_drift_psi", "PSI drift — 1-row broadcast bounds, O(buckets) shuffle"),
    ("cte_recursive_chain", "recursive CTE — UnionLoop over the successor equi-join"),
    ("join_skewed_fact", "skewed fact join — hot-key SMJ; AQE skew split execution-asserted in tests/test_plans.py"),
    ("dedup_minhash_verdicts", "dedup verdicts — exact collapse, banded LSH on uniques, component fan-back"),
    ("sketch_cms_merge", "mergeable CMS — per-shard partial agg, ≤4096-row merge, broadcast probe join"),
    ("text_segment_dedup", "segment rewrite — df agg + equi-join, order-preserving collect_list rebuild"),
    ("text_decontaminate_bloom", "bloom-prefiltered decontamination — broadcast (j,bucket) filter joins BEFORE the exact gram join"),
    ("agg_multi_distinct_decomposed", "multi-DISTINCT without Expand — map-side-deduped two-phase aggs joined on the group key"),
    ("text_quality_classifier", "hashed linear model — token-hash features ⋈ broadcast weights, one doc-key agg"),
    ("itemsets_frequent_pairs", "A-Priori pairs — item-prune semi-join, basket self-equi-join, 2-phase support count"),
    ("events_multires_rollup", "continuous-aggregate chain — raw scanned once, day/week from hourly partials"),
    ("join_shuffle_hash_hint", "explicit ShuffledHashJoin — no-sort strategy where SMJ would sort both sides"),
    ("win_count_distinct", "windowed distinct rewrite — first-occurrence flag + running sum, one user shuffle"),
    ("sketch_kmv_intersect", "KMV set algebra — TakeOrdered k-smallest hashes, tiny-sketch joins, no wide shuffle"),
    ("sim_hybrid_rrf", "hybrid retrieval — two bounded top-100 legs, rank windows over k rows, RRF join"),
    ("multimodal_shard_manifest", "shard packing — two-level prefix sum, 64-row base table, no global window"),
]


_NODES = (
    "CartesianProduct",
    "BroadcastNestedLoopJoin",
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "Exchange",
    "SortMergeJoin",
)


def formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def audit(name: str, plan: str, df) -> tuple[str, bool]:
    """``(line, flagged)`` for one key's formatted ``plan``."""
    # count numbered detail headers only — each operator appears once
    # in the tree and once as "(n) Name" in the details, so a bare
    # substring count double-reports every node
    counts = {pat: len(re.findall(rf"\(\d+\) {pat}\b", plan)) for pat in _NODES}
    # The engine's scalar/constant-frame attach idiom: a Cross BNLJ whose
    # broadcast side is bounded by construction (a 1-row global
    # aggregate, a literal band-index frame, a LocalTableScan of
    # constants).  Only the cheap, reliable half is checked (every BNLJ
    # is "Join type: Cross"); a non-Cross BNLJ, a real non-equi join
    # fallback, stays flagged.
    n_bnlj = counts["BroadcastNestedLoopJoin"]
    bnlj_types = re.findall(
        r"\(\d+\) BroadcastNestedLoopJoin[^\n]*\nJoin type: (\w+)", plan
    )
    bad = {
        k: v
        for k, v in counts.items()
        if v and k in ("CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython")
    }
    scalar_idiom = n_bnlj > 0 and all(t == "Cross" for t in bnlj_types)
    if scalar_idiom and set(bad) == {"BroadcastNestedLoopJoin"}:
        bad = {}
    flagged = bool(bad) and name not in EXPECTED
    line = (
        f"{'FLAG' if flagged else 'ok  '} {name}: "
        f"exchanges={counts['Exchange']} smj={counts['SortMergeJoin']}"
    )
    if bad:
        line += f" {bad}"
    if scalar_idiom and not bad:
        line += f" bnlj_cross_scalar={n_bnlj}"
    arrow = {
        k: v
        for k, v in counts.items()
        if v and k in ("ArrowEvalPython", "MapInArrow", "FlatMapGroupsInPandas")
    }
    if arrow:
        line += f" arrow={arrow}"
    bcast = ["+".join(scanned_tables(n)) or "-" for n in broadcast_exchanges(df)]
    if bcast:
        line += f" bcast={bcast}"
    if bad and not flagged:
        line += f"  [expected ({EXPECTED[name]})]"
    return line, flagged


def plan_section(key: str, why: str, line: str, plan: str) -> list[str]:
    """Markdown for one key: the tree and the first scan's details
    (the long per-node dumps are dropped)."""
    tree, _, details = plan.partition("\n\n\n")
    keep = [tree.strip()]
    keep += [p.strip() for p in details.split("\n\n") if "PushedFilters" in p or "ReadSchema" in p][:1]
    return [f"## {key}", "", *([why, ""] if why else []), f"`{line.strip()}`", "", "```", *keep, "```", ""]


def main(argv: list[str] | None = None) -> int:
    import argparse

    ap = argparse.ArgumentParser(description="Audit (and write) physical plans; see the module docstring.")
    ap.add_argument("keys", nargs="*", metavar="KEY")
    ap.add_argument("--sf", required=True, metavar="DIR")
    ap.add_argument("--write", metavar="PATH")
    a = ap.parse_intermixed_args(argv)

    import tweetdb_spark
    from tweetdb_spark.session import get_spark

    tweetdb_spark.load_all_operators()
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    qs = tweetdb_spark.QUERIES
    why = dict(SHOWCASE) if a.write and not a.keys else {}
    names = list(why) or [k for k in qs if not a.keys or k in a.keys]
    findings: list[str] = []
    doc = [
        "# PLANS — formatted physical plans",
        "",
        f"Generated by `python tools/plan_audit.py --sf {a.sf} --write {a.write}`. "
        "Each key shows its audit line and the plan the engine executes "
        "(pre-AQE form; AQE further coalesces partitions at runtime).",
        "",
    ]
    for name in names:
        try:
            df = qs[name](spark, a.sf)
            plan = formatted_plan(df)
        except Exception as exc:  # diagnostic keys may gate on fixtures
            findings.append(f"ERROR {name}: {type(exc).__name__}: {exc}")
            continue
        line, flagged = audit(name, plan, df)
        print(line)
        if flagged:
            findings.append(line)
        doc += plan_section(name, why.get(name, ""), line, plan)
        if a.keys:
            for rows, size, tables in broadcasts(df):
                print(f"     broadcast rows={rows} bytes={size} scans={'+'.join(tables) or '-'}")
    if a.write:
        with open(a.write, "w") as fh:
            fh.write("\n".join(doc))
        print(f"wrote {a.write}")
    print(f"\n{len(names) - len(findings)}/{len(names)} keys clean-or-expected, {len(findings)} findings")
    for f in findings:
        print(" ", f)
    return 1 if findings else 0


if __name__ == "__main__":
    raise SystemExit(main())
