"""Full-surface physical-plan audit (r16 optimization round).

For EVERY key in ``queries()``: build the DataFrame at $SF_DIR
(default sf0.01) and scan its ``explain('formatted')`` output for the
anti-pattern nodes of guide §2-§4:

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
Plan-only (nothing is executed), so the audit is host-noise-immune —
the point of running it in an optimization round on a degraded host.

Keys named on the command line are also run, and each
``BroadcastExchange`` of the final adaptive plan is printed with its
``numOutputRows`` and ``dataSize``: counts, not timings, so they are
noise-immune too.

Usage: python tools/plan_audit.py [key ...]
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


def main() -> int:
    sf_dir = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
    only = set(sys.argv[1:])

    import tweetdb_spark
    from tweetdb_spark.session import get_spark

    tweetdb_spark.load_all_operators()
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql.utils import is_remote  # noqa: F401  (parity with tools)

    qs = tweetdb_spark.QUERIES
    findings: list[str] = []
    n_ok = 0
    names = [k for k in qs if not only or k in only]
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # diagnostic keys may gate on fixtures
            findings.append(f"ERROR {name}: {type(exc).__name__}: {exc}")
            continue
        # count numbered detail headers only — each operator appears
        # once in the tree and once as "(n) Name" in the details, so a
        # bare substring count double-reports every node
        counts = {
            pat: len(re.findall(rf"\(\d+\) {pat}\b", plan))
            for pat in (
                "CartesianProduct",
                "BroadcastNestedLoopJoin",
                "BatchEvalPython",
                "ArrowEvalPython",
                "MapInArrow",
                "FlatMapGroupsInPandas",
                "Exchange",
                "SortMergeJoin",
            )
        }
        # The engine's scalar/constant-frame attach idiom: a Cross BNLJ
        # whose broadcast side is bounded by construction (a 1-row
        # global aggregate, a literal band-index frame, a LocalTableScan
        # of constants).  Classified by the detail blocks: every BNLJ in
        # the plan is "Join type: Cross" AND the plan's BroadcastExchange
        # inputs are either aggregates (IdentityBroadcastMode over a
        # HashAggregate) or LocalTableScan/Range constants.  We verify
        # the cheap, reliable half mechanically (all BNLJ are Cross) and
        # leave non-Cross BNLJ — a real non-equi join fallback — flagged.
        n_bnlj = counts["BroadcastNestedLoopJoin"]
        bnlj_types = re.findall(
            r"\(\d+\) BroadcastNestedLoopJoin[^\n]*\nJoin type: (\w+)", plan
        )
        scalar_idiom = n_bnlj > 0 and all(t == "Cross" for t in bnlj_types)
        bad = {
            k: v
            for k, v in counts.items()
            if v
            and k in ("CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython")
        }
        if scalar_idiom and set(bad) == {"BroadcastNestedLoopJoin"}:
            bad = {}
            arrow_note = f"bnlj_cross_scalar={n_bnlj}"
        else:
            arrow_note = ""
        arrow = {
            k: v
            for k, v in counts.items()
            if v and k in ("ArrowEvalPython", "MapInArrow", "FlatMapGroupsInPandas")
        }
        tag = ""
        if bad and name in EXPECTED:
            tag = f"expected ({EXPECTED[name]})"
        elif bad:
            tag = "FLAG"
            findings.append(f"FLAG {name}: {bad}")
        line = (
            f"{'FLAG' if tag == 'FLAG' else 'ok  '} {name}: "
            f"exchanges={counts['Exchange']} smj={counts['SortMergeJoin']}"
        )
        if bad:
            line += f" {bad}"
        if arrow_note:
            line += f" {arrow_note}"
        if arrow:
            line += f" arrow={arrow}"
        bcast = ["+".join(scanned_tables(n)) or "-" for n in broadcast_exchanges(df)]
        if bcast:
            line += f" bcast={bcast}"
        if tag and tag != "FLAG":
            line += f"  [{tag}]"
        print(line)
        if only:
            for rows, size, tables in broadcasts(df):
                print(f"     broadcast rows={rows} bytes={size} scans={'+'.join(tables) or '-'}")
        if tag != "FLAG":
            n_ok += 1
    print(
        f"\n{n_ok}/{len(names)} keys clean-or-expected, "
        f"{len(findings)} findings"
    )
    for f in findings:
        print(" ", f)
    return 1 if findings else 0


if __name__ == "__main__":
    raise SystemExit(main())
