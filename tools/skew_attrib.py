"""Attribute join_skewed_fact's scale behavior in-log (r13 verdict ask
#6): execute the stress key at $SF_DIR and report, from the FINAL
adaptive plan's runtime SQL metrics, how many skewed partitions AQE
detected, how many splits it made, and how many bytes the sort/join
spilled — so a rung log carries measured attribution ("the hot
partition split N ways and spilled X GiB") instead of inferred
superlinearity.  Optionally re-runs with raised skewJoin advisory
sizes to show the knob moves the split count / runtime.

Usage:
  SF_DIR=/tmp/tweetdb_sf100_full python tools/skew_attrib.py            # default config
  SF_DIR=... python tools/skew_attrib.py --advisory 64m --threshold 128m  # tuned point

Metric extraction walks the final plan with ``plan_audit.plan_nodes``
and sums every SQLMetric whose name mentions skew/spill — the same
numbers the Spark UI would show, without needing the UI enabled.
"""
from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.plan_audit import plan_nodes  # noqa: E402


def _skew_spill_metrics(df) -> list[tuple[str, str, int]]:
    """(node, metric_name, value) of every skew/spill metric in ``df``'s
    final adaptive plan."""
    rows = []
    for node in plan_nodes(df._jdf.queryExecution().executedPlan()):
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            key, metric = str(kv._1()), kv._2()
            label = str(metric.name().get()) if metric.name().isDefined() else key
            if any(s in label or s in key for s in ("skew", "spill")):
                rows.append((str(node.nodeName()), label, int(metric.value())))
    return rows


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--advisory", default=None,
                    help="spark.sql.adaptive.advisoryPartitionSizeInBytes")
    ap.add_argument("--threshold", default=None,
                    help="spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
    ap.add_argument("--key", default="join_skewed_fact")
    args = ap.parse_args()

    sf = os.environ.get("SF_DIR", "/root/testdata/sf0.1")

    import tweetdb_spark
    from tweetdb_spark.session import get_spark

    tweetdb_spark.load_all_operators()
    spark = get_spark("tweetdb-skew-attrib")
    spark.sparkContext.setLogLevel("ERROR")
    confs = {}
    if args.advisory:
        confs["spark.sql.adaptive.advisoryPartitionSizeInBytes"] = args.advisory
    if args.threshold:
        confs["spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"] = (
            args.threshold
        )
    for k, v in confs.items():
        spark.conf.set(k, v)

    df = tweetdb_spark.QUERIES[args.key](spark, sf)
    t0 = time.time()
    out = df.collect()
    secs = time.time() - t0

    rows = _skew_spill_metrics(df)
    final = df._jdf.queryExecution().executedPlan().toString()

    print(f"key={args.key} sf_dir={sf} confs={confs or 'defaults'}")
    print(f"runtime={secs:.1f}s result_rows={len(out)}")
    print(f"plan: isFinalPlan={'isFinalPlan=true' in final} "
          f"skew_marked={'skew=true' in final}")
    agg: dict[str, int] = {}
    for node, label, val in rows:
        agg[label] = agg.get(label, 0) + val
        print(f"  metric {node}: {label} = {val}")
    for label, val in sorted(agg.items()):
        print(f"TOTAL {label} = {val}")
    if not rows:
        print("TOTAL (no skew/spill metrics in final plan)")


if __name__ == "__main__":
    main()
