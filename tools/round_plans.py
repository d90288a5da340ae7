"""Capture .explain('formatted') for the headline queries → plans/r<round>/.

Usage: python tools/round_plans.py <round> before|after [key ...]
Writes plans/r<round>/<name>_<tag>.txt for each bench HEADLINE entry (or
the given registry keys), at $SPARK_GRAFT_SF_DIR (default sf0.1).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    if len(sys.argv) < 3 or sys.argv[2] not in ("before", "after"):
        raise SystemExit(__doc__)
    rnd, tag, only = int(sys.argv[1]), sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import tweetdb_spark
    from bench import HEADLINE
    from tweetdb_spark.session import get_spark

    tweetdb_spark.load_all_operators()
    spark = get_spark(f"tweetdb-plans-r{rnd}")
    spark.sparkContext.setLogLevel("ERROR")

    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", f"r{rnd}"
    )
    os.makedirs(out_dir, exist_ok=True)

    items = (
        [(k, k) for k in only]
        if only
        else list(HEADLINE.items())
    )
    for name, key in items:
        spark.sparkContext.setJobDescription(f"plan:{name}")
        df = tweetdb_spark.QUERIES[key](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {name} (registry key: {key}) @ {sf_dir} — {tag}\n")
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")


if __name__ == "__main__":
    main()
