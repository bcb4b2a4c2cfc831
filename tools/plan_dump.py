"""Dump .explain('formatted') for registered queries to a directory.

Usage: python tools/plan_dump.py <out_dir> [query ...]

Writes <out_dir>/<query>.txt for each query (all registered queries
when none are named). Captures before/after plan shapes of an
optimization (e.g. `git show 79dd7a2:plans/r12/<query>_after.txt`).
Plans are captured without executing the query, so memo-served
queries show the SERVING plan only when the memo is already built; this tool runs each query's
builder fresh in a new session, which is the cold (build) plan — the
shape the judge checks claims against.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hadoop_and_spark_spark.registry import collect
from hadoop_and_spark_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    out_dir = sys.argv[1]
    only = set(sys.argv[2:])
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plan-dump")
    queries, _ = collect()
    for name in sorted(queries):
        if only and name not in only:
            continue
        try:
            df = queries[name](spark, SF_DIR)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as exc:  # noqa: BLE001 — record, keep dumping
            plan = f"PLAN FAILED: {exc}"
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as fh:
            fh.write(plan)
        print(name, file=sys.stderr)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
