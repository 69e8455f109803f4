"""Plan lint: build every queries() plan at sf0.001 and flag scale smells.

Checks each physical plan for:
- CartesianProduct (an unkeyed join that will not survive scale-up;
  BroadcastNestedLoopJoin against a literal one-row side is tolerated
  and reported separately),
- BatchEvalPython (row-at-a-time Python UDF — the slow path; Arrow
  stages report as ArrowEvalPython / FlatMapGroupsInPandas and are the
  DECLARED UDF families, listed not flagged).

Usage: python scripts/plan_lint.py [sf_dir]
Exit code 1 if any hard flag fires.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from itext2kg_spark.session import get_spark  # noqa: E402

# queries that EXECUTE inside the builder (streams, stores) — their plan
# is the final select over materialized results; lint the cheap plan too
HARD_FLAGS = ("CartesianProduct", "BatchEvalPython")
INFO_TAGS = ("ArrowEvalPython", "FlatMapGroupsInPandas",
             "MapInPandas", "BroadcastNestedLoopJoin")


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = sys.argv[2:] or None
    spark = get_spark(cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    failures = []
    for name, fn in entry_mod.queries().items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # noqa: BLE001
            print(f"{name:28s} ERROR building plan: {exc!r}"[:200])
            failures.append(name)
            continue
        flags = [f for f in HARD_FLAGS if f in plan]
        infos = [t for t in INFO_TAGS if t in plan]
        status = "FLAG " + ",".join(flags) if flags else "ok"
        extra = (" [" + ",".join(infos) + "]") if infos else ""
        print(f"{name:28s} {status}{extra}")
        if flags:
            failures.append(name)
    print("PLAN-LINT FAILURES:", failures or "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
