"""Dump the physical plan of every contract query to PLANS.md — an
auditable snapshot of plan quality (pushed filters, pruned schemas,
broadcast vs sort-merge joins, TakeOrderedAndProject top-k, exchange
counts). Regenerate after plan-affecting changes.

Usage: python tools/dump_plans.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from aleph2_contrib_spark.session import get_spark

import __spark_entry__ as entrymod

INTERESTING = re.compile(
    r"PushedFilters: \[[^\]]|ReadSchema|BroadcastHashJoin|SortMergeJoin|"
    r"BroadcastNestedLoopJoin|CartesianProduct|TakeOrderedAndProject|Exchange|"
    r"HashAggregate|WholeStageCodegen"
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark("plan-dump")
    lines = [
        "# Physical plans (generated by tools/dump_plans.py at %s)\n" % sf_dir,
        "Per query: exchange/join/aggregate skeleton, then the full formatted plan.\n",
    ]
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            skeleton = [
                ln.strip() for ln in plan.splitlines() if INTERESTING.search(ln)
            ]
            lines.append(f"\n## {name}\n")
            lines.append(f"- exchanges: {plan.count('Exchange')}  "
                         f"broadcast-joins: {plan.count('BroadcastHashJoin')}  "
                         f"sort-merge-joins: {plan.count('SortMergeJoin')}  "
                         f"cartesian: {plan.count('CartesianProduct')}")
            lines.append("```")
            lines.extend(skeleton[:40])
            lines.append("```")
        except Exception as e:  # plan-only tool: record and continue
            lines.append(f"\n## {name}\nERROR: {e}\n")
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote PLANS.md ({len(lines)} lines)")


if __name__ == "__main__":
    main()
