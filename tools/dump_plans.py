#!/usr/bin/env python
"""Dump `.explain("formatted")` for named queries to plans/<tag>/.

    python tools/dump_plans.py <tag> <suffix> key1 key2 ...

Writes plans/<tag>/<key>_<suffix>.txt for each key (e.g. tag=r09,
suffix=before). These files let a reader check plan-shape claims
(Exchange counts, join strategies, PushedFilters) without running
Spark. A plan that only scans a checkpointed result (e.g. kg_pagerank)
shows none of the work that built it; its file starts with a line
saying so, and a pair of such files is not plan evidence.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

NOTHING_TO_COMPARE = (
    "NOTE: this plan only scans a checkpointed result; the work that "
    "built it is not in the plan, so a plan pair of it compares nothing.\n"
)
# Operators that can sit over a checkpoint scan without adding work
# worth comparing.
_OVER_SCAN = {"Scan ExistingRDD", "Project", "Filter"}


def checkpoint_scan_only(plan: str) -> bool:
    """True if an ``explain("formatted")`` ``plan`` is a scan of a
    checkpointed RDD with at most projections and filters over it."""
    tree = plan.split("== Physical Plan ==\n", 1)[-1].split("\n\n", 1)[0]
    ops = {
        re.sub(r"^[\s:+\-*]*|\s*\(\d+\)$", "", line)
        for line in tree.splitlines()
    }
    return (
        "Scan ExistingRDD" in ops
        and ops <= _OVER_SCAN
        and re.search(r"[cC]heckpoint at ", plan) is not None
    )


def plan_text(df) -> str:
    """``df``'s formatted plan, headed by ``NOTHING_TO_COMPARE`` when it
    only scans a checkpointed result."""
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    return NOTHING_TO_COMPARE + plan if checkpoint_scan_only(plan) else plan


def main() -> None:
    tag, suffix = sys.argv[1], sys.argv[2]
    keys = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(REPO, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    from mcp_memory_libsql_spark.registry import QUERIES
    from mcp_memory_libsql_spark.session import get_spark

    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    for key in keys:
        plan = plan_text(QUERIES[key](spark, sf_dir))
        path = os.path.join(out_dir, f"{key}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
