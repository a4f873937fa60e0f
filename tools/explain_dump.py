"""Dump .explain("formatted") for named queries to plans/r10/.

Usage: python tools/explain_dump.py <suffix> <query> [query ...]
       python tools/explain_dump.py before v18_spearman_audit t31_ccnet_bucket

Writes plans/r10/<query>_<suffix>.txt for each query. Streaming (st*)
builders execute eagerly; for those the final returned frame's plan is
what gets captured (their micro-batch plans are asserted in tests).

Run from any checkout: the repo root is derived from this file's path,
so a worktree at an older commit dumps THAT commit's plans.
"""
from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
OUT_DIR = os.environ.get(
    "SPARK_GRAFT_PLANS_DIR", os.path.join(REPO, "plans", "r10")
)


def main() -> None:
    from crossfire_spark import get_spark
    from crossfire_spark.registry import all_queries

    suffix = sys.argv[1]
    names = sys.argv[2:]
    os.makedirs(OUT_DIR, exist_ok=True)
    spark = get_spark(app_name="explain-dump")
    spark.sparkContext.setLogLevel("ERROR")
    reg = all_queries()
    for name in names:
        df = reg[name](spark, SF_DIR)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(OUT_DIR, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} chars)")


if __name__ == "__main__":
    main()
