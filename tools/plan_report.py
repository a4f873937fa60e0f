"""Generate PLANS.md: per-query physical-plan hygiene summary.

For every batch query in the registry, capture the formatted physical
plan at sf0.01 and count the operators that matter at 100 TB:
exchanges (shuffles), broadcast vs sort-merge joins, cartesian
products, Python eval nodes (row vs Arrow), whole-stage-codegen
spans, and whether any scan carries pushed filters. The table is
committed so a reviewer can audit shuffle counts without running
anything; regenerate with ``python tools/plan_report.py``.

Streaming queries (st*) execute eagerly inside their builder and are
skipped — their state/shuffle discipline is asserted in
tests/test_streaming.py instead.
"""
from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SKIP_PREFIXES = ("st",)
SF_DIR = "/root/testdata/sf0.01"

# matched against the formatted explain's numbered operator section
# ("(4) Exchange ...") so each physical node counts exactly once
COUNTERS = {
    "exchanges": r"^\(\d+\) Exchange",
    "bhj": r"^\(\d+\) BroadcastHashJoin",
    "smj": r"^\(\d+\) SortMergeJoin",
    "bnlj": r"^\(\d+\) BroadcastNestedLoopJoin",
    "cartesian": r"^\(\d+\) CartesianProduct",
    "arrow_py": r"^\(\d+\) (ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas|PythonMapInArrow|ArrowEvalPythonUDTF|MapInArrow)",
    "row_py": r"^\(\d+\) BatchEvalPython(?!UDTF)",
    "scans": r"^\(\d+\) Scan parquet",
}


def main() -> None:
    from crossfire_spark import get_spark
    from crossfire_spark.registry import all_queries

    # AQE off for the report: the static plan shows codegen span
    # markers and the worst-case exchange count (AQE only ever
    # removes/downsizes exchanges at runtime, never adds them)
    spark = get_spark(
        app_name="plan-report",
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    explain_mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
    rows = []
    for name, fn in sorted(all_queries().items()):
        if name.split("_")[0].rstrip("0123456789") in SKIP_PREFIXES or any(
            name.startswith(p) and name[len(p)].isdigit()
            for p in SKIP_PREFIXES
        ):
            continue
        try:
            df = fn(spark, SF_DIR)
            # load_table defensively re-enables AQE; planning is lazy,
            # so switching it off here governs the explain below
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            qe = df._jdf.queryExecution()
            plan = qe.explainString(explain_mode.fromString("formatted"))
            simple = qe.explainString(explain_mode.fromString("simple"))
        except Exception as exc:  # noqa: BLE001
            rows.append((name, {"error": str(exc)[:60]}, False))
            continue
        counts = {
            k: len(re.findall(rx, plan, flags=re.M))
            for k, rx in COUNTERS.items()
        }
        # codegen spans show as "*(n)" markers in simple mode only
        counts["codegen"] = len(set(re.findall(r"\*\((\d+)\)", simple)))
        pushed = bool(re.search(r"PushedFilters: \[[^\]]+\]", plan))
        rows.append((name, counts, pushed))

    lines = [
        "# PLANS — physical-plan hygiene per declared batch query",
        "",
        "Generated by `python tools/plan_report.py` (sf0.01 plans; plan",
        "*shape* is scale-invariant — sizes change, operators don't,",
        "modulo AQE runtime join-strategy switches which only ever",
        "*remove* exchanges). Streaming queries are pinned in",
        "tests/test_streaming.py instead. Columns: shuffle exchanges,",
        "broadcast-hash / sort-merge / broadcast-nested-loop joins,",
        "cartesian products (must be 0), Arrow-batched Python nodes,",
        "row-pickled Python nodes (must be 0), whole-stage-codegen",
        "spans, source-scan count (re-derived subplans show up as extra",
        "scans of the same table — the multi-pass hazard at 100 TB),",
        "and whether the scan receives pushed filters.",
        "",
        "| query | exch | BHJ | SMJ | BNLJ | cart | arrowPy | rowPy | wscg | scans | pushed |",
        "|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    for name, counts, pushed in rows:
        if "error" in counts:
            lines.append(f"| {name} | error: {counts['error']} ||||||||||")
            continue
        lines.append(
            "| {n} | {exchanges} | {bhj} | {smj} | {bnlj} | {cartesian} |"
            " {arrow_py} | {row_py} | {codegen} | {scans} | {p} |".format(
                n=name, p="yes" if pushed else "—", **counts
            )
        )
    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote PLANS.md ({len(rows)} queries)")


if __name__ == "__main__":
    main()
