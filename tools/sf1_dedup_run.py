#!/usr/bin/env python
"""One-off sf1-equivalent end-to-end run of the headline dedup tiers
(VERDICT r8 task 4).

The per-round driver only ships testdata up to sf0.1 (5k docs); the
x10 scale fixture reaches 50k. Memory-cliff class bugs — a broadcast
signature table outgrowing the driver, band-bucket skew blowing a
single task — are invisible at those sizes. This tool generates a
one-off x30 fixture (150 000 docs / 60 000 vectors ≈ sf1 by the
driver's row scaling: sf0.1 → 5 000 docs, so sf1 → 50 000; x30 runs
3x past that) via the committed ``tools/scale_curve.py`` generator,
then runs d03_minhash_lsh and d16_weighted_neardup END-TO-END once
each, recording wall time and the JVM's high-water RSS (VmHWM — the
whole local[*] JVM: driver + executors in one process, so the HWM
bounds every Spark-side allocation including broadcasts).

Usage:  python tools/sf1_dedup_run.py [--skip-gen]
Prints a markdown block for PERFORMANCE.md + one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
X30_DIR = os.path.join(REPO, "fixtures", "scale", "x30")


def _jvm_hwm_kib() -> int | None:
    """VmHWM of the (single) java child of this Python process tree."""
    me = os.getpid()
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() != "java":
                    continue
            with open(f"/proc/{pid}/stat") as fh:
                ppid = int(fh.read().split(")")[-1].split()[1])
            if ppid != me:
                continue
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1])
        except (OSError, ValueError, IndexError):
            continue
    return None


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--skip-gen", action="store_true")
    args = ap.parse_args()

    if not args.skip_gen or not os.path.isdir(X30_DIR):
        sys.path.insert(0, os.path.join(REPO, "tools"))
        from scale_curve import gen

        gen(scales=(30,))

    from crossfire_spark import get_spark
    from crossfire_spark.functions.dedup import QUERIES

    spark = get_spark(app_name="crossfire-sf1-dedup")
    spark.sparkContext.setLogLevel("ERROR")

    results = {}
    for key in ("d03_minhash_lsh", "d16_weighted_neardup"):
        hwm0 = _jvm_hwm_kib()
        t0 = time.perf_counter()
        df = QUERIES[key](spark, X30_DIR)
        n = df.count()
        wall = round(time.perf_counter() - t0, 2)
        hwm1 = _jvm_hwm_kib()
        results[key] = {
            "rows": n,
            "wall_sec": wall,
            "jvm_hwm_gib_after": round(hwm1 / 1024 / 1024, 2) if hwm1 else None,
            "jvm_hwm_gib_before": round(hwm0 / 1024 / 1024, 2) if hwm0 else None,
        }
        print(f"{key}: {results[key]}", file=sys.stderr)

    lines = [
        "| query | rows out | wall (s) | JVM HWM before (GiB) | after |",
        "|---|---|---|---|---|",
    ]
    for k, r in results.items():
        lines.append(
            f"| {k} | {r['rows']} | {r['wall_sec']}"
            f" | {r['jvm_hwm_gib_before']} | {r['jvm_hwm_gib_after']} |"
        )
    print("\n".join(lines))
    print(json.dumps({"fixture": "x30 (150k docs)", "results": results}))


if __name__ == "__main__":
    main()
