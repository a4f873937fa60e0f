"""Driver-contract probe — simulates the round driver against
`__spark_entry__.py` under a deliberately HOSTILE session (non-UTC
timezone, no engine defaults, foreign cwd) and spot-checks queries
against their DuckDB oracles.

This is the fast end-to-end verification the verify skill prescribes;
the full differential suite lives in tests/ and the exhaustive sweep
in tools/oracle_sweep.py.

Usage:
    cd /tmp && python <checkout>/tools/driver_probe.py [query ...]

With no arguments probes a default set: one timestamp-sensitive query
(q05 — breaks first if the events-table defensive confs regress), one
mapInPandas query (m04 — breaks first if cloudpickle by-value
registration regresses), and the most recently added oracled entries.
"""

from __future__ import annotations

import importlib.util
import os
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()
DEFAULT_PROBES = [
    "q05",
    "m04_image_decode",
    "s04_ivf_kmeans",
    "s09_pq_topk",
    "h14_changepoint",
    "d21_split_leakage",
    "g09_personalized_pagerank",
]


def main() -> None:
    sys.path.insert(0, REPO)
    from pyspark.sql import SparkSession

    from crossfire_spark.plans.compare import results_match

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", f"{REPO}/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.session.timeZone", "America/New_York")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    rows = mod.entry(spark).collect()
    assert rows, "entry() returned no rows"
    print(f"entry rows: {len(rows)}")
    qs, osql = mod.queries(), mod.oracle_sql()
    print(f"queries: {len(qs)} oracled: {len(osql)}")

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    probes = sys.argv[1:] or [p for p in DEFAULT_PROBES if p in qs]
    failed = []
    for key in probes:
        df = qs[key](spark, SF)
        if key in osql:
            rel = con.sql(osql[key])
            ocols, orows = list(rel.columns), rel.fetchall()
            scols = df.columns
            srows = [tuple(r) for r in df.collect()]
            ok, msg = results_match(scols, srows, ocols, orows)
            print(f"{'ok  ' if ok else 'FAIL'} {key} {msg if not ok else ''}")
            if not ok:
                failed.append(key)
        else:
            print(f"rows {key}: {df.count()}")
    print(f"{len(failed)} failing: {failed}")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
