"""Strict driver-emulating oracle sweep.

Runs every ``queries()`` entry side-by-side with its ``oracle_sql()``
string at a given SF and compares the results the *strict* way a
driver would after converting both to pandas:

- row count
- per-column dtype (sorted by column name) — catches DuckDB HUGEINT
  (-> float64) vs Spark bigint (-> int64), DECIMAL vs double, etc.
- exact cell values (NaN == NaN); float columns are compared at the
  BIT level (``view(int64)``) so -0.0 vs +0.0 fails here exactly as
  it fails the driver's byte-level value hash (the t23 lesson —
  ``np.array_equal`` treats -0.0 == 0.0 and hid a driver hash fail)

Usage: python tools/oracle_sweep.py [sf_dir] [query ...]
"""
from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def make_spark():
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.session.timeZone", "America/New_York")
        # \r-rewriting console progress bars can overwrite ok/FAIL
        # lines in captured sweep logs (VERDICT r9 item 3); keep the
        # artifact grep-stable: line count of "ok " == key count.
        .config("spark.ui.showConsoleProgress", "false")
        .appName("oracle-sweep")
        .getOrCreate()
    )


def duck_con(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def norm(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns and apply the normalizations the driver is known to
    apply (r1 evidence): int width, datetime unit, date-vs-datetime.
    int-vs-float and decimal-vs-float are NOT normalized — the driver
    hashes those differently, so they must match at the engine level."""
    import datetime

    df = df[sorted(df.columns)].reset_index(drop=True)
    for c in df.columns:
        k = df[c].dtype.kind
        if k in "iu":
            df[c] = df[c].astype("int64")
        elif k == "M":
            df[c] = df[c].astype("datetime64[us]")
        elif k == "O" and len(df) and isinstance(
            df[c].dropna().iloc[0] if df[c].notna().any() else None,
            datetime.date,
        ):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
    return df


def cmp_frames(s: pd.DataFrame, o: pd.DataFrame) -> list[str]:
    probs: list[str] = []
    if len(s) != len(o):
        return [f"rows {len(s)} vs {len(o)}"]
    if list(s.columns) != list(o.columns):
        return [f"cols {list(s.columns)} vs {list(o.columns)}"]
    for c in s.columns:
        sd, od = s[c].dtype, o[c].dtype
        if sd != od:
            probs.append(f"dtype[{c}] spark={sd} oracle={od}")
    for c in s.columns:
        a, b = s[c].values, o[c].values
        try:
            if s[c].dtype.kind == "f" and o[c].dtype.kind == "f":
                # bit-exact: same width, same bytes — except NaN,
                # where any-NaN == any-NaN (pattern-agnostic)
                aa = np.ascontiguousarray(a)
                bb = np.ascontiguousarray(b)
                if aa.dtype != bb.dtype:
                    eq = False
                else:
                    ikind = {4: np.int32, 8: np.int64}[aa.dtype.itemsize]
                    nan_ok = np.isnan(aa) & np.isnan(bb)
                    eq = bool(
                        (nan_ok | (aa.view(ikind) == bb.view(ikind))).all()
                    )
            else:
                eq = (pd.isna(a) == pd.isna(b)).all() and (
                    pd.Series(a).fillna(0) == pd.Series(b).fillna(0)
                ).all()
        except Exception as exc:  # noqa: BLE001
            probs.append(f"value[{c}] compare error: {exc}")
            continue
        if not eq:
            if s[c].dtype.kind == "f" and o[c].dtype.kind == "f":
                aa = np.ascontiguousarray(a)
                bb = np.ascontiguousarray(b)
                ikind = {4: np.int32, 8: np.int64}[aa.dtype.itemsize]
                diff = np.nonzero(
                    ~(
                        (np.isnan(aa) & np.isnan(bb))
                        | (aa.view(ikind) == bb.view(ikind))
                    )
                )[0][:3]
                neq = [(int(i), repr(a[i]), repr(b[i])) for i in diff]
            else:
                neq = [
                    (i, a[i], b[i])
                    for i in range(len(a))
                    if not (
                        (pd.isna(a[i]) and pd.isna(b[i]))
                        or (
                            not pd.isna(a[i])
                            and not pd.isna(b[i])
                            and a[i] == b[i]
                        )
                    )
                ][:3]
            probs.append(f"value[{c}] first-diffs={neq}")
    return probs


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    qs = mod.queries()
    oracles = mod.oracle_sql()
    spark = make_spark()
    con = duck_con(sf_dir)

    bad = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            continue
        try:
            sdf = norm(fn(spark, sf_dir).toPandas())
            odf = norm(con.sql(oracles[name]).df())
            probs = cmp_frames(sdf, odf)
        except Exception as exc:  # noqa: BLE001
            probs = [f"ERROR {type(exc).__name__}: {exc}"]
        if probs:
            bad.append(name)
            print(f"FAIL {name}")
            for p in probs:
                print(f"    {p}")
        else:
            print(f"ok   {name}")
    print(f"\n{len(bad)} failing: {bad}")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    main()
