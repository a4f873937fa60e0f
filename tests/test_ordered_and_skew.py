"""As-of join / k-way merge / salting / prefix-sum equivalence tests."""

from __future__ import annotations

import pathlib
import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from crossfire_spark.catalog import load_table
from crossfire_spark.functions.skew import (
    prefix_sums,
    salted_agg,
    salted_join,
)
from crossfire_spark.operators.asof import asof_join, kway_merge
from test_differential import oracle_test

test_asof_matches_duckdb_asof = oracle_test("crossfire_spark.operators.asof")


def test_asof_strictness(spark):
    """A right row at exactly the left timestamp must NOT match."""
    left = spark.createDataFrame([(1, 100), (1, 200)], "k int, t int").select(
        "k", F.timestamp_micros("t").alias("ts")
    )
    right = spark.createDataFrame(
        [(1, 100, 1.0), (1, 150, 2.0)], "k int, t int, v double"
    ).select("k", F.timestamp_micros("t").alias("ts"), "v")
    out = {
        r.ts.microsecond: r.prev_v
        for r in asof_join(left, right, "k", "ts", "ts", ["v"]).collect()
    }
    assert out[100] is None  # equal ts excluded
    assert out[200] == 2.0  # latest strictly-earlier row


def test_kway_merge_equals_global_sort(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    runs = [
        o.where(F.col("o_orderstatus") == s).orderBy("o_orderkey")
        for s in ("F", "O", "P")
    ]
    merged = kway_merge(runs, ["o_orderkey"]).select("o_orderkey").collect()
    direct = o.orderBy("o_orderkey").select("o_orderkey").collect()
    assert [r[0] for r in merged] == [r[0] for r in direct]


def test_kway_merge_dedup_semantics(spark):
    """consume-equal-together: equal keys across runs collapse."""
    a = spark.createDataFrame([(1,), (3,)], "k int")
    b = spark.createDataFrame([(1,), (2,)], "k int")
    out = [r.k for r in kway_merge([a, b], ["k"], dedup=True).collect()]
    assert out == [1, 2, 3]


def test_salted_agg_equals_plain(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    plain = {
        (r.l_returnflag, r.c, round(r.s, 2))
        for r in li.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("c"), F.sum("l_quantity").alias("s"))
        .collect()
    }
    salted = {
        (r.l_returnflag, r.c, round(r.s, 2))
        for r in salted_agg(
            li,
            ["l_returnflag"],
            {"c": ("count", "l_quantity"), "s": ("sum", "l_quantity")},
        ).collect()
    }
    assert salted == plain


def test_salted_join_equals_plain(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    plain = sorted(map(tuple, o.join(c, "o_custkey").collect()))
    salted = sorted(map(tuple, salted_join(o, c, "o_custkey").collect()))
    assert salted == plain


def test_salted_join_rejects_dim_preserving_types(spark):
    """The dim side is replicated per salt, so right/full/anti joins
    would duplicate unmatched dim rows — must be rejected."""
    f = spark.createDataFrame([(1, "a")], "k int, v string")
    d = spark.createDataFrame([(1, "x")], "k int, w string")
    for how in ("right", "full", "outer", "left_anti"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(f, d, "k", how=how)
    # fact-preserving types still work
    assert salted_join(f, d, "k", how="left").count() == 1


def _prefix_rows(n_rows, groups, seed):
    """Seeded (g, k, v, one) rows: unique k, signed v, group g drawn
    from ``groups`` (a repeated name makes that group hot)."""
    rng = random.Random(seed)
    return [
        (rng.choice(groups), k, rng.randint(-50, 50), 1)
        for k in rng.sample(range(10 * n_rows + 1), n_rows)
    ]


@pytest.mark.parametrize(
    "n_rows, groups, by, order",
    [
        # one hot group: 997 of ~1000 rows, so it spans every pid
        (1000, ["hot"] * 997 + ["a", "b", "c"], ["g"], ["k"]),
        (3, ["a", "b"], ["g"], ["k"]),  # fewer rows than partitions
        (300, ["a", "b", "c"], ["g"], ["-v", "k"]),  # "-": descending
        (300, ["a", "b"], [], ["k"]),
    ],
    ids=["hot_group", "fewer_rows_than_parts", "descending", "no_group"],
)
def test_prefix_sums_equals_global_window(spark, n_rows, groups, by, order):
    """The partition-offset prefix equals the one-task global window
    (ROWS UNBOUNDED PRECEDING .. 1 PRECEDING) row for row, and the
    driver dict holds each group's totals."""
    rows = _prefix_rows(n_rows, groups, seed=n_rows)
    df = spark.createDataFrame(rows, "g string, k long, v long, one int")
    order = [F.col(o[1:]).desc() if o[0] == "-" else o for o in order]
    got, totals = prefix_sums(df, by, order, ["v", "one"])
    w = Window.partitionBy(*by).orderBy(*order)
    before = w.rowsBetween(Window.unboundedPreceding, -1)
    whole = Window.partitionBy(*by)
    want = df.select(
        *df.columns,
        *[F.coalesce(F.sum(c).over(before), F.lit(0)).alias(f"{c}_before")
          for c in ("v", "one")],
        *[F.sum(c).over(whole).alias(f"{c}_total") for c in ("v", "one")],
    )
    assert got.dtypes == want.dtypes
    assert sorted(got.collect()) == sorted(want.collect())
    want_totals = {}
    for g, _, v, one in rows:
        t = want_totals.setdefault((g,) if by else (), {"v": 0, "one": 0})
        t["v"] += v
        t["one"] += one
    assert totals == want_totals


def test_prefix_sums_empty_input(spark):
    df = spark.createDataFrame([], "g string, k long, one int")
    got, totals = prefix_sums(df, ["g"], ["k"], ["one"])
    assert got.columns == ["g", "k", "one", "one_before", "one_total"]
    assert got.collect() == [] and totals == {}


def test_partition_ids_only_in_prefix_sums():
    """Partition-id arithmetic lives in one kernel: every other module
    ranks through ``prefix_sums`` instead of re-implementing it."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / "crossfire_spark"
    users = sorted(
        str(f.relative_to(pkg))
        for f in pkg.rglob("*.py")
        if "spark_partition_id" in f.read_text()
    )
    assert users == ["functions/skew.py"]


def test_a04_interpolation_invariants(spark, sf_dir):
    """The interpolated value is (a) bracketed by prev/next where both
    exist, (b) exactly the hold value where one-sided, (c) NULL only
    where the user has no clicks at all — cross-checked against the
    a01/a02 carried values on the same rows."""
    from crossfire_spark.operators.asof import (
        a01_asof_join,
        a02_asof_forward,
        a04_asof_interpolate,
    )

    prev = {
        r.event_id: (r.prev_ts, r.prev_value)
        for r in a01_asof_join(spark, sf_dir).collect()
    }
    nxt = {
        r.event_id: (r.next_ts, r.next_value)
        for r in a02_asof_forward(spark, sf_dir).collect()
    }
    rows = a04_asof_interpolate(spark, sf_dir).collect()
    assert rows
    checked_both = 0
    for r in rows:
        p_ts, p_v = prev[r.event_id]
        n_ts, n_v = nxt[r.event_id]
        if p_ts is None and n_ts is None:
            assert r.interp_value is None
        elif p_ts is None:
            assert abs(r.interp_value - round(n_v, 2)) < 1e-6
        elif n_ts is None:
            assert abs(r.interp_value - round(p_v, 2)) < 1e-6
        else:
            lo, hi = min(p_v, n_v), max(p_v, n_v)
            assert lo - 1e-6 <= r.interp_value <= hi + 1e-6
            checked_both += 1
    assert checked_both > 0
