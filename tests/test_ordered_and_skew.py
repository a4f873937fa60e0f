"""As-of join / k-way merge / salting equivalence tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crossfire_spark.catalog import load_table
from crossfire_spark.functions.skew import salted_agg, salted_join
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
