"""Extended operator tests: the DuckDB oracle check, JSON, time rollup, range join (exact +
binned scale path), approximate distinct accuracy."""

from __future__ import annotations

from pyspark.sql import functions as F

from crossfire_spark.catalog import load_table
from crossfire_spark.operators.extended import (
    approx_distinct,
    price_bands,
    range_join,
    range_join_binned,
)
from test_differential import oracle_test

test_extended_matches_oracle = oracle_test("crossfire_spark.operators.extended")


def test_binned_range_join_equals_exact(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    bands = price_bands(spark)
    exact = sorted(
        map(tuple, range_join(o, bands, "o_totalprice").select("o_orderkey", "band").collect())
    )
    binned = sorted(
        map(
            tuple,
            range_join_binned(o, bands, "o_totalprice", bin_width=10_000.0)
            .select("o_orderkey", "band")
            .collect(),
        )
    )
    assert binned == exact


def test_approx_distinct_accuracy(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    exact = o.select(F.countDistinct("o_custkey")).first()[0]
    approx = approx_distinct(o, "o_custkey").first()[0]
    assert abs(approx - exact) / exact < 0.1


def test_h15_islands_partition_and_are_maximal(spark, sf_dir):
    """Islands partition the user's events (counts sum to the user's
    total) and are MAXIMAL: consecutive islands are separated by a
    strict gap (next start > this end), and every island's span covers
    at least its own first interval."""
    from crossfire_spark.operators.extended import h15_interval_merge

    e = load_table(spark, sf_dir, "events")
    per_user = {
        r.user_id: r.c
        for r in e.groupBy("user_id").agg(F.count("*").alias("c")).collect()
    }
    rows = h15_interval_merge(spark, sf_dir).collect()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    assert set(by_user) == set(per_user)
    for uid, islands in by_user.items():
        islands.sort(key=lambda r: r.island)
        assert sum(r.n_events for r in islands) == per_user[uid]
        for r in islands:
            assert r.end_ts > r.start_ts
        for a, b in zip(islands, islands[1:]):
            assert b.start_ts > a.end_ts, (
                f"user {uid}: islands {a.island}/{b.island} not maximal"
            )


def test_v13_shares_partition_each_split(spark, sf_dir):
    """Per split, the language shares sum to ~1 (rounding tolerance),
    every share is in [0, 1], and drift equals max-min of the three
    shares."""
    from crossfire_spark.operators.extended import v13_split_drift

    rows = v13_split_drift(spark, sf_dir).collect()
    assert rows
    for col in ("train_share", "val_share", "test_share"):
        tot = sum(r[col] for r in rows)
        assert abs(tot - 1.0) < 1e-4 * max(len(rows), 1), (col, tot)
    for r in rows:
        shares = [r.train_share, r.val_share, r.test_share]
        assert all(0.0 <= s <= 1.0 for s in shares)
        assert abs(r.drift - (max(shares) - min(shares))) < 1e-9


def test_v14_flags_only_genuinely_mixed_clusters(spark, sf_dir):
    """Every flagged cluster really has >1 distinct source or lang
    among its members (recomputed from the cluster map), and every
    mixed multi-doc cluster is flagged — no false positives or
    misses."""
    from crossfire_spark.functions.dedup import exact_jaccard_pairs
    from crossfire_spark.functions.graph import connected_components
    from crossfire_spark.operators.extended import v14_dup_label_consistency

    d = load_table(spark, sf_dir, "documents")
    cc = {
        r.doc_id: r.cluster_id
        for r in connected_components(exact_jaccard_pairs(d)).collect()
    }
    members: dict = {}
    for r in d.select("doc_id", "source", "lang").collect():
        cid = cc.get(r.doc_id, r.doc_id)
        members.setdefault(cid, []).append((r.source, r.lang))
    want = {
        cid
        for cid, ms in members.items()
        if len({s for s, _ in ms}) > 1 or len({l for _, l in ms}) > 1
    }
    got_rows = v14_dup_label_consistency(spark, sf_dir).collect()
    got = {r.cluster_id for r in got_rows}
    assert got == want
    for r in got_rows:
        srcs = {s for s, _ in members[r.cluster_id]}
        langs = {l for _, l in members[r.cluster_id]}
        assert (r.n_sources, r.n_langs) == (len(srcs), len(langs))


def test_h16_median_matches_python_recompute(spark, sf_dir):
    """Every med equals the numpy interpolated median of the trailing
    window, and dev = |value - med| (pre-rounding), for every user."""
    import numpy as np

    from crossfire_spark.operators.extended import (
        MEDFILT_W,
        h16_rolling_median,
    )

    events = sorted(
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "value")
        .collect(),
        key=lambda r: (r.user_id, r.ts, r.event_id),
    )
    series: dict = {}
    expect: dict = {}
    for r in events:
        vals = series.setdefault(r.user_id, [])
        vals.append(r.value)
        win = vals[-(MEDFILT_W + 1):]
        med = float(np.percentile(win, 50))
        expect[r.event_id] = (
            round(round(med, 9) + 1e-12, 4),
            round(round(abs(r.value - med), 9) + 1e-12, 4),
        )
    rows = h16_rolling_median(spark, sf_dir).collect()
    assert rows and len(rows) == len(expect)
    for r in rows:
        want_med, want_dev = expect[r.event_id]
        assert abs(r.med - want_med) < 1e-9, (r.event_id, r.med, want_med)
        assert abs(r.dev - want_dev) < 1e-9, (r.event_id, r.dev, want_dev)
