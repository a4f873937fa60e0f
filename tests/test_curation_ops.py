"""Semantic property tests for the round-3 curation operators:
sessionization boundaries, time-weighted-average invariants, PSI
drift identities, dedup-savings consistency, and split leakage
safety. The oracle equivalence itself is covered by the parametrized
oracle tests; these pin the *meaning*."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crossfire_spark.catalog import load_table
from crossfire_spark.functions.dedup import d11_dedup_savings, exact_jaccard_pairs
from crossfire_spark.functions.graph import connected_components
from crossfire_spark.functions.text import t15_split_assign
from crossfire_spark.operators.extended import (
    SESSION_GAP_US,
    drift_report,
    h05_sessionize,
    sessionize,
    time_weighted_avg,
)


def test_session_boundaries_respect_gap(spark, sf_dir):
    """Within a session every inter-event gap is <= 30 min; the gap
    between a session's end and the user's next session start is
    > 30 min. Checked from raw events against the assignment."""
    e = load_table(spark, sf_dir, "events")
    sess = sessionize(e)
    # consecutive sessions of one user must be separated by > gap
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("sess")
    adj = sess.withColumn("prev_end", F.lag("t_end").over(w)).where(
        F.col("prev_end").isNotNull()
    )
    bad = adj.where(
        F.unix_micros("t_start") - F.unix_micros("prev_end") <= SESSION_GAP_US
    ).count()
    assert bad == 0
    # session count per user == number of boundary gaps + 1
    n_events_total = sess.agg(F.sum("n_events")).first()[0]
    assert n_events_total == e.count()


def test_sessionize_dur_nonnegative_and_sorted(spark, sf_dir):
    out = h05_sessionize(spark, sf_dir)
    rows = out.collect()
    assert all(r["dur_s"] >= 0 for r in rows)
    assert all(r["n_events"] >= 1 for r in rows)


def test_twa_bounded_by_min_max(spark, sf_dir):
    """A time-weighted average lies within [min, max] of the series'
    weighted observations."""
    e = load_table(spark, sf_dir, "events")
    twa = {r["event_type"]: r["twa"] for r in time_weighted_avg(e).collect()}
    bounds = {
        r["event_type"]: (r["lo"], r["hi"])
        for r in e.groupBy("event_type")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        .collect()
    }
    for et, v in twa.items():
        lo, hi = bounds[et]
        assert lo - 1e-6 <= v <= hi + 1e-6


def test_drift_reference_psi_is_zero(spark, sf_dir):
    """PSI of the reference source against itself is exactly the
    rounded zero; all PSIs are non-negative (Gibbs' inequality on the
    smoothed distributions)."""
    d = load_table(spark, sf_dir, "documents")
    rows = {r["source"]: r["psi"] for r in drift_report(d).collect()}
    assert rows["src0"] == 0.0
    assert all(v >= 0.0 for v in rows.values())


def test_dedup_savings_totals(spark, sf_dir):
    """kept <= total per source; global totals match the corpus; the
    per-cluster survivor count equals the number of clusters."""
    d = load_table(spark, sf_dir, "documents")
    rep = d11_dedup_savings(spark, sf_dir).collect()
    assert all(r["n_kept"] <= r["n_docs"] for r in rep)
    assert all(r["chars_kept"] <= r["chars_total"] for r in rep)
    assert sum(r["n_docs"] for r in rep) == d.count()
    cc = connected_components(exact_jaccard_pairs(d))
    n_clusters = cc.select("cluster_id").distinct().count()
    n_clustered = cc.count()
    removed = sum(r["n_docs"] - r["n_kept"] for r in rep)
    assert removed == n_clustered - n_clusters


def test_split_assign_no_leakage(spark, sf_dir):
    """Docs sharing a bag fingerprint always land in the same split,
    and every doc gets exactly one split."""
    d = load_table(spark, sf_dir, "documents")
    out = t15_split_assign(spark, sf_dir)
    assert out.count() == d.count()
    leaks = (
        out.groupBy("fp")
        .agg(F.countDistinct("split").alias("k"))
        .where(F.col("k") > 1)
        .count()
    )
    assert leaks == 0
    splits = {r["split"] for r in out.select("split").distinct().collect()}
    assert splits <= {"train", "val", "test"}


def test_pagerank_mass_conservation(spark, sf_dir):
    """Total rank mass stays 1 (damping + dangling redistribution
    conserve it) and every rank is positive; the synthetic graph has
    every doc as a node."""
    from crossfire_spark.functions.graph import doc_link_graph, pagerank

    d = load_table(spark, sf_dir, "documents")
    ranks = pagerank(doc_link_graph(d)).collect()
    total = sum(r["rank"] for r in ranks)
    assert abs(total - 1.0) < 1e-9
    assert all(r["rank"] > 0 for r in ranks)
    assert len(ranks) == d.count()


def test_loop_cap_raises_instead_of_truncating(spark):
    """Min-label propagation moves a label one hop per round, so a
    20-node path converges inside CC_MAX_ITERS (every node gets label
    0) and a 40-node path does not: it must raise, not return labels
    that stopped short of the minimum. A k-core peel still shrinking
    at its round cap raises the same way (k=2 peels a path one node
    from each end per round)."""
    from crossfire_spark.functions.graph import kcore

    def path(n, a="doc_a", b="doc_b"):
        return spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], f"{a} long, {b} long"
        )

    got = {r.doc_id: r.cluster_id for r in connected_components(path(20)).collect()}
    assert got == {i: 0 for i in range(20)}
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(path(40))
    with pytest.raises(RuntimeError, match="no fixpoint"):
        kcore(path(40, "src", "dst"), k=2, max_rounds=4)


def test_table_diff_localizes_drift(spark, sf_dir):
    """Identical tables diff clean (every bucket matches); the
    drifted copy's mismatched buckets are exactly those holding an
    injected discrepancy."""
    from crossfire_spark.functions.text import _hash_u16
    from crossfire_spark.operators.extended import (
        DIFF_BUCKETS,
        table_diff,
        v03_table_diff,
    )

    o = load_table(spark, sf_dir, "orders")
    ck = F.round(F.col("o_totalprice") * 100).cast("long")
    clean = table_diff(o, o, "o_orderkey", ck).collect()
    assert all(r["match"] for r in clean)
    assert sum(r["n_a"] for r in clean) == o.count()

    out = {r["bucket"]: r["match"] for r in v03_table_diff(spark, sf_dir).collect()}
    bad_keys = o.where(
        (F.col("o_orderkey") % 97 == 0) | (F.col("o_orderkey") % 101 == 0)
    ).select((_hash_u16(F.col("o_orderkey")) % DIFF_BUCKETS).alias("b"))
    expected_bad = {r["b"] for r in bad_keys.distinct().collect()}
    assert {b for b, m in out.items() if not m} == expected_bad


def test_kcore_matches_python_peel(spark, sf_dir):
    """The distributed peel must equal an exact single-threaded peel
    of the same graph (k-core is unique, so any peel order agrees),
    and must be a fixpoint: every member keeps >= K in-core
    neighbors."""
    from crossfire_spark.functions.graph import KCORE_K, doc_link_graph, kcore

    d = load_table(spark, sf_dir, "documents")
    edges = doc_link_graph(d)
    got = {r["node"]: r["core_deg"] for r in kcore(edges).collect()}

    und = {
        (min(a, b), max(a, b))
        for a, b in edges.select("src", "dst").collect()
        if a != b
    }
    adj: dict[int, set[int]] = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    changed = True
    while changed:
        drop = [n for n, nb in adj.items() if len(nb) < KCORE_K]
        changed = bool(drop)
        for n in drop:
            for m in adj[n]:
                adj[m].discard(n)
            del adj[n]
    assert got == {n: len(nb) for n, nb in adj.items()}
    assert all(deg >= KCORE_K for deg in got.values())


def test_m4_bounds_and_coverage(spark, sf_dir):
    """M4 pixel buckets stay inside [0, width); each bucket's first/
    last values sit inside [v_min, v_max]; every event lands in
    exactly one bucket (point counts re-sum to the table size)."""
    from crossfire_spark.operators.extended import M4_WIDTH, h07_m4_downsample

    e = load_table(spark, sf_dir, "events")
    rows = h07_m4_downsample(spark, sf_dir).collect()
    assert all(0 <= r["bucket"] < M4_WIDTH for r in rows)
    assert all(
        r["v_min"] <= min(r["v_first"], r["v_last"])
        and max(r["v_first"], r["v_last"]) <= r["v_max"]
        for r in rows
    )
    assert sum(r["n_points"] for r in rows) == e.count()


def test_range_search_soundness_vs_topk(spark, sf_dir):
    """Radius search returns exactly the >= tau slice: every result
    clears the threshold, and every top-k hit (s01, same scoring)
    that clears tau is present with the identical rounded sim."""
    from crossfire_spark.functions.similarity import (
        RANGE_TAU,
        s01_cosine_topk,
        s12_range_search,
    )

    got = {
        (r["qid"], r["vec_id"]): r["sim"]
        for r in s12_range_search(spark, sf_dir).collect()
    }
    assert all(s >= RANGE_TAU for s in got.values())
    for r in s01_cosine_topk(spark, sf_dir).collect():
        if r["sim"] >= RANGE_TAU:
            assert got[(r["qid"], r["vec_id"])] == r["sim"]


def test_gopher_rules_python_oracle(spark, sf_dir):
    """Signal-by-signal pure-Python recompute of the Gopher rules."""
    from crossfire_spark.functions.text import (
        GOPHER_MIN_ALPHA,
        GOPHER_MIN_STOPS,
        GOPHER_MIN_WLEN,
        GOPHER_MAX_WLEN,
        GOPHER_MIN_WORDS,
        GOPHER_MAX_WORDS,
        _EN_STOPWORDS,
        v05_gopher_rules,
    )

    d = load_table(spark, sf_dir, "documents")
    texts = {r["doc_id"]: r["text"] for r in d.collect()}
    for r in v05_gopher_rules(spark, sf_dir).collect():
        words = texts[r["doc_id"]].lower().split(" ")
        n = len(words)
        assert r["n_words"] == n
        mean_wlen = round(
            round((len(texts[r["doc_id"]]) - (n - 1)) / n, 6) + 1e-9, 2
        )
        alpha = round(
            round(sum(any(c.isalpha() for c in w) for w in words) / n, 6)
            + 1e-9,
            2,
        )
        stops = sum(w in _EN_STOPWORDS for w in words)
        assert (r["mean_wlen"], r["alpha_frac"], r["stop_hits"]) == (
            mean_wlen,
            alpha,
            stops,
        )
        assert r["passes"] == (
            GOPHER_MIN_WORDS <= n <= GOPHER_MAX_WORDS
            and GOPHER_MIN_WLEN <= mean_wlen <= GOPHER_MAX_WLEN
            and alpha >= GOPHER_MIN_ALPHA
            and stops >= GOPHER_MIN_STOPS
        )


def test_boilerplate_constructed(spark):
    """A planted shared 3-gram is flagged within its source only;
    per-doc gram accounting is distinct-gram based."""
    from crossfire_spark.functions.text import boilerplate_report

    docs = spark.createDataFrame(
        [
            (1, "srcA", "terms of service apply here now"),
            (2, "srcA", "terms of service apply to all"),
            (3, "srcB", "terms of service apply somewhere else"),
            (4, "srcB", "completely different words entirely here folks"),
        ],
        "doc_id long, source string, text string",
    )
    out = {r["doc_id"]: r for r in boilerplate_report(docs).collect()}
    # docs 1 and 2 share 'terms of service' / 'of service apply' in srcA
    assert out[1]["n_bp"] == 2 and out[2]["n_bp"] == 2
    # doc 3's identical grams sit alone in srcB: not boilerplate there
    assert out[3]["n_bp"] == 0 and out[4]["n_bp"] == 0
    assert all(r["n_grams"] == 4 for r in out.values())
    assert out[1]["bp_frac"] == 0.5


def test_dup_span_fraction_planted(spark):
    """A planted 5-word passage shared by docs 1 and 2 covers exactly
    its own positions (union of overlapping L-grams, counted once);
    the unique doc scores 0; a doc shorter than L words forms no grams
    and scores 0 with its true token count."""
    from crossfire_spark.functions.dedup import dup_span_report

    docs = spark.createDataFrame(
        [
            # shared run: "the quick brown fox jumps" (5 words -> two
            # overlapping 4-grams in each doc)
            (1, "the quick brown fox jumps over rivers"),
            (2, "yesterday the quick brown fox jumps away"),
            (3, "nothing here matches anything else at all"),
            (4, "too short"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dup_span_report(docs).collect()}
    # doc 1: positions 1..5 covered (grams @1 and @2), 5/7
    assert out[1]["dup_tokens"] == 5 and out[1]["n_tokens"] == 7
    assert abs(out[1]["dup_frac"] - round(5 / 7, 4)) < 1e-9
    # doc 2: shared run sits at positions 2..6
    assert out[2]["dup_tokens"] == 5 and out[2]["n_tokens"] == 7
    assert out[3]["dup_tokens"] == 0 and out[3]["dup_frac"] == 0.0
    assert out[4]["n_tokens"] == 2 and out[4]["dup_tokens"] == 0


def test_link_prediction_planted(spark):
    """A path graph 1-2-3 predicts exactly the missing edge (1,3)
    with one common neighbor short of the threshold when isolated, so
    use a diamond: 1-2, 1-4, 3-2, 3-4 predicts (1,3) and (2,4) with
    common=2, jaccard=1.0; adjacent pairs are never predicted."""
    from crossfire_spark.functions.graph import link_prediction

    edges = spark.createDataFrame(
        [(1, 2), (1, 4), (3, 2), (3, 4)], "src long, dst long"
    )
    out = {(r["p"], r["q"]): r for r in link_prediction(edges).collect()}
    assert set(out) == {(1, 3), (2, 4)}
    assert out[(1, 3)]["common"] == 2 and out[(1, 3)]["jaccard"] == 1.0


def test_rolling_anomaly_planted(spark):
    """A planted spike after a flat-ish baseline is flagged; the spike
    itself is excluded from its own frame (trailing window), and early
    rows under the min-frame threshold are never scored."""
    import datetime

    from crossfire_spark.operators.extended import rolling_anomalies

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    vals = [10.0, 11.0, 10.5, 9.5, 10.2, 10.8, 100.0, 10.1]
    for i, v in enumerate(vals):
        rows.append((i, t0 + datetime.timedelta(minutes=i), 7, v))
    e = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )
    out = rolling_anomalies(e).collect()
    flagged = {r["event_id"] for r in out}
    assert 6 in flagged  # the spike
    assert all(eid >= 5 for eid in flagged)  # frames of < 5 never score
    spike = [r for r in out if r["event_id"] == 6][0]
    assert spike["z"] > 2


def test_dsir_prefers_target_like_docs(spark, sf_dir):
    """Docs IN the target slice score higher on average than docs
    outside it (the importance weight tilts toward the target
    distribution), and every weight is finite."""
    from crossfire_spark.functions.dedup import load_table as _lt
    from crossfire_spark.functions.text import DSIR_TARGET_LANG, dsir_weights

    d = _lt(spark, sf_dir, "documents")
    scored = dsir_weights(d).join(d.select("doc_id", "lang"), "doc_id")
    rows = scored.collect()
    assert all(r["dsir"] is not None for r in rows)
    tgt = [r["dsir"] for r in rows if r["lang"] == DSIR_TARGET_LANG]
    rest = [r["dsir"] for r in rows if r["lang"] != DSIR_TARGET_LANG]
    assert sum(tgt) / len(tgt) > sum(rest) / len(rest)


def test_column_profile_matches_direct_aggregates(spark, sf_dir):
    """Profile rows agree with independently-computed per-column
    aggregates, and the typed min/max columns are populated exactly
    for their kind."""
    from crossfire_spark.catalog import load_table
    from crossfire_spark.operators.extended import column_profile

    o = load_table(spark, sf_dir, "orders")
    prof = {r["col"]: r for r in column_profile(o).collect()}
    n = o.count()
    assert all(r["n_rows"] == n for r in prof.values())
    assert prof["o_orderkey"]["n_distinct"] == n  # primary key
    assert prof["o_orderkey"]["n_null"] == 0
    assert prof["o_orderkey"]["min_s"] is None
    assert prof["o_orderstatus"]["min_v"] is None
    statuses = sorted(
        r["o_orderstatus"] for r in o.select("o_orderstatus").distinct().collect()
    )
    assert prof["o_orderstatus"]["min_s"] == statuses[0]
    assert prof["o_orderstatus"]["max_s"] == statuses[-1]


def test_mmr_rerank_matches_python_recompute(spark, sf_dir):
    """Pin the PICK SEQUENCE exactly against an independent
    pure-Python greedy recompute from the raw embeddings (the scores themselves
    are asserted to 2e-4 — numpy's BLAS dot products sum in a
    different order than a sequential Python loop, so a cosine
    sitting exactly on a 4-dp rounding boundary may render one ulp
    apart; the greedy selection is insensitive to it on this data)."""
    import math

    from crossfire_spark.functions.similarity import (
        MMR_CAND,
        MMR_K,
        MMR_LAMBDA,
        QUERY_STRIDE,
        s13_mmr_rerank,
    )

    got = [
        (r["qid"], r["rank"], r["vec_id"], r["mmr"])
        for r in s13_mmr_rerank(spark, sf_dir).collect()
    ]
    em = {
        r["vec_id"]: list(r["embedding"])
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)

    want = []
    for qid in sorted(v for v in em if v % QUERY_STRIDE == 0):
        sims = sorted(
            (
                (round(cos(em[qid], em[v]), 4), v)
                for v in em
                if v != qid
            ),
            key=lambda t: (-t[0], t[1]),
        )[:MMR_CAND]
        cand = [v for _, v in sims]
        rel = {v: s for s, v in sims}
        picked = []
        for rank in range(1, MMR_K + 1):
            best = None
            for v in cand:
                if v in picked:
                    continue
                red = max(
                    (round(cos(em[v], em[p]), 4) for p in picked), default=0.0
                )
                score = round(
                    round(MMR_LAMBDA * rel[v] - (1 - MMR_LAMBDA) * red, 9)
                    + 1e-12,
                    4,
                )
                key = (-score, v)
                if best is None or key < best[0]:
                    best = (key, v, score)
            picked.append(best[1])
            want.append((qid, rank, best[1], best[2]))
    got_s, want_s = sorted(got), sorted(want)
    assert [t[:3] for t in got_s] == [t[:3] for t in want_s]
    assert all(
        abs(g[3] - w[3]) <= 2e-4 for g, w in zip(got_s, want_s)
    )


def test_ngram_novelty_planted(spark):
    """The first-ingested doc is fully novel; an exact re-crawl of it
    is fully stale; partial overlap lands in between with distinct-
    gram accounting."""
    from crossfire_spark.functions.text import ngram_novelty

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),  # exact re-crawl
            (3, "alpha beta gamma epsilon zeta"),  # one shared 3-gram
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in ngram_novelty(docs).collect()}
    assert out[1]["novelty_frac"] == 1.0 and out[1]["n_grams"] == 2
    assert out[2]["novelty_frac"] == 0.0
    # doc 3 grams: 'alpha beta gamma' (seen), 'beta gamma epsilon',
    # 'gamma epsilon zeta' (novel)
    assert out[3]["n_grams"] == 3 and out[3]["n_novel"] == 2


def test_labelprop_two_cliques(spark):
    """Two triangles bridged by one edge resolve into two communities
    after the synchronous rounds; each triangle is label-uniform."""
    from crossfire_spark.functions.graph import label_propagation

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "src long, dst long",
    )
    out = {r["node"]: r["community"] for r in label_propagation(edges).collect()}
    assert out[1] == out[2]
    assert out[4] == out[5] == out[6]
    assert out[1] != out[5]


def test_fk_orphan_check_planted(spark, sf_dir):
    """Dropping half the orders makes exactly the lineitems of the
    dropped orders orphans — counts must localize precisely; the
    intact dimension checks clean."""
    from crossfire_spark.operators.extended import fk_orphan_check

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    kept = o.where(F.col("o_orderkey") % 2 == 0)
    r = fk_orphan_check("t", li, "l_orderkey", kept, "o_orderkey").first()
    expect_rows = li.where(F.col("l_orderkey") % 2 == 1).count()
    expect_keys = (
        li.where(F.col("l_orderkey") % 2 == 1)
        .select("l_orderkey")
        .distinct()
        .count()
    )
    assert r["orphan_rows"] == expect_rows
    assert r["orphan_keys"] == expect_keys
    assert r["n_rows"] == li.count()
    clean = fk_orphan_check("t", li, "l_orderkey", o, "o_orderkey").first()
    assert clean["orphan_keys"] == 0 and clean["orphan_rows"] == 0


def test_lttb_keeps_shape_extremes(spark):
    """A flat series with one planted spike must keep the spike (it
    forms the largest triangle with its neighbor-bucket centroids),
    and exactly one point survives per occupied bucket."""
    import datetime

    from crossfire_spark.operators.extended import LTTB_BUCKETS, lttb_downsample

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(320):
        v = 100.0 if i == 167 else 10.0 + (i % 3) * 0.01
        rows.append(("s", t0 + datetime.timedelta(seconds=i), v))
    e = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    out = lttb_downsample(e).collect()
    assert len(out) == LTTB_BUCKETS
    assert len({r["bucket"] for r in out}) == LTTB_BUCKETS
    assert any(r["value"] == 100.0 for r in out)


def test_heavy_hitters_sketch_agrees_with_exact(spark, sf_dir):
    """The approx_top_k sketch tier must recover the exact top-k term
    set with exact counts on this corpus (the sketch only degrades
    under capacity pressure far above a 31-word vocabulary)."""
    from crossfire_spark.functions.text import (
        heavy_hitters_exact,
        heavy_hitters_sketch,
    )

    d = load_table(spark, sf_dir, "documents")
    exact = {(r["w"], r["c"]) for r in heavy_hitters_exact(d).collect()}
    sketch = {(r["w"], r["c"]) for r in heavy_hitters_sketch(d).collect()}
    assert exact == sketch


def test_sketch_cardinality_accuracy_and_merge(spark, sf_dir):
    """HLL estimates sit within 2% of exact distinct fingerprints per
    source and globally, and the merged-union estimate tracks the
    estimate of one directly-built global sketch to within 1% (the
    sketch's sparse→dense promotion depends on merge order, so exact
    register equality across plans is not guaranteed — closeness is
    the mergeability property that matters)."""
    from crossfire_spark.operators.extended import v09_sketch_cardinality

    got = {
        r["source"]: r["est"]
        for r in v09_sketch_cardinality(spark, sf_dir).collect()
    }
    d = load_table(spark, sf_dir, "documents")
    fp = d.select(
        "source",
        F.md5(
            F.array_join(
                F.array_sort(F.array_distinct(F.split(F.lower("text"), " "))),
                " ",
            )
        ).alias("fp"),
    )
    exact = {
        r["source"]: r["n"]
        for r in fp.groupBy("source")
        .agg(F.countDistinct("fp").alias("n"))
        .collect()
    }
    exact["__all__"] = fp.select("fp").distinct().count()
    for src, n in exact.items():
        assert abs(got[src] - n) <= max(2, 0.02 * n), (src, got[src], n)
    direct = fp.agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(fp))").alias("e")
    ).first()["e"]
    assert abs(got["__all__"] - direct) <= max(2, 0.01 * direct)


def test_column_profile_approx_accuracy_and_one_scan(spark, sf_dir):
    """The v06 approx tier matches the exact tier on every non-sketch
    column byte-for-byte, keeps each approx_count_distinct within 5%
    relative error (HLL++ at the default rsd 0.05), and plans as ONE
    parquet scan (the exact tier pays one extra column-pruned scan
    per profiled column)."""
    from crossfire_spark.operators.extended import (
        v06_column_profile,
        v06_column_profile_approx,
    )

    exact = {r["col"]: r.asDict() for r in v06_column_profile(spark, sf_dir).collect()}
    approx_df = v06_column_profile_approx(spark, sf_dir)
    approx = {r["col"]: r.asDict() for r in approx_df.collect()}
    assert set(exact) == set(approx)
    for c, e in exact.items():
        a = approx[c]
        for f in ("n_rows", "n_null", "min_v", "max_v", "min_s", "max_s"):
            assert a[f] == e[f], (c, f, a[f], e[f])
        nd_e, nd_a = e["n_distinct"], a["n_distinct"]
        assert abs(nd_a - nd_e) <= max(1, 0.05 * nd_e), (c, nd_a, nd_e)
    plan = approx_df._jdf.queryExecution().executedPlan().toString()
    n = plan.count("Scan parquet")
    assert n <= 2, f"approx profile: {n} scans (AQE lists each up to twice)"


def test_holt_linear_hand_checked(spark):
    """The Holt recursion on a tiny planted series matches the hand
    algebra (alpha=0.5, beta=0.25): y=[10,20,30] ->
    f3 = 15 + 1.25 = 16.25, l3 = 0.5*30 + 0.5*16.25 = 23.125,
    b3 = 0.25*(23.125-15) + 0.75*1.25 = 2.96875 (4-dp 2.9688);
    a single-point series seeds (y, 0, None) and stops."""
    import datetime

    from crossfire_spark.operators.extended import holt_linear

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        ("a", t0 + datetime.timedelta(days=i), float(y))
        for i, y in enumerate((10, 20, 30))
    ] + [("b", t0, 7.0)]
    series = spark.createDataFrame(rows, "skey string, d timestamp, y double")
    got = {
        (r.skey, r.d.day): (r.level, r.trend, r.forecast)
        for r in holt_linear(series).collect()
    }
    assert got[("a", 1)] == (10.0, 0.0, None)
    assert got[("a", 2)] == (15.0, 1.25, 10.0)
    assert got[("a", 3)] == (23.125, 2.9688, 16.25)
    assert got[("b", 1)] == (7.0, 0.0, None)


def test_profile_drift_gate_planted(spark):
    """Planted drift trips the right gate: extra nulls in the current
    split -> WARN_NULLS; a >5% mean shift -> WARN_SHIFT; an unchanged
    column -> PASS. (The registry entry's oracle covers the no-drift
    corpus; this covers the firing paths.)"""
    from crossfire_spark.operators.extended import profile_drift_gate

    rows = []
    for i in range(200):
        # base split (grp=0): clean
        rows.append((0, 100 + i, 10, float(100 + (i % 7))))
    for i in range(200):
        # current split: o_orderkey nulls 5%, o_custkey mean +50%,
        # o_totalprice unchanged
        rows.append(
            (
                1,
                None if i % 20 == 0 else 100 + i,
                15,
                float(100 + (i % 7)),
            )
        )
    df = spark.createDataFrame(
        rows, "grp int, o_orderkey long, o_custkey long, o_totalprice double"
    )
    got = {r["col"]: r for r in profile_drift_gate(df).collect()}
    assert got["o_orderkey"]["status"] == "WARN_NULLS", got["o_orderkey"]
    assert got["o_custkey"]["status"] == "WARN_SHIFT", got["o_custkey"]
    assert got["o_totalprice"]["status"] == "PASS", got["o_totalprice"]
    assert got["o_totalprice"]["mean_shift"] == 0.0
    # negative-zero discipline: a 0 shift must render +0.0, not -0.0
    import math

    assert math.copysign(1.0, got["o_totalprice"]["mean_shift"]) == 1.0


def test_ewma_smooth_planted(spark):
    """The bounded-horizon EWMA matches a direct Python recompute of
    the truncated-and-renormalized weights, and early rows (fewer
    lags than the horizon) renormalize over the lags present."""
    import datetime

    from crossfire_spark.operators.extended import EWMA_WEIGHTS, ewma_smooth

    t0 = datetime.datetime(2024, 1, 1)
    vals = [10.0, 20.0, 5.0, 40.0, 1.0, 8.0, 12.0, 30.0, 2.0, 50.0]
    rows = [
        (i, t0 + datetime.timedelta(minutes=i), 1, v)
        for i, v in enumerate(vals)
    ]
    e = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )
    got = {r["event_id"]: r["ewma"] for r in ewma_smooth(e).collect()}
    ws = [float(w) for w in EWMA_WEIGHTS]
    for t in range(len(vals)):
        hist = [vals[t - k] for k in range(len(ws)) if t - k >= 0]
        num = sum(w * x for w, x in zip(ws, hist))
        den = sum(ws[: len(hist)])
        assert abs(got[t] - num / den) < 1e-3, t


def test_skew_report_planted(spark):
    """A key holding 6 of 10 rows yields top_share 0.6 and
    skew_ratio max/avg = 6/2 = 3 over 5 distinct keys."""
    from crossfire_spark.operators.extended import key_skew_report

    rows = [(1,)] * 6 + [(2,), (3,), (4,), (5,)]
    df = spark.createDataFrame(rows, "k long")
    r = key_skew_report(df, "t:k", "k").collect()[0]
    assert r["n_rows"] == 10 and r["n_keys"] == 5
    assert r["max_c"] == 6
    assert abs(r["top_share"] - 0.6) < 1e-9
    assert abs(r["skew_ratio"] - 3.0) < 1e-9


def test_sentence_dedup_planted(spark):
    """A sentence shared by three docs survives only in the smallest
    (doc_id, position) owner; within one doc a repeated sentence
    keeps its first position; fully-duplicated docs keep their
    counts with NULL text."""
    from crossfire_spark.functions.text import sentence_dedup

    docs = spark.createDataFrame(
        [
            (1, "alpha beta. shared sentence here. gamma delta"),
            (2, "shared sentence here. own words two"),
            (3, "shared sentence here"),
            (4, "echo echo. echo echo. tail piece"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in sentence_dedup(docs).collect()}
    assert out[1]["kept_text"] == "alpha beta. shared sentence here. gamma delta"
    assert out[1]["n_sent"] == 3 and out[1]["n_kept"] == 3
    # doc 2 loses the shared sentence to doc 1
    assert out[2]["kept_text"] == "own words two"
    assert out[2]["n_sent"] == 2 and out[2]["n_kept"] == 1
    # doc 3 is fully deduplicated away: counts stay, text is NULL
    assert out[3]["n_kept"] == 0 and out[3]["kept_text"] is None
    # within-doc repeat: first occurrence owns, second drops
    assert out[4]["kept_text"] == "echo echo. tail piece"
    assert out[4]["n_sent"] == 3 and out[4]["n_kept"] == 2


def test_rp_reduce_preserves_geometry(spark, sf_dir):
    """JL property: projected dot products correlate strongly with
    original dot products across sampled pairs, and the projection
    matches a direct numpy recompute of the hash-derived signs."""
    import numpy as np

    from crossfire_spark.functions.similarity import (
        RP_DIMS,
        _rp_signs,
        rp_reduce,
    )

    em = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 60)
    orig = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in em.collect()
    }
    proj_rows = rp_reduce(em).collect()
    proj = {}
    for r in proj_rows:
        proj.setdefault(r["vec_id"], [0.0] * RP_DIMS)[r["dim"]] = r["proj"]
    signs = _rp_signs(64, RP_DIMS)
    ids = sorted(orig)
    # parity with the numpy recompute (up to the declared 4-dp round)
    for i in ids[:5]:
        direct = orig[i] @ signs
        assert np.allclose(proj[i], np.round(direct, 4), atol=2e-4)
    # geometry: dot products before vs after (scaled by 1/RP_DIMS)
    a = np.array([orig[i] @ orig[j] for i in ids[:20] for j in ids[20:40]])
    b = np.array(
        [
            np.dot(proj[i], proj[j]) / RP_DIMS
            for i in ids[:20]
            for j in ids[20:40]
        ]
    )
    corr = np.corrcoef(a, b)[0, 1]
    # JL noise at 64->16 dims is eps ~ 1/sqrt(16): the deterministic
    # hash matrix yields corr ~0.40 on this corpus slice; the pin
    # guards the SIGN and strength of the geometric signal, not a
    # precision 16 dims cannot deliver
    assert corr > 0.3, corr


def test_t29_divergence_identities(spark, sf_dir):
    """JSD is symmetric, bounded by ln 2, and zero iff the two
    distributions coincide; KL is non-negative both ways."""
    import math

    from crossfire_spark.functions.text import source_divergence

    d = load_table(spark, sf_dir, "documents")
    rows = source_divergence(d).collect()
    assert rows
    for r in rows:
        assert r["kl_ab"] >= 0 and r["kl_ba"] >= 0
        assert -1e-9 <= r["jsd"] <= math.log(2) + 1e-9
    # self-divergence sanity: a source compared against itself is 0
    d2 = d.withColumn("source", F.lit("same"))
    two = d2.unionByName(
        d2.withColumn("source", F.lit("same2")).withColumn(
            "doc_id", F.col("doc_id") + 10_000_000
        )
    )
    z = source_divergence(two).collect()
    assert len(z) == 1
    assert z[0]["kl_ab"] == 0 and z[0]["kl_ba"] == 0 and z[0]["jsd"] == 0


def test_v12_fd_audit_known_truths(spark, sf_dir):
    """Primary-key FDs must report zero violations; the deliberately
    denormalized checks must report max_deps >= 1 consistently."""
    from crossfire_spark.operators.extended import v12_fd_audit

    rows = {r["fd"]: r for r in v12_fd_audit(spark, sf_dir).collect()}
    assert rows["orders:o_orderkey->o_custkey"]["n_viol"] == 0
    assert rows["nation:n_nationkey->n_regionkey"]["n_viol"] == 0
    for r in rows.values():
        assert 0 <= r["viol_rate"] <= 1
        assert (r["n_viol"] == 0) == (r["max_deps"] == 1)


def test_h13_retention_shape(spark, sf_dir):
    """Offset-0 retention is exactly 1, retention is in (0, 1], and
    cohort sizes sum to the distinct-user count."""
    from crossfire_spark.operators.extended import h13_retention_cohorts

    e = load_table(spark, sf_dir, "events")
    n_users = e.select("user_id").distinct().count()
    rows = h13_retention_cohorts(spark, sf_dir).collect()
    base = [r for r in rows if r["week_offset"] == 0]
    assert sum(r["n_active"] for r in base) == n_users
    for r in rows:
        assert r["week_offset"] >= 0
        assert 0 < r["retention"] <= 1
        if r["week_offset"] == 0:
            assert r["retention"] == 1.0


def test_harmonic_centrality_matches_python_bfs(spark, sf_dir):
    """Depth-3 harmonic centrality equals a per-source Python BFS over
    the same closed-form graph (truncated at 3 hops, x6 integer
    scores)."""
    from collections import deque

    from crossfire_spark.functions.graph import (
        HARMONIC_DEPTH,
        doc_link_graph,
        g12_harmonic_centrality,
    )

    d = load_table(spark, sf_dir, "documents")
    edges = [(r.src, r.dst) for r in doc_link_graph(d).collect()]
    adj: dict[int, list[int]] = {}
    for s, t in edges:
        adj.setdefault(s, []).append(t)
    score: dict[int, int] = {}
    nsrc: dict[int, int] = {}
    for s in adj:
        dist = {s: 0}
        dq = deque([s])
        while dq:
            u = dq.popleft()
            if dist[u] >= HARMONIC_DEPTH:
                continue
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = dist[u] + 1
                    dq.append(v)
        for v, dd in dist.items():
            if v != s:
                score[v] = score.get(v, 0) + 6 // dd
                nsrc[v] = nsrc.get(v, 0) + 1
    got = {
        r.node: (r.n_sources, r.harmonic_x6)
        for r in g12_harmonic_centrality(spark, sf_dir).collect()
    }
    assert got == {v: (nsrc[v], score[v]) for v in score}


def test_ks_two_sample_planted_and_numpy_recompute(spark):
    """KS gate: (a) an identical-distribution split accepts, (b) a
    shifted split rejects, (c) D equals a NumPy ECDF recompute on the
    raw values."""
    import numpy as np

    from crossfire_spark.operators.extended import ks_two_sample

    rng = np.random.default_rng(7)
    # identical value multiset in both splits -> D is exactly 0
    base = rng.normal(0, 1, 2000)
    same = [(g, float(v)) for v in base for g in (0, 1)]
    a_vals = rng.normal(0, 1, 2000)
    b_vals = rng.normal(0.6, 1, 2000)  # clear location shift
    shift = [(0, float(v)) for v in a_vals] + [(1, float(v)) for v in b_vals]

    def run(rows):
        df = spark.createDataFrame(rows, "grp int, x double")
        return ks_two_sample(df, "x").collect()[0]

    r_same, r_shift = run(same), run(shift)
    assert r_same.ks_d == 0.0 and not r_same.reject, r_same
    assert r_shift.reject, r_shift

    # NumPy recompute of D for the shifted case
    allv = np.sort(np.unique(np.concatenate([a_vals, b_vals])))
    fa = np.searchsorted(np.sort(a_vals), allv, side="right") / len(a_vals)
    fb = np.searchsorted(np.sort(b_vals), allv, side="right") / len(b_vals)
    d_np = round(round(float(np.max(np.abs(fa - fb))), 9) + 1e-12, 6)
    assert abs(r_shift.ks_d - d_np) < 1e-9, (r_shift.ks_d, d_np)


def test_bloom_decontam_equals_exact_and_prefilter_sound(spark, sf_dir):
    """d24's bloom-prefiltered output equals d07's exact output row
    for row (the exact verify removes every false positive), and the
    bloom prefilter is SOUND: no true eval shingle is ever rejected
    (Bloom filters have no false negatives)."""
    from crossfire_spark.functions.dedup import (
        d07_contamination,
        d24_bloom_decontam,
    )

    exact = [(r.doc_id, r.n_shared) for r in d07_contamination(spark, sf_dir).collect()]
    bloom = [(r.doc_id, r.n_shared) for r in d24_bloom_decontam(spark, sf_dir).collect()]
    assert bloom == exact
    assert exact, "corpus should exercise the contamination path"


def test_forecast_backtest_hand_checked(spark):
    """h19's error arithmetic on a planted 2-series frame: constant
    series -> Holt forecasts exactly (MAE 0 after the first step);
    linear-growth series' one-step errors shrink as the trend term
    locks on (MAE > 0, finite MAPE, positive bias for under-forecast
    growth)."""
    from crossfire_spark.operators.extended import h19_forecast_backtest

    # drive through the real registry path with a temp parquet dir
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        import datetime

        t0 = datetime.datetime(2024, 1, 1)
        rows = []
        for i in range(10):
            rows.append((i, t0 + datetime.timedelta(days=i), 100, "flat", 5.0, "{}"))
            rows.append(
                (100 + i, t0 + datetime.timedelta(days=i), 200, "grow", float(i + 1), "{}")
            )
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        ).write.parquet(os.path.join(tmp, "events.parquet"))
        got = {r.skey: r for r in h19_forecast_backtest(spark, tmp).collect()}
    assert got["flat"].mae == 0.0 and got["flat"].bias == 0.0
    assert got["flat"].n_steps == 9
    assert got["grow"].mae > 0.0
    assert got["grow"].bias > 0.0  # Holt lags a growing series


def test_forecast_anomaly_planted_spike(spark):
    """h20 on a planted frame: a flat series with one injected spike
    flags exactly the spike day (self-calibrated threshold: perfect
    history -> any nonzero error flags); the spike-free twin flags
    nothing."""
    import datetime
    import os
    import tempfile

    from crossfire_spark.operators.extended import h20_forecast_anomaly

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(12):
        rows.append((i, t0 + datetime.timedelta(days=i), 1, "flat", 5.0, "{}"))
        v = 50.0 if i == 8 else 5.0  # spike on day 9
        rows.append((100 + i, t0 + datetime.timedelta(days=i), 2, "spiky", v, "{}"))
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        ).write.parquet(os.path.join(tmp, "events.parquet"))
        got = h20_forecast_anomaly(spark, tmp).collect()
    flat = [r for r in got if r.skey == "flat"]
    spiky = [r for r in got if r.skey == "spiky"]
    assert flat and not any(r.is_anomaly for r in flat)
    anom_days = [r.d.day for r in spiky if r.is_anomaly]
    assert 9 in anom_days, anom_days
    assert all(d >= 9 for d in anom_days)  # only the spike and its wake


def test_mutual_information_identities(spark, sf_dir):
    """Information-theoretic identities the v17 audit must satisfy on
    ANY input: MI >= 0, MI <= min(H(X), H(Y)), 0 <= NMI <= 1, and on
    a planted perfectly-dependent table (y = f(x)) MI == H(Y) with
    NMI == sqrt(H(Y)/H(X)) (textbook Cover & Thomas bounds)."""
    import math

    from crossfire_spark.operators.extended import mutual_information

    d = load_table(spark, sf_dir, "documents")
    row = mutual_information(d, "lang", "source").first()
    assert row.mi >= 0.0
    assert row.mi <= min(row.h_x, row.h_y) + 1e-6
    assert 0.0 <= row.nmi <= 1.0 + 1e-9

    planted = spark.createDataFrame(
        [("a", "u"), ("a", "u"), ("b", "v"), ("b", "v"), ("c", "w"), ("c", "w"),
         ("d", "u"), ("d", "u")],
        "x string, y string",
    )
    r = mutual_information(planted, "x", "y").first()
    # y is a function of x -> MI = H(Y); H(Y) = ln(3 choices w/ 4,2,2)
    hy = -(0.5 * math.log(0.5) + 0.25 * math.log(0.25) + 0.25 * math.log(0.25))
    assert abs(r.mi - round(hy, 6)) < 1e-5
    assert abs(r.h_y - round(hy, 6)) < 1e-5
    assert r.dependent


def test_shard_manifest_balance_and_partition(spark, sf_dir):
    """The rank-dealt sharding is a PARTITION of the corpus with
    near-perfect doc balance (round-robin: max-min <= 1 doc) and
    total-preserving token counts; the hash-mod contrast columns
    reconcile to the same totals."""
    from crossfire_spark.functions.text import shard_manifest

    d = load_table(spark, sf_dir, "documents")
    rows = shard_manifest(d).collect()
    n_docs_total = d.count()
    tok_total = d.select(
        F.sum(F.size(F.split("text", " "))).alias("t")
    ).first().t
    assert sum(r.n_docs for r in rows) == n_docs_total
    assert sum(r.n_tokens for r in rows) == tok_total
    assert sum(r.hm_docs for r in rows) == n_docs_total
    assert sum(r.hm_tokens for r in rows) == tok_total
    counts = [r.n_docs for r in rows]
    assert max(counts) - min(counts) <= 1  # the round-robin guarantee
    # seeded determinism: a second run is byte-identical
    rows2 = shard_manifest(d).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_late_data_audit_fixture_is_nontrivial(spark, sf_dir):
    """The st21 replay must actually exercise the late path (jittered
    arrivals land behind the 12 h watermark) and reconcile: late +
    on-time == table cardinality; every late batch's lateness is
    positive."""
    from crossfire_spark.streaming.jobs import st21_late_data_audit

    rows = st21_late_data_audit(spark, sf_dir).collect()
    ev_n = load_table(spark, sf_dir, "events").count()
    assert sum(r.n_total for r in rows) == ev_n
    assert all(r.n_late + r.n_ontime == r.n_total for r in rows)
    assert sum(r.n_late for r in rows) > 0  # audit is not vacuous
    for r in rows:
        if r.n_late:
            assert r.max_late_s is not None and r.max_late_s >= 0
            assert 0.0 < r.late_share <= 1.0
        else:
            assert r.max_late_s is None and r.late_share == 0.0


def test_lsh_planner_scurve_and_shipped_config(spark, sf_dir):
    """MMDS §3.4.2 identities over the measured pair distribution:
    s* = (1/b)^(1/r) grows with r (tighter bands); expected candidate
    volume therefore FALLS with r; every recall is a probability; and
    the shipped 32x4 config keeps recall_tau within the grid's top
    spread (it was chosen from exactly this curve)."""
    from crossfire_spark.functions.dedup import LSH_PLAN_GRID, d29_lsh_param_planner

    rows = {(r.bands, r.rows_per_band): r
            for r in d29_lsh_param_planner(spark, sf_dir).collect()}
    assert set(rows) == set(LSH_PLAN_GRID)
    by_r = [rows[c] for c in sorted(LSH_PLAN_GRID, key=lambda c: c[1])]
    sstars = [r.s_star for r in by_r]
    assert sstars == sorted(sstars), "s* must rise with rows-per-band"
    cands = [r.exp_cands for r in by_r]
    assert cands == sorted(cands, reverse=True), (
        "expected candidates must fall as bands tighten"
    )
    for r in rows.values():
        assert 0.0 <= r.recall_tau <= 1.0 + 1e-9
        assert r.exp_fp >= 0.0 and r.exp_cands >= 0.0
        assert r.n_true <= r.n_pairs_floor


def test_compression_quality_recompute_and_planted_tails(spark, sf_dir):
    """t36's byte counts recompute exactly with local zlib (the
    rows-only determinism pin), and planted repetitive / random-junk
    docs land in the declared filter tails."""
    import hashlib
    import zlib

    from crossfire_spark.functions.text import (
        ZRATIO_LEVEL,
        compression_signal,
        t36_compression_quality,
    )

    d = load_table(spark, sf_dir, "documents")
    got = {r.doc_id: (r.raw_b, r.comp_b)
           for r in compression_signal(d).collect()}
    for row in d.select("doc_id", "text").collect():
        b = (row.text or "").encode("utf-8")
        assert got[row.doc_id] == (len(b), len(zlib.compress(b, ZRATIO_LEVEL)))

    rep_doc = "spam " * 400
    # the incompressible tail is header-dominated tiny/random text
    # (hex only carries 4 bits/char and compresses to ~0.58 — a
    # deliberately NON-planted datapoint, asserted below)
    junk_doc = "q7#kZ"
    hex_doc = " ".join(
        hashlib.md5(str(i).encode()).hexdigest() for i in range(200)
    )
    planted = spark.createDataFrame(
        [(1, rep_doc, "rep"), (2, junk_doc, "junk"), (3, hex_doc, "hex")],
        "doc_id long, text string, source string",
    )
    z = compression_signal(planted).collect()
    by = {r.source: r for r in z}
    assert by["rep"].comp_b * 1000 < 450 * by["rep"].raw_b
    assert by["junk"].comp_b * 1000 >= 900 * by["junk"].raw_b
    mid = by["hex"].comp_b * 1000
    assert 450 * by["hex"].raw_b <= mid < 900 * by["hex"].raw_b

    rows = t36_compression_quality(spark, sf_dir).collect()
    assert all(r.n_repetitive + r.n_incompressible <= r.n_docs for r in rows)
    assert all(0.0 < r.corpus_ratio < 2.0 for r in rows)


def test_span_removal_plan_is_keep_first_subset_of_d20(spark, sf_dir):
    """d30's keep-first cut is a strict subset of d20's symmetric
    duplicated-position measure (the first copy survives), and the
    per-source rollup reconciles with the corpus totals."""
    from crossfire_spark.functions.dedup import (
        d30_span_removal_plan,
        dup_span_report,
    )

    d = load_table(spark, sf_dir, "documents")
    plan = d30_span_removal_plan(spark, sf_dir).collect()
    d20 = dup_span_report(d).agg(
        F.sum("dup_tokens").alias("dup"), F.sum("n_tokens").alias("tot")
    ).first()
    removed = sum(r.tokens_removed for r in plan)
    assert removed <= d20.dup
    if d20.dup:
        assert removed < d20.dup  # the keeper copies are protected
        assert removed > 0  # and the cut is not vacuous
    assert sum(r.tokens_total for r in plan) == d20.tot
    for r in plan:
        assert 0.0 <= r.removal_frac < 1.0
        assert r.n_docs_gutted <= r.n_docs


def test_mutual_information_numpy_recompute(spark, sf_dir):
    """Second-implementation pin for v17: numpy contingency-matrix MI
    over the same fixture agrees with the engine to the stabilizer's
    6 dp (the seeded-recompute discipline, applied to information
    arithmetic)."""
    import numpy as np

    from crossfire_spark.operators.extended import mutual_information

    d = load_table(spark, sf_dir, "documents")
    row = mutual_information(d, "lang", "source").first()
    pairs = d.groupBy("lang", "source").count().collect()
    langs = sorted({r.lang for r in pairs})
    srcs = sorted({r.source for r in pairs})
    C = np.zeros((len(langs), len(srcs)), dtype=np.int64)
    for r in pairs:
        C[langs.index(r.lang), srcs.index(r.source)] = r["count"]
    n = C.sum()
    px, py = C.sum(1) / n, C.sum(0) / n
    P = C / n
    nz = P > 0
    mi = float((P[nz] * np.log(P[nz] / np.outer(px, py)[nz])).sum())
    hx = float(-(px * np.log(px)).sum())
    hy = float(-(py * np.log(py)).sum())
    assert abs(row.mi - mi) < 2e-6
    assert abs(row.h_x - hx) < 2e-6 and abs(row.h_y - hy) < 2e-6
    assert abs(row.nmi - (mi / np.sqrt(hx * hy) if hx > 0 and hy > 0 else 0.0)) < 2e-6
