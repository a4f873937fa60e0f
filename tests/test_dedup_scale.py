"""Scale-hazard guards for the approximate dedup tier (d03/d04).

The classic production MinHash failure is a dup-heavy crawl: a band
bucket holding millions of boilerplate copies makes the candidate
self-join quadratic. Two defenses, both exercised here on a synthetic
1k-identical-doc hot corpus:

1. exact-duplicate pre-collapse — identical texts contribute ONE
   representative to candidate generation;
2. band-bucket ceiling (``bucket_cap``) — over-populated buckets are
   dropped from the candidate join entirely.
"""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crossfire_spark.functions.dedup import (
    MINHASH_K,
    SRP_BAND_BITS,
    _cap_buckets,
    _exact_dup_membership,
    _i64,
    _shingles,
    minhash_lsh_candidates,
    minhash_lsh_pairs,
    minhash_signatures_wide,
    simhash_pairs,
)

N_DUPS = 1000
BOILER = "the quick brown fox jumps over the lazy dog again and again"


@pytest.fixture(scope="module")
def hot_docs(spark):
    rows = [(i, BOILER) for i in range(N_DUPS)]
    rows += [
        (2000, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2001, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_cap_buckets_drops_whole_bucket(spark):
    df = spark.createDataFrame(
        [(i, "hot") for i in range(20)] + [(100 + i, "cold") for i in range(3)],
        "id long, b string",
    )
    kept = _cap_buckets(df, ["b"], cap=10).collect()
    assert {r.b for r in kept} == {"cold"} and len(kept) == 3
    # cap at-or-above the population keeps everything
    assert _cap_buckets(df, ["b"], cap=20).count() == 23


def test_precollapse_bounds_candidates(spark, hot_docs):
    """1000 identical docs must reach candidate generation as ONE
    representative: the candidate join sees <= 3 pairs, not ~500k."""
    membership = _exact_dup_membership(hot_docs.select("doc_id", "text"))
    reps = membership.where(F.col("doc_id") == F.col("rep"))
    assert reps.count() == 3  # boilerplate group + 2 distinct docs
    rep_docs = hot_docs.join(
        reps.select("doc_id"), "doc_id", "left_semi"
    )
    n_cand = minhash_lsh_candidates(rep_docs).count()
    assert n_cand <= 3, f"candidate join saw {n_cand} pairs"


def test_hot_corpus_output_semantics(spark, hot_docs):
    """Pair-level output is still complete: every pair inside the
    identical group appears with j = 1.0."""
    out = minhash_lsh_pairs(hot_docs)
    intra = out.where((F.col("doc_a") < N_DUPS) & (F.col("doc_b") < N_DUPS))
    assert intra.count() == N_DUPS * (N_DUPS - 1) // 2
    assert intra.where(F.col("j") != 1.0).count() == 0
    # the two distinct near-dups (8/9 shared shingles, j=0.89) survive
    assert out.where((F.col("doc_a") == 2000) & (F.col("doc_b") == 2001)).count() == 1


def test_bucket_cap_bounds_candidate_join(spark, hot_docs):
    """cap=1 drops every bucket with >= 2 members: zero candidates,
    output degrades to exactly the intra (exact-dup) pairs."""
    assert (
        minhash_lsh_candidates(hot_docs, bucket_cap=1).count() == 0
    )
    out = minhash_lsh_pairs(hot_docs, bucket_cap=1)
    assert out.where(F.col("j") != 1.0).count() == 0
    assert out.count() == N_DUPS * (N_DUPS - 1) // 2


def test_simhash_precollapse_and_cap(spark, hot_docs):
    """SimHash shares the pre-collapse + cap path: intra pairs appear
    with hamming 0; cap=1 removes all cross-group candidates."""
    out = simhash_pairs(hot_docs, bucket_cap=1)
    intra = out.where((F.col("doc_a") < N_DUPS) & (F.col("doc_b") < N_DUPS))
    assert intra.count() == N_DUPS * (N_DUPS - 1) // 2
    assert intra.where(F.col("hamming") != 0).count() == 0
    assert out.where(F.col("doc_a") == 2000).count() == 0


@pytest.mark.parametrize("width", sorted({2, 16, SRP_BAND_BITS}))
def test_int_band_table_matches_python_shifts(spark, width):
    """Every band of the integer banding kernel equals the per-band
    Python ``(x >> (width·i)) & mask`` of its 64-bit word, on seeded
    longs including negative ones and both extremes: the logical shift
    the kernel uses and the arithmetic one agree once masked."""
    import random

    from crossfire_spark.functions.dedup import _int_band_table

    rng = random.Random(20261019)
    rows = [[rng.getrandbits(64) - (1 << 63) for _ in range(2)] for _ in range(32)]
    rows += [[-1, -(1 << 63)], [(1 << 63) - 1, 0]]
    assert any(x < 0 for r in rows for x in r)
    df = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(rows)], "doc_id long, s0 long, s1 long"
    )
    per_word = 64 // width
    n_bands = 2 * per_word
    got = {
        (r.doc_id, r.band): r.bsig
        for r in _int_band_table(
            df, ["s0", "s1"], n_bands, width, ["doc_id"]
        ).collect()
    }
    mask = (1 << width) - 1
    want = {
        (i, b): (r[b // per_word] >> (width * (b % per_word))) & mask
        for i, r in enumerate(rows)
        for b in range(n_bands)
    }
    assert got == want


def test_weighted_srp_recall_vs_exact(spark, sf_dir):
    """d16 (SRP-banded weighted near-dup) against its exact oracle
    tier d15 (sparse_cosine_pairs) on the same corpus at the declared
    threshold: recall ≥ 0.9 (theory: ≥ ~0.99 at 96 16-bit bands), the
    pair set is a SUBSET of the exact tier's, and every surviving
    pair carries exactly the exact tier's sim (the verify stage IS
    the exact math over candidates). Closes round-4 finding #3 — the
    weighted metric now has a banded scale tier with d15 as oracle,
    the d02→d03 relationship."""
    from crossfire_spark.catalog import load_table
    from crossfire_spark.functions.dedup import (
        WEIGHTED_NEARDUP_THRESHOLD,
        sparse_cosine_pairs,
        weighted_srp_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    got = [
        tuple(r)
        for r in weighted_srp_pairs(docs, WEIGHTED_NEARDUP_THRESHOLD).collect()
    ]
    exact = [
        tuple(r)
        for r in sparse_cosine_pairs(docs, WEIGHTED_NEARDUP_THRESHOLD).collect()
    ]
    es = {(a, b) for a, b, _ in exact}
    rs = {(a, b) for a, b, _ in got}
    assert len(exact) > 0
    assert rs <= es, f"{len(rs - es)} pairs not in the exact tier"
    assert len(es & rs) / len(es) >= 0.9, f"recall {len(es & rs) / len(es)}"
    sims = {(a, b): s for a, b, s in exact}
    assert all(sims[(a, b)] == s for a, b, s in got if (a, b) in sims)


def test_weighted_srp_handles_exact_dups(spark):
    """Exact duplicates pre-collapse before SRP banding and re-expand
    with sim 1.0 — a boilerplate flood contributes one representative
    to candidate generation, yet every member pair is reported."""
    from crossfire_spark.functions.dedup import weighted_srp_pairs

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(4)]
        + [(10, "totally different words entirely here now")],
        "doc_id long, text string",
    )
    rows = {(r["doc_a"], r["doc_b"]): r["sim"] for r in weighted_srp_pairs(docs).collect()}
    expected = {(a, b) for a in range(4) for b in range(4) if a < b}
    assert set(rows) == expected
    assert all(s == 1.0 for s in rows.values())


def test_weighted_srp_recall_at_oracle_threshold(spark, sf_dir):
    """The weighted tier must hold at the exact tier's OWN threshold
    (0.6), not just the high-confidence declared one: band width
    auto-scales with the requested threshold (_srp_pick_band_bits:
    0.85 → 16-bit bands, 0.6 → 8-bit), so one operator serves both
    regimes. Subset + recall ≥ 0.9 + score-exact vs
    sparse_cosine_pairs at 0.6."""
    from crossfire_spark.catalog import load_table
    from crossfire_spark.functions.dedup import (
        SPARSE_COSINE_THRESHOLD,
        sparse_cosine_pairs,
        weighted_srp_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    got = [
        tuple(r)
        for r in weighted_srp_pairs(docs, SPARSE_COSINE_THRESHOLD).collect()
    ]
    exact = [
        tuple(r)
        for r in sparse_cosine_pairs(docs, SPARSE_COSINE_THRESHOLD).collect()
    ]
    es = {(a, b) for a, b, _ in exact}
    rs = {(a, b) for a, b, _ in got}
    assert len(exact) > 0
    assert rs <= es
    assert len(es & rs) / len(es) >= 0.9, f"recall {len(es & rs) / len(es)}"
    sims = {(a, b): s for a, b, s in exact}
    assert all(sims[(a, b)] == s for a, b, s in got if (a, b) in sims)


def test_weighted_srp_degenerate_corpora(spark):
    """Edge inputs must not crash the SRP pipeline: a single document
    (no pairs), and an all-identical corpus (pure pre-collapse — all
    pairs at sim 1.0, one representative through banding)."""
    from crossfire_spark.functions.dedup import weighted_srp_pairs

    one = spark.createDataFrame([(1, "solo doc text")], "doc_id long, text string")
    assert weighted_srp_pairs(one).collect() == []
    same = spark.createDataFrame(
        [(i, "same text every time") for i in range(5)],
        "doc_id long, text string",
    )
    rows = {(r["doc_a"], r["doc_b"]): r["sim"] for r in weighted_srp_pairs(same).collect()}
    assert set(rows) == {(a, b) for a in range(5) for b in range(5) if a < b}
    assert all(s == 1.0 for s in rows.values())


def test_winnowing_guarantee_detects_shared_passage(spark):
    """The winnowing coverage guarantee: any shared passage of at
    least k+w-1 words (= 6 at k=3, w=4) must contribute ≥1 common
    fingerprint to both documents — because every window of w
    consecutive grams selects a fingerprint, and a ≥ k+w-1-word match
    contains a full window of identical grams. Two docs sharing a
    6-word passage inside different surroundings must therefore be
    reported; two docs with entirely different text must not."""
    from crossfire_spark.functions.dedup import (
        WINNOW_K,
        WINNOW_W,
        d18_winnow_overlap,
        winnow_fingerprints,
    )

    passage = "alpha beta gamma delta epsilon zeta"
    assert len(passage.split()) == WINNOW_K + WINNOW_W - 1
    docs = spark.createDataFrame(
        [
            (1, f"one two three {passage} four five six"),
            (2, f"seven eight {passage} nine ten eleven twelve"),
            (3, "completely different words in this document here now"),
        ],
        "doc_id long, text string",
    )
    fp = winnow_fingerprints(docs)
    f1 = {r["h"] for r in fp.where("doc_id = 1").collect()}
    f2 = {r["h"] for r in fp.where("doc_id = 2").collect()}
    f3 = {r["h"] for r in fp.where("doc_id = 3").collect()}
    assert f1 & f2, "shared 6-word passage produced no common fingerprint"
    assert not (f1 & f3) and not (f2 & f3)


def _rotl64(col: F.Column, r: int) -> F.Column:
    """JVM-expression rotl — the reference form the Arrow minhash
    kernel is pinned bit-exact against."""
    r = r % 64
    if r == 0:
        return col
    return F.shiftleft(col, r).bitwiseOR(F.shiftrightunsigned(col, 64 - r))


def minhash_signatures_wide_jvm(docs: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """All-JVM form of :func:`minhash_signatures_wide` (128 codegen'd
    rotl/xor expressions + a k-column min aggregate). Kept as the
    independent oracle the Arrow kernel is equality-pinned against —
    and measured 4x slower at sf0.1, which is why it is no longer the
    default."""
    sh = _shingles(docs)
    base = sh.select(
        "doc_id",
        F.xxhash64("shingle").alias("_h1"),
        F.xxhash64("shingle", F.lit(1)).alias("_h2"),
    )
    gold = 0x9E3779B97F4A7C15
    consts = [_i64((i * gold) & 0xFFFFFFFFFFFFFFFF) for i in range(k)]
    hashed = base.select(
        "doc_id",
        *[
            _rotl64(F.col("_h1"), 7 * i)
            .bitwiseXOR(_rotl64(F.col("_h2"), i))
            .bitwiseXOR(F.lit(consts[i]))
            .alias(f"h{i}")
            for i in range(k)
        ],
    )
    return hashed.groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"m{i}") for i in range(k)]
    )


def test_minhash_arrow_kernel_matches_jvm_expressions(spark, sf_dir):
    """The Arrow segment-min signature kernel must be BIT-EXACT
    against the independent all-JVM expression form (rotl/xor in
    uint64, min in the signed int64 domain)."""
    from crossfire_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    got = [tuple(r) for r in minhash_signatures_wide(docs).orderBy("doc_id").collect()]
    ref = [
        tuple(r)
        for r in minhash_signatures_wide_jvm(docs).orderBy("doc_id").collect()
    ]
    assert got == ref


def test_weighted_neardup_verify_stage_sql_oracle(spark, duck, sf_dir):
    """Candidate-set oracle for d16 (the s02/s17/d03 soundness
    pattern): export the post-prefilter rep-level candidates, then
    restate the ENTIRE downstream stage — full-multiset TF-IDF
    weights, exact weighted-cosine verify with d15's stabilization,
    threshold, and exact-dup member re-expansion — as DuckDB SQL over
    the export. Sims compared at the bit level. The only un-oracled
    stages left in d16 are the SRP signature build and its banding/
    prefilter (pinned separately by the subset/recall/score tests
    above)."""
    import numpy as np

    from crossfire_spark.catalog import load_table
    from crossfire_spark.functions.dedup import (
        WEIGHTED_NEARDUP_THRESHOLD,
        weighted_srp_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cand_pdf = weighted_srp_pairs(docs, return_candidates=True).toPandas()
    got = (
        weighted_srp_pairs(docs)
        .orderBy("doc_a", "doc_b", "sim")
        .toPandas()
    )
    duck.register("d16_cand", cand_pdf)
    try:
        want = duck.execute(
            f"""
            WITH mem AS (SELECT doc_id, md5(text) fp,
                                MIN(doc_id) OVER (PARTITION BY md5(text)) rep
                         FROM documents),
            words AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) word
                      FROM documents),
            tf AS (SELECT doc_id, word, COUNT(*) tf FROM words
                   GROUP BY doc_id, word),
            nd AS (SELECT COUNT(DISTINCT doc_id) n FROM documents),
            dfreq AS (SELECT word, COUNT(*) df FROM tf GROUP BY word),
            idf AS (SELECT word, ln((n + 1) * 1.0 / (df + 1)) idf
                    FROM dfreq CROSS JOIN nd),
            w AS (SELECT t.doc_id, t.word, t.tf * i.idf wt
                  FROM tf t JOIN idf i USING (word)),
            norms AS (SELECT doc_id, sqrt(SUM(wt * wt)) nrm FROM w
                      GROUP BY doc_id),
            dots AS (SELECT c.doc_a, c.doc_b, SUM(a.wt * b.wt) dot
                     FROM d16_cand c
                     JOIN w a ON a.doc_id = c.doc_a
                     JOIN w b ON b.doc_id = c.doc_b AND b.word = a.word
                     GROUP BY 1, 2),
            rp AS (SELECT doc_a, doc_b,
                          ROUND(ROUND(dot / (x.nrm * y.nrm), 6) + 1e-9, 4) sim
                   FROM dots JOIN norms x ON doc_a = x.doc_id
                             JOIN norms y ON doc_b = y.doc_id),
            kept AS (SELECT * FROM rp
                     WHERE sim >= {WEIGHTED_NEARDUP_THRESHOLD}),
            intra AS (SELECT m1.doc_id doc_a, m2.doc_id doc_b, 1.0 sim
                      FROM mem m1 JOIN mem m2
                        ON m1.fp = m2.fp AND m1.doc_id < m2.doc_id),
            crossx AS (SELECT LEAST(ma.doc_id, mb.doc_id) doc_a,
                              GREATEST(ma.doc_id, mb.doc_id) doc_b, p.sim
                       FROM kept p JOIN mem ma ON ma.rep = p.doc_a
                                   JOIN mem mb ON mb.rep = p.doc_b)
            SELECT doc_a, doc_b, sim FROM (
                SELECT * FROM intra UNION ALL SELECT * FROM crossx)
            ORDER BY doc_a, doc_b, sim"""
        ).df()
    finally:
        duck.unregister("d16_cand")
    assert len(got) == len(want) and len(got) > 0
    assert got["doc_a"].tolist() == want["doc_a"].tolist()
    assert got["doc_b"].tolist() == want["doc_b"].tolist()
    a = np.ascontiguousarray(got["sim"].values, dtype=np.float64)
    b = np.ascontiguousarray(want["sim"].values, dtype=np.float64)
    assert (a.view(np.int64) == b.view(np.int64)).all()


def test_dedup_recall_audit_soundness_and_floor(spark, sf_dir):
    """d25: found <= exact per bucket (the approx tier is verified, so
    it can never overcount), the ALL row re-sums the buckets, and the
    0.9-1.0 band holds the >=0.9 recall floor the d03 tier declares."""
    from crossfire_spark.functions.dedup import d25_dedup_recall_audit

    rows = {r.bucket: r for r in d25_dedup_recall_audit(spark, sf_dir).collect()}
    assert "ALL" in rows
    buckets = [r for b, r in rows.items() if b != "ALL"]
    assert all(r.n_found <= r.n_exact for r in rows.values())
    assert rows["ALL"].n_exact == sum(r.n_exact for r in buckets)
    assert rows["ALL"].n_found == sum(r.n_found for r in buckets)
    hi = [r for b, r in rows.items() if b.startswith("0.9")]
    assert hi and hi[0].recall >= 0.9, hi


def test_simhash_recall_audit_soundness(spark, sf_dir):
    """d27: audit arithmetic (ALL re-sums the buckets), per-bucket
    soundness, and the documented tier shape — SimHash at Hamming<=3
    is a NEAR-IDENTICAL tier, so its 0.9-1.0-Jaccard recall is
    nonzero but well under d03's (the measurement d27 exists to put
    on the table; ~0.16-0.30 across sf0.001-0.1)."""
    from crossfire_spark.functions.dedup import d27_simhash_recall_audit

    rows = {r.bucket: r for r in d27_simhash_recall_audit(spark, sf_dir).collect()}
    assert "ALL" in rows
    buckets = [r for b, r in rows.items() if b != "ALL"]
    assert all(r.n_found <= r.n_exact for r in rows.values())
    assert rows["ALL"].n_exact == sum(r.n_exact for r in buckets)
    assert rows["ALL"].n_found == sum(r.n_found for r in buckets)
    hi = [r for b, r in rows.items() if b.startswith("0.9")]
    assert hi and hi[0].recall >= 0.1, hi
    # every bucket's recall is a valid ratio
    assert all(0.0 <= (r.recall or 0.0) <= 1.0 for r in rows.values())


def test_srp_recall_audit_soundness_and_floor(spark, sf_dir):
    """d28: found <= exact per bucket (d16 exact-verifies candidates,
    so it never overcounts vs d15's kernel on the same slice), the
    ALL row re-sums, the 0.9-1.0 band holds the >=0.9 floor the SRP
    banding declares at its 0.85 operating point, and the
    sub-operating-point buckets (0.6-0.8) are zero BY DESIGN — the
    falloff curve the audit exists to show."""
    from crossfire_spark.functions.dedup import d28_srp_recall_audit

    rows = {r.bucket: r for r in d28_srp_recall_audit(spark, sf_dir).collect()}
    assert "ALL" in rows
    buckets = [r for b, r in rows.items() if b != "ALL"]
    assert all(r.n_found <= r.n_exact for r in rows.values())
    assert rows["ALL"].n_exact == sum(r.n_exact for r in buckets)
    assert rows["ALL"].n_found == sum(r.n_found for r in buckets)
    hi = [r for b, r in rows.items() if b.startswith("0.9")]
    assert hi and hi[0].recall >= 0.9, hi
    low = [r for b, r in rows.items() if b.startswith(("0.6", "0.7"))]
    assert low and all(r.n_found == 0 for r in low), low
