"""Deduplication operators for LLM data pipelines.

Four tiers, in increasing scale-friendliness:

- **d01_dedup_bag** — exact/bag dedup: group documents by an
  order-invariant bag-of-words md5 fingerprint; one shuffle on a
  16-byte key regardless of document size (at 100 TB you shuffle
  fingerprints, never text).
- **d02_ngram_jaccard** — exact word-3-gram Jaccard over candidate
  pairs that share at least one shingle. Quadratic in the worst case;
  it is the *oracle* for the approximate tiers below and the declared
  correctness surface.
- **d03_minhash_lsh** — MinHash signatures (128 hashes) + banded LSH
  (32 bands x 4 rows): candidates meet in a band bucket, then exact
  Jaccard verifies. This is the 100 TB path: cost is
  O(docs x shingles) for signatures + a shuffle on band keys; no
  pairwise blowup. Entirely JVM-side (xxhash64 / explode / groupBy —
  no Python UDFs).
- **d04_simhash** — 64-bit SimHash over distinct words, near-dup =
  Hamming distance <= 3, candidate generation by 4x16-bit band join.
  At <= 3 the banding is *complete* (pigeonhole: a pair differing in
  <= 3 bits must share one of the 4 chunks), so the output is exactly
  "all pairs with Hamming <= 3" — deterministic given xxhash64.

d01/d02 have identical-formula DuckDB oracles; d03/d04 depend on
engine hash functions, so the driver records a rows-only check and
``tests/test_dedup.py`` verifies recall against the exact d02 result.
"""

from __future__ import annotations

import math

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crossfire_spark.catalog import (
    load_table,
    materialize,
    nudge,
    spread,
    stab,
    stab_signed,
)
from crossfire_spark.functions.graph import connected_components
from crossfire_spark.functions.text import (
    CDC_CHUNKS_SQL_CTE,
    SHARD_COUNT,
    SHARD_SEED,
    SPLIT_TRAIN_LIM,
    SPLIT_VAL_LIM,
    _hash_u16,
    _u16_sql,
    bag_fingerprint,
    md5_prefix_hash,
    cdc_chunks,
    smoothed_idf,
    split_assign,
    term_freqs,
    tokens,
    word_grams,
)

JACCARD_THRESHOLD = 0.5
MINHASH_K = 128
LSH_BANDS = 32  # rows per band = MINHASH_K // LSH_BANDS = 4
SIMHASH_MAX_HAMMING = 3
# Band-bucket ceiling: a bucket holding more than this many *distinct*
# documents is dropped from candidate generation (the classic MinHash
# production failure is a boilerplate bucket holding millions of docs
# whose candidate self-join goes quadratic — AQE skew-split cannot save
# a genuinely quadratic bucket). Exact duplicates are pre-collapsed
# before signatures, so an over-cap bucket means > cap distinct texts
# colliding — at that density the pairs are near-worthless and the cost
# unbounded. 2000 keeps every sf0.1 bucket (<< cap) intact.
LSH_BUCKET_CAP = 2000


def _cap_buckets(df: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """Drop every row of a bucket whose population exceeds ``cap``.

    Shape: aggregate bucket counts (map-side partial, keys only — the
    shuffle never carries doc ids), keep the over-cap bucket list —
    tiny by construction on any sane corpus — and broadcast anti-join
    it back. Cheaper than a count-over-window, which would shuffle the
    full rows AND sort every partition."""
    over = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_bucket_n"))
        .where(F.col("_bucket_n") > cap)
        .select(*keys)
    )
    return df.join(F.broadcast(over), keys, "left_anti")


def _band_pairs(bands: DataFrame, key: str, bucket_cap: int) -> DataFrame:
    """Raw band-bucket collisions of a band table ``(key, band, bsig,
    *payload)``: every two rows in one ``(band, bsig)`` bucket, lower
    key as ``doc_a`` and higher as ``doc_b``, each payload column as
    ``a_<col>`` / ``b_<col>``. A pair sharing several buckets appears
    once per bucket; callers apply their own distinct. Buckets over
    ``bucket_cap`` rows are dropped first (:func:`_cap_buckets`), so
    the self-join fan-out per bucket is bounded by cap²."""
    capped = _cap_buckets(bands, ["band", "bsig"], bucket_cap)
    payload = [c for c in bands.columns if c not in (key, "band", "bsig")]
    a, b = capped.alias("a"), capped.alias("b")
    return a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bsig") == F.col("b.bsig"))
        & (F.col(f"a.{key}") < F.col(f"b.{key}")),
    ).select(
        F.col(f"a.{key}").alias("doc_a"),
        F.col(f"b.{key}").alias("doc_b"),
        *[F.col(f"{s}.{c}").alias(f"{s}_{c}") for c in payload for s in "ab"],
    )


def _int_band_table(
    sig: DataFrame, words: list[str], n_bands: int, band_bits: int, keep: list[str]
) -> DataFrame:
    """(*keep, band, bsig) — unpivot consecutive ``band_bits``-bit
    slices of a signature held as 64-bit ``words`` (least significant
    first) into integer band values, all codegen'd bit arithmetic:
    band b = bits [b·w, (b+1)·w) = word b//(64/w) >>> (w·(b % (64/w)))
    masked to w bits. Banding reads a PREFIX of the signature when
    ``n_bands·band_bits`` is shorter than it."""
    per_word = 64 // band_bits
    mask = (1 << band_bits) - 1
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftrightunsigned(
                F.col(words[b // per_word]), band_bits * (b % per_word)
            )
            .bitwiseAND(F.lit(mask))
            .alias("bsig"),
        )
        for b in range(n_bands)
    ]
    return sig.select(*keep, F.explode(F.array(*bands)).alias("bs")).select(
        *keep, F.col("bs.band").alias("band"), F.col("bs.bsig").alias("bsig")
    )


def _exact_dup_membership(docs: DataFrame) -> DataFrame:
    """(doc_id, fp, rep) — md5(text) exact-duplicate groups with the
    min doc_id as representative. Identical texts have identical
    shingle sets, signatures, and band buckets, so only the
    representative needs to enter candidate generation; member pairs
    are reconstructed exactly afterwards (intra-group Jaccard is 1.0 /
    Hamming 0 by definition). Materialized once: the rep filter, the
    intra-group join (both sides), and the cross-group expansion all
    read it."""
    return materialize(
        docs.select("doc_id", F.md5("text").alias("fp"))
        .withColumn("rep", F.min("doc_id").over(Window.partitionBy("fp")))
    )


def _representatives(df: DataFrame, membership: DataFrame) -> DataFrame:
    """The rows of ``df`` whose doc_id represents its exact-duplicate
    group in ``membership`` — the only rows candidate generation sees."""
    return df.join(
        membership.where(F.col("doc_id") == F.col("rep")).select("doc_id"),
        "doc_id",
        "left_semi",
    )


def _shingles(df: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document — built-ins only:
    split -> ``word_grams`` -> explode. No Python on the path.

    Parallelism: ``spread`` widens a single-row-group scan, and the
    dedup exchange is a *pinned-width* ``repartition`` on the dedup key
    rather than ``.distinct()`` — the shingle table is small in bytes
    but everything downstream of it (128 minhash evaluations per row)
    is CPU-heavy, and AQE's byte-based coalescing would fold the
    exchange back to one task. The explicit repartition satisfies the
    dedup aggregate's distribution (no second shuffle) and AQE leaves
    user-specified repartitions alone.

    A NULL text has no shingles, as the oracles' ``string_split``
    gives it none.
    """
    parts = df.sparkSession.sparkContext.defaultParallelism
    return (
        spread(df.where(F.col("text").isNotNull()))
        .select("doc_id", tokens("text").alias("w"))
        .select("doc_id", F.explode(word_grams("w", n)).alias("shingle"))
        .repartition(parts, "doc_id", "shingle")
        .dropDuplicates()
    )


def d01_dedup_bag(spark, sf_dir):
    """Bag-of-words dedup groups: documents whose distinct-word sets
    are identical collapse to one fingerprint; keep the min doc_id."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(bag_fingerprint("text").alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("c"), F.min("doc_id").alias("keep"))
        .where(F.col("c") > 1)
        .orderBy("fp", "c", "keep")
    )


def exact_jaccard_pairs(
    docs: DataFrame, threshold: float = JACCARD_THRESHOLD, n: int = 3
) -> DataFrame:
    """Exact n-gram Jaccard for every pair sharing >= 1 shingle.

    Shuffle pattern: explode shingles -> join on shingle (candidates)
    -> group by pair. The shingle join is the scale hazard (a hot
    shingle fans out quadratically) — that's exactly what d03's LSH
    banding fixes; this exact form is the correctness oracle.
    """
    sh = _shingles(docs, n)
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    return _jaccard_scores(inter, sh, threshold)


def _jaccard_scores(inter: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b, j) from pair intersections ``(doc_a, doc_b, i)``
    over the shingle table ``sh``: j = i / (na + nb - i), filtered on
    the RAW ratio (the oracle does too) and rounded to 2 dp only on
    output — otherwise 0.495 would round into the result set."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    raw = F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .where(raw >= threshold)
        .select("doc_a", "doc_b", F.round(raw, 2).alias("j"))
    )


def d02_ngram_jaccard(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return exact_jaccard_pairs(d).orderBy("doc_a", "doc_b", "j")


def minhash_signatures_wide(docs: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """One row per doc with k minhash columns ``m0..m{k-1}``.

    k permutations derived from TWO base hashes per shingle
    (Kirsch–Mitzenmacher-style): ``h_i = rotl(h1, 7i) ^ rotl(h2, i)
    ^ C_i`` with per-i golden-ratio constants — so each shingle pays
    2 ``xxhash64`` evaluations + k bitwise ops instead of k full
    string hashes. The base hashes stay JVM-side (codegen'd
    ``xxhash64`` on the shingle scan); the k-way derivation + min
    runs as ONE Arrow kernel over per-doc hash lists — a segment-min
    (``np.minimum.reduceat``) per derived permutation, vectorized
    across the whole batch. The earlier all-JVM form (128 rotl/xor
    column expressions + a 128-column min aggregate) spent its time
    in janino-compiled per-row evaluation and measured 4x slower at
    sf0.1 (7.9 s → 2.0 s warm); the kernel is BIT-EXACT against it
    (uint64 rotl/xor, min taken in the signed int64 domain — pinned
    by test).

    The groupBy ships shingles×2 longs; min is order-invariant, so
    ``collect_list`` ordering cannot matter. Wide m0..m{k-1} columns
    (not an array) keep the downstream band table and persisted-index
    diffs in flat codegen'd longs."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    sh = _shingles(docs)
    base = sh.select(
        "doc_id",
        F.xxhash64("shingle").alias("h1"),
        F.xxhash64("shingle", F.lit(1)).alias("h2"),
    )
    per_doc = base.groupBy("doc_id").agg(
        F.collect_list("h1").alias("h1s"), F.collect_list("h2").alias("h2s")
    )
    gold = 0x9E3779B97F4A7C15
    consts = np.array(
        [(i * gold) & 0xFFFFFFFFFFFFFFFF for i in range(k)], dtype=np.uint64
    )

    @pandas_udf("array<long>")
    def _mins(h1s: pd.Series, h2s: pd.Series) -> pd.Series:
        if len(h1s) == 0:  # Arrow may deliver a zero-row batch;
            return pd.Series([], dtype=object)  # np.concatenate([]) raises
        lens = np.fromiter((len(x) for x in h1s), dtype=np.int64, count=len(h1s))
        A = np.concatenate(
            [np.asarray(x, dtype=np.int64) for x in h1s]
        ).view(np.uint64)
        B = np.concatenate(
            [np.asarray(x, dtype=np.int64) for x in h2s]
        ).view(np.uint64)
        offs = np.zeros(len(lens), dtype=np.int64)
        np.cumsum(lens[:-1], out=offs[1:])
        out = np.empty((len(lens), k), dtype=np.int64)
        for i in range(k):
            r1 = (7 * i) % 64
            r2 = i % 64
            # rotl(x, 0) must be identity: uint64 >> 64 is undefined
            ha = A if r1 == 0 else (A << np.uint64(r1)) | (A >> np.uint64(64 - r1))
            hb = B if r2 == 0 else (B << np.uint64(r2)) | (B >> np.uint64(64 - r2))
            h = (ha ^ hb ^ consts[i]).view(np.int64)
            out[:, i] = np.minimum.reduceat(h, offs)
        return pd.Series(list(out))

    sig = per_doc.select("doc_id", _mins("h1s", "h2s").alias("sig"))
    return sig.select(
        "doc_id", *[F.element_at("sig", i + 1).alias(f"m{i}") for i in range(k)]
    )


def band_table(
    wide: DataFrame, k: int = MINHASH_K, bands: int = LSH_BANDS
) -> DataFrame:
    """(doc_id, band, bsig) from a wide signature table: band
    signature = md5 over the band's minhashes, computed from the wide
    row directly (no per-(doc, seed) shuffle), then unpivoted for the
    bucket join."""
    rows_per_band = k // bands
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"m{b * rows_per_band + r}")
                        for r in range(rows_per_band)
                    ],
                )
            ).alias("bsig"),
        )
        for b in range(bands)
    ]
    return wide.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bs")
    ).select(
        "doc_id", F.col("bs.band").alias("band"), F.col("bs.bsig").alias("bsig")
    )


def minhash_lsh_candidates(
    docs: DataFrame,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    bucket_cap: int = LSH_BUCKET_CAP,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """LSH candidate pairs ``(doc_a, doc_b)`` among the given docs.

    Band signature = md5 over the band's minhashes; equal band
    signatures meet in a bucket (one shuffle on the 16-byte band key).
    Buckets over ``bucket_cap`` docs are dropped before the self-join
    (see ``LSH_BUCKET_CAP``), so candidate fan-out per bucket is
    bounded by cap² however duplicate-heavy the corpus is.

    The signature table is *materialized once* (``materialize`` —
    executor-local storage, the same medium a shuffle write uses; a
    production pipeline persists it as a real table). Everything
    downstream — both sides of the band self-join, the candidate id
    set, the verify joins — reads the materialization instead of
    re-deriving shingles+128 hashes from text. Without this the
    self-join + verify re-evaluate the corpus-wide text pipeline 4x
    (Catalyst inlines common subplans; exchange reuse does not span
    the checkpoint-free shape), which at 100 TB is three extra full
    passes over the corpus."""
    if signatures is not None:
        # persisted-index path (functions.ann_index): the shingle +
        # k-hash pass over the text already happened at build time
        wide = signatures
    else:
        wide = materialize(minhash_signatures_wide(docs, k))
    return _band_pairs(band_table(wide, k, bands), "doc_id", bucket_cap).distinct()


def _verify_jaccard(
    docs: DataFrame, candidates: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard over candidate pairs only → (doc_a, doc_b, j)."""
    # Exact Jaccard for CANDIDATE pairs only — this is the whole point
    # of LSH: the all-pairs shingle join never happens, and the exact
    # verification re-shingles only *candidate* documents (left_semi
    # against the candidate id set), never the corpus. The corpus-wide
    # shingle pipeline therefore runs exactly once (inside the
    # signature build) instead of four times — at 100 TB that is the
    # difference between one pass over the text and four.
    cand_ids = candidates.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    ).distinct()
    sh = _shingles(docs.join(cand_ids, "doc_id", "left_semi"))
    inter = (
        candidates.join(
            sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a"
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    # no broadcast hints needed: every post-candidate table is
    # candidate-sized; AQE picks broadcast joins at runtime.
    return _jaccard_scores(inter, sh, threshold)


def _expand_rep_pairs(
    rep_pairs: DataFrame,
    membership: DataFrame,
    score_col: str,
    threshold: float,
) -> DataFrame:
    """Re-expand representative-level near-dup pairs to member-level.

    ``intra pairs``: every pair inside an exact-dup group scores as
    identical texts do — Hamming 0 for the ``hamming`` distance, 1.0
    for a similarity (Jaccard, cosine) — and is kept when that score
    passes ``threshold``. These are output rows, so a group of n dups
    legitimately yields n·(n-1)/2 rows; what the pre-collapse bounds
    is the *candidate join*, which sees one row per group. ``cross
    pairs``: a rep-level pair expands to all member cross pairs with
    the same score (identical texts have identical shingle sets /
    signatures)."""
    if score_col == "hamming":
        identical, keep_intra = F.lit(0), threshold >= 0
    else:
        identical, keep_intra = F.lit(1.0), threshold <= 1.0
    m1, m2 = membership.alias("m1"), membership.alias("m2")
    intra = (
        m1.join(
            m2,
            (F.col("m1.fp") == F.col("m2.fp"))
            & (F.col("m1.doc_id") < F.col("m2.doc_id")),
        )
        .select(
            F.col("m1.doc_id").alias("doc_a"),
            F.col("m2.doc_id").alias("doc_b"),
            identical.alias(score_col),
        )
    )
    ma = membership.select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("x"))
    mb = membership.select(F.col("rep").alias("doc_b"), F.col("doc_id").alias("y"))
    cross = (
        rep_pairs.join(ma, "doc_a")
        .join(mb, "doc_b")
        .select(
            F.least("x", "y").alias("doc_a"),
            F.greatest("x", "y").alias("doc_b"),
            score_col,
        )
    )
    return intra.unionByName(cross) if keep_intra else cross


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    bucket_cap: int = LSH_BUCKET_CAP,
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, exact-Jaccard verified.

    Output is a *subset* of ``exact_jaccard_pairs`` (identical rows,
    minus LSH misses and minus pairs whose every shared band bucket
    exceeded ``bucket_cap``). Three stages, each bounded on a
    dup-heavy corpus:

    1. exact-duplicate pre-collapse (md5(text) groups → min-id rep):
       a crawl with a million copies of one boilerplate page
       contributes ONE row to candidate generation, not 10^12 pairs;
    2. banded LSH + bucket ceiling over *representatives only*
       (:func:`minhash_lsh_candidates`);
    3. exact-Jaccard verify, then member re-expansion
       (:func:`_expand_rep_pairs`).
    """
    docs = docs.select("doc_id", "text")
    return _minhash_pairs(
        docs, _exact_dup_membership(docs), threshold, k, bands, bucket_cap
    )


def _minhash_pairs(
    docs: DataFrame,
    membership: DataFrame,
    threshold: float,
    k: int,
    bands: int,
    bucket_cap: int,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """The body of :func:`minhash_lsh_pairs` over a given exact-dup
    ``membership`` and, from a persisted index, the representatives'
    stored ``signatures``."""
    rep_docs = _representatives(docs, membership)
    # tiny (collision survivors); the verify joins and the candidate id
    # set read it without re-running the band join
    candidates = materialize(
        minhash_lsh_candidates(rep_docs, k, bands, bucket_cap, signatures=signatures)
    )
    rep_pairs = _verify_jaccard(rep_docs, candidates, threshold)
    return _expand_rep_pairs(rep_pairs, membership, "j", threshold)


def d03_minhash_lsh(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d).orderBy("doc_a", "doc_b", "j")


def _i64(x: int) -> int:
    """Wrap an unsigned 64-bit mask into Java signed-long range
    (1 << 63 must become Long.MIN_VALUE, not overflow py4j)."""
    return x - (1 << 64) if x >= (1 << 63) else x


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """64-bit SimHash per document over distinct words: per bit,
    majority vote of word hashes (+1/-1), reassembled JVM-side with
    64 conditional aggregates (whole-stage codegen keeps this one
    tight loop; no Python)."""
    words = spread(docs).select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("w")
    ).withColumn("h", F.xxhash64("w"))
    bit_sums = words.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.col("h").bitwiseAND(F.lit(_i64(1 << b))) != 0, 1).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(64)
        ]
    )
    sig = None
    for b in range(64):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(_i64(1 << b))).otherwise(F.lit(0))
        sig = bit if sig is None else sig.bitwiseOR(bit)
    return bit_sums.select("doc_id", sig.alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = SIMHASH_MAX_HAMMING,
    bucket_cap: int = LSH_BUCKET_CAP,
) -> DataFrame:
    """Near-dup pairs by SimHash: candidates share one of four 16-bit
    chunks (band join), then Hamming distance verifies. Scale shape:
    4 x shuffle on a 16-bit key, never all-pairs — and, like d03,
    exact duplicates are pre-collapsed first (identical texts →
    identical simhash → Hamming 0) and chunk buckets over
    ``bucket_cap`` representatives are dropped, so the self-join
    fan-out stays bounded on dup-heavy corpora.

    The (doc_id, simhash) table is materialized before the self-join —
    8 bytes/doc; both join sides then read it instead of re-running
    the word-explode + 64-bit-vote aggregation over the corpus."""
    docs = docs.select("doc_id", "text")
    membership = _exact_dup_membership(docs)
    sig = materialize(simhash_signatures(_representatives(docs, membership)))
    chunks = _int_band_table(sig, ["simhash"], 4, 16, ["doc_id", "simhash"])
    rep_pairs = (
        _band_pairs(chunks, "doc_id", bucket_cap)
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("a_simhash").bitwiseXOR(F.col("b_simhash"))).alias(
                "hamming"
            ),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )
    return _expand_rep_pairs(rep_pairs, membership, "hamming", max_hamming)


def d04_simhash(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return simhash_pairs(d).orderBy("doc_a", "doc_b", "hamming")


def d06_dup_clusters(spark, sf_dir):
    """Duplicate clusters: exact-Jaccard near-dup pairs (the oracled
    d02 edge set — deterministic, so this stays oracle-checkable)
    closed under transitivity; every document in a cluster maps to the
    cluster's min doc_id (the canonical survivor a dedup pipeline
    keeps). Oracle = DuckDB recursive-CTE transitive closure."""
    d = load_table(spark, sf_dir, "documents")
    return connected_components(exact_jaccard_pairs(d)).orderBy(
        "doc_id", "cluster_id"
    )


EVAL_SOURCE = "src0"  # the held-out "benchmark" shard for d07
CONTAM_NGRAM = 5


def d07_contamination(spark, sf_dir):
    """Benchmark decontamination — the train/eval overlap scan every
    LLM data pipeline runs before training: flag corpus documents
    sharing any ``CONTAM_NGRAM``-gram with the held-out eval shard
    (here: ``source == 'src0'``), with the shared-shingle count as
    evidence.

    Scale shape: the eval side is tiny relative to the corpus (the
    benchmark suite, not the crawl), so its distinct shingle set is
    **broadcast** — the corpus-side scan stays shuffle-free until the
    per-doc count agg; the corpus is never self-joined. At 100 TB the
    corpus shingle explode runs map-side against the broadcast hash
    set, one partial-agg shuffle on doc_id. 13-grams are the
    production norm; 5 here because the synthetic docs are ~50 words.
    """
    d = load_table(spark, sf_dir, "documents")
    eval_sh = (
        _shingles(d.where(F.col("source") == EVAL_SOURCE), CONTAM_NGRAM)
        .select("shingle")
        .distinct()
    )
    corpus_sh = _shingles(
        d.where(F.col("source") != EVAL_SOURCE), CONTAM_NGRAM
    )
    return (
        corpus_sh.join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .orderBy("doc_id", "n_shared")
    )


def d17_hashed_decontam(spark, sf_dir):
    """The compressed-prefilter tier of benchmark decontamination
    (d07 is its exact oracle — identical output): instead of
    broadcasting the eval shard's shingle STRINGS (~100 B each; a
    13-gram benchmark suite runs to GBs), broadcast their 8-byte
    xxhash64 set, prefilter the corpus shingle stream map-side
    against it, then exact-verify only the hits with a semi-join on
    the real shingle text (a shuffle over the tiny hit set — this
    removes hash collisions, so the result is exact and shares d07's
    DuckDB oracle).

    This is the Bloom-filter decontamination shape every production
    pipeline runs — a compact over-approximating membership structure
    map-side, exact verification of survivors. An actual Bloom drops
    the per-key cost another ~5x (12.5x at 1% fpp vs 8-byte hashes) —
    that tier is :func:`d24_bloom_decontam` (r7); the two-phase plan
    (compact-prefilter → exact verify) is identical, only the
    membership structure changes. At 100 TB: corpus shingles never
    shuffle until the per-doc count agg; the verify shuffle carries
    hits only."""
    d = load_table(spark, sf_dir, "documents")
    eval_sh = materialize(  # consumed by the hash-set build AND the verify
        _shingles(d.where(F.col("source") == EVAL_SOURCE), CONTAM_NGRAM)
        .select("shingle")
        .distinct()
    )
    eval_hashes = eval_sh.select(F.xxhash64("shingle").alias("h")).distinct()
    corpus_sh = _shingles(
        d.where(F.col("source") != EVAL_SOURCE), CONTAM_NGRAM
    )
    hits = corpus_sh.withColumn("h", F.xxhash64("shingle")).join(
        F.broadcast(eval_hashes), "h"
    )
    verified = hits.join(eval_sh, "shingle", "left_semi")
    return (
        verified.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .orderBy("doc_id", "n_shared")
    )


WINNOW_K = 3  # words per gram
WINNOW_W = 4  # winnow window: guarantees a fingerprint in every W grams
WINNOW_MIN_SHARED = 2


def winnow_fingerprints(docs: DataFrame, k: int = WINNOW_K, w: int = WINNOW_W) -> DataFrame:
    """(doc_id, h) — winnowed document fingerprints (Schleimer/
    Wilkerson/Aiken 2003, the MOSS algorithm): hash every positional
    word k-gram, slide a window of ``w`` consecutive hashes, keep each
    window's rightmost minimum. The winnowing guarantee: every run of
    ``w`` grams contributes ≥1 fingerprint, so any shared passage of
    ≥ k+w-1 words is detected, while density stays ~2/(w+1) of the
    grams — the local-sampling property plain modulo-sampling lacks.

    Engine-portable determinism: the hash is the first 8 hex digits
    of md5 (identical integer in Spark's ``conv`` and DuckDB's hex
    cast), so the DuckDB oracle states the SAME selection. Shape: one
    positional explode, a w-way window explode (bounded fan-out), one
    (doc, window) argmin aggregate — all map-side-combinable; nothing
    quadratic until doc PAIRS are formed from matching fingerprints."""
    grams = (
        spread(docs)
        .select("doc_id", tokens("text").alias("w"))
        .select("doc_id", F.posexplode(word_grams("w", k)).alias("pos", "gram"))
        .select("doc_id", "pos", md5_prefix_hash("gram").alias("h"))
    )
    # each gram belongs to the w windows ending at pos..pos+w-1;
    # window j's fingerprint = its min-h gram, rightmost on ties
    windows = grams.select(
        "doc_id",
        "h",
        "pos",
        F.explode(F.expr(f"sequence(pos - {w - 1}, pos)")).alias("j"),
    ).where(F.col("j") >= 0)
    chosen = (
        windows.groupBy("doc_id", "j")
        .agg(F.min(F.struct(F.col("h"), (-F.col("pos")).alias("np"))).alias("m"))
        .select("doc_id", F.col("m.h").alias("h"))
        .distinct()
    )
    return chosen


def d18_winnow_overlap(spark, sf_dir):
    """Passage-overlap report via winnowing fingerprints — the MOSS
    shape every plagiarism / boilerplate-contamination scan uses:
    docs sharing ≥ WINNOW_MIN_SHARED winnowed fingerprints, with the
    shared count as evidence. Complements d02 (full-set Jaccard) and
    d14 (containment): winnowing detects LOCAL shared passages at
    ~2/(w+1) of the gram volume. The fingerprint join is the
    candidate hazard (hot boilerplate fingerprints fan out) — at
    corpus scale the same ``_cap_buckets`` ceiling applies; the
    declared form is the exact tier and the oracle."""
    d = load_table(spark, sf_dir, "documents")
    fp = winnow_fingerprints(d)
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= WINNOW_MIN_SHARED)
        .orderBy("doc_a", "doc_b", "n_shared")
    )


DUP_SPAN_L = 4  # words per exact-match gram (detects shared runs >= L)


def d20_dup_span_fraction(spark, sf_dir):
    """Per-document duplicated-span fraction — the exact-substring
    dedup signal of Lee et al. 2022 ("Deduplicating Training Data
    Makes Language Models Better"): the fraction of a document's token
    positions covered by some L-word gram that also occurs in ANOTHER
    document. Training pipelines threshold this to drop or trim docs
    whose content is mostly copied boilerplate/mirrored text, a
    different axis from whole-doc similarity (d02/d03): a 5% overlap
    of a long doc scores low here even when the shared passage is an
    exact copy, and a short fully-mirrored doc scores 1.0.

    Scale shape — NO document-pair join anywhere (contrast d18, whose
    output is pairs): gram rows reduce to (hash, min_doc, max_doc) by
    one map-side-combinable aggregate; "duplicated across distinct
    docs" is min != max, so hot boilerplate grams cost one aggregate
    row instead of a quadratic pair fan-out. Coverage is a bounded
    ×L position explode of the *duplicated* grams only, then a
    distinct + per-doc count. Everything is gram-key or doc-key
    partitioned; nothing collects.

    The gram hash is the first 8 hex digits of md5 (identical integer
    in Spark's ``conv`` and DuckDB's hex cast — the d18 idiom), so
    the oracle states the same selection."""
    return dup_span_report(load_table(spark, sf_dir, "documents"))


def _span_gram_table(
    d: DataFrame, L: int, keep: list[str]
) -> tuple[DataFrame, DataFrame]:
    """``(base, grams)`` for the exact-substring tiers (d20, d30):
    ``base`` = (doc_id, *keep, n_tokens, w), materialized because the
    grams AND the per-doc report read it; ``grams`` = (doc_id, pos, h),
    the :func:`md5_prefix_hash` of every L-word gram at its 1-based token
    position. Documents shorter than L words have no grams."""
    base = materialize(
        spread(d)
        .select("doc_id", *keep, tokens("text").alias("w"))
        .select("doc_id", *keep, F.size("w").alias("n_tokens"), "w")
    )
    grams = (
        base.where(F.col("n_tokens") >= L)
        .select("doc_id", F.posexplode(word_grams("w", L)).alias("p0", "gram"))
        .select(
            "doc_id",
            (F.col("p0") + 1).alias("pos"),
            md5_prefix_hash("gram").alias("h"),
        )
    )
    return base, grams


def dup_span_report(d: DataFrame, L: int = DUP_SPAN_L) -> DataFrame:
    """(doc_id, n_tokens, dup_tokens, dup_frac) — see
    :func:`d20_dup_span_fraction`."""
    base, grams = _span_gram_table(d, L, [])
    dup_h = (
        grams.groupBy("h")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
        .where(F.col("lo") != F.col("hi"))
        .select("h")
    )
    covered = (
        grams.join(dup_h, "h", "left_semi")
        .select(
            "doc_id",
            F.explode(F.expr(f"sequence(pos, pos + {L - 1})")).alias("p"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("dup_tokens"))
    )
    return (
        base.select("doc_id", F.col("n_tokens").cast("bigint").alias("n_tokens"))
        .join(covered, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("dup_tokens", F.lit(0)).cast("bigint").alias("dup_tokens"),
            F.round(
                F.coalesce("dup_tokens", F.lit(0)) / F.col("n_tokens"), 4
            ).alias("dup_frac"),
        )
        .orderBy("doc_id", "n_tokens", "dup_tokens", "dup_frac")
    )


def d08_source_overlap(spark, sf_dir):
    """Cross-source duplication matrix — "which input sources copy
    from each other": for every source pair, the number of distinct
    bag-of-words fingerprints present in both. The dataset-curation
    report that decides which crawls/dumps to drop wholesale before
    any per-document dedup runs.

    Scale shape: documents reduce to 16-byte (fingerprint, source)
    pairs *before* any join (one partial-agg shuffle); the pair
    matrix is a self-equi-join on fingerprint — and near-duplicate
    sources produce at most |sources|² output rows, so nothing
    re-explodes. Text never enters a shuffle."""
    d = load_table(spark, sf_dir, "documents")
    fps = d.select("source", bag_fingerprint("text").alias("fp")).distinct()
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(b, "fp")
        .where(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .orderBy("src_a", "src_b", "n_shared")
    )


def chunk_dedup_report(docs: DataFrame) -> DataFrame:
    """Chunk-level dedup (keep-first) over content-defined chunks —
    the modern dedup granularity: boilerplate shared *inside*
    otherwise-distinct pages is removed without dropping the pages.

    Semantics: chunks come from :func:`functions.text.cdc_chunks`;
    for each fingerprint the occurrence with the smallest
    (doc_id, chunk_id) is kept, every other occurrence is a duplicate.
    Output is the per-document retention report (chunk and char
    counts + kept fraction).

    Scale shape: the keep-first rule is an *aggregate* — per-fp
    ``min(struct(doc_id, chunk_id))`` — not a row_number window: it
    combines map-side and never sorts a fingerprint's occurrence list,
    so a hot boilerplate chunk (millions of occurrences of one fp) is
    a partial-agg cell, not a fat sorted window partition. One shuffle
    on the 32-hex fp, one on doc_id for the report; text itself never
    shuffles (the kernel emitted fingerprints only)."""
    # materialize the kernel output once: both the keep-first aggregate
    # and the report join consume it — without this the Arrow chunking
    # kernel runs twice over the corpus (PLANS.md showed 2 arrowPy).
    chunks = materialize(cdc_chunks(docs))
    first = chunks.groupBy("fp").agg(
        F.min(F.struct("doc_id", "chunk_id")).alias("first")
    )
    marked = chunks.join(first, "fp").withColumn(
        "kept",
        (F.col("doc_id") == F.col("first.doc_id"))
        & (F.col("chunk_id") == F.col("first.chunk_id")),
    )
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.col("kept").cast("long")).alias("n_kept"),
        F.sum("n_chars").alias("chars_total"),
        F.sum(F.when(F.col("kept"), F.col("n_chars")).otherwise(0)).alias(
            "chars_kept"
        ),
        F.round(
            F.sum(F.when(F.col("kept"), F.col("n_chars")).otherwise(0))
            / F.sum("n_chars"),
            4,
        ).alias("kept_frac"),
    )


def d10_chunk_dedup(spark, sf_dir):
    d = spread(load_table(spark, sf_dir, "documents"))
    return chunk_dedup_report(d).orderBy(
        "doc_id", "n_chunks", "n_kept", "chars_total", "chars_kept", "kept_frac"
    )


def dedup_savings_report(docs: DataFrame) -> DataFrame:
    """End-to-end dedup *apply* summary — after all the pair/cluster
    reports (d02/d03/d06), this is the step a pipeline actually ships:
    keep each near-dup cluster's min-doc_id survivor (plus every
    unclustered doc) and report, per source, how many documents and
    characters the dedup saves. The budget table a 100 TB curation run
    puts in front of "should we pay for near-dedup on this crawl".

    Semantics: clusters are the transitive closure of the exact-
    Jaccard edge set (the oracled d02/d06 semantics, so this stays
    fully DuckDB-checkable); survivor = cluster_id = min doc_id.

    Scale shape: cluster membership is |clustered docs| rows — tiny
    vs the corpus — so the left join is a broadcast; the report is
    one map-side-combinable aggregate on source. Text never shuffles
    (the CC runs on the fingerprint-derived edge set)."""
    cc = connected_components(exact_jaccard_pairs(docs))
    kept = F.col("cluster_id").isNull() | (
        F.col("doc_id") == F.col("cluster_id")
    )
    return (
        docs.select("doc_id", "source", "n_chars")
        .join(F.broadcast(cc), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(kept.cast("long")).alias("n_kept"),
            F.sum("n_chars").alias("chars_total"),
            F.sum(F.when(kept, F.col("n_chars")).otherwise(0)).alias(
                "chars_kept"
            ),
            F.round(
                F.sum(F.when(kept, F.col("n_chars")).otherwise(0))
                / F.sum("n_chars"),
                4,
            ).alias("kept_frac"),
        )
    )


def d11_dedup_savings(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return dedup_savings_report(d).orderBy(
        "source", "n_docs", "n_kept", "chars_total", "chars_kept", "kept_frac"
    )


CONTAINMENT_THRESHOLD = 0.8


def containment_pairs(
    docs: DataFrame, threshold: float = CONTAINMENT_THRESHOLD, n: int = 3
) -> DataFrame:
    """Asymmetric containment near-dup: |A∩B| / |A| >= threshold means
    document A is (mostly) CONTAINED in B — the snippet/quote/
    boilerplate-embedding case symmetric Jaccard misses by design (a
    short doc inside a long one has tiny Jaccard but containment ~1).
    Output is directional: (inner, outer, containment).

    Same shuffle pattern as the exact Jaccard oracle (shingle
    equi-join, group by pair) — and the same hot-shingle hazard, with
    the same LSH remedy at scale; this exact form is the oracle tier."""
    sh = _shingles(docs, n)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("inner"), F.col("b.doc_id").alias("outer")
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    na = sizes.select(F.col("doc_id").alias("inner"), F.col("n_sh").alias("na"))
    raw = F.col("i") / F.col("na")
    return (
        inter.join(na, "inner")
        .where(raw >= threshold)
        .select("inner", "outer", F.round(raw, 2).alias("containment"))
    )


def d14_containment(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return containment_pairs(d).orderBy("inner", "outer", "containment")


SPARSE_COSINE_THRESHOLD = 0.6


def _tfidf_weights(docs: DataFrame) -> DataFrame:
    """(doc_id, word, wt) — the sparse TF-IDF vector table shared by
    the exact weighted tier (d15) and the SRP-banded scale tier
    (d16): tf = word count in doc, idf = ln((N+1)/(df+1)) over the
    given doc universe. One word-explode scan + two aggregates; the
    idf model is broadcast-sized."""
    tf = term_freqs(
        docs.select("doc_id", F.explode(tokens("text")).alias("word"))
    )
    return tf.join(F.broadcast(smoothed_idf(tf, docs)), "word").select(
        "doc_id", "word", (F.col("tf") * F.col("idf")).alias("wt")
    )


def sparse_cosine_pairs(
    docs: DataFrame, threshold: float = SPARSE_COSINE_THRESHOLD
) -> DataFrame:
    """TF-IDF-weighted sparse cosine near-dup — the lexical-weighted
    tier between bag-fingerprint dedup (d01: exact sets) and n-gram
    Jaccard (d02: unweighted overlap): each document becomes a sparse
    TF-IDF vector over its words; pairs sharing vocabulary score by
    cosine over the shared words only. Rare shared words dominate the
    score — two docs sharing boilerplate stopwords stay apart, two
    sharing a rare phrase pull together.

    Scale shape: the join is word-keyed (one shuffle of (doc, word,
    weight)); a hot word fans out quadratically — the same hazard and
    the same LSH remedy as d02/d03; this exact form is the oracle
    tier. Norms are per-doc aggregates; the pair dot product sums
    only SHARED words. Scores stabilize with the engine's
    round(round(·,6)+1e-9, 4) discipline before the threshold and
    output."""
    w = materialize(_tfidf_weights(docs))
    # consumed by norms AND both join sides
    a, b = w.alias("a"), w.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.word") == F.col("b.word"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.sum(F.col("a.wt") * F.col("b.wt")).alias("dot"))
    )
    return _cosine_scores(dots, w, threshold)


def _cosine_scores(dots: DataFrame, w: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b, sim) from pair dot products ``(doc_a, doc_b,
    dot)`` over the weight table ``w``: sim = dot / (na·nb) with the
    engine's round(round(·,6)+1e-9, 4) stabilization, kept at or above
    ``threshold``."""
    norms = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("wt") * F.col("wt"))).alias("nrm")
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nb"))
    sim = nudge(F.col("dot") / (F.col("na") * F.col("nb")), 4)
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", sim.alias("sim"))
        .where(F.col("sim") >= threshold)
    )


def d15_sparse_cosine(spark, sf_dir):
    """Declared on a fixed doc slice: the synthetic corpus has a
    31-word vocabulary, so EVERY word is a hot key and the exact
    word-join is Σdf² ≈ 450M pairs at sf0.1 (measured 109 s) — the
    all-common-terms worst case. The exact tier exists as the oracle
    of the SRP-banded scale tier (d16, the d02→d03 relationship);
    the slice bounds it the way q62 bounds its array suite."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    return sparse_cosine_pairs(d).orderBy("doc_a", "doc_b", "sim")


# ------------------------------------------- weighted SRP scale tier

# Declared d16 settings: 1536 projection bits in 96 bands of 16 —
# P(collide in ≥1 band) at cosine sim s with p = 1 - arccos(s)/π:
# ~0.99 at s=0.85, ~0.31 at s=0.6, ~0.02 at s=0.3. The declared
# threshold is the HIGH-confidence setting (0.85): on a corpus where
# the median inter-doc TF-IDF cosine is ~0.61 (this synthetic
# 31-word-vocabulary corpus — everything lexically similar to
# everything), enumerating pairs at 0.6 is Θ(n²) in the OUTPUT, which
# no candidate scheme can beat; production near-dup on such a corpus
# raises the bar to "almost the same document".
WEIGHTED_NEARDUP_THRESHOLD = 0.85
SRP_LONGS = 32      # 64-bit blocks of projection bits (32 -> 2048);
# margins below scale with the estimator's σ, so halving the bits from
# the original 4096 keeps recall (measured 60397 vs 60416 pairs at
# sf0.1, -0.03%) while cutting the signature pass and every popcount
# in half (12.7 -> 10.3 s end-to-end).
SRP_BAND_BITS = 16  # bits per band at the declared threshold
SRP_BANDS = 96      # bands (over the first 96·band_bits bits)
SRP_TARGET_RECALL = 0.985


def _srp_pick_band_bits(
    threshold: float,
    n_bands: int = SRP_BANDS,
    target_recall: float = SRP_TARGET_RECALL,
) -> int:
    """Widest band (most selective) whose theoretical recall at the
    requested cosine threshold still meets the target: per-bit match
    probability p = 1 - arccos(t)/π, per-band collision p^b, recall
    1-(1-p^b)^n_bands. Candidates must not straddle 64-bit blocks, so
    b ranges over divisors of 64. This is what lets ONE operator
    serve both the high-confidence declared setting (0.85 → 16-bit
    bands) and the oracle tier's own threshold (0.6 → 8-bit bands)
    without the caller hand-tuning LSH internals."""
    p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    for b in (16, 8, 4, 2, 1):
        if 1.0 - (1.0 - p**b) ** n_bands >= target_recall:
            return b
    return 1
# Prefilter slack below the verify threshold: 3σ of the SRP angle
# estimator at the stage's bit length, DERIVED rather than hardcoded.
# hamming ~ Binomial(nbits, q) with q = arccos(t)/π; the delta method
# on est = cos(π·h/nbits) gives σ_est = π·sqrt(q(1-q))·sin(πq)/√nbits
# (0.010 at 4096 bits near t=0.85 — matches measurement). A margin
# tied to σ means changing SRP_LONGS cannot silently change the
# prefilter's miss rate.
SRP_MARGIN_SIGMAS = 3.0
# Coarse stage of the progressive prefilter: 16 longs (1024 bits),
# same 3σ rule (≈0.06 at the declared threshold). It runs BEFORE the
# pair distinct, where rows are still ~1.7x duplicated — cheap enough
# there that it shrinks the distinct itself.
SRP_COARSE_LONGS = 16


def _srp_margin(threshold: float, n_longs: int) -> float:
    """3σ of the SRP cosine estimator at ``n_longs``·64 bits."""
    q = math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    sigma = math.pi * math.sqrt(q * (1 - q)) * math.sin(math.pi * q)
    return SRP_MARGIN_SIGMAS * sigma / math.sqrt(64 * n_longs)


def _per_doc_vectors(w: DataFrame) -> DataFrame:
    """(doc_id, words array<string>, wts array<double>) — each
    document's sparse TF-IDF vector as one row (collect_list rides
    the shuffle the TF aggregate already paid). Two index-aligned
    PRIMITIVE arrays rather than one array<struct>: both
    ``collect_list`` buffers append per input row of the same
    aggregate, so words[i] pairs with wts[i], and primitive lists
    cross the Arrow boundary as flat buffers — the array<struct> form
    materialized one Python dict per (doc, word) entry inside the
    signature kernel (r10 optimization: guide §4.2, move the
    boundary's cost off per-entry objects)."""
    return w.groupBy("doc_id").agg(
        F.collect_list("word").alias("words"),
        F.collect_list("wt").alias("wts"),
    )


def _srp_signatures(per_doc: DataFrame, n_longs: int = SRP_LONGS) -> DataFrame:
    """(doc_id, sig array<long>) — signed-random-projection signature
    of each document's sparse TF-IDF vector (Charikar'02 SimHash for
    cosine, the weighted twin of d04's unweighted bit votes):
    projection bit i has sign hash_i(word) ∈ {±1}, the document's bit
    is sign(Σ_w wt·hash_i(w)), bits pack little-endian into 64-bit
    blocks (bit i = block i//64, position i%64).

    Computed as ONE vectorized ``pandas_udf`` over the per-doc vector
    table (one Arrow batch covers thousands of docs — the per-group
    applyInPandas form costed ~2 ms of pandas scaffolding per doc).
    Word→±1 signs derive from sha256(word‖block) — deterministic
    everywhere, memoized per executor, and a corpus-vocabulary-sized
    model however large the corpus. Bit sums are rounded to 6 dp
    before the sign so float summation-order jitter cannot flip a
    boundary bit between runs."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    nbits = 64 * n_longs

    @pandas_udf("array<long>")
    def _sig(words: pd.Series, wts: pd.Series) -> pd.Series:
        # Per-Arrow-batch memo of word -> ±1 sign vector. Each entry
        # is nbits doubles (~16 KiB at the default 2048 bits), so the memo is
        # CAPPED: an open-vocabulary batch (100k+ distinct words)
        # must not accumulate gigabytes of sign vectors — past the
        # cap we recompute, trading CPU for bounded executor memory.
        cache: dict = {}

        def signs_for(word):
            got = cache.get(word)
            if got is None:
                import hashlib

                raw = b"".join(
                    hashlib.sha256(f"{word}#{blk}".encode()).digest()
                    for blk in range((nbits + 255) // 256)
                )
                bits = np.unpackbits(np.frombuffer(raw, dtype=np.uint8))[:nbits]
                got = bits.astype(np.float64) * 2.0 - 1.0
                if len(cache) < 8192:
                    cache[word] = got
            return got

        def pack(sums: np.ndarray) -> np.ndarray:
            bits = (np.round(sums, 6) > 0).astype(np.uint8)
            return np.packbits(bits, bitorder="little").view("<i8")

        if len(words) == 0:  # Arrow may deliver a zero-row batch
            return pd.Series([], dtype=object)
        # Flatten the batch ONCE into primitive arrays (r10: the
        # array<struct> form paid one Python dict per (doc, word)
        # entry, twice — vocab pass + matrix fill). doc boundaries
        # ride along as lengths; pd.factorize yields vocab codes in
        # FIRST-APPEARANCE order over the same flattened stream the
        # old per-entry loop walked, so the dense matrices below are
        # cell-for-cell identical to the previous construction and the
        # packed signatures stay bit-exact (pinned by
        # test_srp_signature_recompute).
        lens = np.fromiter((len(x) for x in words), dtype=np.int64, count=len(words))
        flat_w = np.concatenate([np.asarray(x, dtype=object) for x in words])
        flat_t = np.concatenate([np.asarray(x, dtype=np.float64) for x in wts])
        doc_idx = np.repeat(np.arange(len(words)), lens)
        codes, uniq = pd.factorize(flat_w)

        # Batch-dense fast path: when this batch's vocabulary is
        # small (vocab-bounded corpora — stopword-heavy tokenization,
        # hashed features), gather each word's sign row once and
        # compute EVERY signature in one BLAS matmul
        # (docs×vocab @ vocab×nbits) instead of ~40 per-doc numpy
        # axpy calls per document — measured 4x on the signature
        # stage. The cap bounds the dense buffers (1024×nbits doubles
        # = 16 MiB at 2048 bits); an open-vocabulary batch falls back to the
        # per-doc accumulation below, which never materializes a
        # vocab-wide matrix.
        if len(uniq) <= 1024:
            gmat = np.empty((len(uniq), nbits), dtype=np.float64)
            for i, word in enumerate(uniq):
                gmat[i] = signs_for(word)
            wmat = np.zeros((len(words), len(uniq)), dtype=np.float64)
            # (doc, word) is unique coming out of the TF aggregate,
            # but accumulate (add.at) rather than assign so a repeated
            # entry would still sum exactly as the old += loop did
            np.add.at(wmat, (doc_idx, codes), flat_t)
            return pd.Series([pack(s) for s in wmat @ gmat])

        out = []
        pos = 0
        for n in lens:
            sums = np.zeros(nbits, dtype=np.float64)
            for j in range(pos, pos + n):
                sums += flat_t[j] * signs_for(flat_w[j])
            pos += n
            out.append(pack(sums))
        return pd.Series(out)

    # WIDE columns (s0..s{n-1}), not an array: the prefilter joins
    # this table against millions of candidate pairs and evaluates 64
    # xor/popcount terms per pair — flat longs stay in whole-stage
    # codegen and copy as fixed-width fields, where array element
    # access on join output rows measured ~5x slower (the same
    # wide-vs-narrow lesson minhash_signatures_wide documents).
    return per_doc.select("doc_id", _sig("words", "wts").alias("sig")).select(
        "doc_id",
        *[F.element_at("sig", i + 1).alias(f"s{i}") for i in range(n_longs)],
    )


def _srp_hamming(n_longs: int = SRP_LONGS) -> F.Column:
    """Codegen'd popcount distance between wide signatures joined as
    ``a_s*`` / ``b_s*``: ``n_longs`` unrolled bit_count(xor) terms
    summed left-to-right — flat-column arithmetic, never an
    interpreted higher-order aggregate over arrays."""
    ham = F.bit_count(F.col("a_s0").bitwiseXOR(F.col("b_s0")))
    for i in range(1, n_longs):
        ham = ham + F.bit_count(F.col(f"a_s{i}").bitwiseXOR(F.col(f"b_s{i}")))
    return ham


def _verify_weighted_cosine(
    w: DataFrame, candidates: DataFrame, threshold: float
) -> DataFrame:
    """Exact TF-IDF cosine over CANDIDATE pairs only — the weighted
    twin of :func:`_verify_jaccard`, sharing d15's stabilization
    (round(round(·,6)+1e-9,4)) so the surviving pairs carry exactly
    the sims the exact tier reports. The word join runs over
    candidate documents only (semi-join), never the corpus — and by
    the time it runs, the Hamming prefilter has already shrunk the
    candidate stream to near the true-pair set, so the pair-keyed
    aggregate is output-bounded."""
    cand_ids = candidates.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    ).distinct()
    wc = w.join(cand_ids, "doc_id", "left_semi")
    dots = (
        candidates.join(
            wc.select(F.col("doc_id").alias("doc_a"), "word", F.col("wt").alias("wa")),
            "doc_a",
        )
        .join(
            wc.select(F.col("doc_id").alias("doc_b"), "word", F.col("wt").alias("wb")),
            ["doc_b", "word"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    return _cosine_scores(dots, wc, threshold)


def weighted_srp_pairs(
    docs: DataFrame,
    threshold: float = WEIGHTED_NEARDUP_THRESHOLD,
    n_longs: int = SRP_LONGS,
    n_bands: int = SRP_BANDS,
    band_bits: int | None = None,
    bucket_cap: int = LSH_BUCKET_CAP,
    prefilter_margin: float | None = None,
    coarse_longs: int = SRP_COARSE_LONGS,
    coarse_margin: float | None = None,
    return_candidates: bool = False,
    sig_join: str = "broadcast",
) -> DataFrame:
    """TF-IDF-weighted near-dup pairs at scale — the banded tier d15
    is the oracle of (the d02→d03 relationship, closed for the
    weighted metric): exact-dup pre-collapse, SRP band buckets with
    the same hot-bucket ceiling as d03, then exact weighted-cosine
    verification of candidates only. Output is a subset of
    ``sparse_cosine_pairs(docs, threshold)`` with identical sims —
    minus LSH misses (P(miss) ≤ ~1% at the declared threshold) and
    capped-bucket casualties.

    Scale shape: no word-keyed pair join ever forms (the Σdf² blowup
    that makes the exact tier quadratic on hot vocabularies) — the
    corpus-wide passes are one TF-IDF scan and one Arrow signature
    pass; the self-join runs on (band, value) buckets with fan-out
    bounded by cap² per bucket; exact math touches candidates only.

    IDF is computed over the FULL doc multiset (dups included) before
    the pre-collapse, so verified sims equal the exact tier's on the
    same universe; dup members share their representative's weights
    by text identity, so the member re-expansion is score-exact.

    Between banding and exact verify sits a PROGRESSIVE HAMMING
    PREFILTER: a coarse 1024-bit popcount (margin ~3σ of that
    estimator) runs on the raw band-collision stream before the pair
    distinct, then the full ``n_longs*64``-bit estimate (2048 bits at
    the default SRP_LONGS=32; one Arrow pass — banding reads only the
    1536-bit prefix) re-screens survivors at
    ``threshold - prefilter_margin`` (3σ at the full width). Each stage's
    own miss rate is ≲0.1% — but together they remove the
    mid-similarity candidate mass that band collisions cannot (on a
    corpus whose sim range is tight, bands of any width stay
    collision-happy at sim ≈ 0.6–0.7; the per-pair codegen'd popcount
    is what makes verify candidate-bounded rather than
    collision-bounded)."""
    if band_bits is None:
        band_bits = _srp_pick_band_bits(threshold, n_bands)
    if prefilter_margin is None:
        prefilter_margin = _srp_margin(threshold, n_longs)
    if coarse_margin is None:
        coarse_margin = _srp_margin(threshold, coarse_longs)
    docs = docs.select("doc_id", "text")
    membership = _exact_dup_membership(docs)
    w_full = _tfidf_weights(docs)
    w_rep = materialize(_representatives(w_full, membership))
    sig = materialize(_srp_signatures(_per_doc_vectors(w_rep), n_longs))
    band_sig = _int_band_table(
        sig, [f"s{i}" for i in range(n_longs)], n_bands, band_bits, ["doc_id"]
    )

    def _sig_sides(k: int):
        sa = sig.select(
            F.col("doc_id").alias("doc_a"),
            *[F.col(f"s{i}").alias(f"a_s{i}") for i in range(k)],
        )
        sb = sig.select(
            F.col("doc_id").alias("doc_b"),
            *[F.col(f"s{i}").alias(f"b_s{i}") for i in range(k)],
        )
        return sa, sb

    # PROGRESSIVE prefilter: a coarse 1024-bit popcount runs on the
    # raw (still-duplicated) band-collision stream BEFORE the pair
    # distinct — its 128-byte rows make re-popcounting the ~1.7x
    # collision multiplicity cheaper than a distinct over the full
    # candidate mass (measured 5.4 s -> 3.8 s for band+distinct and
    # 7.4 s -> 3.5 s for the prefilter overall at sf0.1). The full
    # n_longs*64-bit (default 2048) estimate then runs only on coarse
    # survivors. The
    # coarse margin is ~3σ of the 1024-bit estimator (σ_cos ≈ 0.021
    # near the declared threshold) so its own true-pair loss is ~0.1%
    # — inside the band-miss budget the operator already declares.
    # Signatures enter via broadcast lookups on both stages: the pair
    # stream never shuffles with signature payloads attached
    # (measured 5x). The sig table is |docs| x ~0.5 KiB —
    # broadcastable far beyond this corpus; when it outgrows that,
    # ``sig_join="shuffle"`` switches both attach stages to a
    # shuffle-hash equi-join on the doc key (pair stream and sig table
    # co-shuffle; the signature payload rides each pair row exactly
    # once) — the IMPLEMENTED 100 TB fallback, equality-pinned against
    # the broadcast path in tests/test_r10_ops.py.
    if sig_join not in ("broadcast", "shuffle"):
        raise ValueError(f"sig_join must be broadcast|shuffle: {sig_join}")

    def _attach(pairs: DataFrame, side: DataFrame, key: str) -> DataFrame:
        if sig_join == "broadcast":
            return pairs.join(F.broadcast(side), key)
        return pairs.join(side.hint("shuffle_hash"), key)

    sa_c, sb_c = _sig_sides(coarse_longs)
    nb_coarse = 64 * coarse_longs
    coarse_cand = (
        _band_pairs(band_sig, "doc_id", bucket_cap)
        .transform(lambda df: _attach(df, sa_c, "doc_a"))
        .transform(lambda df: _attach(df, sb_c, "doc_b"))
        .where(
            F.cos(F.lit(math.pi / nb_coarse) * _srp_hamming(coarse_longs))
            >= threshold - coarse_margin
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    nbits = 64 * n_longs
    sa, sb = _sig_sides(n_longs)
    # small (prefilter survivors); the verify consumes it twice (id set
    # + pair join) — without this the band self-join + prefilter
    # execute once per consumer
    candidates = materialize(
        _attach(_attach(coarse_cand, sa, "doc_a"), sb, "doc_b")
        .where(
            F.cos(F.lit(math.pi / nbits) * _srp_hamming(n_longs))
            >= threshold - prefilter_margin
        )
        .select("doc_a", "doc_b")
    )
    if return_candidates:
        # test hook (the s02/s17/d03 soundness pattern): expose the
        # post-prefilter rep-level candidate set so the entire verify
        # + expansion stage can be SQL-oracled over the export
        return candidates
    rep_pairs = _verify_weighted_cosine(w_rep, candidates, threshold)
    return _expand_rep_pairs(rep_pairs, membership, "sim", threshold)


def d16_weighted_neardup(spark, sf_dir):
    """The scale tier of weighted near-dup, declared on the FULL
    corpus (no slice — the banded path is what removes d15's need
    for one). Hash-dependent candidate set → rows-only driver check;
    recall-vs-exact and subset/score-exactness are pinned in
    tests/test_dedup_scale.py."""
    d = load_table(spark, sf_dir, "documents")
    return weighted_srp_pairs(d).orderBy("doc_a", "doc_b", "sim")


def d19_dedup_keep_best(spark, sf_dir):
    """The dedup FINISHER — pairs (d02) → clusters (d06) → the kept
    dataset: every document maps to its near-dup cluster (singletons
    are their own cluster), and each cluster keeps its longest member
    (n_chars, min-id tiebreak — "keep the most complete version", the
    standard near-dup survivorship rule). Reports per-cluster
    (cluster_id, keep_id, n_docs, chars_total) — the table a curation
    pipeline joins back to materialize the deduped corpus.

    Scale shape: the cluster map is node-cardinality (min-label
    propagation, O(diameter) rounds); survivor selection is one
    aggregate on the cluster key with an argmax-by-struct — no sort,
    no window, map-side combinable."""
    d = load_table(spark, sf_dir, "documents")
    cc = connected_components(exact_jaccard_pairs(d))
    full = (
        d.select("doc_id", "n_chars")
        .join(cc, "doc_id", "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        )
    )
    return (
        full.groupBy("cluster_id")
        .agg(
            F.min(
                F.struct((-F.col("n_chars")).alias("neg"), F.col("doc_id"))
            ).alias("best"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("chars_total"),
        )
        .select(
            "cluster_id",
            F.col("best.doc_id").alias("keep_id"),
            "n_docs",
            "chars_total",
        )
        .orderBy("cluster_id", "keep_id", "n_docs", "chars_total")
    )


def fuzzy_match_report(customers: DataFrame) -> DataFrame:
    """Entity-resolution blocking + edit-distance matching — the
    fuzzy twin of the exact/fingerprint dedup tiers: candidate pairs
    come from a *blocking key* (market segment + name-prefix-all-
    but-2 + length), then ``levenshtein`` scores each candidate and
    pairs within distance 1/2 count as probable duplicate entities.
    Reported per segment.

    Scale shape: the all-pairs explosion is bounded by the block — the
    join is an equi-join on the blocking key (one shuffle), never a
    cartesian of the table; candidate count is Σ|block|², THE knob a
    production ER pipeline tunes (the first cut keyed on
    (segment, length) alone put ~3k names per block = 22M levenshtein
    calls at sf0.1; the prefix bound caps blocks at the last-2-chars
    fan-out). Like all blocking, recall is bounded by the key: pairs
    differing outside the last two characters never meet — the
    documented trade every ER pipeline makes. levenshtein is a
    codegen'd JVM kernel; nothing leaves the executors but the
    per-segment counts."""
    prefix = F.expr("substring(c_name, 1, greatest(length(c_name) - 2, 0))")
    a = customers.select(
        F.col("c_custkey").alias("ka"),
        F.col("c_name").alias("na"),
        "c_mktsegment",
        prefix.alias("pfx"),
        F.length("c_name").alias("len"),
    )
    b = customers.select(
        F.col("c_custkey").alias("kb"),
        F.col("c_name").alias("nb"),
        "c_mktsegment",
        prefix.alias("pfx"),
        F.length("c_name").alias("len"),
    )
    pairs = a.join(b, ["c_mktsegment", "pfx", "len"]).where(
        F.col("ka") < F.col("kb")
    )
    lev = F.levenshtein("na", "nb")
    return pairs.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.count_if(lev <= 1).alias("n_matches"),
        F.count_if(lev <= 2).alias("n_near"),
    )


def d12_fuzzy_match(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    return fuzzy_match_report(c).orderBy(
        "c_mktsegment", "n_pairs", "n_matches", "n_near"
    )


def _d10_sql() -> str:
    return f"""
        WITH {CDC_CHUNKS_SQL_CTE},
        rn AS (SELECT doc_id, chunk_id, n_chars, fp,
                      ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id, chunk_id) r
               FROM chunks)
        SELECT doc_id, COUNT(*) n_chunks,
               CAST(SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) n_kept,
               CAST(SUM(n_chars) AS BIGINT) chars_total,
               CAST(SUM(CASE WHEN r = 1 THEN n_chars ELSE 0 END) AS BIGINT) chars_kept,
               ROUND(SUM(CASE WHEN r = 1 THEN n_chars ELSE 0 END) * 1.0 / SUM(n_chars), 4) kept_frac
        FROM rn GROUP BY doc_id
        ORDER BY doc_id, n_chunks, n_kept, chars_total, chars_kept, kept_frac"""


ORACLE_SQL: dict[str, str] = {
    "d10_chunk_dedup": _d10_sql(),
    "d01_dedup_bag": """
        WITH f AS (SELECT md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) fp, doc_id FROM documents)
        SELECT fp, COUNT(*) c, MIN(doc_id) keep FROM f GROUP BY fp HAVING COUNT(*) > 1 ORDER BY fp, c, keep""",
    "d02_ngram_jaccard": f"""
        WITH w AS (SELECT doc_id, string_split(lower(text), ' ') words FROM documents),
        shd AS (SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') s
                FROM w, unnest(range(1, greatest(len(words) - 2, 1) + 1)) t(i)),
        ns AS (SELECT doc_id, COUNT(*) n FROM shd GROUP BY doc_id),
        inter AS (SELECT a.doc_id doc_a, b.doc_id doc_b, COUNT(*) i
                  FROM shd a JOIN shd b ON a.s = b.s AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
        SELECT doc_a, doc_b, ROUND(i * 1.0 / (x.n + y.n - i), 2) j
        FROM inter JOIN ns x ON doc_a = x.doc_id JOIN ns y ON doc_b = y.doc_id
        WHERE i * 1.0 / (x.n + y.n - i) >= {JACCARD_THRESHOLD}
        ORDER BY doc_a, doc_b, j""",
    "d07_contamination": f"""
        WITH w AS (SELECT doc_id, source, string_split(lower(text), ' ') words FROM documents),
        shd AS (SELECT DISTINCT doc_id, source, array_to_string(words[i:i+{CONTAM_NGRAM - 1}], ' ') s
                FROM w, unnest(range(1, greatest(len(words) - {CONTAM_NGRAM - 1}, 1) + 1)) t(i)),
        ev AS (SELECT DISTINCT s FROM shd WHERE source = '{EVAL_SOURCE}')
        SELECT c.doc_id, COUNT(*) n_shared
        FROM shd c JOIN ev ON c.s = ev.s
        WHERE c.source <> '{EVAL_SOURCE}'
        GROUP BY c.doc_id ORDER BY doc_id, n_shared""",
    "d08_source_overlap": """
        WITH fps AS (SELECT DISTINCT source,
                md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) fp
            FROM documents)
        SELECT a.source src_a, b.source src_b, COUNT(*) n_shared
        FROM fps a JOIN fps b ON a.fp = b.fp AND a.source < b.source
        GROUP BY a.source, b.source
        ORDER BY src_a, src_b, n_shared""",
    # d03/d04 are hash-function-dependent (xxhash64): rows-only check
    # by the driver; recall verified against d02 in tests/test_dedup.py.
    "d06_dup_clusters": f"""
        WITH RECURSIVE w AS (SELECT doc_id, string_split(lower(text), ' ') words FROM documents),
        shd AS (SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') s
                FROM w, unnest(range(1, greatest(len(words) - 2, 1) + 1)) t(i)),
        ns AS (SELECT doc_id, COUNT(*) n FROM shd GROUP BY doc_id),
        inter AS (SELECT a.doc_id doc_a, b.doc_id doc_b, COUNT(*) i
                  FROM shd a JOIN shd b ON a.s = b.s AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
        pairs AS (SELECT doc_a, doc_b
                  FROM inter JOIN ns x ON doc_a = x.doc_id JOIN ns y ON doc_b = y.doc_id
                  WHERE i * 1.0 / (x.n + y.n - i) >= {JACCARD_THRESHOLD}),
        edges AS (SELECT doc_a a, doc_b b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
        reach(n, m) AS (SELECT a, a FROM edges
                        UNION
                        SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a)
        SELECT n doc_id, MIN(m) cluster_id FROM reach GROUP BY n
        ORDER BY doc_id, cluster_id""",
    "d11_dedup_savings": f"""
        WITH RECURSIVE w AS (SELECT doc_id, string_split(lower(text), ' ') words FROM documents),
        shd AS (SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') s
                FROM w, unnest(range(1, greatest(len(words) - 2, 1) + 1)) t(i)),
        ns AS (SELECT doc_id, COUNT(*) n FROM shd GROUP BY doc_id),
        inter AS (SELECT a.doc_id doc_a, b.doc_id doc_b, COUNT(*) i
                  FROM shd a JOIN shd b ON a.s = b.s AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
        pairs AS (SELECT doc_a, doc_b
                  FROM inter JOIN ns x ON doc_a = x.doc_id JOIN ns y ON doc_b = y.doc_id
                  WHERE i * 1.0 / (x.n + y.n - i) >= {JACCARD_THRESHOLD}),
        edges AS (SELECT doc_a a, doc_b b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
        reach(n, m) AS (SELECT a, a FROM edges
                        UNION
                        SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a),
        cc AS (SELECT n doc_id, MIN(m) cluster_id FROM reach GROUP BY n)
        SELECT d.source, COUNT(*) n_docs,
               CAST(SUM(CASE WHEN cc.cluster_id IS NULL OR d.doc_id = cc.cluster_id
                             THEN 1 ELSE 0 END) AS BIGINT) n_kept,
               CAST(SUM(d.n_chars) AS BIGINT) chars_total,
               CAST(SUM(CASE WHEN cc.cluster_id IS NULL OR d.doc_id = cc.cluster_id
                             THEN d.n_chars ELSE 0 END) AS BIGINT) chars_kept,
               ROUND(SUM(CASE WHEN cc.cluster_id IS NULL OR d.doc_id = cc.cluster_id
                              THEN d.n_chars ELSE 0 END) * 1.0 / SUM(d.n_chars), 4) kept_frac
        FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id
        GROUP BY d.source
        ORDER BY d.source, n_docs, n_kept, chars_total, chars_kept, kept_frac""",
}

QUERIES = {
    "d01_dedup_bag": d01_dedup_bag,
    "d02_ngram_jaccard": d02_ngram_jaccard,
    "d03_minhash_lsh": d03_minhash_lsh,
    "d04_simhash": d04_simhash,
    "d06_dup_clusters": d06_dup_clusters,
    "d07_contamination": d07_contamination,
    "d17_hashed_decontam": d17_hashed_decontam,
    "d18_winnow_overlap": d18_winnow_overlap,
    "d19_dedup_keep_best": d19_dedup_keep_best,
    "d20_dup_span_fraction": d20_dup_span_fraction,
    "d08_source_overlap": d08_source_overlap,
    "d10_chunk_dedup": d10_chunk_dedup,
    "d11_dedup_savings": d11_dedup_savings,
    "d12_fuzzy_match": d12_fuzzy_match,
    "d14_containment": d14_containment,
    "d15_sparse_cosine": d15_sparse_cosine,
    "d16_weighted_neardup": d16_weighted_neardup,
}

ORACLE_SQL["d17_hashed_decontam"] = ORACLE_SQL["d07_contamination"]

ORACLE_SQL["d19_dedup_keep_best"] = f"""
        WITH cl AS (SELECT * FROM ({ORACLE_SQL["d06_dup_clusters"]})),
        everydoc AS (SELECT d.doc_id, d.n_chars,
                            COALESCE(cl.cluster_id, d.doc_id) cluster_id
                     FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
        ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
                                                ORDER BY n_chars DESC, doc_id) rn
                   FROM everydoc),
        agg AS (SELECT cluster_id, COUNT(*) n_docs, CAST(SUM(n_chars) AS BIGINT) chars_total
                FROM everydoc GROUP BY cluster_id)
        SELECT a.cluster_id, r.doc_id keep_id, a.n_docs, a.chars_total
        FROM agg a JOIN ranked r ON a.cluster_id = r.cluster_id AND r.rn = 1
        ORDER BY a.cluster_id, keep_id, n_docs, chars_total"""

ORACLE_SQL["d18_winnow_overlap"] = f"""
        WITH wds AS (SELECT doc_id, string_split(lower(text), ' ') w FROM documents
                     WHERE text IS NOT NULL),
        g AS (SELECT doc_id, i pos,
                     CAST(concat('0x', substr(md5(array_to_string(w[i:i+{WINNOW_K - 1}], ' ')), 1, 8)) AS BIGINT) h
              FROM wds, unnest(range(1, greatest(len(w) - {WINNOW_K - 1}, 1) + 1)) t(i)),
        win AS (SELECT doc_id, h, pos, j
                FROM g, unnest(range(pos - {WINNOW_W - 1}, pos + 1)) s(j)
                WHERE j >= 1),
        ch AS (SELECT doc_id, j, h,
                      ROW_NUMBER() OVER (PARTITION BY doc_id, j ORDER BY h, pos DESC) rn
               FROM win),
        fp AS (SELECT DISTINCT doc_id, h FROM ch WHERE rn = 1)
        SELECT a.doc_id doc_a, b.doc_id doc_b, COUNT(*) n_shared
        FROM fp a JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING COUNT(*) >= {WINNOW_MIN_SHARED}
        ORDER BY doc_a, doc_b, n_shared"""

ORACLE_SQL["d20_dup_span_fraction"] = f"""
        WITH wds AS (SELECT doc_id, string_split(lower(text), ' ') w FROM documents),
        base AS (SELECT doc_id, len(w) n_tokens, w FROM wds),
        g AS (SELECT doc_id, i pos,
                     CAST(concat('0x', substr(md5(array_to_string(w[i:i+{DUP_SPAN_L - 1}], ' ')), 1, 8)) AS BIGINT) h
              FROM base, unnest(range(1, len(w) - {DUP_SPAN_L - 1} + 1)) t(i)
              WHERE n_tokens >= {DUP_SPAN_L}),
        duph AS (SELECT h FROM g GROUP BY h HAVING MIN(doc_id) <> MAX(doc_id)),
        cov AS (SELECT DISTINCT doc_id, p
                FROM g JOIN duph USING (h), unnest(range(pos, pos + {DUP_SPAN_L})) c(p)),
        cnt AS (SELECT doc_id, COUNT(*) dup_tokens FROM cov GROUP BY doc_id)
        SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) n_tokens,
               CAST(COALESCE(c.dup_tokens, 0) AS BIGINT) dup_tokens,
               ROUND(COALESCE(c.dup_tokens, 0) * 1.0 / b.n_tokens, 4) dup_frac
        FROM base b LEFT JOIN cnt c USING (doc_id)
        ORDER BY doc_id, n_tokens, dup_tokens, dup_frac"""

ORACLE_SQL["d15_sparse_cosine"] = f"""
        WITH docs AS (SELECT * FROM documents WHERE doc_id < 500),
        words AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) word
                       FROM docs),
        tf AS (SELECT doc_id, word, COUNT(*) tf FROM words GROUP BY doc_id, word),
        nd AS (SELECT COUNT(DISTINCT doc_id) n FROM docs),
        dfreq AS (SELECT word, COUNT(*) df FROM tf GROUP BY word),
        idf AS (SELECT word, ln((n + 1) * 1.0 / (df + 1)) idf FROM dfreq CROSS JOIN nd),
        w AS (SELECT t.doc_id, t.word, t.tf * i.idf wt FROM tf t JOIN idf i USING (word)),
        norms AS (SELECT doc_id, sqrt(SUM(wt * wt)) nrm FROM w GROUP BY doc_id),
        dots AS (SELECT a.doc_id doc_a, b.doc_id doc_b, SUM(a.wt * b.wt) dot
                 FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
        scored AS (SELECT doc_a, doc_b,
                          ROUND(ROUND(dot / (x.nrm * y.nrm), 6) + 1e-9, 4) sim
                   FROM dots JOIN norms x ON doc_a = x.doc_id
                             JOIN norms y ON doc_b = y.doc_id)
        SELECT doc_a, doc_b, sim FROM scored
        WHERE sim >= {SPARSE_COSINE_THRESHOLD}
        ORDER BY doc_a, doc_b, sim"""

ORACLE_SQL["d14_containment"] = f"""
        WITH w AS (SELECT doc_id, string_split(lower(text), ' ') words FROM documents),
        shd AS (SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') s
                FROM w, unnest(range(1, greatest(len(words) - 2, 1) + 1)) t(i)),
        ns AS (SELECT doc_id, COUNT(*) n FROM shd GROUP BY doc_id),
        inter AS (SELECT a.doc_id "inner", b.doc_id "outer", COUNT(*) i
                  FROM shd a JOIN shd b ON a.s = b.s AND a.doc_id <> b.doc_id
                  GROUP BY 1, 2)
        SELECT it."inner", it."outer", ROUND(it.i * 1.0 / ns.n, 2) containment
        FROM inter it JOIN ns ON it."inner" = ns.doc_id
        WHERE it.i * 1.0 / ns.n >= {CONTAINMENT_THRESHOLD}
        ORDER BY it."inner", it."outer", containment"""

ORACLE_SQL["d12_fuzzy_match"] = """
        WITH c AS (SELECT c_custkey, c_name, c_mktsegment,
                          substring(c_name, 1, greatest(length(c_name) - 2, 0)) pfx,
                          length(c_name) len
                   FROM customer),
        p AS (SELECT a.c_mktsegment, levenshtein(a.c_name, b.c_name) lev
              FROM c a JOIN c b
                ON a.c_mktsegment = b.c_mktsegment AND a.pfx = b.pfx
               AND a.len = b.len AND a.c_custkey < b.c_custkey)
        SELECT c_mktsegment, COUNT(*) n_pairs,
               CAST(COUNT(*) FILTER (lev <= 1) AS BIGINT) n_matches,
               CAST(COUNT(*) FILTER (lev <= 2) AS BIGINT) n_near
        FROM p GROUP BY c_mktsegment
        ORDER BY c_mktsegment, n_pairs, n_matches, n_near"""


def split_leakage(docs: DataFrame, embeddings: DataFrame, threshold=None) -> DataFrame:
    """Cross-split near-duplicate leakage audit — the check a
    train/val/test assignment needs AFTER t15's exact-dup-safe
    hashing: t15 closes the exact/bag-duplicate channel by hashing
    the split coin from the bag-of-words fingerprint, but two
    near-duplicates (paraphrases, templated variants) still land in
    different splits and leak evaluation answers into training. For
    every unordered split pair this reports how many near-dup pairs
    (embedding cosine >= the d05 threshold) cross it, how many
    distinct documents are involved, and the worst similarity.

    Scale shape: the split labels are per-row projections off the
    documents scan (no shuffle); the pair side is d05's tiled exact
    kernel (or, at 100 TB, any banded tier — d16/SemDeDup — feeding
    the identical join); the two label joins shuffle only the
    near-dup PAIRS (bounded by duplicate density, not corpus size).
    Each pair explodes into its two endpoints so pair count, distinct
    docs and worst sim come from ONE aggregate over ONE execution of
    the pair kernel — a two-consumer frame would re-derive the whole
    kernel subtree per consumer."""
    from crossfire_spark.functions.similarity import (
        NEARDUP_THRESHOLD,
        embed_neardup_pairs,
    )
    thr = NEARDUP_THRESHOLD if threshold is None else threshold
    splits = split_assign(docs).select("doc_id", "split")
    pairs = embed_neardup_pairs(embeddings, thr)
    sa = splits.select(F.col("doc_id").alias("va"), F.col("split").alias("sa"))
    sb = splits.select(F.col("doc_id").alias("vb"), F.col("split").alias("sb"))
    endpoints = (
        pairs.join(sa, "va")
        .join(sb, "vb")
        .where(F.col("sa") != F.col("sb"))
        .select(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
            "va",
            "vb",
            "sim",
            F.explode(F.array("va", "vb")).alias("d"),
        )
    )
    return endpoints.groupBy("split_a", "split_b").agg(
        F.countDistinct(F.struct("va", "vb")).alias("n_pairs"),
        F.countDistinct("d").alias("n_docs"),
        F.max("sim").alias("max_sim"),
    ).select("split_a", "split_b", "n_pairs", "n_docs", "max_sim")


def d21_split_leakage(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    em = load_table(spark, sf_dir, "embeddings")
    return split_leakage(docs, em).orderBy(
        "split_a", "split_b", "n_pairs", "n_docs", "max_sim"
    )


QUERIES["d21_split_leakage"] = d21_split_leakage


def _split_leakage_oracle() -> str:
    from crossfire_spark.functions.similarity import NEARDUP_THRESHOLD

    return f"""
        WITH fp AS (SELECT doc_id,
                md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) fp
            FROM documents),
        f AS (SELECT doc_id,
                     CASE WHEN {_u16_sql('fp')} < {SPLIT_TRAIN_LIM} THEN 'train'
                          WHEN {_u16_sql('fp')} < {SPLIT_VAL_LIM} THEN 'val'
                          ELSE 'test' END split
              FROM fp),
        p AS (SELECT a.vec_id va, b.vec_id vb,
                     ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) sim
              FROM embeddings a, embeddings b
              WHERE a.vec_id < b.vec_id
                AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                    >= {NEARDUP_THRESHOLD}),
        j AS (SELECT LEAST(fa.split, fb.split) split_a,
                     GREATEST(fa.split, fb.split) split_b, va, vb, sim
              FROM p JOIN f fa ON fa.doc_id = p.va
                     JOIN f fb ON fb.doc_id = p.vb
              WHERE fa.split != fb.split),
        nd AS (SELECT split_a, split_b, COUNT(DISTINCT d) n_docs FROM (
                   SELECT split_a, split_b, va d FROM j
                   UNION ALL SELECT split_a, split_b, vb FROM j)
               GROUP BY split_a, split_b),
        rep AS (SELECT split_a, split_b, COUNT(*) n_pairs, MAX(sim) max_sim
                FROM j GROUP BY split_a, split_b)
        SELECT r.split_a, r.split_b, r.n_pairs, n.n_docs, r.max_sim
        FROM rep r JOIN nd n USING (split_a, split_b)
        ORDER BY split_a, split_b, n_pairs, n_docs, max_sim"""


ORACLE_SQL["d21_split_leakage"] = _split_leakage_oracle()


def anchor_positives(docs: DataFrame) -> DataFrame:
    """Contrastive positive-pair generation — the complement of s19's
    hard negatives: within each near-duplicate cluster (d06's
    transitive closure of the exact-Jaccard pair set), every ordered
    (anchor < positive) pair, labeled with the cluster id. Near-dup
    mining is the standard source of positives for embedding-model
    training when no supervised pairs exist (paraphrases and templated
    variants of one underlying text).

    Scale shape: one cluster-keyed co-partitioned self-join — the
    quadratic term is bounded by the largest near-dup cluster (small
    and shallow by construction), exactly the SemDeDup premise; the
    cluster labels come from the checkpointed O(diameter) min-label
    propagation, never a driver-side pass."""
    cl = connected_components(exact_jaccard_pairs(docs))
    a = cl.select("cluster_id", F.col("doc_id").alias("anchor"))
    b = cl.select("cluster_id", F.col("doc_id").alias("positive"))
    return (
        a.join(b, "cluster_id")
        .where(F.col("anchor") < F.col("positive"))
        .select("cluster_id", "anchor", "positive")
    )


def d22_anchor_positives(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return anchor_positives(docs).orderBy("cluster_id", "anchor", "positive")


QUERIES["d22_anchor_positives"] = d22_anchor_positives

ORACLE_SQL["d22_anchor_positives"] = f"""
        WITH cl AS (SELECT * FROM ({ORACLE_SQL["d06_dup_clusters"].replace("ORDER BY doc_id, cluster_id", "")})),
        p AS (SELECT a.cluster_id, a.doc_id anchor, b.doc_id positive
              FROM cl a JOIN cl b ON a.cluster_id = b.cluster_id
              WHERE a.doc_id < b.doc_id)
        SELECT cluster_id, anchor, positive FROM p
        ORDER BY cluster_id, anchor, positive"""


SPAN_GRAM = 8          # seed k-gram length (tokens)
SPAN_GRAM_CAP = 200    # hot-phrase bucket ceiling (whole bucket drops)
SPAN_MIN_RUN = 3       # min consecutive matching k-grams to report
                       # (min span = SPAN_MIN_RUN + SPAN_GRAM - 1 tokens)


def _span_grams(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, g): md5 of each 8-token gram at token position
    ``pos`` (1-based). Docs shorter than the gram yield no rows."""
    return (
        spread(docs)
        .select("doc_id", tokens("text").alias("w"))
        .where(F.size("w") >= SPAN_GRAM)
        .select("doc_id", F.posexplode(word_grams("w", SPAN_GRAM)).alias("p0", "gram"))
        .select("doc_id", (F.col("p0") + 1).alias("pos"), F.md5("gram").alias("g"))
    )


def longest_shared_spans(
    docs: DataFrame,
    cap: int = SPAN_GRAM_CAP,
    min_run: int = SPAN_MIN_RUN,
) -> DataFrame:
    """Exact longest shared token span per document pair — the
    measurement tier of exact-substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better":
    suffix-array substring dedup; here the k-gram seed + diagonal-run
    equivalent, exact for spans ≥ ``SPAN_GRAM`` tokens): two documents
    share a t-token substring iff they share t-7 consecutive 8-gram
    seeds on one alignment diagonal (pos_a - pos_b constant), so the
    longest shared span = longest same-diagonal run + 7.

    Unlike the winnowed estimate (d18) or the span-coverage fraction
    (d20), the output is EXACT and integer-only (md5 seeds, position
    arithmetic, run islands) — no seeded hashing, no floats — so the
    whole operator has a full DuckDB oracle including the
    deterministic hot-bucket drop.

    Scale shape: one tokenize pass; the only corpus shuffle keys on
    the 8-gram hash; hot-phrase buckets over ``cap`` drop WHOLE (the
    deterministic `_cap_buckets` rule — boilerplate phrases carry no
    span information worth cap² join fan-out); the diagonal-run
    windows partition on (pair, diag) — high-cardinality keys. At
    100 TB the md5 string would shrink to its 8-byte prefix for the
    shuffle; the string form is kept here for engine-exact parity."""
    g = _cap_buckets(_span_grams(docs), ["g"], cap)
    a = g.select(
        F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa"), "g"
    )
    b = g.select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb"), "g"
    )
    hits = (
        a.join(b, "g")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b", "pa", (F.col("pa") - F.col("pb")).alias("diag")
        )
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    runs = (
        hits.withColumn("grp", F.col("pa") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(F.count(F.lit(1)).alias("run_len"))
    )
    return (
        runs.groupBy("doc_a", "doc_b")
        .agg(
            (F.max("run_len") + F.lit(SPAN_GRAM - 1)).alias("longest_span"),
            F.sum("run_len").alias("n_shared_grams"),
        )
        .where(F.col("longest_span") >= min_run + SPAN_GRAM - 1)
    )


def d23_longest_shared_span(spark, sf_dir):
    """Exact longest shared token span over the documents corpus
    (capped gram buckets; spans below the report floor dropped)."""
    d = load_table(spark, sf_dir, "documents")
    return longest_shared_spans(d.select("doc_id", "text")).orderBy(
        "doc_a", "doc_b", "longest_span", "n_shared_grams"
    )


QUERIES["d23_longest_shared_span"] = d23_longest_shared_span

ORACLE_SQL["d23_longest_shared_span"] = f"""
        WITH t AS (SELECT doc_id, string_split(lower(text), ' ') w
                   FROM documents),
        g0 AS (SELECT doc_id, i pos,
                      md5(array_to_string(w[i:i+{SPAN_GRAM - 1}], ' ')) g
               FROM t, unnest(range(1, len(w) - {SPAN_GRAM - 2})) u(i)
               WHERE len(w) >= {SPAN_GRAM}),
        keep AS (SELECT g FROM g0 GROUP BY g
                 HAVING COUNT(*) <= {SPAN_GRAM_CAP}),
        gg AS (SELECT g0.* FROM g0 JOIN keep USING (g)),
        hits AS (SELECT a.doc_id doc_a, b.doc_id doc_b, a.pos pa,
                        a.pos - b.pos diag
                 FROM gg a JOIN gg b ON a.g = b.g AND a.doc_id < b.doc_id),
        runs AS (SELECT doc_a, doc_b, diag,
                        pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag
                                                ORDER BY pa) grp
                 FROM hits),
        rl AS (SELECT doc_a, doc_b, COUNT(*) run_len
               FROM runs GROUP BY doc_a, doc_b, diag, grp)
        SELECT doc_a, doc_b,
               CAST(MAX(run_len) + {SPAN_GRAM - 1} AS BIGINT) longest_span,
               CAST(SUM(run_len) AS BIGINT) n_shared_grams
        FROM rl GROUP BY doc_a, doc_b
        HAVING MAX(run_len) + {SPAN_GRAM - 1} >= {SPAN_MIN_RUN + SPAN_GRAM - 1}
        ORDER BY doc_a, doc_b, longest_span, n_shared_grams"""


BLOOM_FPP = 0.01


def d24_bloom_decontam(spark, sf_dir):
    """The third tier of benchmark decontamination (d07 exact-strings
    → d17 8-byte hash set → d24 BLOOM bits): the eval shard's shingle
    set compresses to an actual Bloom filter (~10 bits/key at 1% fpp
    vs d17's 64 — the 100 TB memory shape d17's docstring promised),
    the corpus shingle stream prefilters against it map-side, and the
    tiny hit set exact-verifies with a semi-join on the real shingle
    text, so false positives drop out and the result is EXACT —
    identical output and DuckDB oracle as d07/d17.

    Spark shape: this build's SQL registry exposes no
    ``bloom_filter_agg``/``might_contain`` (probed, r7), so the
    filter is built DISTRIBUTED (r8, VERDICT r7 task 5): an Arrow
    kernel turns each eval shingle's (h1, h2) into its k
    Kirsch-Mitzenmacher bit indices (h1 + i·h2 in uint64, the same
    two-hash scheme the minhash derivation uses), and the m-bit
    array is assembled as a ``groupBy(word_idx).agg(bit_or(word))``
    over 64-bit words — map-side partial OR, then only m/64 longs
    (~1.2 bits/key of driver traffic, the filter itself) are
    collected and broadcast into the probe UDF's closure. Nothing
    proportional to eval-shingle CARDINALITY ever reaches the
    driver. The probe is k vectorized gathers per Arrow batch;
    corpus shingles never shuffle until the per-doc count agg; the
    verify shuffle carries hits only."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    d = load_table(spark, sf_dir, "documents")
    # bloom build AND exact verify read it; its size rides the same job
    eval_sh, size = materialize(
        _shingles(d.where(F.col("source") == EVAL_SOURCE), CONTAM_NGRAM)
        .select("shingle")
        .distinct(),
        {"n": F.count(F.lit(1))},
    )
    corpus_sh = _shingles(
        d.where(F.col("source") != EVAL_SOURCE), CONTAM_NGRAM
    ).select("doc_id", "shingle")
    empty = corpus_sh.limit(0).select("doc_id").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shared")
    )
    n = size["n"]
    if n == 0:
        return empty
    m = max(64, int(np.ceil(-n * np.log(BLOOM_FPP) / (np.log(2) ** 2))))
    k = max(1, round(m / n * np.log(2)))

    @pandas_udf("array<long>")
    def _bloom_idx(h1: pd.Series, h2: pd.Series) -> pd.Series:
        a = h1.to_numpy(dtype=np.int64).view(np.uint64)
        b = h2.to_numpy(dtype=np.int64).view(np.uint64)
        cols = [
            ((a + np.uint64(i) * b) % np.uint64(m)).astype(np.int64)
            for i in range(k)
        ]
        return pd.Series(list(np.stack(cols, axis=1)))

    word_rows = (
        eval_sh.select(
            F.xxhash64("shingle").alias("h1"),
            F.xxhash64("shingle", F.lit(1)).alias("h2"),
        )
        .select(F.explode(_bloom_idx("h1", "h2")).alias("idx"))
        .groupBy(F.shiftright("idx", 6).alias("w"))
        .agg(
            F.bit_or(
                F.expr("shiftleft(1L, CAST(idx % 64 AS INT))")
            ).alias("word")
        )
        .collect()
    )
    n_words = (m + 63) // 64
    words = np.zeros(n_words, dtype=np.uint64)
    for r in word_rows:  # signed long -> the same 64 bits, unsigned
        words[r.w] = np.uint64(r.word & 0xFFFFFFFFFFFFFFFF)
    bits = np.unpackbits(
        words.view(np.uint8), bitorder="little"
    ).astype(bool)

    @pandas_udf("boolean")
    def _probe(h1: pd.Series, h2: pd.Series) -> pd.Series:
        a = h1.to_numpy(dtype=np.int64).view(np.uint64)
        b = h2.to_numpy(dtype=np.int64).view(np.uint64)
        ok = np.ones(len(a), dtype=bool)
        for i in range(k):
            ok &= bits[((a + np.uint64(i) * b) % np.uint64(m)).astype(np.int64)]
        return pd.Series(ok)

    hits = corpus_sh.withColumn(
        "h1", F.xxhash64("shingle")
    ).withColumn("h2", F.xxhash64("shingle", F.lit(1))).where(
        _probe("h1", "h2")
    )
    verified = hits.join(eval_sh, "shingle", "left_semi")
    return (
        verified.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .orderBy("doc_id", "n_shared")
    )


QUERIES["d24_bloom_decontam"] = d24_bloom_decontam
ORACLE_SQL["d24_bloom_decontam"] = ORACLE_SQL["d07_contamination"]


def dedup_recall_audit(
    exact_pairs: DataFrame, approx_pairs: DataFrame
) -> DataFrame:
    """Recall of an approximate near-dup tier against its exact
    oracle, bucketed by true similarity — the dedup-family twin of
    s16's ANN recall audit (the ship/no-ship measurement before a
    banded tier replaces the exact tier in production: LSH recall is
    similarity-dependent, so a single number hides exactly the
    0.5–0.6 band where banding misses most). Per 0.1-wide Jaccard
    bucket plus an ALL row: exact pair count, pairs the approximate
    tier found, recall. The join is pair-set-sized; nothing
    corpus-shaped."""
    e = exact_pairs.select("doc_a", "doc_b", "j")
    a = approx_pairs.select("doc_a", "doc_b").withColumn("hit", F.lit(1))
    joined = e.join(a, ["doc_a", "doc_b"], "left")
    bucket = F.concat(
        (F.least(F.floor(F.round("j", 6) * 10), F.lit(9)) / 10).cast(
            "decimal(2,1)"
        ).cast("string"),
        F.lit("-"),
        ((F.least(F.floor(F.round("j", 6) * 10), F.lit(9)) + 1) / 10).cast(
            "decimal(2,1)"
        ).cast("string"),
    )
    by_bucket = joined.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.coalesce(F.sum("hit"), F.lit(0)).alias("n_found"),
    )
    total = joined.agg(
        F.lit("ALL").alias("bucket"),
        F.count(F.lit(1)).alias("n_exact"),
        F.coalesce(F.sum("hit"), F.lit(0)).alias("n_found"),
    )
    return by_bucket.unionByName(total).select(
        "bucket",
        "n_exact",
        "n_found",
        # empty corpus -> the ALL row has n_exact = 0: recall is
        # undefined, not a crash (ANSI division guard)
        F.when(
            F.col("n_exact") > 0,
            stab_signed(F.col("n_found") / F.col("n_exact"), 6),
        ).alias("recall"),
    )


def d25_dedup_recall_audit(spark, sf_dir):
    """MinHash-LSH (d03) recall vs exact Jaccard (d02's kernel) per
    similarity bucket. Deterministic given the seeded signatures but
    not SQL-expressible (the oracle would restate the whole minhash
    build) → rows-only driver check, like s16; the found⊆exact
    soundness, the high-band recall floor, and the audit arithmetic
    are pinned in tests."""
    d = load_table(spark, sf_dir, "documents")
    exact = materialize(exact_jaccard_pairs(d))
    approx = minhash_lsh_pairs(d)
    return dedup_recall_audit(exact, approx).orderBy(
        "bucket", "n_exact", "n_found", "recall"
    )


QUERIES["d25_dedup_recall_audit"] = d25_dedup_recall_audit


def d27_simhash_recall_audit(spark, sf_dir):
    """SimHash (d04, Hamming ≤ 3) recall vs exact Jaccard (d02's
    kernel) per similarity bucket — d25's mold applied to the SimHash
    tier, so a curation team can read d03-vs-d04 banding recall off
    the SAME exact truth before picking one (VERDICT r7 task 7).
    SimHash votes on a different statistic (word-set cosine) than the
    shingle Jaccard it is audited against, so sub-1.0 recall in mid
    buckets is the MEASUREMENT, not a defect; the 0.9–1.0 band floor
    is pinned in tests. Hash-dependent → rows-only driver check, like
    d25. Scale shape: both tiers are their declared banded/exact
    shapes; the audit join itself is pair-set-sized."""
    d = load_table(spark, sf_dir, "documents")
    exact = materialize(exact_jaccard_pairs(d))
    approx = simhash_pairs(d)
    return dedup_recall_audit(exact, approx).orderBy(
        "bucket", "n_exact", "n_found", "recall"
    )


QUERIES["d27_simhash_recall_audit"] = d27_simhash_recall_audit


def d28_srp_recall_audit(spark, sf_dir):
    """SRP-banded weighted near-dup (d16's tier) recall vs the exact
    TF-IDF sparse cosine (d15's kernel) per similarity bucket, on
    d15's declared doc_id < 500 slice (the exact tier is Σdf²-
    quadratic on this synthetic hot-vocabulary corpus — the audit
    pays the exact tier once, on a bounded slice, to certify the
    banded tier; same trade as d25). Exact pairs are enumerated from
    d15's 0.6 threshold so the sub-threshold buckets SHOW the banding
    falloff below d16's declared 0.85 operating point; the found ⊆
    exact soundness (d16 exact-verifies its candidates) and the
    0.9–1.0 recall floor are pinned in tests. Hash-dependent →
    rows-only driver check."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    exact = materialize(
        sparse_cosine_pairs(d)
        .select("doc_a", "doc_b", F.col("sim").alias("j"))
    )
    approx = weighted_srp_pairs(d)
    return dedup_recall_audit(exact, approx).orderBy(
        "bucket", "n_exact", "n_found", "recall"
    )


QUERIES["d28_srp_recall_audit"] = d28_srp_recall_audit


LSH_PLAN_FLOOR = 0.2  # loosest similarity the planner's pair pass keeps
LSH_PLAN_GRID = ((64, 2), (32, 4), (16, 8), (8, 16))  # b*r = MINHASH_K


def lsh_param_planner(
    docs: DataFrame,
    grid=LSH_PLAN_GRID,
    tau: float = JACCARD_THRESHOLD,
    floor: float = LSH_PLAN_FLOOR,
) -> DataFrame:
    """Banding-parameter PLANNER for the MinHash-LSH tier — the table
    a dedup team reads before picking (bands, rows): for every
    factorization of the 128-hash signature, the S-curve midpoint
    s* = (1/b)^(1/r) (Leskovec/Rajaraman/Ullman, MMDS §3.4.2) and —
    against the CORPUS'S OWN measured pair-similarity distribution,
    not a synthetic prior — the expected candidate volume, the
    expected recall on true (≥ τ) pairs, and the expected
    false-candidate load from sub-τ pairs. d25 certifies the shipped
    config after the fact; this is the a-priori sweep that chooses
    it (the shipped 32×4 should dominate its neighbors on
    recall-per-candidate — pinned in tests).

    Scale shape: ONE exact-Jaccard pair pass at the loose ``floor``
    (the d02 kernel — the planner's only corpus-sized work, the same
    price d25 pays), materialized; every grid config is then a
    conditional aggregate over that pair set (the d26 sweep
    discipline: one extra hash agg per config, never another pair
    pass). Pairs below ``floor`` are ignored by construction — their
    collision probability at any plotted config is ≤
    1-(1-floor^2)^64 and they only DEFLATE exp_cands; declared, not
    hidden. Fully oracled: the d02 pair CTE plus identical
    POWER-arithmetic tiers, double-round stabilized."""
    pairs = materialize(exact_jaccard_pairs(docs, threshold=floor))

    outs = []
    for b, r in grid:
        p_cand = 1.0 - F.pow(
            F.lit(1.0) - F.pow(F.col("j"), F.lit(float(r))), F.lit(float(b))
        )
        is_true = F.col("j") >= tau
        outs.append(
            pairs.agg(
                F.lit(b).cast("int").alias("bands"),
                F.lit(r).cast("int").alias("rows_per_band"),
                stab(
                    F.pow(F.lit(1.0 / b), F.lit(1.0 / r)) + F.lit(0.0)
                ).alias("s_star"),
                F.count(F.lit(1)).cast("long").alias("n_pairs_floor"),
                F.sum(is_true.cast("long")).cast("long").alias("n_true"),
                stab(F.sum(p_cand)).alias("exp_cands"),
                stab(
                    F.when(
                        F.sum(is_true.cast("long")) > 0,
                        F.sum(F.when(is_true, p_cand).otherwise(F.lit(0.0)))
                        / F.sum(is_true.cast("long")),
                    ).otherwise(F.lit(0.0))
                ).alias("recall_tau"),
                stab(
                    F.sum(F.when(~is_true, p_cand).otherwise(F.lit(0.0)))
                ).alias("exp_fp"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def d29_lsh_param_planner(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return lsh_param_planner(d).orderBy("bands", "rows_per_band")


QUERIES["d29_lsh_param_planner"] = d29_lsh_param_planner


def _d29_oracle() -> str:
    tiers = []
    for b, r in LSH_PLAN_GRID:
        tiers.append(f"""
        SELECT CAST({b} AS INT) bands, CAST({r} AS INT) rows_per_band,
               ROUND(ROUND(POWER(1.0 / {b}, 1.0 / {r}) + 0.0, 9) + 1e-12, 6)
                   + 0.0 s_star,
               CAST(COUNT(*) AS BIGINT) n_pairs_floor,
               CAST(SUM(CASE WHEN j >= {JACCARD_THRESHOLD} THEN 1 ELSE 0 END)
                    AS BIGINT) n_true,
               ROUND(ROUND(SUM(1.0 - POWER(1.0 - POWER(j, {float(r)}),
                                           {float(b)})), 9) + 1e-12, 6)
                   + 0.0 exp_cands,
               ROUND(ROUND(CASE
                   WHEN SUM(CASE WHEN j >= {JACCARD_THRESHOLD} THEN 1 ELSE 0 END) > 0
                   THEN SUM(CASE WHEN j >= {JACCARD_THRESHOLD}
                            THEN 1.0 - POWER(1.0 - POWER(j, {float(r)}), {float(b)})
                            ELSE 0.0 END)
                        / SUM(CASE WHEN j >= {JACCARD_THRESHOLD} THEN 1 ELSE 0 END)
                   ELSE 0.0 END, 9) + 1e-12, 6) + 0.0 recall_tau,
               ROUND(ROUND(SUM(CASE WHEN j < {JACCARD_THRESHOLD}
                           THEN 1.0 - POWER(1.0 - POWER(j, {float(r)}), {float(b)})
                           ELSE 0.0 END), 9) + 1e-12, 6) + 0.0 exp_fp
        FROM p""")
    body = "\n        UNION ALL\n".join(tiers)
    return f"""
        WITH w AS (SELECT doc_id, string_split(lower(text), ' ') words FROM documents),
        shd AS (SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') s
                FROM w, unnest(range(1, greatest(len(words) - 2, 1) + 1)) t(i)),
        ns AS (SELECT doc_id, COUNT(*) n FROM shd GROUP BY doc_id),
        inter AS (SELECT a.doc_id doc_a, b.doc_id doc_b, COUNT(*) i
                  FROM shd a JOIN shd b ON a.s = b.s AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
        p AS (SELECT ROUND(i * 1.0 / (x.n + y.n - i), 2) j
              FROM inter JOIN ns x ON doc_a = x.doc_id
                         JOIN ns y ON doc_b = y.doc_id
              WHERE i * 1.0 / (x.n + y.n - i) >= {LSH_PLAN_FLOOR}),
        t AS ({body})
        SELECT * FROM t ORDER BY bands, rows_per_band"""


ORACLE_SQL["d29_lsh_param_planner"] = _d29_oracle()


# A doc is "gutted" when the plan removes a strict majority of its
# tokens: cut * GUTTED_MULT > n_tokens.  Single source of truth for
# both the engine predicate and the oracle SQL (ADVICE r8).
GUTTED_MULT = 2


def span_removal_plan(d: DataFrame, L: int = DUP_SPAN_L) -> DataFrame:
    """Exact-substring REMOVAL plan with keep-first survivor
    semantics — the APPLY step of Lee et al. 2022's substring dedup
    (d20 is the measurement: how much of each doc is duplicated; this
    is the decision: what a keep-one-copy pass would actually cut,
    rolled up per source). The declared rule: a token position is
    removed iff it is covered by an L-gram occurrence whose gram
    FIRST appears in a lower doc_id — the first document keeps its
    copy (all later cross-document copies of the passage go), and
    intra-document repetition is untouched (that axis is t11's).

    Scale shape — the d20 discipline, NO pair join: grams reduce to
    per-hash (min_doc) by one map-side-combinable aggregate; the
    removable set is a broadcast-friendly semi-join shape on the gram
    hash; coverage explodes L rows per removable occurrence and
    dedups positions inside the doc partition. Per-source rollup is an
    |sources|-row aggregate. Fully oracled (same md5-prefix gram hash
    both engines)."""
    base, grams = _span_gram_table(d, L, ["source"])
    first_doc = grams.groupBy("h").agg(F.min("doc_id").alias("keeper"))
    removed = (
        grams.join(first_doc, "h")
        .where(F.col("doc_id") > F.col("keeper"))
        .select(
            "doc_id",
            F.explode(F.expr(f"sequence(pos, pos + {L - 1})")).alias("p"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("cut"))
    )

    per_doc = (
        base.select("doc_id", "source", "n_tokens")
        .join(removed, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.coalesce("cut", F.lit(0)).alias("cut"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("tokens_total"),
            F.sum("cut").cast("long").alias("tokens_removed"),
            F.sum(
                (F.col("cut") * GUTTED_MULT > F.col("n_tokens"))
                .cast("long")
            ).cast("long").alias("n_docs_gutted"),
        )
        .select(
            "source",
            "n_docs",
            "tokens_total",
            "tokens_removed",
            stab(F.col("tokens_removed") / F.col("tokens_total")).alias(
                "removal_frac"
            ),
            "n_docs_gutted",
        )
    )


def d30_span_removal_plan(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return span_removal_plan(d).orderBy("source")


QUERIES["d30_span_removal_plan"] = d30_span_removal_plan

ORACLE_SQL["d30_span_removal_plan"] = f"""
        WITH wds AS (SELECT doc_id, source, string_split(lower(text), ' ') w
                     FROM documents),
        base AS (SELECT doc_id, source, len(w) n_tokens, w FROM wds),
        g AS (SELECT doc_id, i pos,
                     CAST(concat('0x', substr(md5(array_to_string(w[i:i+{DUP_SPAN_L - 1}], ' ')), 1, 8)) AS BIGINT) h
              FROM base, unnest(range(1, len(w) - {DUP_SPAN_L - 1} + 1)) t(i)
              WHERE n_tokens >= {DUP_SPAN_L}),
        fd AS (SELECT h, MIN(doc_id) keeper FROM g GROUP BY h),
        cov AS (SELECT DISTINCT g.doc_id, p
                FROM g JOIN fd USING (h),
                     unnest(range(pos, pos + {DUP_SPAN_L})) c(p)
                WHERE g.doc_id > fd.keeper),
        cut AS (SELECT doc_id, COUNT(*) cut FROM cov GROUP BY doc_id),
        pd AS (SELECT b.doc_id, b.source, b.n_tokens,
                      COALESCE(c.cut, 0) cut
               FROM base b LEFT JOIN cut c USING (doc_id))
        SELECT source, CAST(COUNT(*) AS BIGINT) n_docs,
               CAST(SUM(n_tokens) AS BIGINT) tokens_total,
               CAST(SUM(cut) AS BIGINT) tokens_removed,
               ROUND(ROUND(SUM(cut) / CAST(SUM(n_tokens) AS DOUBLE), 9)
                     + 1e-12, 6) + 0.0 removal_frac,
               CAST(SUM(CASE WHEN cut * {GUTTED_MULT} > n_tokens
                             THEN 1 ELSE 0 END)
                    AS BIGINT) n_docs_gutted
        FROM pd GROUP BY source ORDER BY source"""


# ------------------------------------------ cross-shard dup leakage
# t35 plans the shards and d01/d02/q25 find the duplicates; this is
# the audit that connects them: if the training pipeline dedups
# SHARD-LOCALLY (the cheap, embarrassingly-parallel default), how
# many duplicate documents slip through because their group straddles
# shards? Exact-duplicate groups (full-text md5) x the t35 hash-mod
# shard assignment -> per-shard leakage report. The decision output:
# leak_share ~ 0 means shard-local dedup is safe; anything else
# prices the global dedup pass.


def shard_leakage_audit(docs: DataFrame) -> DataFrame:
    """Per-shard cross-shard duplicate leakage (8 rows):

    - n_docs          docs hash-assigned to the shard (t35 hm tier)
    - n_dup_docs      docs in a full-text-md5 group with >= 2 members
    - n_leaked        dup docs whose group KEEPER (min doc_id) hashes
                      to a different shard — exactly the docs a
                      shard-local keep-min pass keeps but a global
                      pass would drop
    - groups_rooted   dup groups whose keeper lives in this shard
    - leak_share      n_leaked / n_dup_docs (NULL when no dup docs)

    Scale shape: one fingerprint aggregate (map-side combinable
    min/count per md5), one broadcast-sized join back on fp? No — the
    group table is corpus-sized at worst, so the join is fp-keyed
    shuffle-to-shuffle (both sides already hash-partitioned by the
    groupBy), then ONE 8-row aggregate. All counts BIGINT; one final
    division."""
    base = spread(docs).select(
        "doc_id",
        F.md5("text").alias("fp"),
        (
            F.pmod(
                _hash_u16(F.concat(F.lit(SHARD_SEED), F.col("doc_id").cast("string"))),
                F.lit(SHARD_COUNT),
            )
        ).cast("int").alias("shard"),
    )
    groups = base.groupBy("fp").agg(
        F.count(F.lit(1)).alias("gsize"),
        F.min("doc_id").alias("keeper"),
    )
    keeper_shard = base.select(
        F.col("doc_id").alias("keeper"), F.col("shard").alias("kshard")
    )
    tagged = (
        base.join(groups, "fp")
        .join(keeper_shard, "keeper")
        .select(
            "shard",
            (F.col("gsize") > 1).alias("is_dup"),
            ((F.col("gsize") > 1) & (F.col("shard") != F.col("kshard"))).alias(
                "is_leak"
            ),
            ((F.col("gsize") > 1) & (F.col("shard") == F.col("kshard"))
             & (F.col("doc_id") == F.col("keeper"))).alias("is_root"),
        )
    )

    return (
        tagged.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("is_dup").cast("long")).alias("n_dup_docs"),
            F.sum(F.col("is_leak").cast("long")).alias("n_leaked"),
            F.sum(F.col("is_root").cast("long")).alias("groups_rooted"),
        )
        .select(
            "shard",
            "n_docs",
            "n_dup_docs",
            "n_leaked",
            "groups_rooted",
            stab(
                F.when(
                    F.col("n_dup_docs") > 0,
                    F.col("n_leaked") / F.col("n_dup_docs"),
                )
            ).alias("leak_share"),
        )
    )


def d31_shard_leakage_audit(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return shard_leakage_audit(d).orderBy(
        "shard", "n_docs", "n_dup_docs", "n_leaked", "groups_rooted",
        "leak_share",
    )


QUERIES["d31_shard_leakage_audit"] = d31_shard_leakage_audit


def _d31_oracle() -> str:
    operand = f"CONCAT('{SHARD_SEED}', CAST(doc_id AS VARCHAR))"
    shard_expr = f"CAST({_u16_sql(operand)} % {SHARD_COUNT} AS INT)"
    return f"""
        WITH base AS (SELECT doc_id, md5(text) fp, {shard_expr} shard
                      FROM documents),
        groups AS (SELECT fp, COUNT(*) gsize, MIN(doc_id) keeper
                   FROM base GROUP BY fp),
        ks AS (SELECT doc_id keeper, shard kshard FROM base),
        tagged AS (
            SELECT b.shard,
                   g.gsize > 1 is_dup,
                   g.gsize > 1 AND b.shard != k.kshard is_leak,
                   g.gsize > 1 AND b.shard = k.kshard
                       AND b.doc_id = g.keeper is_root
            FROM base b JOIN groups g USING (fp)
                 JOIN ks k ON k.keeper = g.keeper)
        SELECT shard, CAST(COUNT(*) AS BIGINT) n_docs,
               CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
                   n_dup_docs,
               CAST(SUM(CASE WHEN is_leak THEN 1 ELSE 0 END) AS BIGINT)
                   n_leaked,
               CAST(SUM(CASE WHEN is_root THEN 1 ELSE 0 END) AS BIGINT)
                   groups_rooted,
               ROUND(ROUND(CASE WHEN SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) > 0
                                THEN CAST(SUM(CASE WHEN is_leak THEN 1 ELSE 0 END)
                                          AS DOUBLE)
                                     / SUM(CASE WHEN is_dup THEN 1 ELSE 0 END)
                           END, 9) + 1e-12, 6) + 0.0 leak_share
        FROM tagged GROUP BY shard
        ORDER BY shard, n_docs, n_dup_docs, n_leaked, groups_rooted,
                 leak_share"""


ORACLE_SQL["d31_shard_leakage_audit"] = _d31_oracle()


# ------------------------------------------- d32 template dedup
# d01 groups on the order-invariant bag fingerprint; the templated-
# page family it misses — machine-generated docs identical up to the
# NUMBERS substituted into a fixed frame ("order #123 shipped" /
# "order #456 shipped") — collapses under digit-masked whitespace
# normalization. The standard web-corpus template-collapse pass.


def template_clusters(docs: DataFrame) -> DataFrame:
    """Template dedup clusters: lower-case, mask digit runs to '#',
    collapse whitespace runs, trim, md5 the normalized frame, group.
    Emits clusters with >1 member: (cluster_rep = min doc_id,
    n_members, n_sources) — exact integer counts on a 16-byte key.

    Scale shape: the d01 discipline — the shuffle key is the fixed-
    width digest of the normalized text, never the text itself; one
    map-side-combinable shuffle, no pair explosion anywhere."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[0-9]+", "#"),
            "\\s+",
            " ",
        )
    )
    return (
        docs.select(
            "doc_id",
            "source",
            F.md5(F.encode(norm, "UTF-8")).alias("template"),
        )
        .groupBy("template")
        .agg(
            F.min("doc_id").alias("cluster_rep"),
            F.count(F.lit(1)).alias("n_members"),
            F.countDistinct("source").alias("n_sources"),
        )
        .where(F.col("n_members") > 1)
        .select("cluster_rep", "n_members", "n_sources")
    )


def d32_template_dedup(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return template_clusters(d).orderBy(
        "cluster_rep", "n_members", "n_sources"
    )


QUERIES["d32_template_dedup"] = d32_template_dedup

ORACLE_SQL["d32_template_dedup"] = """
        WITH t AS (
            SELECT doc_id, source,
                   md5(trim(regexp_replace(
                       regexp_replace(lower(text), '[0-9]+', '#', 'g'),
                       '\\s+', ' ', 'g'))) AS tpl
            FROM documents)
        SELECT MIN(doc_id) cluster_rep,
               COUNT(*) n_members,
               COUNT(DISTINCT source) n_sources
        FROM t GROUP BY tpl HAVING COUNT(*) > 1
        ORDER BY cluster_rep, n_members, n_sources"""
