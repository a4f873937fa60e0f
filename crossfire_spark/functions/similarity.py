"""Similarity search over the ``embeddings`` table
(``vec_id, embedding array<float>, label``).

- **s01_cosine_topk** — brute-force cosine top-k: query set is every
  50th vector, candidates the whole corpus. The dot product runs
  JVM-side (``zip_with`` + ``aggregate`` in double precision — no
  Python); queries are broadcast so the plan is a single pass over the
  corpus however big it is, followed by a per-query top-k window.
  Ranking uses ROUND(sim, 4) with vec_id tiebreak so the oracle
  (DuckDB ``list_cosine_similarity`` on DOUBLE lists) agrees bit-for-bit.
- **s02_lsh_topk** — the 100 TB path: sign-random-projection LSH
  (16-bit signatures from deterministic seeded hyperplanes), candidates
  = same bucket in >=1 of 4 bands, exact cosine re-rank within
  candidates. Hash-dependent → rows-only driver check; recall vs s01
  is pinned in tests/test_similarity.py.
- **d05_embed_neardup** — embedding near-duplicate pairs: all pairs
  with cosine >= 0.4 (data max is ~0.51; threshold chosen to exercise
  the operator on real rows). Same double-precision oracle.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from crossfire_spark.catalog import load_table, materialize, spread, stab, stab_signed
from crossfire_spark.functions.dedup import _band_pairs, _cap_buckets, _int_band_table
from crossfire_spark.functions.graph import connected_components, mirror
from crossfire_spark.functions.text import (
    BM25_B,
    BM25_K1,
    BM25_TERMS,
    t09_bm25_scores,
)

TOPK = 5
QUERY_STRIDE = 50
NEARDUP_THRESHOLD = 0.4
# 8 bands x 2 bits: measured recall@5 = 1.00 at sf0.01 (vs 0.40 at
# 4x4-bit and 0.68 at 8x4-bit) and the fastest of the swept configs.
# These embeddings are near-uniform (max pairwise cosine ~0.51), so
# narrow bands are needed for recall and pruning is inherently weak
# (~half the corpus per band); corpora with true near neighbors
# concentrate into buckets and prune much harder at the same config.
LSH_BITS = 16
LSH_BANDS = 8  # 2 bits per band
LSH_SEED = 42
EMBED_DIM = 64


def _dot(a: str, b: str) -> F.Column:
    """Double-precision dot product of two float-array columns via
    Catalyst higher-order functions. Strict left-to-right addition —
    bit-identical to the sequential DuckDB oracle. Fine when the pair
    count is bounded (top-k joins); for all-pairs workloads use the
    Arrow/numpy path in ``embed_neardup_pairs`` instead (higher-order
    functions evaluate interpreted, per row)."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
        " cast(0.0 as double), (acc, v) -> acc + v)"
    )


def _norm(col: str) -> F.Column:
    return F.sqrt(
        F.expr(
            f"aggregate(transform({col}, x -> cast(x as double) * cast(x as double)),"
            " cast(0.0 as double), (acc, v) -> acc + v)"
        )
    )


def _cosine_batch_udf():
    """Arrow-vectorized cosine over two array columns: one
    ``np.einsum`` per batch instead of an interpreted lambda per
    element. For candidate re-ranking where the pair count is
    unbounded-ish (LSH buckets); the oracled top-k paths (s01/s03)
    keep the strict left-fold ``_dot`` for bit-identical floats."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        A = np.stack(a.values).astype(np.float64)
        B = np.stack(b.values).astype(np.float64)
        num = np.einsum("ij,ij->i", A, B)
        den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
        return pd.Series(num / den)

    return _cos


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = TOPK,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    ``queries`` is ``(qid, qe)``; it is broadcast, so the join is a
    BroadcastNestedLoopJoin: one corpus scan regardless of corpus
    size. Per-query top-k then runs as a window — AQE handles the
    skew if one query partition grows hot.
    """
    corpus = embeddings.select(
        "vec_id", "embedding", _norm("embedding").alias("nrm")
    )
    q = queries.select("qid", "qe", _norm("qe").alias("qn"))
    scored = (
        corpus.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.round(
                _dot("embedding", "qe") / (F.col("nrm") * F.col("qn")), 4
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("qid", "vec_id", "sim")
    )


def _query_set(embeddings: DataFrame) -> DataFrame:
    return embeddings.where(F.col("vec_id") % QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )


def s01_cosine_topk(spark, sf_dir):
    em = spread(load_table(spark, sf_dir, "embeddings"))
    return cosine_topk(em, _query_set(em)).orderBy("qid", "vec_id", "sim")


RRF_K = 60
RRF_TOPK = 20
RRF_CAP = 1000  # per-retriever candidate cap (≫ RRF_TOPK)


def s05_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval — reciprocal-rank fusion of a sparse (BM25
    keyword, t09's term query) and a dense (cosine to the vec_id-0
    embedding) ranking: score = Σ 1/(60+rank), the standard fusion
    every hybrid search stack ships because it needs no score
    calibration between the two retrievers. Each retriever is CAPPED
    at its top ``RRF_CAP`` candidates before ranking — standard
    hybrid-search practice (a retriever contributes its top-N list,
    not its whole scored corpus), and the thing that makes the plan
    survive a 100× corpus: the cap is TakeOrderedAndProject (per-
    partition top-N, merged on one tiny reduce), so the only
    unpartitioned ``row_number`` windows run over ≤ RRF_CAP rows,
    never the corpus. Items outside a retriever's top-N contribute 0
    from that retriever (COALESCE), the universal RRF convention.

    Determinism across engines: both rankings order by the *rounded*
    score with an id tiebreak (the same convention s01 pins), so the
    integer ranks — and therefore the RRF doubles, built only from
    integers — are bit-identical; rank-then-filter(rn<=N) ≡
    top-N-then-rank under a total order, which is how the DuckDB
    oracle phrases the same cap. The declared top-20 is invariant to
    the cap for any N ≥ RRF_TOPK on corpora ≤ RRF_CAP (pinned by a
    cap-invariance test). Fusion is a full-outer join of two bounded
    (id, rank) tables, trivially small next to the corpus."""
    bm = (
        t09_bm25_scores(spark, sf_dir)
        .orderBy(F.col("s").desc(), "doc_id")
        .limit(RRF_CAP)
    )
    wb = Window.orderBy(F.col("s").desc(), "doc_id")
    bm_rank = bm.select(
        "doc_id", F.row_number().over(wb).alias("r_sparse")
    )
    em = spread(load_table(spark, sf_dir, "embeddings"))
    q = em.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"), _norm("embedding").alias("qn")
    )
    scored = (
        em.where(F.col("vec_id") != 0)
        .join(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                _dot("embedding", "qe") / (_norm("embedding") * F.col("qn")),
                4,
            ).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(RRF_CAP)
    )
    wc = Window.orderBy(F.col("sim").desc(), "vec_id")
    cos_rank = scored.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number().over(wc).alias("r_dense"),
    )
    fused = (
        bm_rank.join(cos_rank, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.round(
                F.coalesce(1.0 / (RRF_K + F.col("r_sparse")), F.lit(0.0))
                + F.coalesce(1.0 / (RRF_K + F.col("r_dense")), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
    )
    return (
        fused.orderBy(F.col("rrf").desc(), "doc_id")
        .limit(RRF_TOPK)
        .select("doc_id", "rrf")
    )


def _hyperplanes(dim: int = EMBED_DIM, bits: int = LSH_BITS, seed: int = LSH_SEED):
    rng = np.random.RandomState(seed)
    return rng.randn(bits, dim).astype(float)


def lsh_signature(
    embeddings: DataFrame, col: str = "embedding", bits: int = LSH_BITS
) -> DataFrame:
    """Sign-random-projection signature: bit b = (v . h_b) >= 0.

    Computed as one Arrow-batched matrix product (B x dim) @ (dim x
    bits) — the seeded hyperplanes ride the UDF closure. The earlier
    all-Catalyst form (bits x interpreted zip_with/aggregate folds per
    row) evaluated interpreted and cost ~1.5 s per corpus pass at a
    2000-vector SF; the matmul is milliseconds and the shape carries
    to any corpus size.

    Cross-build determinism: BLAS reduction order differs across
    builds/machines, so a dot product within ~1e-13 of zero could flip
    a signature bit between environments. Dots are therefore rounded
    to 9 decimals before the sign test — every |dot| <= 5e-10 maps to
    +bit on ANY build (round-half noise sits orders of magnitude below
    that), so signatures are a pure function of (vector, seed), not of
    the linked BLAS."""
    from pyspark.sql.functions import pandas_udf

    planes = _hyperplanes(bits=bits)  # (bits, dim), seeded
    weights = (1 << np.arange(bits)).astype(np.int64)

    @pandas_udf("long")
    def _sig(v: pd.Series) -> pd.Series:
        V = np.stack(v.values).astype(np.float64)
        hits = np.round(V @ planes.T, 9) >= 0.0
        return pd.Series((hits * weights).sum(axis=1).astype(np.int64))

    return embeddings.withColumn("lsh_sig", _sig(F.col(col)))


# Corpus-side band-bucket ceiling for lsh_topk: a bucket holding
# more than this many vectors is dropped from candidate generation
# (same rationale as dedup.LSH_BUCKET_CAP — a degenerate bucket makes
# the candidate set quadratic-ish in bucket size x queries; recall for
# queries probing it was already near-random at that density). Sized
# far above any sane bucket at the benchmark SFs so pinned outputs are
# unchanged; tune per corpus at scale.
LSH_TOPK_BUCKET_CAP = 100_000


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = TOPK,
    bands: int = LSH_BANDS,
    bits: int = LSH_BITS,
    bucket_cap: int = LSH_TOPK_BUCKET_CAP,
) -> DataFrame:
    """ANN top-k: candidates share >= 1 LSH band with the query, then
    exact cosine re-ranks the candidates. At scale this replaces the
    full corpus scan per query with |bucket| lookups — the corpus side
    shuffles once on (band, value) and queries stay broadcast; corpus
    rows in buckets over ``bucket_cap`` are excluded from candidate
    generation (see ``LSH_TOPK_BUCKET_CAP``)."""
    # materialized once: both the band explode and the post-dedup
    # re-rank read it, and the 64-hyperplane projection is the
    # expensive part of the corpus pass
    corpus = materialize(
        lsh_signature(embeddings, bits=bits)
        .select("vec_id", "embedding", "lsh_sig")
    )
    qsig = lsh_signature(
        queries.withColumnRenamed("qe", "embedding"), "embedding", bits=bits
    ).select(
        F.col("qid"), F.col("embedding").alias("qe"), F.col("lsh_sig").alias("qsig")
    )

    candidates = lsh_topk_candidates(
        corpus, qsig, bands=bands, bits=bits, bucket_cap=bucket_cap
    )
    scored = (
        candidates.join(corpus.select("vec_id", "embedding"), "vec_id")
        .join(
            F.broadcast(qsig.select("qid", "qe")),
            "qid",
        )
        .select(
            "qid",
            "vec_id",
            F.round(_cosine_batch_udf()(F.col("embedding"), F.col("qe")), 4).alias(
                "sim"
            ),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("qid", "vec_id", "sim")
    )


def lsh_topk_candidates(
    corpus: DataFrame,
    qsig: DataFrame,
    bands: int = LSH_BANDS,
    bits: int = LSH_BITS,
    bucket_cap: int = LSH_TOPK_BUCKET_CAP,
) -> DataFrame:
    """The hash-dependent candidate stage of :func:`lsh_topk`,
    factored out (the s17/d13 soundness pattern) so a test can EXPORT
    the candidate set and verify the entire downstream stage — exact
    cosine scoring + per-query top-k — bit-exact against a DuckDB
    oracle over the exported candidates; the only non-SQL step left is
    the seeded banding itself. ``corpus`` must carry
    (vec_id, lsh_sig); ``qsig`` (qid, qsig).

    The band join and the candidate dedup carry only (id, band, val)
    ints — never the 128-float vectors. Deduping rows that drag the
    embedding arrays through the exchange roughly 10x-es the shuffle
    bytes for zero information; vectors are joined back on the id
    *after* the distinct (corpus side one hash join, query side a
    broadcast)."""
    c_b = _cap_buckets(
        _int_band_table(corpus, ["lsh_sig"], bands, bits // bands, ["vec_id"]),
        ["band", "bsig"],
        bucket_cap,
    )
    q_b = _int_band_table(qsig, ["qsig"], bands, bits // bands, ["qid"])
    return (
        c_b.join(F.broadcast(q_b), ["band", "bsig"])
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id")
        .distinct()
    )


def s02_lsh_topk(spark, sf_dir):
    em = spread(load_table(spark, sf_dir, "embeddings"))
    return lsh_topk(em, _query_set(em)).orderBy("qid", "vec_id", "sim")


IVF_CENTROIDS = 16
IVF_PROBES = 4


def _sqdist(a: str, b: str) -> F.Column:
    """Squared euclidean distance, double precision, sequential."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> (cast(x as double) - cast(y as double))"
        " * (cast(x as double) - cast(y as double))),"
        " cast(0.0 as double), (acc, v) -> acc + v)"
    )


# ------------------------------------------------- IVF kernels
# Every IVF query (s03/s04/s06/s20/s21/s22/s24/s28) routes through
# these: one centroid table shape, one ranking rule.


def first_n_centroids(embeddings: DataFrame, n_centroids: int) -> DataFrame:
    """(cid, ce array<double>) — the deterministic centroid rule: the
    first ``n_centroids`` vectors by vec_id. The cast is exact
    (float → double), and every distance casts to double anyway."""
    return embeddings.where(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").cast("array<double>").alias("ce"),
    )


def centroid_frame(spark: SparkSession, cents) -> DataFrame:
    """(cid, ce array<double>) from driver-side centroids, e.g. a
    :func:`kmeans_fit` result; cid is the list position."""
    return spark.createDataFrame(list(enumerate(cents)), "cid int, ce array<double>")


def nearest_centroids(
    rows: DataFrame,
    key: str,
    vec: str,
    centroids: DataFrame,
    n: int,
) -> DataFrame:
    """The ``n`` nearest centroids of each row of ``rows`` (keyed by
    ``key``, vector column ``vec``): one scan against the broadcast
    centroid table, ranked by ``(ROUND(sqdist, 6), cid)`` so ties are
    deterministic on any engine. Keeps every input column plus
    ``cid``, ``ce`` and the 1-based rank ``rn``. Corpus assignment is
    n = 1 over (vec_id, embedding); query probes are n = n_probes over
    (qid, qe)."""
    w = Window.partitionBy(key).orderBy(F.round(_sqdist(vec, "ce"), 6), F.col("cid"))
    return (
        rows.crossJoin(F.broadcast(centroids))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= n)
    )


def ivf_assign(embeddings: DataFrame, centroids: DataFrame) -> DataFrame:
    """corpus → nearest-centroid assignment: :func:`nearest_centroids`
    with n = 1 over (vec_id, embedding). Callers select the columns
    they keep (``ce`` is there for a residual)."""
    return nearest_centroids(embeddings, "vec_id", "embedding", centroids, 1)


# FAISS practice trains coarse quantizers on a bounded sample (faiss
# Clustering defaults to max_points_per_centroid=256; 39 is its "too
# few" warning floor). 64 points per centroid keeps the sample small
# enough to hold in driver RAM at any corpus size while giving each
# centroid a dense neighborhood to settle into.
KMEANS_TRAIN_FACTOR = 64


def kmeans_fit(
    embeddings: DataFrame,
    k: int = IVF_CENTROIDS,
    n_iter: int = 5,
    seed: int = LSH_SEED,
    train_cap: int | None = None,
) -> tuple[list[list[float]], list[float]]:
    """Lloyd's k-means over the ``embedding`` column — the production
    centroid trainer behind :func:`ivf_topk`, in FAISS's shape: train
    on a deterministic capped sample, assign the full corpus ONCE
    downstream.

    The training sample is the first ``train_cap`` (default
    ``KMEANS_TRAIN_FACTOR · k``) rows in ``xxhash64(vec_id, seed)``
    order — the same ordering whose ``k``-row prefix was already the
    init rule, so init = sample[:k] unchanged. One distributed
    TakeOrdered pulls the sample to the driver (cap·dim doubles,
    corpus-size-independent); the Lloyd iterations then run locally in
    NumPy — argmin with the 6-dp round + lowest-cid tiebreak and
    empty-clusters-keep-previous exactly as the distributed form had —
    so the BUILD costs one corpus scan total instead of one per
    iteration (the r6 form paid 3 assignment scans for n_iter=3; the
    r7 form pays 1 regardless of n_iter — the 100 TB difference).
    Deterministic: seeded-hash sample, fixed iteration math — same
    input → same centroids on any partitioning; the DuckDB oracle
    replays the same sample, so the result stays cross-engine exact.

    Returns ``(centroids, objective_history)`` where objective is the
    summed squared distance of TRAINING-SAMPLE points to their
    assigned centroid (non-increasing across iterations — pinned in
    tests). When ``train_cap`` >= corpus size the sample IS the
    corpus and the semantics coincide with full-corpus Lloyd.
    """
    if train_cap is None:
        train_cap = KMEANS_TRAIN_FACTOR * k
    sample = (
        embeddings.orderBy(
            F.xxhash64(F.col("vec_id"), F.lit(seed)), F.col("vec_id")
        )
        .limit(train_cap)
        .select("embedding")
        .collect()
    )
    if not sample:
        return [], []  # empty corpus — callers emit an empty result
    X = np.asarray([list(r[0]) for r in sample], dtype=np.float64)
    # corpus smaller than k: the sample has fewer rows, so clamp —
    # the i-th empty-cluster fallback below indexes centroids[i].
    k = min(k, len(X))
    C = X[:k].copy()
    x_sq = (X * X).sum(axis=1)
    history: list[float] = []
    for _ in range(n_iter):
        d = x_sq[:, None] - 2.0 * (X @ C.T) + (C * C).sum(axis=1)[None, :]
        cid = np.round(d, 6).argmin(axis=1)
        history.append(float(d[np.arange(len(cid)), cid].sum()))
        for i in range(k):
            members = X[cid == i]
            if len(members):
                C[i] = members.mean(axis=0)
    return [list(map(float, c)) for c in C], history


def ivf_topk(
    embeddings: DataFrame | None,
    queries: DataFrame,
    k: int = TOPK,
    n_centroids: int = IVF_CENTROIDS,
    n_probes: int = IVF_PROBES,
    centroids: DataFrame | None = None,
    assignments: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: partition the corpus into centroid
    buckets, search only the query's ``n_probes`` nearest buckets.

    Two centroid sources: pass ``centroids`` (``cid, ce`` — e.g. a
    :func:`kmeans_fit` result, the production path exercised by
    ``s04``) or default to the first ``n_centroids`` vectors by
    vec_id — the deterministic variant whose DuckDB oracle agrees
    exactly (the *index structure* — assignment, probe, re-rank — is
    identical either way). Ranking keys are rounded (dist 6 dp,
    cosine 4 dp) with id tiebreaks.

    Scale shape: assignment is one corpus scan against a broadcast
    centroid table; the probe join shuffles on centroid id — each
    query touches ~n_probes/n_centroids of the corpus.
    """
    cent = centroids
    if cent is None:
        cent = first_n_centroids(embeddings, n_centroids)
    if assignments is None:
        assignments = ivf_assign(embeddings, cent)
    # else: persisted-index path (functions.ann_index) — the corpus
    # scan that builds the assignment table already happened at build
    assign = assignments.select("vec_id", "embedding", "cid")
    probes = nearest_centroids(queries, "qid", "qe", cent, n_probes).select(
        "qid", "qe", "cid"
    )
    cand = (
        assign.join(probes, "cid")
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", "qe", "vec_id", "embedding")
    )
    scored = cand.select(
        "qid",
        "vec_id",
        F.round(
            _dot("embedding", "qe") / (_norm("embedding") * _norm("qe")), 4
        ).alias("sim"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("qid", "vec_id", "sim")
    )


def s03_ivf_topk(spark, sf_dir):
    em = spread(load_table(spark, sf_dir, "embeddings"))
    return ivf_topk(em, _query_set(em)).orderBy("qid", "vec_id", "sim")


def _empty_topk(spark) -> DataFrame:
    """Empty (qid, vec_id, sim) result — what every ANN entry returns
    on an empty corpus (empty partitions and zero-row SF slices are
    normal at scale; crashing on them is not)."""
    return spark.createDataFrame([], "qid long, vec_id long, sim double")


def s04_ivf_kmeans(spark, sf_dir):
    """IVF with trained (Lloyd's) centroids — the production index
    path. The fixed 3-iteration training is deterministic end-to-end
    (seeded-hash init, 6-dp-rounded argmin, mean update), so it is
    fully oracled by ``_kmeans_oracle``'s unrolled CTE chain; the
    objective decrease and recall-vs-naive-centroids floor are
    additionally pinned in tests/test_extensions.py."""
    em = spread(load_table(spark, sf_dir, "embeddings"))
    cents, _ = kmeans_fit(em, n_iter=3)
    if not cents:  # empty corpus
        return _empty_topk(spark)
    cent_df = centroid_frame(spark, cents)
    return ivf_topk(em, _query_set(em), centroids=cent_df).orderBy(
        "qid", "vec_id", "sim"
    )


NEARDUP_BLOCKS = 8


def embed_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = NEARDUP_THRESHOLD,
    n_blocks: int = NEARDUP_BLOCKS,
) -> DataFrame:
    """Exact all-pairs cosine >= threshold (va < vb), distributed
    block-matrix style — nothing corpus-sized ever reaches the driver.

    The corpus is tiled into ``n_blocks`` row blocks (vec_id mod);
    each block packs into one (ids, matrix) row via ``collect_list``,
    the upper-triangle block pairs meet in a theta join (bid_a <=
    bid_b — n_blocks² rows, each carrying two ~N/n_blocks x dim
    tiles), and one BLAS matmul per pair emits only the over-threshold
    pairs. Every unordered vector pair lives in exactly one block
    pair, so no dedup pass is needed.

    Scale shape: O(N·n_blocks) bytes shuffle (each tile meets every
    other tile — the irreducible traffic of an exact all-pairs
    product); the N² work happens inside vectorized kernels. Size
    ``n_blocks`` so a tile fits an Arrow batch (~N/n_blocks x dim x 8
    bytes); at 100 TB raise it so tiles stay ~100 MB and let the
    n_blocks² tasks spread over the cluster. The approximate tier
    (d03/s02) remains the default at that scale; this is the exact
    oracle path."""
    import numpy as np
    import pandas as pd

    packed = (
        embeddings.select("vec_id", "embedding")
        .groupBy((F.col("vec_id") % n_blocks).alias("bid"))
        # one struct list keeps ids and vectors aligned by construction
        .agg(F.collect_list(F.struct("vec_id", "embedding")).alias("tile"))
    )
    a = packed.select(F.col("bid").alias("bid_a"), F.col("tile").alias("tile_a"))
    b = packed.select(F.col("bid").alias("bid_b"), F.col("tile").alias("tile_b"))
    block_pairs = a.join(b, F.col("bid_a") <= F.col("bid_b"))

    out_schema = "va long, vb long, sim double"

    def _unpack(tile):
        ids = np.fromiter((t["vec_id"] for t in tile), dtype=np.int64, count=len(tile))
        mat = np.stack([np.asarray(t["embedding"]) for t in tile]).astype(np.float64)
        return ids, mat

    def pairs(batches):
        for batch in batches:
            for _, row in batch.iterrows():
                ia, A = _unpack(row["tile_a"])
                ib, B = _unpack(row["tile_b"])
                na = np.linalg.norm(A, axis=1)
                nb = np.linalg.norm(B, axis=1)
                sims = (A @ B.T) / (na[:, None] * nb[None, :])
                r, c = np.where((sims >= threshold) & (ia[:, None] != ib[None, :]))
                va = np.minimum(ia[r], ib[c])
                vb = np.maximum(ia[r], ib[c])
                keep = ia[r] < ib[c] if row["bid_a"] == row["bid_b"] else slice(None)
                yield pd.DataFrame(
                    {
                        "va": va[keep],
                        "vb": vb[keep],
                        "sim": np.round(sims[r, c][keep], 4),
                    }
                )

    return block_pairs.mapInPandas(pairs, schema=out_schema)


def d05_embed_neardup(spark, sf_dir):
    em = spread(load_table(spark, sf_dir, "embeddings"))
    return embed_neardup_pairs(em).orderBy("va", "vb", "sim")


KNN_K = 3


def knn_graph(
    embeddings: DataFrame,
    k: int = KNN_K,
    n_blocks: int = NEARDUP_BLOCKS,
) -> DataFrame:
    """Exact k-NN graph: every vector's top-``k`` cosine neighbors —
    the substrate SemDeDup clustering, kNN-classifier labeling, and
    graph-based curation all start from.

    Distributed as block tiles (the d05 layout) with LOCAL TOP-K
    REDUCTION: the corpus tiles into ``n_blocks`` row blocks, the
    n_blocks² upper-triangle tile pairs each run one BLAS matmul and
    emit only each row's k best within that tile pair, and a per-node
    window merges the locals. Top-k-of-union-of-local-top-ks is exact
    under the shared total order (sim desc, nbr asc), so the global
    pair stream is O(N·k·n_blocks) rows — never the N² similarity
    matrix (contrast d05, whose output is threshold-bounded instead).
    At 100 TB the exact tier's N² *compute* is the cost ceiling; the
    ANN graph (s02's LSH buckets feeding the same local-top-k merge)
    is the approximate path, with this as its recall oracle."""
    import numpy as np
    import pandas as pd

    packed = (
        embeddings.select("vec_id", "embedding")
        .groupBy((F.col("vec_id") % n_blocks).alias("bid"))
        .agg(F.collect_list(F.struct("vec_id", "embedding")).alias("tile"))
    )
    a = packed.select(F.col("bid").alias("bid_a"), F.col("tile").alias("tile_a"))
    b = packed.select(F.col("bid").alias("bid_b"), F.col("tile").alias("tile_b"))
    block_pairs = a.join(b, F.col("bid_a") <= F.col("bid_b"))

    def _unpack(tile):
        ids = np.fromiter((t["vec_id"] for t in tile), dtype=np.int64, count=len(tile))
        mat = np.stack([np.asarray(t["embedding"]) for t in tile]).astype(np.float64)
        # same float-op order as d05's oracled kernel: dot / (na*nb)
        return ids, mat, np.linalg.norm(mat, axis=1)

    def _local_topk(ids_q, ids_c, sims):
        # per query row: k best candidates under (sim desc, id asc)
        out_q, out_c, out_s = [], [], []
        for r in range(sims.shape[0]):
            row = sims[r]
            order = np.lexsort((ids_c, -row))[: k]
            keep = row[order] > -np.inf
            out_q.extend([ids_q[r]] * int(keep.sum()))
            out_c.extend(ids_c[order[keep]])
            out_s.extend(row[order[keep]])
        return pd.DataFrame(
            {"vec_id": out_q, "nbr_id": out_c, "sim": out_s}
        )

    def locals_(batches):
        for batch in batches:
            for _, row in batch.iterrows():
                ia, A, na = _unpack(row["tile_a"])
                ib, B, nb = _unpack(row["tile_b"])
                sims = np.round((A @ B.T) / (na[:, None] * nb[None, :]), 4)
                if row["bid_a"] == row["bid_b"]:
                    # mask self-pairs by ID, not position: collect_list
                    # order is non-deterministic and the two join sides
                    # can be independently recomputed (stage retry /
                    # speculation), so fill_diagonal could misalign
                    sims[ia[:, None] == ib[None, :]] = -np.inf
                    yield _local_topk(ia, ib, sims)
                else:
                    yield _local_topk(ia, ib, sims)
                    yield _local_topk(ib, ia, sims.T)

    cand = block_pairs.mapInPandas(
        locals_, schema="vec_id long, nbr_id long, sim double"
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), "nbr_id")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("vec_id", "nbr_id", "sim")
    )


def s15_knn_graph(spark, sf_dir):
    em = spread(load_table(spark, sf_dir, "embeddings"))
    return knn_graph(em).orderBy("vec_id", "nbr_id", "sim")


def ann_graph_candidates(
    signed: DataFrame,
    bands: int = LSH_BANDS,
    bits: int = LSH_BITS,
    bucket_cap: int = LSH_TOPK_BUCKET_CAP,
) -> DataFrame:
    """Candidate edge set of the ANN k-NN graph: both directions of
    every (capped) shared-LSH-band pair → (vec_id, nbr_id), distinct.
    Split out from :func:`knn_graph_ann` so the hash-dependent stage
    can be EXPORTED and the downstream score+top-k stage verified
    against a SQL oracle over the exported candidates (the d13
    soundness pattern — the only non-SQL step is then the banding
    itself). ``signed`` must carry (vec_id, lsh_sig)."""
    b_tab = _int_band_table(signed, ["lsh_sig"], bands, bits // bands, ["vec_id"])
    pairs = _band_pairs(b_tab, "vec_id", bucket_cap).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    return mirror(pairs.distinct()).select(
        F.col("node").alias("vec_id"), F.col("nbr").alias("nbr_id")
    )


def knn_graph_ann(
    embeddings: DataFrame,
    k: int = KNN_K,
    bands: int = LSH_BANDS,
    bits: int = LSH_BITS,
    bucket_cap: int = LSH_TOPK_BUCKET_CAP,
) -> DataFrame:
    """Approximate k-NN graph — the 100 TB tier of :func:`knn_graph`:
    candidate pairs come from shared LSH band buckets (one corpus
    shuffle on (band, value) ints, hot buckets capped) instead of the
    exact tier's all-tiles product; exact cosine then scores
    candidates only, and the SAME per-node top-k merge finishes the
    graph. Output schema matches the exact tier; recall against it is
    pinned in tests. The candidate set holds both directions of every
    bucket pair, so each node ranks every co-bucketed neighbor."""
    corpus = materialize(
        lsh_signature(embeddings, bits=bits)
        .select("vec_id", "embedding", "lsh_sig")
    )
    cand = ann_graph_candidates(
        corpus, bands=bands, bits=bits, bucket_cap=bucket_cap
    )
    scored = (
        cand.join(corpus.select("vec_id", "embedding"), "vec_id")
        .join(
            corpus.select(
                F.col("vec_id").alias("nbr_id"), F.col("embedding").alias("ne")
            ),
            "nbr_id",
        )
        .select(
            "vec_id",
            "nbr_id",
            F.round(
                _cosine_batch_udf()(F.col("embedding"), F.col("ne")), 4
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), "nbr_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("vec_id", "nbr_id", "sim")
    )


DBSCAN_EPS_SIM = NEARDUP_THRESHOLD  # eps-neighborhood = cosine >= 0.4
DBSCAN_MIN_NBRS = 2  # core point: >= 2 eps-neighbors (minPts=3 with self)


def density_clusters(
    embeddings: DataFrame,
    eps_sim: float = DBSCAN_EPS_SIM,
    min_nbrs: int = DBSCAN_MIN_NBRS,
) -> DataFrame:
    """DBSCAN-style density clustering over the embedding corpus →
    (vec_id, cluster_id, kind) with kind ∈ {core, border}; noise
    points (neither) are excluded — the standard curation move that
    groups semantically-equivalent regions while refusing to force
    every outlier into a cluster (contrast k-means, which must).

    Determinized for oracle-checking: clusters are connected
    components (min-label) of the CORE-CORE eps-graph; border points
    attach to the SMALLEST cluster id among their core neighbors (the
    classic DBSCAN order-dependence resolved by a total order).

    Scale shape: the eps-graph comes from the d05 block-tile kernel
    (threshold-bounded output, N² work inside BLAS tiles — swap in
    the LSH candidate tier at 100 TB); degrees, core filter, border
    attachment are one aggregate each on node-cardinality tables; CC
    is O(diameter) label-propagation rounds."""
    pairs = embed_neardup_pairs(embeddings, eps_sim).select("va", "vb")
    sym = materialize(  # read by degrees, core edges, and border join
        pairs.select(F.col("va").alias("n"), F.col("vb").alias("m"))
        .unionByName(pairs.select(F.col("vb").alias("n"), F.col("va").alias("m")))
    )
    core = materialize(
        sym.groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
        .where(F.col("deg") >= min_nbrs)
        .select(F.col("n").alias("vec_id"))
    )
    core_edges = (
        pairs.join(core.select(F.col("vec_id").alias("va")), "va", "left_semi")
        .join(core.select(F.col("vec_id").alias("vb")), "vb", "left_semi")
        .select(F.col("va").alias("doc_a"), F.col("vb").alias("doc_b"))
    )
    cc = connected_components(core_edges)
    # isolated cores (no core neighbor) are their own singleton cluster
    core_lbl = materialize(  # read twice: output + border attachment
        core.join(cc, core.vec_id == cc.doc_id, "left")
        .select(
            "vec_id",
            F.coalesce("cluster_id", "vec_id").alias("cluster_id"),
        )
    )
    border = (
        sym.join(
            core_lbl.select(
                F.col("vec_id").alias("m"), F.col("cluster_id").alias("c")
            ),
            "m",
        )
        .join(core_lbl.select(F.col("vec_id").alias("n")), "n", "left_anti")
        .groupBy(F.col("n").alias("vec_id"))
        .agg(F.min("c").alias("cluster_id"))
    )
    return core_lbl.select(
        "vec_id", "cluster_id", F.lit("core").alias("kind")
    ).unionByName(
        border.select("vec_id", "cluster_id", F.lit("border").alias("kind"))
    )


def s18_density_clusters(spark, sf_dir):
    em = spread(load_table(spark, sf_dir, "embeddings"))
    return density_clusters(em).orderBy("vec_id", "cluster_id", "kind")


def ann_recall_audit(
    exact: DataFrame, approx: DataFrame, k: int = TOPK
) -> DataFrame:
    """(qid, n_exact, n_hit, recall) + a trailing 'ALL' summary row —
    the index-quality audit a production retrieval stack runs on a
    query sample before trusting an ANN index (and re-runs after
    every index rebuild; recall drift is how quantizer/bucket rot
    shows up). Inputs are any two (qid, vec_id, ...) rankings; the
    join is per-query and both sides are top-k-bounded, so the audit
    costs O(|queries|·k) whatever the corpus size behind the index.
    """
    ex = exact.select("qid", "vec_id")
    ap = approx.select("qid", "vec_id")
    hit = ap.withColumnRenamed("vec_id", "v").join(
        ex.select("qid", F.col("vec_id").alias("v")), ["qid", "v"], "left_semi"
    )
    per = (
        ex.groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .join(
            hit.groupBy("qid").agg(F.count(F.lit(1)).alias("n_hit")),
            "qid",
            "left",
        )
        .select(
            F.col("qid").cast("long").alias("qid"),
            "n_exact",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
        )
        .withColumn(
            "recall",
            F.round(F.col("n_hit") / F.col("n_exact"), 4),
        )
    )
    total = per.agg(
        F.lit(-1).cast("long").alias("qid"),
        F.sum("n_exact").alias("n_exact"),
        F.sum("n_hit").alias("n_hit"),
        F.round(F.sum("n_hit") / F.sum("n_exact"), 4).alias("recall"),
    )
    return per.unionByName(total)


def s17_knn_graph_ann(spark, sf_dir):
    """LSH-bucketed approximate k-NN graph (the s01→s02 relationship,
    applied to s15). Hash-dependent candidates → rows-only driver
    check; recall vs the exact graph is pinned in tests, and the
    whole post-banding stage (exact cosine scoring + per-node top-k)
    is bit-exact vs a DuckDB oracle over the EXPORTED candidate set
    (``test_knn_graph_ann_verify_stage_sql_oracle`` — the d13
    soundness pattern, leaving only the seeded banding non-SQL)."""
    em = spread(load_table(spark, sf_dir, "embeddings"))
    return knn_graph_ann(em).orderBy("vec_id", "nbr_id", "sim")


def s16_ann_recall_audit(spark, sf_dir):
    """Recall@k of the seeded-LSH ANN (s02) against exact top-k (s01)
    over the declared query set. Deterministic given the LSH seed but
    not SQL-expressible (the oracle would have to restate the whole
    LSH) → rows-only driver check; the mean-recall floor and the
    audit's own arithmetic are pinned in tests."""
    em = spread(load_table(spark, sf_dir, "embeddings"))
    q = _query_set(em)
    return ann_recall_audit(cosine_topk(em, q), lsh_topk(em, q)).orderBy(
        "qid", "n_exact", "n_hit", "recall"
    )


SQ8_SCALE = 127
SQ8_CAND_MULT = 4  # over-fetch factor before the exact re-rank


def sq8_bounds(embeddings: DataFrame) -> DataFrame:
    """Per-dimension max |x| over the corpus — the symmetric
    scalar-quantization codebook (symmetric so that the integer dot
    product of codes is proportional to the real dot product; an
    asymmetric [lo, hi] affine code adds per-vector bias terms that
    destroy ranking on zero-mean data — measured recall 0.06 vs 1.0).
    One posexplode + agg keyed by dimension: map-side combinable,
    result is dim rows regardless of corpus size."""
    return (
        embeddings.select(F.posexplode("embedding").alias("i", "x"))
        .groupBy("i")
        .agg(F.max(F.abs(F.col("x").cast("double"))).alias("ma"))
    )


def sq8_quantize(
    df: DataFrame, id_col: str, vec_col: str, bounds: dict[int, float]
) -> DataFrame:
    """(id, qv) 8-bit codes for a vector column against a per-dim
    max-abs codebook — the shared kernel of the ad-hoc s07 path and
    the persisted-index path (functions.ann_index)."""
    ma_arr = F.array(*[F.lit(bounds[i]) for i in range(len(bounds))])
    quant = F.expr(
        f"transform({vec_col}, (x, i) -> CASE WHEN _ma[i] = 0.0 THEN 0 "
        f"ELSE cast(round(cast(x as double) / _ma[i] * {SQ8_SCALE}) as int) END)"
    )
    return df.withColumn("_ma", ma_arr).select(
        F.col(id_col), quant.alias("qv")
    )


def sq8_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = TOPK,
    bounds: dict[int, float] | None = None,
    corpus_codes: DataFrame | None = None,
) -> DataFrame:
    """Scalar-quantized (SQ8) approximate top-k: quantize every vector
    to 8-bit codes against a per-dimension max-abs codebook, score with
    an exact *integer* dot product on the codes, keep the top
    ``SQ8_CAND_MULT * k`` candidates per query, then exact-cosine
    re-rank only those survivors (measured recall@5 = 1.0 at sf0.01
    with the 4x over-fetch; 0.74 with no over-fetch).

    The 100 TB shape this miniaturizes: SQ8 cuts the scanned bytes 4-8x
    (the win is memory bandwidth, not FLOPs), the codebook is dim
    doubles — the only thing the driver ever sees (same contract as
    ``kmeans_fit``'s k x dim) — and the expensive exact math runs on
    |Q| x 4k rows, never the corpus. Integer candidate scores make the
    candidate set bit-reproducible across engines and hardware — no
    BLAS reduction-order hazard (ADVICE r2) by construction."""
    if bounds is None:
        bounds = {r["i"]: r["ma"] for r in sq8_bounds(embeddings).collect()}
    corpus = (
        corpus_codes
        if corpus_codes is not None
        else sq8_quantize(embeddings, "vec_id", "embedding", bounds)
    )
    qq = sq8_quantize(queries, "qid", "qe", bounds).withColumnRenamed("qv", "qq")
    scored = corpus.join(F.broadcast(qq), F.col("vec_id") != F.col("qid")).select(
        "qid",
        "vec_id",
        F.expr(
            "aggregate(zip_with(qv, qq, (x, y) -> cast(x as bigint) * cast(y as bigint)),"
            " cast(0 as bigint), (acc, v) -> acc + v)"
        ).alias("qscore"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("qscore").desc(), F.col("vec_id"))
    cand = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= SQ8_CAND_MULT * k)
        .select("qid", "vec_id")
    )
    # exact re-rank on the 4k survivors only: |Q| x 4k rows of real math
    a = embeddings.select(
        F.col("vec_id"), F.col("embedding").alias("ea"), _norm("embedding").alias("na")
    )
    qx = queries.select("qid", "qe", _norm("qe").alias("qn"))
    rescored = (
        cand.join(a, ["vec_id"])
        .join(F.broadcast(qx), ["qid"])
        .select(
            "qid",
            "vec_id",
            F.round(_dot("ea", "qe") / (F.col("na") * F.col("qn")), 4).alias("sim"),
        )
    )
    w2 = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("vec_id"))
    return (
        rescored.withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= k)
        .select("qid", "vec_id", "sim")
    )


def s07_sq8_topk(spark, sf_dir):
    em = spread(load_table(spark, sf_dir, "embeddings"))
    return sq8_topk(em, _query_set(em)).orderBy("qid", "vec_id", "sim")


# ------------------------------------------------ product quantization

# tuned on the driver corpus (near-uniform random embeddings — the
# adversarial case for PQ; clustered real-world embeddings reach the
# same recall at coarser settings): measured recall@5 vs exact s01 was
# 0.46 at (M=8, K=16, mult=4) and 1.00 at (M=16, K=64, mult=16), with
# candidates per query still 16x5 = 80 ≪ corpus.
PQ_M = 16  # subspaces (64-dim vectors -> 16 x 4-dim subvectors)
PQ_K = 64  # codes per subspace codebook
PQ_CAND_MULT = 16  # over-fetch factor before the exact re-rank


def pq_codebooks(embeddings: DataFrame):
    """(M, K, d) deterministic PQ codebooks: the subvectors of the
    first ``PQ_K`` corpus vectors by vec_id — the nearest-sample
    analogue of s03's deterministic centroids (a production build
    swaps in per-subspace k-means; the encode/ADC machinery is
    identical). K = min(PQ_K, corpus rows). Driver traffic is
    K x dim doubles. s22 passes its residuals as ``embedding``."""
    rows = (
        embeddings.orderBy("vec_id").limit(PQ_K).select("embedding").collect()
    )
    if not rows:
        return None  # empty corpus — callers emit an empty result
    C = np.array([list(r[0]) for r in rows], dtype=np.float64)  # (K, D)
    if C.shape[1] % PQ_M:
        raise ValueError(f"dim {C.shape[1]} not divisible by M={PQ_M}")
    return C.reshape(len(C), PQ_M, -1).transpose(1, 0, 2)  # (M, K, d)


def pq_encode(embeddings: DataFrame, books) -> DataFrame:
    """(vec_id, codes array<int>) — per subspace the argmin-distance
    code, vectorized per Arrow batch; ties resolve to the lowest code
    id (argmin) with distances rounded to 9 dp so code assignment is a
    pure function of (vector, codebook) on any build."""
    from pyspark.sql.functions import pandas_udf

    B = np.asarray(books, dtype=np.float64)
    m, _k, d = B.shape

    @pandas_udf("array<int>")
    def _enc(v: pd.Series) -> pd.Series:
        V = np.stack(v.values).astype(np.float64).reshape(len(v), m, d)
        out = np.empty((len(v), m), dtype=np.int32)
        for s in range(m):
            diff = V[:, s, None, :] - B[s][None, :, :]
            out[:, s] = np.round((diff * diff).sum(-1), 9).argmin(axis=1)
        return pd.Series(list(out))

    return embeddings.select("vec_id", _enc("embedding").alias("codes"))


def pq_adc_tables(queries: DataFrame, books) -> DataFrame:
    """(qid, adc) — per-query asymmetric-distance table, flattened to
    M*K doubles (adc[s*K + j] = ||q_s - c_{s,j}||²), computed
    Arrow-batched on executors. This is the broadcastable query-side
    "model" of the PQ scan: per query M*K doubles (8 KiB at M=16,
    K=64), so even a million-query batch is a few GiB of broadcast —
    never a driver-resident tensor in a UDF closure."""
    return queries.select("qid", _adc_table_udf(books)("qe").alias("adc"))


def _adc_table_udf(books):
    """The Arrow-batched UDF behind :func:`pq_adc_tables`: a vector
    column → its flattened (M·K) table of subspace distances to
    ``books``. s22 applies it to per-probe query residuals."""
    from pyspark.sql.functions import pandas_udf

    B = np.asarray(books, dtype=np.float64)
    m, kk, d = B.shape

    @pandas_udf("array<double>")
    def _tab(qe: pd.Series) -> pd.Series:
        Q = np.stack(qe.values).astype(np.float64).reshape(len(qe), m, 1, d)
        T = ((Q - B[None, :, :, :]) ** 2).sum(-1)  # (batch, M, K)
        return pd.Series(list(T.reshape(len(qe), m * kk)))

    return _tab


def _adc_dist_col(m: int, kk: int) -> F.Column:
    """The ADC candidate distance as a codegen'd expression: M
    ``element_at`` lookups into the flattened per-query table
    (``adc[s*K + code + 1]``), summed LEFT-TO-RIGHT in fixed subspace
    order — the same sequence a numpy accumulation would perform, so
    the float result is reduction-order-stable on any engine. Used by
    :func:`adc_shortlist`; expects ``codes`` and ``adc`` columns in
    scope."""
    dist = F.element_at(
        "adc", (F.lit(0) * kk + F.element_at("codes", 1) + 1).cast("int")
    )
    for s in range(1, m):
        dist = dist + F.element_at(
            "adc", (F.lit(s) * kk + F.element_at("codes", s + 1) + 1).cast("int")
        )
    return dist


def adc_shortlist(pairs: DataFrame, books, k: int) -> DataFrame:
    """The ADC over-fetch cut shared by every PQ search (s09/s10/s20/
    s21/s22/s28/st14): score each (qid, vec_id) pair of ``pairs``
    (``codes`` and ``adc`` in scope) with the 9-dp-rounded ADC sum and
    keep the ``PQ_CAND_MULT * k`` nearest per query, vec_id breaking
    ties. Output (qid, vec_id) feeds :func:`_exact_rerank`."""
    m, kk = np.shape(books)[:2]
    w = Window.partitionBy("qid").orderBy(F.col("adcd").asc(), F.col("vec_id"))
    return (
        pairs.select("qid", "vec_id", F.round(_adc_dist_col(m, kk), 9).alias("adcd"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= PQ_CAND_MULT * k)
        .select("qid", "vec_id")
    )


def pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = TOPK,
    books=None,
    corpus_codes: DataFrame | None = None,
) -> DataFrame:
    """Product-quantization ANN top-k — the memory-bandwidth end of
    the ANN family (brute s01 / LSH s02 / IVF s03-s04 / SQ8 s07): the
    corpus compresses to M one-byte codes per vector (16 bytes vs
    512, 32x), queries scan codes with asymmetric-distance lookups (ADC:
    per query an (M x K) table of exact subspace distances, candidate
    distance = M table lookups summed), and the exact cosine re-rank
    touches only the ``PQ_CAND_MULT * k`` ADC survivors per query.

    Scale shape: the code table is 64x smaller than the vectors — at
    100 TB of embeddings the ADC scan reads ~1.5 TB. The query side is
    UNBOUNDED: each query becomes one (qid, M*K-double ADC table) row
    (an Arrow-batched executor computation — the queries are never
    collected to the driver), and the scan is a broadcast join of the
    code table against those ADC rows with the M lookups unrolled as
    codegen'd ``element_at`` terms — so a 10x-larger query set means a
    10x-larger broadcast table, not a 10x driver tensor riding a UDF
    closure. Determinism: the M lookups sum left-to-right in fixed
    subspace order — the same sequence the (removed) numpy
    accumulation performed — and round to 9 dp before ranking; no
    BLAS, no reduction-order hazard."""
    if books is None:
        books = pq_codebooks(embeddings)
    if books is None:  # empty corpus
        return _empty_topk(embeddings.sparkSession)
    codes = (
        corpus_codes
        if corpus_codes is not None
        else pq_encode(embeddings, books)
    )
    pairs = codes.join(F.broadcast(pq_adc_tables(queries, books))).where(
        F.col("qid") != F.col("vec_id")
    )
    return _exact_rerank(embeddings, queries, adc_shortlist(pairs, books, k), k)


def _exact_rerank(
    embeddings: DataFrame, queries: DataFrame, cand: DataFrame, k: int
) -> DataFrame:
    """Exact cosine top-k over a candidate id set — the shared tail of
    every over-fetch-then-rerank ANN path (|Q| x candidates rows of
    real math, never the corpus)."""
    from pyspark.sql import Window

    a = embeddings.select(
        F.col("vec_id"),
        F.col("embedding").alias("ea"),
        _norm("embedding").alias("na"),
    )
    qx = queries.select("qid", "qe", _norm("qe").alias("qn"))
    rescored = (
        cand.join(a, ["vec_id"])
        .join(F.broadcast(qx), ["qid"])
        .select(
            "qid",
            "vec_id",
            F.round(_dot("ea", "qe") / (F.col("na") * F.col("qn")), 4).alias(
                "sim"
            ),
        )
    )
    w2 = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("vec_id"))
    return (
        rescored.withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= k)
        .select("qid", "vec_id", "sim")
    )


def filtered_topk(
    embeddings: DataFrame,
    docs: DataFrame,
    queries: DataFrame,
    predicate: F.Column,
    k: int = TOPK,
) -> DataFrame:
    """Metadata-filtered vector search — the production retrieval
    shape ("top-k among documents WHERE lang = 'en' AND source = X"):
    the metadata predicate applies BEFORE similarity via a left-semi
    join of the vector corpus against the qualifying doc ids
    (pre-filtering, exact recall within the filtered set — unlike
    post-filtering a fixed top-k, which silently starves selective
    predicates of results).

    Scale shape: the predicate pushes down to the documents scan; the
    semi-join prunes the vector side before any distance math; the
    search itself is whatever engine follows (exact here, IVF/PQ for
    scale — the composition is identical)."""
    keep = docs.where(predicate).select(F.col("doc_id").alias("vec_id"))
    return cosine_topk(embeddings.join(keep, "vec_id", "left_semi"), queries, k)


def s11_filtered_topk(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    em = spread(load_table(spark, sf_dir, "embeddings"))
    return filtered_topk(
        em, d, _query_set(em), F.col("source") == "src1"
    ).orderBy("qid", "vec_id", "sim")


RANGE_TAU = 0.25


def range_search(
    embeddings: DataFrame, queries: DataFrame, tau: float = RANGE_TAU
) -> DataFrame:
    """Radius (range) similarity search — ALL corpus vectors within
    cosine ≥ tau of each query, the vector-space analog of a
    relational range scan (recall-critical retrieval wants "everything
    this close", not a fixed k).

    Scale shape: queries broadcast (BroadcastNestedLoopJoin — one
    corpus scan regardless of corpus size), the threshold applied
    corpus-side before any shuffle, so the only data movement is the
    matches themselves; no window, no top-k sort. The scoring is the
    same strict left-fold ``_dot`` the oracled top-k paths use, so
    the 4-dp rounded similarity is bit-identical across engines. For
    selective tau on very large corpora the SRP-banded prefilter
    (s02's path) bounds the candidate set; this exact tier is its
    oracle."""
    corpus = embeddings.select(
        "vec_id", "embedding", _norm("embedding").alias("nrm")
    )
    q = queries.select("qid", "qe", _norm("qe").alias("qn"))
    sim = _dot("embedding", "qe") / (F.col("nrm") * F.col("qn"))
    return (
        corpus.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .where(sim >= tau)
        .select("qid", "vec_id", F.round(sim, 4).alias("sim"))
    )


def s12_range_search(spark, sf_dir):
    em = spread(load_table(spark, sf_dir, "embeddings"))
    return range_search(em, _query_set(em)).orderBy("qid", "vec_id", "sim")


def s09_pq_topk(spark, sf_dir):
    """PQ ANN over the embeddings table. The whole pipeline is a pure
    function of the data (first-K codebooks, 9-dp-rounded argmin
    encode, fixed-order ADC sums), so it carries a full DuckDB oracle
    (``_pq_oracle``) that replays codebook build, encode, ADC scan and
    exact re-rank bit-for-bit; recall vs exact s01 is pinned in
    tests."""
    em = spread(load_table(spark, sf_dir, "embeddings"))
    return pq_topk(em, _query_set(em)).orderBy("qid", "vec_id", "sim")


SEMDEDUP_THRESHOLD = 0.35


def semdedup_keep(embeddings: DataFrame, threshold: float = SEMDEDUP_THRESHOLD) -> DataFrame:
    """SemDeDup-style within-cluster semantic dedup: inside each
    cluster (the ``label`` column — in a full pipeline the k-means
    assignment from ``kmeans_fit``), drop every vector that has a
    lower-id near-duplicate at cosine >= threshold; keep the rest.

    Scale shape: the all-pairs comparison is *within cluster only* —
    both sides shuffle once on the cluster key, so the join is
    co-partitioned and the quadratic term is bounded by the largest
    cluster (the SemDeDup premise: pick k so clusters stay small; the
    LSH bucket-cap helper applies if an adversarial cluster blows up).
    The keep-set is computed as a left-anti join against the distinct
    dropped ids — no driver materialization anywhere.

    The cosine uses the strict left-fold ``_dot`` so the threshold
    comparison is bit-identical to the DuckDB oracle."""
    a = embeddings.select(
        "label",
        F.col("vec_id").alias("va"),
        F.col("embedding").alias("ea"),
        _norm("embedding").alias("na"),
    )
    b = embeddings.select(
        "label",
        F.col("vec_id").alias("vb"),
        F.col("embedding").alias("eb"),
        _norm("embedding").alias("nb"),
    )
    dropped = (
        a.join(b, ["label"])
        .where(F.col("va") < F.col("vb"))
        .where(_dot("ea", "eb") / (F.col("na") * F.col("nb")) >= threshold)
        .select("vb")
        .distinct()
    )
    return embeddings.join(
        dropped, embeddings["vec_id"] == dropped["vb"], "left_anti"
    ).select("vec_id", "label")


def d09_semdedup(spark, sf_dir):
    em = spread(load_table(spark, sf_dir, "embeddings"))
    return semdedup_keep(em).orderBy("vec_id", "label")


def _bm25_sql() -> str:
    return f"""
        w AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) word
              FROM documents),
        dl AS (SELECT doc_id, COUNT(*) dl FROM w GROUP BY doc_id),
        na AS (SELECT COUNT(*) n, AVG(dl) avgdl FROM dl),
        tf AS (SELECT doc_id, word, COUNT(*) tf FROM w
               WHERE word IN {BM25_TERMS!r} GROUP BY doc_id, word),
        df AS (SELECT word, COUNT(*) df FROM tf GROUP BY word),
        idf AS (SELECT word, ln((n - df + 0.5) / (df + 0.5) + 1) idf, avgdl
                FROM df CROSS JOIN na),
        sc AS (SELECT tf.doc_id,
                      ROUND(ROUND(SUM(idf.idf * tf.tf * ({BM25_K1} + 1)
                          / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / idf.avgdl))), 6) + 1e-9, 4) s
               FROM tf JOIN idf USING (word) JOIN dl USING (doc_id)
               GROUP BY tf.doc_id)"""


ORACLE_SQL: dict[str, str] = {
    "s01_cosine_topk": f"""
        WITH q AS (SELECT vec_id qid, embedding::DOUBLE[] qe FROM embeddings WHERE vec_id % {QUERY_STRIDE} = 0),
        s AS (SELECT qid, vec_id, ROUND(list_cosine_similarity(embedding::DOUBLE[], qe), 4) sim
              FROM embeddings, q WHERE vec_id != qid),
        r AS (SELECT qid, vec_id, sim, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) rn FROM s)
        SELECT qid, vec_id, sim FROM r WHERE rn <= {TOPK} ORDER BY qid, vec_id, sim""",
    "s11_filtered_topk": f"""
        WITH q AS (SELECT vec_id qid, embedding::DOUBLE[] qe FROM embeddings WHERE vec_id % {QUERY_STRIDE} = 0),
        keep AS (SELECT doc_id FROM documents WHERE source = 'src1'),
        c AS (SELECT e.vec_id, e.embedding FROM embeddings e JOIN keep k ON e.vec_id = k.doc_id),
        s AS (SELECT qid, vec_id, ROUND(list_cosine_similarity(embedding::DOUBLE[], qe), 4) sim
              FROM c, q WHERE vec_id != qid),
        r AS (SELECT qid, vec_id, sim, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) rn FROM s)
        SELECT qid, vec_id, sim FROM r WHERE rn <= {TOPK} ORDER BY qid, vec_id, sim""",
    "d05_embed_neardup": f"""
        SELECT a.vec_id va, b.vec_id vb,
               ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) sim
        FROM embeddings a, embeddings b
        WHERE a.vec_id < b.vec_id
          AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= {NEARDUP_THRESHOLD}
        ORDER BY va, vb, sim""",
    "s07_sq8_topk": f"""
        WITH ex AS (SELECT vec_id, i, e[i] x
                    FROM (SELECT vec_id, embedding::DOUBLE[] e FROM embeddings) s,
                         UNNEST(range(1, len(e)+1)) t(i)),
        dims AS (SELECT i, MAX(ABS(x)) ma FROM ex GROUP BY i),
        qv AS (SELECT vec_id, i,
                      CASE WHEN ma = 0.0 THEN 0
                           ELSE CAST(round(x / ma * {SQ8_SCALE}) AS INT) END q
               FROM ex JOIN dims USING (i)),
        que AS (SELECT vec_id qid, i, q qq FROM qv WHERE vec_id % {QUERY_STRIDE} = 0),
        sc AS (SELECT que.qid, qv.vec_id, SUM(CAST(qv.q AS BIGINT) * que.qq) score
               FROM qv JOIN que USING (i) WHERE qv.vec_id != que.qid
               GROUP BY que.qid, qv.vec_id),
        top AS (SELECT qid, vec_id,
                       ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) rn
                FROM sc),
        rer AS (SELECT t.qid, t.vec_id,
                       ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) sim
                FROM top t JOIN embeddings a ON a.vec_id = t.vec_id
                           JOIN embeddings b ON b.vec_id = t.qid
                WHERE t.rn <= {SQ8_CAND_MULT * TOPK}),
        fin AS (SELECT qid, vec_id, sim,
                       ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) rn
                FROM rer)
        SELECT qid, vec_id, sim FROM fin WHERE rn <= {TOPK}
        ORDER BY qid, vec_id, sim""",
    "d09_semdedup": f"""
        SELECT vec_id, label FROM embeddings
        WHERE vec_id NOT IN (
            SELECT b.vec_id FROM embeddings a, embeddings b
            WHERE a.label = b.label AND a.vec_id < b.vec_id
              AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                  >= {SEMDEDUP_THRESHOLD})
        ORDER BY vec_id, label""",
    # s02 is hash-dependent (seeded hyperplanes) → rows-only driver
    # check; recall vs s01 pinned in tests/test_similarity.py.
    "s03_ivf_topk": f"""
        WITH cent AS (SELECT vec_id cid, embedding::DOUBLE[] ce FROM embeddings WHERE vec_id < {IVF_CENTROIDS}),
        assign AS (SELECT vec_id, embedding, cid FROM (
            SELECT e.vec_id, e.embedding, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                       ORDER BY ROUND(list_distance(e.embedding::DOUBLE[], c.ce) ^ 2, 6), c.cid) rn
            FROM embeddings e, cent c) WHERE rn = 1),
        probes AS (SELECT qid, qe, cid FROM (
            SELECT q.vec_id qid, q.embedding::DOUBLE[] qe, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY ROUND(list_distance(q.embedding::DOUBLE[], c.ce) ^ 2, 6), c.cid) rn
            FROM embeddings q, cent c WHERE q.vec_id % {QUERY_STRIDE} = 0) WHERE rn <= {IVF_PROBES}),
        scored AS (SELECT p.qid, a.vec_id,
                          ROUND(list_cosine_similarity(a.embedding::DOUBLE[], p.qe), 4) sim
                   FROM assign a JOIN probes p USING (cid) WHERE a.vec_id != p.qid),
        r AS (SELECT qid, vec_id, sim,
                     ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) rn
              FROM scored)
        SELECT qid, vec_id, sim FROM r WHERE rn <= {TOPK} ORDER BY qid, vec_id, sim""",
    "s12_range_search": f"""
        WITH q AS (SELECT vec_id qid, embedding::DOUBLE[] qe FROM embeddings WHERE vec_id % {QUERY_STRIDE} = 0)
        SELECT qid, vec_id,
               ROUND(list_cosine_similarity(embedding::DOUBLE[], qe), 4) sim
        FROM embeddings, q
        WHERE vec_id != qid
          AND list_cosine_similarity(embedding::DOUBLE[], qe) >= {RANGE_TAU}
        ORDER BY qid, vec_id, sim""",
}

MMR_LAMBDA = 0.7
MMR_CAND = 20  # relevance candidates per query (s01's discipline)
MMR_K = 5      # diversified picks per query


def mmr_rerank(embeddings: DataFrame, queries: DataFrame) -> DataFrame:
    """(qid, rank, vec_id, mmr) — Maximal Marginal Relevance
    re-ranking (Carbonell & Goldstein 1998): per query, greedily pick
    MMR_K of the top-MMR_CAND cosine candidates maximizing
    λ·sim(q,d) − (1−λ)·max_{s∈picked} sim(d,s) — the standard
    redundancy-suppressing rerank for retrieval-augmented pipelines
    (near-identical passages stop crowding out coverage).

    Scale shape: relevance candidates come from the existing
    ``cosine_topk`` plan (broadcast queries, per-query window over
    candidates only); the greedy stage is inherently sequential but
    per-query and bounded (≤ MMR_CAND rows, ≤ MMR_CAND² pair sims),
    so it runs as a vectorized numpy kernel inside one
    ``applyInPandas`` keyed by qid — thousands of queries re-rank in
    parallel, nothing quadratic in the corpus. Determinism: sims are
    rounded to 4 dp BEFORE the greedy loop and ties break on min
    vec_id, so every engine picks the same sequence (pinned by a pure-
    Python recompute test; iterative argmax is not SQL-expressible, so
    this is a rows-only registry entry)."""
    import numpy as np
    import pandas as pd

    cands = cosine_topk(embeddings, queries, k=MMR_CAND)
    with_vec = cands.join(
        embeddings.select("vec_id", F.col("embedding").alias("ce")), "vec_id"
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        V = np.array([np.asarray(v, dtype=np.float64) for v in pdf["ce"]])
        nrm = np.linalg.norm(V, axis=1)
        pair = np.round(V @ V.T / np.outer(nrm, nrm), 4)
        rel = pdf["sim"].to_numpy()  # already rounded by cosine_topk
        ids = pdf["vec_id"].to_numpy()
        picked: list[int] = []
        out = []
        avail = list(range(len(ids)))
        for rank in range(1, min(MMR_K, len(ids)) + 1):
            if picked:
                red = pair[np.ix_(avail, picked)].max(axis=1)
            else:
                red = np.zeros(len(avail))
            # double-round + epsilon: the decimal products of 4-dp
            # inputs land ON .00005 boundaries, where numpy rounds
            # half-even and SQL half-away — the repo's standard
            # stabilizer biases both off the boundary identically
            score = np.round(
                np.round(
                    MMR_LAMBDA * rel[avail] - (1 - MMR_LAMBDA) * red, 9
                )
                + 1e-12,
                4,
            )
            best = int(np.lexsort((ids[avail], -score))[0])
            i = avail[best]
            out.append(
                (int(pdf["qid"].iloc[0]), rank, int(ids[i]), float(score[best]))
            )
            picked.append(i)
            avail.remove(i)
        return pd.DataFrame(out, columns=["qid", "rank", "vec_id", "mmr"])

    return with_vec.groupBy("qid").applyInPandas(
        kernel, schema="qid long, rank int, vec_id long, mmr double"
    )


def s13_mmr_rerank(spark, sf_dir):
    em = spread(load_table(spark, sf_dir, "embeddings"))
    return mmr_rerank(em, _query_set(em)).orderBy(
        "qid", "rank", "vec_id", "mmr"
    )


def _mmr_oracle() -> str:
    """DuckDB restatement of the greedy MMR loop: MMR_K is a small
    fixed constant, so the 'iterative argmax is not SQL-expressible'
    objection dissolves by UNROLLING — step r is one CTE that joins
    the candidates against the (r-1) already-picked ids, takes the
    max pairwise sim as the redundancy term, and argmaxes with the
    same rounding and min-id tiebreak as the Arrow kernel. Verified
    cell-exact against the kernel at sf0.01 and sf0.1."""
    lam, om = MMR_LAMBDA, 1 - MMR_LAMBDA
    steps = []
    for r in range(1, MMR_K + 1):
        prev = r - 1
        if prev == 0:
            red, joins, where = "0.0", "", ""
            inner_carry, outer_carry = "", ""
            src = "cand c"
        else:
            lookups = [f"pr{j}.psim" for j in range(1, r)]
            red = (
                f"GREATEST({', '.join(lookups)})"
                if len(lookups) > 1
                else lookups[0]
            )
            joins = "".join(
                f"\n               JOIN pair pr{j} ON pr{j}.qid = c.qid"
                f" AND pr{j}.va = c.vec_id AND pr{j}.vb = s{prev}.p{j}"
                for j in range(1, r)
            )
            where = "WHERE " + " AND ".join(
                f"c.vec_id <> s{prev}.p{j}" for j in range(1, r)
            )
            inner_carry = ", ".join(
                f"s{prev}.p{j} p{j}, s{prev}.m{j} m{j}" for j in range(1, r)
            ) + ", "
            outer_carry = ", ".join(
                f"p{j}, m{j}" for j in range(1, r)
            ) + ", "
            src = f"cand c JOIN s{prev} USING (qid)"
        steps.append(f"""
        s{r} AS (SELECT qid, {outer_carry}vec_id p{r}, sc m{r} FROM (
            SELECT c.qid, {inner_carry}c.vec_id,
                   ROUND(ROUND({lam} * c.sim - {om} * {red}, 9) + 1e-12, 4) sc,
                   ROW_NUMBER() OVER (PARTITION BY c.qid
                       ORDER BY ROUND(ROUND({lam} * c.sim - {om} * {red}, 9)
                                      + 1e-12, 4) DESC,
                                c.vec_id) rn
            FROM {src}{joins}
            {where}) WHERE rn = 1)""")
    finals = "\n        UNION ALL\n".join(
        f"        SELECT qid, {r} rank, p{r} vec_id, m{r} mmr FROM s{MMR_K}"
        for r in range(1, MMR_K + 1)
    )
    return f"""
        WITH q AS (SELECT vec_id qid, embedding::DOUBLE[] qe
                   FROM embeddings WHERE vec_id % {QUERY_STRIDE} = 0),
        scored AS (SELECT qid, vec_id, embedding,
                          ROUND(list_cosine_similarity(embedding::DOUBLE[], qe), 4) sim
                   FROM embeddings, q WHERE vec_id != qid),
        cand AS (SELECT qid, vec_id, embedding, sim FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                          ORDER BY sim DESC, vec_id) rn FROM scored)
            WHERE rn <= {MMR_CAND}),
        pair AS (SELECT a.qid, a.vec_id va, b.vec_id vb,
                        ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                                                     b.embedding::DOUBLE[]), 4) psim
                 FROM cand a JOIN cand b USING (qid)),
        {','.join(steps)}
        SELECT * FROM (
{finals})
        ORDER BY qid, rank, vec_id, mmr"""


# ------------------------------------- random-projection reduction
RP_DIMS = 16  # Johnson-Lindenstrauss output dims (64 -> 16)


def _rp_signs(d_in: int, d_out: int) -> np.ndarray:
    """(d_in, d_out) Rademacher ±1 projection matrix derived from
    sha256("{d}#{r}") — deterministic on every executor AND
    reproducible in ANSI SQL (DuckDB's sha256 emits the identical
    lowercase hex), which is what makes a hash-seeded random
    projection oracle-checkable: sign = +1 iff the first hex char
    < '8' (top bit of the digest clear)."""
    import hashlib

    s = np.empty((d_in, d_out), dtype=np.float64)
    for d in range(d_in):
        for r in range(d_out):
            hx = hashlib.sha256(f"{d}#{r}".encode()).hexdigest()
            s[d, r] = 1.0 if hx[0] < "8" else -1.0
    return s


def rp_reduce(em: DataFrame, d_out: int = RP_DIMS) -> DataFrame:
    """(vec_id, dim, proj) — Johnson-Lindenstrauss random projection
    of the embedding column to ``d_out`` dims via a sign matrix
    (Achlioptas'03: ±1 entries preserve pairwise geometry like
    Gaussians, at matmul-on-int-signs cost). The dimensionality-
    reduction preprocessor for the ANN family: 4× fewer floats per
    vector before LSH/IVF/quantization at 100 TB.

    Scale shape: embarrassingly parallel — ONE vectorized Arrow
    batch kernel (whole-batch numpy matmul against a closure-held
    (64, d_out) sign matrix, ~8 KiB), zero shuffles before the
    declared explode. The projection stays attached to ``vec_id``,
    so downstream index builds consume it without a join."""
    from pyspark.sql.functions import pandas_udf

    d_in = 64  # embeddings.embedding is a fixed 64-dim float array
    signs = _rp_signs(d_in, d_out)

    @pandas_udf("array<double>")
    def _proj(embs: pd.Series) -> pd.Series:
        m = np.stack(embs.to_numpy()).astype(np.float64)
        return pd.Series(list(m @ signs))

    return (
        em.select("vec_id", _proj("embedding").alias("p"))
        .select("vec_id", F.posexplode("p").alias("dim", "v"))
        .select(
            "vec_id",
            F.col("dim").cast("long").alias("dim"),
            # + 0.0 canonicalizes IEEE -0.0 (negative dot rounding to
            # zero) to +0.0 — bit-exact vs the oracle
            stab("v", 4).alias("proj"),
        )
    )


def s14_rp_reduce(spark, sf_dir):
    em = spread(load_table(spark, sf_dir, "embeddings"))
    return rp_reduce(em).orderBy("vec_id", "dim", "proj")


HARD_NEG_LO = TOPK  # ranks 1..TOPK are the positive band — excluded
HARD_NEG_HI = TOPK * 3  # mine ranks (TOPK, 3*TOPK] as hard negatives


def hard_negatives(
    embeddings: DataFrame,
    queries: DataFrame,
    lo: int = HARD_NEG_LO,
    hi: int = HARD_NEG_HI,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor
    (query), the candidates ranked just BELOW the positive top-``lo``
    band — close enough to be informative negatives, far enough down
    the ranking to be (probabilistically) true negatives. Random
    negatives are too easy and stall the contrastive loss; this
    mined band is the standard dense-retrieval recipe.

    Scale shape: identical to s01's exact scorer — anchors broadcast,
    ONE corpus scan however big the corpus (BroadcastNestedLoopJoin),
    per-anchor rank window on the anchor key. At 100 TB the exact
    scorer swaps for an ANN tier (s02–s10) over-fetching ``hi``
    candidates into the same band filter — downstream unchanged.
    ``neg_rank`` is emitted so samplers can weight by depth."""
    corpus = embeddings.select(
        "vec_id", "embedding", _norm("embedding").alias("nrm")
    )
    q = queries.select("qid", "qe", _norm("qe").alias("qn"))
    scored = corpus.join(F.broadcast(q), F.col("vec_id") != F.col("qid")).select(
        "qid",
        "vec_id",
        F.round(
            _dot("embedding", "qe") / (F.col("nrm") * F.col("qn")), 4
        ).alias("sim"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("neg_rank", F.row_number().over(w))
        .where((F.col("neg_rank") > lo) & (F.col("neg_rank") <= hi))
        .select("qid", "vec_id", "sim", "neg_rank")
    )


def s19_hard_negatives(spark, sf_dir):
    em = spread(load_table(spark, sf_dir, "embeddings"))
    return hard_negatives(em, _query_set(em)).orderBy(
        "qid", "vec_id", "sim", "neg_rank"
    )


QUERIES = {
    "s01_cosine_topk": s01_cosine_topk,
    "s02_lsh_topk": s02_lsh_topk,
    "s03_ivf_topk": s03_ivf_topk,
    "s04_ivf_kmeans": s04_ivf_kmeans,
    "s05_hybrid_rrf": s05_hybrid_rrf,
    "d05_embed_neardup": d05_embed_neardup,
    "d09_semdedup": d09_semdedup,
    "s07_sq8_topk": s07_sq8_topk,
    "s09_pq_topk": s09_pq_topk,
    "s11_filtered_topk": s11_filtered_topk,
    "s12_range_search": s12_range_search,
    "s13_mmr_rerank": s13_mmr_rerank,
    "s14_rp_reduce": s14_rp_reduce,
    "s15_knn_graph": s15_knn_graph,
    "s16_ann_recall_audit": s16_ann_recall_audit,
    "s17_knn_graph_ann": s17_knn_graph_ann,
    "s18_density_clusters": s18_density_clusters,
    "s19_hard_negatives": s19_hard_negatives,
}

ORACLE_SQL["s19_hard_negatives"] = f"""
        WITH q AS (SELECT vec_id qid, embedding::DOUBLE[] qe FROM embeddings WHERE vec_id % {QUERY_STRIDE} = 0),
        s AS (SELECT qid, vec_id, ROUND(list_cosine_similarity(embedding::DOUBLE[], qe), 4) sim
              FROM embeddings, q WHERE vec_id != qid),
        r AS (SELECT qid, vec_id, sim, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) neg_rank FROM s)
        SELECT qid, vec_id, sim, neg_rank FROM r
        WHERE neg_rank > {HARD_NEG_LO} AND neg_rank <= {HARD_NEG_HI}
        ORDER BY qid, vec_id, sim, neg_rank"""

_U64, _U32 = 1 << 64, 1 << 32
_XXP = (
    0x9E3779B185EBCA87,
    0xC2B2AE3D27D4EB4F,
    0x165667B19E3779F9,
    0x85EBCA77C2B2AE63,
    0x27D4EB2F165667C5,
)


def _sql_mul64(a: str, b: int) -> str:
    """``(a * b) mod 2^64`` in DuckDB HUGEINT without 128-bit overflow:
    split the constant into 32-bit halves so every partial stays under
    2^96."""
    bl, bh = b % _U32, b // _U32
    return (
        f"((({a}) * {bl}::HUGEINT + ((({a}) * {bh}::HUGEINT) % {_U32})"
        f" * {_U32}) % {_U64})"
    )


def _sql_rotl(x: str, n: int) -> str:
    lo = 1 << (64 - n)
    return f"((({x}) % {lo}) * {1 << n} + ({x}) // {lo})"


def _sql_xor(a: str, b: str) -> str:
    return f"(xor((({a})::UBIGINT), (({b})::UBIGINT))::HUGEINT)"


def _sql_shr(x: str, n: int) -> str:
    return f"(({x}) // {1 << n})"


def _xxhash64_steps() -> list[tuple[str, str]]:
    """CTE column chain computing Spark's ``xxhash64(vec_id, lit(42))``
    — which is ``XXH64.hashInt(42, XXH64.hashLong(vec_id, seed=42))``
    (the second argument is hashed as another column, an INT literal;
    it is NOT the seed) — over a non-negative HUGEINT column ``v``.
    Verified bit-equal to ``F.xxhash64`` for the vec_id domain."""
    p1, p2, p3, p4, p5 = _XXP
    s = [
        ("k1", _sql_mul64("v", p2)),
        ("k2", _sql_rotl("k1", 31)),
        ("k3", _sql_mul64("k2", p1)),
        ("h1", _sql_xor(f"{(42 + p5 + 8) % _U64}::HUGEINT", "k3")),
        ("h2", f"({_sql_mul64(_sql_rotl('h1', 27), p1)} + {p4}) % {_U64}"),
        ("f1", _sql_xor("h2", _sql_shr("h2", 33))),
        ("f2", _sql_mul64("f1", p2)),
        ("f3", _sql_xor("f2", _sql_shr("f2", 29))),
        ("f4", _sql_mul64("f3", p3)),
        ("hl", _sql_xor("f4", _sql_shr("f4", 32))),
        ("g1", f"((hl + {(p5 + 4) % _U64}) % {_U64})"),
        ("g2", _sql_xor("g1", f"{(42 * p1) % _U64}::HUGEINT")),
        ("g3", f"({_sql_mul64(_sql_rotl('g2', 23), p2)} + {p3}) % {_U64}"),
        ("m1", _sql_xor("g3", _sql_shr("g3", 33))),
        ("m2", _sql_mul64("m1", p2)),
        ("m3", _sql_xor("m2", _sql_shr("m2", 29))),
        ("m4", _sql_mul64("m3", p3)),
        ("hu", _sql_xor("m4", _sql_shr("m4", 32))),
        (
            "h",
            f"(CASE WHEN hu >= {1 << 63} THEN hu - {_U64}::HUGEINT"
            " ELSE hu END)::BIGINT",
        ),
    ]
    return s


def _kmeans_ctes(n_iter: int = 3) -> list[str]:
    """The shared CTE chain replaying ``kmeans_fit`` in DuckDB up to
    the trained centroid table ``c{n_iter}`` (used by the s04 oracle's
    IVF tail and the s26 silhouette oracle — one definition so the two
    statements cannot disagree about the centroids).

    The init order replays Spark's ``xxhash64(vec_id, lit(42))`` with
    exact 64-bit integer CTE arithmetic (``_xxhash64_steps``); the
    TRAINING SAMPLE is the first ``KMEANS_TRAIN_FACTOR·k`` rows in
    that hash order (``vs``), exactly ``kmeans_fit``'s capped sample;
    each iteration is one argmin assignment over the sample (squared
    distance rounded to 6 dp — wide enough to absorb BLAS-vs-SQL
    float noise) and one per-(cid, position) mean with empty clusters
    keeping their previous centroid, exactly the ``kmeans_fit``
    update. The same unroll discipline as s13's greedy-MMR oracle: a
    fixed, small iteration count is just a deeper CTE chain."""
    ctes = [
        "vx AS (SELECT vec_id, embedding::DOUBLE[] e FROM embeddings)",
        "x0 AS (SELECT vec_id, vec_id::HUGEINT v FROM vx)",
    ]
    prev = "x0"
    for i, (name, expr) in enumerate(_xxhash64_steps(), 1):
        ctes.append(f"x{i} AS (SELECT *, {expr} AS {name} FROM {prev})")
        prev = f"x{i}"
    ctes.append(
        f"vs AS (SELECT vx.vec_id, vx.e FROM {prev} t JOIN vx USING (vec_id)"
        f" ORDER BY t.h, t.vec_id LIMIT {KMEANS_TRAIN_FACTOR * IVF_CENTROIDS})"
    )
    ctes.append(
        f"c0 AS (SELECT ROW_NUMBER() OVER (ORDER BY t.h, t.vec_id) - 1 AS cid,"
        f" vx.e ce FROM {prev} t JOIN vx USING (vec_id)"
        f" ORDER BY t.h, t.vec_id LIMIT {IVF_CENTROIDS})"
    )
    assign_tpl = (
        "{out} AS (SELECT vec_id, e, cid FROM ("
        "SELECT {src}.vec_id, {src}.e, c.cid,"
        " ROW_NUMBER() OVER (PARTITION BY {src}.vec_id"
        " ORDER BY ROUND(list_distance({src}.e, c.ce) ^ 2, 6), c.cid) rn"
        " FROM {src}, {cent} c) WHERE rn = 1)"
    )
    for t in range(1, n_iter + 1):
        ctes.append(assign_tpl.format(out=f"a{t}", cent=f"c{t-1}", src="vs"))
        ctes.append(
            f"m{t} AS (SELECT cid, i, AVG(e[i]) m"
            f" FROM a{t}, UNNEST(range(1, len(e) + 1)) t(i) GROUP BY cid, i)"
        )
        ctes.append(
            f"n{t} AS (SELECT cid, list(m ORDER BY i) ce FROM m{t} GROUP BY cid)"
        )
        ctes.append(
            f"c{t} AS (SELECT p.cid, COALESCE(n.ce, p.ce) ce"
            f" FROM c{t-1} p LEFT JOIN n{t} n USING (cid))"
        )
    return ctes


def _kmeans_oracle(n_iter: int = 3) -> str:
    """DuckDB mirror of s04: the shared ``_kmeans_ctes`` chain + the
    IVF probe/re-rank tail assigning the FULL corpus once against the
    final centroids."""
    ctes = _kmeans_ctes(n_iter)
    assign_tpl = (
        "{out} AS (SELECT vec_id, e, cid FROM ("
        "SELECT {src}.vec_id, {src}.e, c.cid,"
        " ROW_NUMBER() OVER (PARTITION BY {src}.vec_id"
        " ORDER BY ROUND(list_distance({src}.e, c.ce) ^ 2, 6), c.cid) rn"
        " FROM {src}, {cent} c) WHERE rn = 1)"
    )
    ctes.append(assign_tpl.format(out="assign", cent=f"c{n_iter}", src="vx"))
    ctes.append(
        f"probes AS (SELECT qid, qe, cid FROM ("
        f"SELECT q.vec_id qid, q.e qe, c.cid,"
        f" ROW_NUMBER() OVER (PARTITION BY q.vec_id"
        f" ORDER BY ROUND(list_distance(q.e, c.ce) ^ 2, 6), c.cid) rn"
        f" FROM vx q, c{n_iter} c WHERE q.vec_id % {QUERY_STRIDE} = 0)"
        f" WHERE rn <= {IVF_PROBES})"
    )
    ctes.append(
        "scored AS (SELECT p.qid, a.vec_id,"
        " ROUND(list_cosine_similarity(a.e, p.qe), 4) sim"
        " FROM assign a JOIN probes p USING (cid) WHERE a.vec_id != p.qid)"
    )
    ctes.append(
        "r AS (SELECT qid, vec_id, sim, ROW_NUMBER() OVER"
        " (PARTITION BY qid ORDER BY sim DESC, vec_id) rn FROM scored)"
    )
    body = ",\n        ".join(ctes)
    return (
        f"WITH {body}\n        SELECT qid, vec_id, sim FROM r"
        f" WHERE rn <= {TOPK} ORDER BY qid, vec_id, sim"
    )


ORACLE_SQL["s04_ivf_kmeans"] = _kmeans_oracle()


def _pq_oracle() -> str:
    """DuckDB mirror of the full PQ pipeline (codebooks → encode → ADC
    → candidate rank → exact re-rank), bit-identical to the Spark path:

    - subspace distances are the same explicit 4-term left-to-right
      ``(x-c)*(x-c)`` sums numpy evaluates sequentially for d<8;
    - per-query ADC tables materialize as 1024-element lists ordered
      (s, j) — exactly the flattened layout ``pq_adc_tables`` emits;
    - the candidate distance is the same 16-term ``element_at`` chain
      (``al[s*K + code + 1]``) summed left-to-right, rounded to 9 dp
      before ranking, so even the float addition order matches.
    """
    d = EMBED_DIM // PQ_M

    def d2(v: str) -> str:
        return " + ".join(
            f"({v}[s*{d}+{i}]-ce[s*{d}+{i}])*({v}[s*{d}+{i}]-ce[s*{d}+{i}])"
            for i in range(1, d + 1)
        )

    # Stride the flattened ADC table by its ACTUAL per-subspace width
    # (len(al) // PQ_M == the engine's kk = min(PQ_K, corpus rows)), so
    # the oracle stays exact even when the corpus has fewer than PQ_K
    # vectors (ADVICE r7: hardcoded PQ_K stride was latently wrong).
    lookup = " + ".join(
        f"al[{s} * (len(al) // {PQ_M}) + cl[{s + 1}] + 1]"
        for s in range(PQ_M)
    )
    return f"""
        WITH book AS (
          SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j, embedding::DOUBLE[] ce
          FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {PQ_K})),
        subs AS (SELECT UNNEST(range({PQ_M})) s),
        vx AS (SELECT vec_id, embedding::DOUBLE[] e FROM embeddings),
        enc AS (SELECT vec_id, s, j,
                       ROW_NUMBER() OVER (PARTITION BY vec_id, s
                           ORDER BY ROUND({d2('e')}, 9), j) rn
                FROM vx, book, subs),
        codes AS (SELECT vec_id, list(j ORDER BY s) cl FROM enc WHERE rn = 1 GROUP BY vec_id),
        q AS (SELECT vec_id qid, embedding::DOUBLE[] qe FROM embeddings WHERE vec_id % {QUERY_STRIDE} = 0),
        adc AS (SELECT qid, s, j, {d2('qe')} d2 FROM q, book, subs),
        adct AS (SELECT qid, list(d2 ORDER BY s, j) al FROM adc GROUP BY qid),
        dist AS (SELECT qid, vec_id, ROUND({lookup}, 9) adcd
                 FROM codes, adct WHERE qid != vec_id),
        cand AS (SELECT qid, vec_id FROM (
            SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adcd, vec_id) rn
            FROM dist) WHERE rn <= {PQ_CAND_MULT * TOPK}),
        rer AS (SELECT c.qid, c.vec_id,
                       ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) sim
                FROM cand c JOIN embeddings a ON a.vec_id = c.vec_id
                            JOIN embeddings b ON b.vec_id = c.qid),
        fin AS (SELECT qid, vec_id, sim,
                       ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) rn FROM rer)
        SELECT qid, vec_id, sim FROM fin WHERE rn <= {TOPK}
        ORDER BY qid, vec_id, sim"""


ORACLE_SQL["s09_pq_topk"] = _pq_oracle()

ORACLE_SQL["s13_mmr_rerank"] = _mmr_oracle()

ORACLE_SQL["s18_density_clusters"] = f"""
        WITH RECURSIVE p AS (
            SELECT a.vec_id va, b.vec_id vb
            FROM embeddings a, embeddings b
            WHERE a.vec_id < b.vec_id
              AND list_cosine_similarity(a.embedding::DOUBLE[],
                                         b.embedding::DOUBLE[])
                  >= {DBSCAN_EPS_SIM}),
        sym AS (SELECT va n, vb m FROM p UNION ALL SELECT vb, va FROM p),
        core AS (SELECT n vec_id FROM sym GROUP BY n
                 HAVING COUNT(*) >= {DBSCAN_MIN_NBRS}),
        ce AS (SELECT va, vb FROM p
               WHERE va IN (SELECT vec_id FROM core)
                 AND vb IN (SELECT vec_id FROM core)),
        e AS (SELECT va a, vb b FROM ce UNION SELECT vb, va FROM ce),
        reach(n, m) AS (SELECT a, a FROM e
                        UNION
                        SELECT r.n, e.b FROM reach r JOIN e ON r.m = e.a),
        cc AS (SELECT n vec_id, MIN(m) cluster_id FROM reach GROUP BY n),
        core_lbl AS (SELECT c.vec_id,
                            COALESCE(cc.cluster_id, c.vec_id) cluster_id
                     FROM core c LEFT JOIN cc USING (vec_id)),
        border AS (SELECT s.n vec_id, MIN(k.cluster_id) cluster_id
                   FROM sym s JOIN core_lbl k ON s.m = k.vec_id
                   WHERE s.n NOT IN (SELECT vec_id FROM core)
                   GROUP BY s.n)
        SELECT vec_id, cluster_id, 'core' kind FROM core_lbl
        UNION ALL
        SELECT vec_id, cluster_id, 'border' FROM border
        ORDER BY vec_id, cluster_id, kind"""

ORACLE_SQL["s15_knn_graph"] = f"""
        WITH s AS (SELECT a.vec_id, b.vec_id nbr_id,
                          ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                                                       b.embedding::DOUBLE[]), 4) sim
                   FROM embeddings a, embeddings b
                   WHERE a.vec_id != b.vec_id),
        r AS (SELECT vec_id, nbr_id, sim,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                                        ORDER BY sim DESC, nbr_id) rn
              FROM s)
        SELECT vec_id, nbr_id, sim FROM r WHERE rn <= {KNN_K}
        ORDER BY vec_id, nbr_id, sim"""

ORACLE_SQL["s14_rp_reduce"] = f"""
        WITH dims AS (SELECT unnest(range(0, 64)) d),
        rs AS (SELECT unnest(range(0, {RP_DIMS})) r),
        signs AS (SELECT d, r,
                         CASE WHEN substr(sha256(d || '#' || r), 1, 1) < '8'
                              THEN 1.0 ELSE -1.0 END s
                  FROM dims, rs),
        e AS (SELECT vec_id, u.i - 1 AS d, embedding[u.i]::DOUBLE v
              FROM embeddings,
                   unnest(range(1, len(embedding) + 1)) u(i))
        SELECT vec_id, r AS dim,
               ROUND(ROUND(SUM(v * s), 9) + 1e-12, 4) + 0.0 proj
        FROM e JOIN signs USING (d)
        GROUP BY vec_id, r
        ORDER BY vec_id, dim, proj"""

ORACLE_SQL["s05_hybrid_rrf"] = f"""
        WITH {_bm25_sql()},
        br0 AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) r_sparse
                FROM sc),
        br AS (SELECT doc_id, r_sparse FROM br0 WHERE r_sparse <= {RRF_CAP}),
        cs AS (SELECT e.vec_id,
                      ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) sim
               FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
               WHERE e.vec_id != 0),
        cr0 AS (SELECT vec_id doc_id, ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) r_dense
                FROM cs),
        cr AS (SELECT doc_id, r_dense FROM cr0 WHERE r_dense <= {RRF_CAP})
        SELECT COALESCE(br.doc_id, cr.doc_id) doc_id,
               ROUND(COALESCE(1.0 / ({RRF_K} + r_sparse), 0)
                     + COALESCE(1.0 / ({RRF_K} + r_dense), 0), 6) rrf
        FROM br FULL OUTER JOIN cr ON br.doc_id = cr.doc_id
        ORDER BY rrf DESC, doc_id LIMIT {RRF_TOPK}"""


def ivf_pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = TOPK,
    n_centroids: int = IVF_CENTROIDS,
    n_probes: int = IVF_PROBES,
) -> DataFrame:
    """IVF-PQ composite ANN — the FAISS ``IndexIVFPQ`` production
    shape (Jégou et al. 2011, "Product Quantization for Nearest
    Neighbor Search" §V): coarse IVF routing restricts the scan to the
    query's ``n_probes`` centroid buckets, PQ ADC lookups score ONLY
    the vectors in those buckets, and the exact cosine re-rank touches
    only the ``PQ_CAND_MULT * k`` ADC survivors. Composes s03's
    routing with s09's compressed scan: at 100 TB the ADC pass reads
    ``n_probes/n_centroids`` of a code table that is already 32x
    smaller than the vectors — the two reductions multiply, which is
    why this is the billion-scale default in every production ANN
    system.

    Plan shape: centroids broadcast to both the corpus-assignment and
    query-probe scans; the bucket restriction is an equi-join on
    ``cid``; ADC tables ride a broadcast keyed by ``qid`` (never a
    driver tensor); the M lookups are one codegen'd ``element_at``
    chain (:func:`_adc_dist_col`). Deterministic end-to-end (rounded
    assignment/encode distances, id tiebreaks), so the whole composite
    is DuckDB-oracle-exact — see ``_ivf_pq_oracle``."""
    books = pq_codebooks(embeddings)
    if books is None:  # empty corpus
        return _empty_topk(queries.sparkSession)
    cent = first_n_centroids(embeddings, n_centroids)
    return ivf_pq_search(
        embeddings,
        queries,
        books,
        cent,
        ivf_assign(embeddings, cent),
        pq_encode(embeddings, books),
        k,
        n_probes,
    )


def ivf_pq_search(
    embeddings: DataFrame,
    queries: DataFrame,
    books,
    centroids: DataFrame,
    assignments: DataFrame,
    codes: DataFrame,
    k: int,
    n_probes: int,
) -> DataFrame:
    """The IVF-PQ search body: probes (the ``n_probes`` nearest
    centroids per query) → corpus candidates in the probed buckets →
    their PQ codes → broadcast per-query ADC tables → the
    :func:`adc_shortlist` cut → exact cosine re-rank. :func:`ivf_pq_topk`
    builds its inputs; ``ann_index.query_ivf_pq_index`` reads them
    from snapshot tables. ``assignments`` carries (vec_id, cid),
    ``codes`` (vec_id, codes)."""
    probes = nearest_centroids(queries, "qid", "qe", centroids, n_probes).select(
        "qid", "cid"
    )
    pairs = (
        assignments.select("vec_id", "cid")
        .join(probes, "cid")
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id")
        .join(codes, "vec_id")
        .join(F.broadcast(pq_adc_tables(queries, books)), "qid")
    )
    return _exact_rerank(embeddings, queries, adc_shortlist(pairs, books, k), k)


def s20_ivf_pq_topk(spark, sf_dir):
    em = spread(load_table(spark, sf_dir, "embeddings"))
    return ivf_pq_topk(em, _query_set(em)).orderBy("qid", "vec_id", "sim")


def _ivf_pq_oracle(
    nlist_sql: str = str(IVF_CENTROIDS),
    nprobe_sql: str = str(IVF_PROBES),
    extra_cte: str = "",
) -> str:
    """DuckDB mirror of the IVF-PQ composite: s03's cent/assign/probes
    CTEs restrict ``_pq_oracle``'s ADC scan to probed buckets; every
    numeric step (assignment round-6, encode round-9, the left-to-right
    M-term lookup sum, round-9 candidate rank, round-4 rerank) matches
    the Spark path bit-for-bit. ``nlist_sql`` is the centroid-count
    expression (a literal for s20; a scalar subquery over ``extra_cte``
    for s28's corpus-adaptive variant) — with the defaults the emitted
    SQL is byte-identical to the committed s20 oracle."""
    d = EMBED_DIM // PQ_M

    def d2(v: str) -> str:
        return " + ".join(
            f"({v}[s*{d}+{i}]-ce[s*{d}+{i}])*({v}[s*{d}+{i}]-ce[s*{d}+{i}])"
            for i in range(1, d + 1)
        )

    # Stride the flattened ADC table by its ACTUAL per-subspace width
    # (len(al) // PQ_M == the engine's kk = min(PQ_K, corpus rows)), so
    # the oracle stays exact even when the corpus has fewer than PQ_K
    # vectors (ADVICE r7: hardcoded PQ_K stride was latently wrong).
    lookup = " + ".join(
        f"al[{s} * (len(al) // {PQ_M}) + cl[{s + 1}] + 1]"
        for s in range(PQ_M)
    )
    return f"""
        WITH {extra_cte}cent AS (SELECT vec_id cid, embedding::DOUBLE[] ce FROM embeddings
                      WHERE vec_id < {nlist_sql}),
        assign AS (SELECT vec_id, cid FROM (
            SELECT e.vec_id, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                       ORDER BY ROUND(list_distance(e.embedding::DOUBLE[], c.ce) ^ 2, 6), c.cid) rn
            FROM embeddings e, cent c) WHERE rn = 1),
        probes AS (SELECT qid, cid FROM (
            SELECT q.vec_id qid, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY ROUND(list_distance(q.embedding::DOUBLE[], c.ce) ^ 2, 6), c.cid) rn
            FROM embeddings q, cent c WHERE q.vec_id % {QUERY_STRIDE} = 0) WHERE rn <= {nprobe_sql}),
        book AS (
          SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j, embedding::DOUBLE[] ce
          FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {PQ_K})),
        subs AS (SELECT UNNEST(range({PQ_M})) s),
        vx AS (SELECT vec_id, embedding::DOUBLE[] e FROM embeddings),
        enc AS (SELECT vec_id, s, j,
                       ROW_NUMBER() OVER (PARTITION BY vec_id, s
                           ORDER BY ROUND({d2('e')}, 9), j) rn
                FROM vx, book, subs),
        codes AS (SELECT vec_id, list(j ORDER BY s) cl FROM enc WHERE rn = 1 GROUP BY vec_id),
        q AS (SELECT vec_id qid, embedding::DOUBLE[] qe FROM embeddings WHERE vec_id % {QUERY_STRIDE} = 0),
        adc AS (SELECT qid, s, j, {d2('qe')} d2 FROM q, book, subs),
        adct AS (SELECT qid, list(d2 ORDER BY s, j) al FROM adc GROUP BY qid),
        dist AS (SELECT p.qid, a.vec_id, ROUND({lookup}, 9) adcd
                 FROM assign a JOIN probes p ON a.cid = p.cid
                 JOIN codes co ON co.vec_id = a.vec_id
                 JOIN adct t ON t.qid = p.qid
                 WHERE a.vec_id != p.qid),
        cand AS (SELECT qid, vec_id FROM (
            SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adcd, vec_id) rn
            FROM dist) WHERE rn <= {PQ_CAND_MULT * TOPK}),
        rer AS (SELECT c.qid, c.vec_id,
                       ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) sim
                FROM cand c JOIN embeddings a ON a.vec_id = c.vec_id
                            JOIN embeddings b ON b.vec_id = c.qid),
        fin AS (SELECT qid, vec_id, sim,
                       ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) rn FROM rer)
        SELECT qid, vec_id, sim FROM fin WHERE rn <= {TOPK}
        ORDER BY qid, vec_id, sim"""


QUERIES["s20_ivf_pq_topk"] = s20_ivf_pq_topk
ORACLE_SQL["s20_ivf_pq_topk"] = _ivf_pq_oracle()


def _residual_col(vec: str, cent: str) -> F.Column:
    """Element-wise ``vec - cent`` in double precision — one codegen'd
    ``zip_with``, bit-identical to the same IEEE subtraction in SQL."""
    return F.expr(
        f"zip_with({vec}, {cent},"
        " (a, b) -> cast(a as double) - cast(b as double))"
    )


def ivf_pq_residual_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = TOPK,
    n_centroids: int = IVF_CENTROIDS,
    n_probes: int = IVF_PROBES,
) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding — what FAISS ``IndexIVFPQ``
    actually quantizes (Jégou et al. 2011 §V.A, eq. 27-30: encode
    ``r(x) = x - q1(x)``, the vector MINUS its coarse centroid, and
    at query time build the ADC table from the per-probe query
    residual ``q - c``). Residuals concentrate near the origin, so
    the same codebook budget spends its resolution on the part of the
    vector the coarse quantizer didn't explain — the reason every
    production IVF-PQ defaults to residual encoding (s20 is the
    ``by_residual=false`` variant kept for its simpler one-table ADC).

    Cost difference vs s20, and why it still scales: the ADC table is
    per (query, probed centroid) instead of per query — ``n_probes``×
    more broadcast rows (still M·K doubles each, never a driver
    tensor), and the bucket-restricted scan joins on (qid, cid)
    instead of qid. Corpus side is unchanged: one assignment scan,
    one M-byte-code table, exact re-rank of ADC survivors only.

    Deterministic end-to-end: the residual subtraction is the same
    IEEE double op on both engines, encode rounds 9 dp with lowest-
    code tiebreak, the M ADC lookups sum left-to-right, candidates
    rank at 9 dp, re-rank at 4 dp — fully DuckDB-oracled
    (``_ivf_pq_residual_oracle``)."""
    cent = first_n_centroids(embeddings, n_centroids)
    assign = ivf_assign(embeddings, cent).select(
        "vec_id", "cid", _residual_col("embedding", "ce").alias("resid")
    )
    # Residual codebooks: the nearest-sample rule of pq_codebooks,
    # applied to residuals.
    resid = assign.select("vec_id", F.col("resid").alias("embedding"))
    books = pq_codebooks(resid)
    if books is None:
        return _empty_topk(embeddings.sparkSession)
    codes = pq_encode(resid, books)
    probes = nearest_centroids(queries, "qid", "qe", cent, n_probes).select(
        "qid", "cid", _residual_col("qe", "ce").alias("qresid")
    )
    adc_q = probes.select("qid", "cid", _adc_table_udf(books)("qresid").alias("adc"))
    pairs = (
        assign.select("vec_id", "cid")
        .join(codes, "vec_id")
        .join(F.broadcast(adc_q), "cid")
        .where(F.col("vec_id") != F.col("qid"))
    )
    return _exact_rerank(embeddings, queries, adc_shortlist(pairs, books, k), k)


def s22_ivf_pq_residual(spark, sf_dir):
    em = spread(load_table(spark, sf_dir, "embeddings"))
    return ivf_pq_residual_topk(em, _query_set(em)).orderBy(
        "qid", "vec_id", "sim"
    )


def _ivf_pq_residual_oracle() -> str:
    """DuckDB mirror of the residual-encoded composite: s20's oracle
    with the codebook/encode/ADC stages rebased onto ``x - q1(x)``
    residuals (``list_transform`` index arithmetic — the same IEEE
    subtraction Spark's ``zip_with`` performs) and the ADC table
    keyed by (qid, cid)."""
    d = EMBED_DIM // PQ_M
    resid = (
        f"list_transform(range(1, {EMBED_DIM + 1}),"
        " i -> e[i] - ce[i])"
    )
    qresid = (
        f"list_transform(range(1, {EMBED_DIM + 1}),"
        " i -> qe[i] - ce[i])"
    )

    def d2(v: str) -> str:
        return " + ".join(
            f"({v}[s*{d}+{i}]-bce[s*{d}+{i}])*({v}[s*{d}+{i}]-bce[s*{d}+{i}])"
            for i in range(1, d + 1)
        )

    # Stride the flattened ADC table by its ACTUAL per-subspace width
    # (len(al) // PQ_M == the engine's kk = min(PQ_K, corpus rows)), so
    # the oracle stays exact even when the corpus has fewer than PQ_K
    # vectors (ADVICE r7: hardcoded PQ_K stride was latently wrong).
    lookup = " + ".join(
        f"al[{s} * (len(al) // {PQ_M}) + cl[{s + 1}] + 1]"
        for s in range(PQ_M)
    )
    return f"""
        WITH cent AS (SELECT vec_id cid, embedding::DOUBLE[] ce FROM embeddings
                      WHERE vec_id < {IVF_CENTROIDS}),
        vx AS (SELECT vec_id, embedding::DOUBLE[] e FROM embeddings),
        assign AS (SELECT vec_id, cid, r FROM (
            SELECT v.vec_id, c.cid, {resid} r,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                       ORDER BY ROUND(list_distance(v.e, c.ce) ^ 2, 6), c.cid) rn
            FROM vx v, cent c) WHERE rn = 1),
        book AS (
          SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j, r bce
          FROM (SELECT vec_id, r FROM assign ORDER BY vec_id LIMIT {PQ_K})),
        subs AS (SELECT UNNEST(range({PQ_M})) s),
        enc AS (SELECT vec_id, s, j,
                       ROW_NUMBER() OVER (PARTITION BY vec_id, s
                           ORDER BY ROUND({d2('r')}, 9), j) rn
                FROM assign, book, subs),
        codes AS (SELECT vec_id, list(j ORDER BY s) cl FROM enc WHERE rn = 1 GROUP BY vec_id),
        q AS (SELECT vec_id qid, embedding::DOUBLE[] qe FROM embeddings
              WHERE vec_id % {QUERY_STRIDE} = 0),
        probes AS (SELECT qid, cid, qr FROM (
            SELECT q.qid, c.cid, {qresid} qr,
                   ROW_NUMBER() OVER (PARTITION BY q.qid
                       ORDER BY ROUND(list_distance(q.qe, c.ce) ^ 2, 6), c.cid) rn
            FROM q, cent c) WHERE rn <= {IVF_PROBES}),
        adc AS (SELECT qid, cid, s, j, {d2('qr')} d2 FROM probes, book, subs),
        adct AS (SELECT qid, cid, list(d2 ORDER BY s, j) al FROM adc GROUP BY qid, cid),
        dist AS (SELECT t.qid, a.vec_id, ROUND({lookup}, 9) adcd
                 FROM assign a JOIN adct t ON a.cid = t.cid
                 JOIN codes co ON co.vec_id = a.vec_id
                 WHERE a.vec_id != t.qid),
        cand AS (SELECT qid, vec_id FROM (
            SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adcd, vec_id) rn
            FROM dist) WHERE rn <= {PQ_CAND_MULT * TOPK}),
        rer AS (SELECT c.qid, c.vec_id,
                       ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) sim
                FROM cand c JOIN embeddings a ON a.vec_id = c.vec_id
                            JOIN embeddings b ON b.vec_id = c.qid),
        fin AS (SELECT qid, vec_id, sim,
                       ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) rn FROM rer)
        SELECT qid, vec_id, sim FROM fin WHERE rn <= {TOPK}
        ORDER BY qid, vec_id, sim"""


QUERIES["s22_ivf_pq_residual"] = s22_ivf_pq_residual
ORACLE_SQL["s22_ivf_pq_residual"] = _ivf_pq_residual_oracle()


MRL_DIMS = (16, 32, 64)


def matryoshka_recall(
    embeddings: DataFrame, queries: DataFrame, k: int = TOPK
) -> DataFrame:
    """Matryoshka truncation evaluation (Kusupati et al. 2022,
    "Matryoshka Representation Learning"): how much top-k recall
    survives when only the first d dimensions of each embedding are
    kept — the measurement that decides how small an MRL prefix a
    serving index can use. For each d in ``MRL_DIMS``: exact top-k by
    cosine over the d-prefix vs exact top-k over the full vectors;
    report mean recall@k. The full-width row (d = native dim) is a
    built-in sanity anchor: its recall is 1 by construction.

    Scale shape: each tier is the s01 shape (broadcast queries ×
    one corpus scan, per-query window top-k); the recall join is
    top-k-set sized. Recall = integer intersection counts / (k·|Q|)
    — a single exact division."""

    def tiers():
        w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("vec_id"))
        for d in MRL_DIMS:
            corpus = embeddings.select(
                "vec_id", F.slice("embedding", 1, d).alias("te")
            ).withColumn("nrm", _norm("te"))
            q = queries.select(
                "qid", F.slice("qe", 1, d).alias("tq")
            ).withColumn("qn", _norm("tq"))
            scored = corpus.join(
                F.broadcast(q), F.col("vec_id") != F.col("qid")
            ).select(
                "qid",
                "vec_id",
                F.round(
                    _dot("te", "tq") / (F.col("nrm") * F.col("qn")), 4
                ).alias("sim"),
            )
            yield d, (
                scored.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") <= k)
                .select("qid", "vec_id")
            )

    return _recall_curve(embeddings, queries, k, "dims", tiers())


def _recall_curve(
    embeddings: DataFrame, queries: DataFrame, k: int, tier: str, tiers
) -> DataFrame:
    """The shared tail of the recall sweeps (s23 MRL dims, s24
    nprobe): (tier, n_queries, n_hits, recall) with one row per
    ``(tier value, approx top-k)`` that the generator ``tiers`` yields.
    The exact top-k is the one O(N·|Q|) corpus scan, materialized once
    so no tier's hit join re-triggers it; ``tiers`` is consumed only
    after the empty-query guard, so its own set-up jobs follow the
    count. recall = n_hits / (k·|Q|), stabilized to 6 dp."""
    exact = materialize(
        cosine_topk(embeddings, queries, k=k)
        .select(F.col("qid").alias("eqid"), F.col("vec_id").alias("ev"))
    )
    n_q = queries.count()
    spark = embeddings.sparkSession
    if n_q == 0:  # empty corpus/query set — recall is undefined
        return spark.createDataFrame(
            [], f"{tier} int, n_queries long, n_hits long, recall double"
        )
    hit = (F.col("qid") == F.col("eqid")) & (F.col("vec_id") == F.col("ev"))
    rows = [(t, n_q, approx.join(exact, hit).count()) for t, approx in tiers]
    return spark.createDataFrame(
        rows, f"{tier} int, n_queries long, n_hits long"
    ).select(
        tier,
        "n_queries",
        "n_hits",
        stab(F.col("n_hits") / (F.lit(float(k)) * F.col("n_queries"))).alias(
            "recall"
        ),
    )


def s23_matryoshka_eval(spark, sf_dir):
    """Truncated-dimension recall sweep over the embeddings corpus —
    fully oracled tier by tier in DuckDB (list-slice cosine)."""
    em = spread(load_table(spark, sf_dir, "embeddings"))
    return matryoshka_recall(em, _query_set(em)).orderBy(
        "dims", "n_queries", "n_hits", "recall"
    )


def _s23_oracle() -> str:
    tiers = []
    for d in MRL_DIMS:
        tiers.append(f"""
        SELECT {d} dims, (SELECT COUNT(*) FROM q) n_queries,
               (SELECT COUNT(*) FROM (
                   SELECT a.qid, a.vec_id FROM (
                       SELECT qid, vec_id FROM (
                           SELECT q.qid, e.vec_id,
                                  ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                                      ROUND(list_cosine_similarity(
                                          (e.embedding::DOUBLE[])[1:{d}],
                                          (q.qe::DOUBLE[])[1:{d}]), 4) DESC,
                                      e.vec_id) rn
                           FROM embeddings e, q WHERE e.vec_id != q.qid)
                       WHERE rn <= {TOPK}) a
                   JOIN ex ON ex.qid = a.qid AND ex.vec_id = a.vec_id)) n_hits
        WHERE EXISTS (SELECT 1 FROM q)""")
    body = "\n        UNION ALL\n".join(tiers)
    return f"""
        WITH q AS (SELECT vec_id qid, embedding qe FROM embeddings
                   WHERE vec_id % {QUERY_STRIDE} = 0),
        ex AS (SELECT qid, vec_id FROM (
                   SELECT q.qid, e.vec_id,
                          ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                              ROUND(list_cosine_similarity(
                                  e.embedding::DOUBLE[], q.qe::DOUBLE[]), 4) DESC,
                              e.vec_id) rn
                   FROM embeddings e, q WHERE e.vec_id != q.qid)
               WHERE rn <= {TOPK}),
        t AS ({body})
        SELECT dims, n_queries, n_hits,
               ROUND(ROUND(n_hits / ({TOPK}.0 * n_queries), 9) + 1e-12, 6) recall
        FROM t ORDER BY dims, n_queries, n_hits, recall"""


QUERIES["s23_matryoshka_eval"] = s23_matryoshka_eval
ORACLE_SQL["s23_matryoshka_eval"] = _s23_oracle()


SWEEP_THRESHOLDS = (0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)


def d26_threshold_sweep(spark, sf_dir):
    """Near-dup THRESHOLD SWEEP — the curve a curation team reads
    before fixing a dedup cutoff (SemDeDup §4 ablates exactly this):
    for each candidate cosine threshold, how many pairs would be
    merged, how many distinct vectors are touched, and what fraction
    of the corpus a keep-one-per-pair policy would drop. One exact
    pair materialization at the LOOSEST threshold (the d05 tiled
    kernel), then every tighter threshold is a conditional aggregate
    over that pair set — the sweep costs one extra hash agg, not one
    all-pairs pass per threshold.

    Scale shape: pair-set-sized after the one tiled pass; the explode
    is 2 rows per pair; per-threshold distinct counts shuffle on
    (threshold, vec). Fully oracled (the d05 pair SQL + the same
    conditional sweep)."""
    em = spread(load_table(spark, sf_dir, "embeddings"))
    n_total = em.count()
    # ONE conditional-aggregate pass per face instead of 14 separate
    # jobs (7 thresholds x (count + distinct-count)): r8 driver data
    # showed a 2.8-9.1 s rep spread dominated by per-job plan-compile
    # + scheduling overhead, not data (VERDICT r8 task 5). n_pairs(t)
    # is SUM(sim >= t), counters that ride the pair table's own
    # checkpoint job; n_touched(t) folds the distinct through a
    # per-vector max-sim table (a vector is touched at t iff its BEST
    # pair clears t) — one bounded 1-row collect, identical numbers,
    # and the keep-one-per-connected-pair note still holds:
    # drop count == touched - components >= touched - pairs; the
    # reported metric is the touched-vector fraction SemDeDup plots.
    pairs, pair_sums = materialize(
        embed_neardup_pairs(em, threshold=min(SWEEP_THRESHOLDS)),
        {
            f"p{i}": F.sum((F.col("sim") >= F.lit(t)).cast("long"))
            for i, t in enumerate(SWEEP_THRESHOLDS)
        },
    )
    touch_row = (
        pairs.select(F.explode(F.array("va", "vb")).alias("v"), "sim")
        .groupBy("v")
        .agg(F.max("sim").alias("vmax"))
        .agg(
            *[
                F.sum((F.col("vmax") >= F.lit(t)).cast("long")).alias(f"t{i}")
                for i, t in enumerate(SWEEP_THRESHOLDS)
            ]
        )
        .first()
    )
    rows = [
        (float(t), int(pair_sums[f"p{i}"] or 0), int(touch_row[i] or 0))
        for i, t in enumerate(SWEEP_THRESHOLDS)
    ]
    out = spark.createDataFrame(
        rows, "threshold double, n_pairs long, n_touched long"
    )
    return out.select(
        "threshold",
        "n_pairs",
        "n_touched",
        # empty corpus -> fraction undefined, not a crash (ANSI guard)
        F.when(
            F.lit(n_total) > 0,
            stab_signed(F.col("n_touched") / F.lit(float(max(n_total, 1))), 6),
        ).alias("touched_frac"),
    ).orderBy("threshold", "n_pairs", "n_touched", "touched_frac")


def _d26_oracle() -> str:
    tiers = []
    for t in SWEEP_THRESHOLDS:
        tiers.append(f"""
        SELECT CAST({t} AS DOUBLE) threshold,
               (SELECT COUNT(*) FROM p WHERE sim >= {t}) n_pairs,
               (SELECT COUNT(*) FROM (
                    SELECT va v FROM p WHERE sim >= {t}
                    UNION SELECT vb FROM p WHERE sim >= {t})) n_touched""")
    body = "\n        UNION ALL\n".join(tiers)
    return f"""
        WITH p AS (
            -- tier filters run on the ROUNDED 4-dp sim exactly as the
            -- engine's pair table carries it (the base >= filter is
            -- unrounded, mirroring the tiled kernel)
            SELECT a.vec_id va, b.vec_id vb,
                   ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                                          b.embedding::DOUBLE[]), 4) sim
            FROM embeddings a, embeddings b
            WHERE a.vec_id < b.vec_id
              AND list_cosine_similarity(a.embedding::DOUBLE[],
                                         b.embedding::DOUBLE[])
                  >= {min(SWEEP_THRESHOLDS)}),
        n AS (SELECT COUNT(*) c FROM embeddings),
        t AS ({body})
        SELECT threshold, n_pairs, n_touched,
               ROUND(ROUND(n_touched / CAST(n.c AS DOUBLE), 9) + 1e-12, 6)
                   touched_frac
        FROM t, n
        ORDER BY threshold, n_pairs, n_touched, touched_frac"""


QUERIES["d26_threshold_sweep"] = d26_threshold_sweep
ORACLE_SQL["d26_threshold_sweep"] = _d26_oracle()


# ------------------------------------------ IVF probe-recall curve
# d26 sweeps the dedup threshold and s23 sweeps MRL dims; this is the
# third design curve an ANN deployment reads before fixing its
# serving config: recall@k as a function of nprobe (the IVF
# speed/recall knob — Johnson et al. 2019, "Billion-scale similarity
# search with GPUs" ablate exactly this). Deterministic first-N
# centroids (the fully-oracled s03 index variant) so every tier is
# DuckDB-replayable end to end.
PROBE_SWEEP = (1, 2, 4, 8)


def ivf_probe_recall(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = TOPK,
    n_centroids: int = IVF_CENTROIDS,
    sweep: tuple[int, ...] = PROBE_SWEEP,
) -> DataFrame:
    """Recall@k vs nprobe over the s03 IVF index: one row per tier
    (n_probes, n_queries, n_hits, recall).

    Scale shape: the exact top-k (the one O(N·|Q|) pass — the
    declared price of a recall AUDIT, the d25/d27/d28 cost class:
    measured alpha ~1.1 on the x1/x3/x10 family because |Q| grows
    with N), the assignment table, the query→centroid ranking AND
    the candidate scoring at max(sweep) probes are each materialized
    ONCE (``materialize`` — the d26/s23 shared-tier discipline);
    every tier then costs one prn filter + one per-query rank over
    the pre-scored rows. Ranking keys identical to ``ivf_topk``
    (dist 6 dp + cid tiebreak, sim 4 dp + vec_id tiebreak)."""

    def tiers():
        cent = first_n_centroids(embeddings, n_centroids)
        assign = materialize(
            ivf_assign(embeddings, cent)
            .select("vec_id", "embedding", "cid")
        )
        pranked = materialize(
            nearest_centroids(queries, "qid", "qe", cent, max(sweep))
            .select("qid", "qe", "cid", F.col("rn").alias("prn"))
        )
        # Score ONCE at max(sweep) probes, carrying the probe rank each
        # candidate entered at (r10: the per-tier loop previously re-ran
        # the cosine kernel over nested candidate sets — tier p's
        # candidates are a subset of p_max's, so Σ_p p/p_max of the
        # scoring was redundant; a tier now costs one filter + one
        # per-query rank over already-scored rows). sim per (qid, vec_id)
        # is tier-independent, so results are bit-identical.
        scored_all = materialize(  # every tier re-ranks it
            assign.join(pranked, "cid")
            .where(F.col("vec_id") != F.col("qid"))
            .select(
                "qid",
                "vec_id",
                "prn",
                F.round(
                    _dot("embedding", "qe") / (_norm("embedding") * _norm("qe")),
                    4,
                ).alias("sim"),
            )
        )
        w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("vec_id"))
        for p in sweep:
            yield p, (
                scored_all.where(F.col("prn") <= p)
                .withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") <= k)
                .select("qid", "vec_id")
            )

    return _recall_curve(embeddings, queries, k, "n_probes", tiers())


def s24_probe_recall_curve(spark, sf_dir):
    em = spread(load_table(spark, sf_dir, "embeddings"))
    return ivf_probe_recall(em, _query_set(em)).orderBy(
        "n_probes", "n_queries", "n_hits", "recall"
    )


def _s24_oracle() -> str:
    tiers = []
    for p in PROBE_SWEEP:
        tiers.append(f"""
        SELECT {p} n_probes, (SELECT COUNT(*) FROM q) n_queries,
               (SELECT COUNT(*) FROM (
                   SELECT a2.qid, a2.vec_id FROM (
                       SELECT qid, vec_id FROM (
                           SELECT pr.qid, a.vec_id,
                                  ROW_NUMBER() OVER (PARTITION BY pr.qid
                                      ORDER BY ROUND(list_cosine_similarity(
                                          a.embedding::DOUBLE[], pr.qe), 4)
                                          DESC, a.vec_id) rn
                           FROM assign a JOIN pr
                                ON a.cid = pr.cid AND pr.rn <= {p}
                           WHERE a.vec_id != pr.qid)
                       WHERE rn <= {TOPK}) a2
                   JOIN ex ON ex.qid = a2.qid AND ex.vec_id = a2.vec_id))
                   n_hits
        WHERE EXISTS (SELECT 1 FROM q)""")
    body = "\n        UNION ALL\n".join(tiers)
    return f"""
        WITH q AS (SELECT vec_id qid, embedding::DOUBLE[] qe
                   FROM embeddings WHERE vec_id % {QUERY_STRIDE} = 0),
        cent AS (SELECT vec_id cid, embedding::DOUBLE[] ce
                 FROM embeddings WHERE vec_id < {IVF_CENTROIDS}),
        assign AS (SELECT vec_id, embedding, cid FROM (
            SELECT e.vec_id, e.embedding, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                       ORDER BY ROUND(list_distance(e.embedding::DOUBLE[],
                                                    c.ce) ^ 2, 6), c.cid) rn
            FROM embeddings e, cent c) WHERE rn = 1),
        pr AS (SELECT qid, qe, cid, rn FROM (
            SELECT q.qid, q.qe, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY q.qid
                       ORDER BY ROUND(list_distance(q.qe, c.ce) ^ 2, 6),
                                c.cid) rn
            FROM q, cent c) WHERE rn <= {max(PROBE_SWEEP)}),
        ex AS (SELECT qid, vec_id FROM (
            SELECT q.qid, e.vec_id,
                   ROW_NUMBER() OVER (PARTITION BY q.qid
                       ORDER BY ROUND(list_cosine_similarity(
                           e.embedding::DOUBLE[], q.qe), 4) DESC,
                           e.vec_id) rn
            FROM embeddings e, q WHERE e.vec_id != q.qid)
            WHERE rn <= {TOPK}),
        t AS ({body})
        SELECT n_probes, n_queries, n_hits,
               ROUND(ROUND(n_hits / ({TOPK}.0 * n_queries), 9) + 1e-12, 6)
                   recall
        FROM t ORDER BY n_probes, n_queries, n_hits, recall"""


QUERIES["s24_probe_recall_curve"] = s24_probe_recall_curve
ORACLE_SQL["s24_probe_recall_curve"] = _s24_oracle()


# ---------------------------------------------- s25 PQ distortion
# The PQ family's missing AUDIT tier (the d26/s23/s24 design-curve
# discipline): quantization distortion — the per-subspace mean
# squared error between subvectors and their assigned codebook
# entry. This is the quality metric Jegou, Douze & Schmid 2011
# ("Product Quantization for Nearest Neighbor Search", §IV) report
# for every PQ configuration: distortion is what the code budget
# (M, K) buys down, and a subspace with outlier distortion is the
# one that poisons ADC rankings.
#
# Float discipline (the h21 integer-cents move, applied to floats):
# the assigned-code distance is rounded to 9 dp (the SAME rounding
# s09's encode already applies before its argmin), scaled to exact
# integer NANOS (x 1e9), and summed as BIGINT — so the cross-row
# aggregation is order-independent and the only float division is
# the final mse per subspace.


def s25_pq_distortion(spark, sf_dir):
    """Per PQ subspace: vector count, exact integer total squared
    error in nanos, and the mean squared error — over the s09/s10
    deterministic codebooks and the same rounded-argmin assignment.

    Scale shape: ONE corpus pass (an Arrow-batched pandas_udf per
    vector computes all M assigned distances against the broadcast
    (M, K, d) codebook — the same closure shape as ``pq_encode``),
    then posexplode to (s, nanos) and one 16-group aggregate. At
    100 TB this is exactly the code-table build pass with an extra
    16-long column; nothing new shuffles."""
    from pyspark.sql.functions import pandas_udf

    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_codebooks(emb)
    if books is None:  # empty corpus — empty report, not a crash
        return spark.createDataFrame(
            [], "s long, n_vecs long, sq_nanos long, mse double"
        )
    B = np.asarray(books, dtype=np.float64)
    m, _kk, d = B.shape

    @pandas_udf("array<long>")
    def _dist9(v: pd.Series) -> pd.Series:
        V = np.stack(v.values).astype(np.float64).reshape(len(v), m, d)
        out = np.empty((len(v), m), dtype=np.int64)
        for s in range(m):
            diff = V[:, s, None, :] - B[s][None, :, :]
            dd = np.round((diff * diff).sum(-1), 9).min(axis=1)
            # floor(x+0.5) = round-half-AWAY, matching the oracle's
            # ROUND; np.rint is half-to-even and would diverge on a
            # tie (ADVICE r9 — dd >= 0 so no negative-half case).
            out[:, s] = np.floor(dd * 1e9 + 0.5).astype(np.int64)
        return pd.Series(list(out))

    per = emb.select(
        F.posexplode(_dist9("embedding")).alias("s", "nanos")
    )
    return (
        per.groupBy(F.col("s").cast("long").alias("s"))
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("nanos").alias("sq_nanos"),
        )
        .select(
            "s",
            "n_vecs",
            "sq_nanos",
            stab(
                (F.col("sq_nanos").cast("double") / F.lit(1e9)) / F.col("n_vecs"), 6
            ).alias("mse"),
        )
        .orderBy("s", "n_vecs", "sq_nanos", "mse")
    )


def _s25_oracle() -> str:
    """Reuses _pq_oracle's codebook/subspace-distance CTE forms: the
    same explicit 4-term left-to-right (x-c)*(x-c) sums, the same
    ROUND(·, 9) before the min — so the assigned-code distance is the
    bit-identical double on both engines before the nanos scaling."""
    d = EMBED_DIM // PQ_M

    def d2(v: str) -> str:
        return " + ".join(
            f"({v}[s*{d}+{i}]-ce[s*{d}+{i}])*({v}[s*{d}+{i}]-ce[s*{d}+{i}])"
            for i in range(1, d + 1)
        )

    return f"""
        WITH book AS (
          SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j, embedding::DOUBLE[] ce
          FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {PQ_K})),
        subs AS (SELECT UNNEST(range({PQ_M})) s),
        vx AS (SELECT vec_id, embedding::DOUBLE[] e FROM embeddings),
        dmin AS (SELECT vec_id, s, MIN(ROUND({d2('e')}, 9)) dd
                 FROM vx, book, subs GROUP BY vec_id, s),
        nanos AS (SELECT vec_id, s, CAST(ROUND(dd * 1e9) AS BIGINT) nn
                  FROM dmin)
        SELECT CAST(s AS BIGINT) s, CAST(COUNT(*) AS BIGINT) n_vecs,
               CAST(SUM(nn) AS BIGINT) sq_nanos,
               ROUND(ROUND((CAST(SUM(nn) AS DOUBLE) / 1e9) / COUNT(*), 9)
                     + 1e-12, 6) + 0.0 mse
        FROM nanos GROUP BY s
        ORDER BY s, n_vecs, sq_nanos, mse"""


QUERIES["s25_pq_distortion"] = s25_pq_distortion
ORACLE_SQL["s25_pq_distortion"] = _s25_oracle()


# --------------------------------------------- cluster-quality audit
# s04 trains the IVF coarse quantizer and s24 measures probe recall;
# neither answers the index designer's FIRST question about a trained
# partition: is it any good as a clustering? s26 reports the
# simplified silhouette coefficient (Rousseeuw 1987; the
# centroid-distance form used at scale, e.g. scikit-learn's
# "silhouette on centroids" guidance for large n): per vector,
# a = squared distance to its assigned centroid, b = the smallest
# squared distance to any OTHER centroid, s = (b - a) / max(a, b).
# Per-cluster means expose both compactness (mean_a), separation
# (mean_b) and the combined score — low-silhouette clusters are the
# ones to re-train or split before shipping the index.


def silhouette_report(em: DataFrame) -> DataFrame:
    """Per-cluster simplified silhouette over the s04-trained k-means
    partition: (cid, n_vecs, mean_a, mean_b, silhouette).

    Determinism: distances are ROUND(sqdist, 6) — the s04 assignment
    discipline, so argmin ties break identically (lowest cid) in both
    engines; per-row a/b/s are then bit-identical and only the AVG
    accumulators are order-dependent, stabilized 9 -> 6 dp.

    Scale shape: ONE corpus scan against the broadcast k-row centroid
    table (k = IVF_CENTROIDS); the per-vector sort is over k structs
    inside a map-side expression (sort_array over collect_list is
    grouped per vec_id — the same N x k expansion the s04 assignment
    already pays), and the only shuffle after it is the k-group
    aggregate. Nothing corpus-sized reaches the driver; the trained
    centroids ride through the same bounded kmeans_fit sample as
    s04."""
    spark = em.sparkSession
    cents, _ = kmeans_fit(em, n_iter=3)
    if len(cents) < 2:  # silhouette undefined below 2 clusters
        return spark.createDataFrame(
            [],
            "cid int, n_vecs long, mean_a double, mean_b double,"
            " silhouette double",
        )
    cent = centroid_frame(spark, cents)
    d6 = F.round(_sqdist("embedding", "ce"), 6)
    per_vec = (
        em.crossJoin(F.broadcast(cent))
        .select("vec_id", d6.alias("d"), "cid")
        .groupBy("vec_id")
        .agg(F.sort_array(F.collect_list(F.struct("d", "cid"))).alias("x"))
        .select(
            F.col("x")[0]["cid"].alias("cid"),
            F.col("x")[0]["d"].alias("a"),
            F.col("x")[1]["d"].alias("b"),
        )
        .withColumn(
            "s",
            F.when(
                F.greatest("a", "b") > 0,
                (F.col("b") - F.col("a")) / F.greatest("a", "b"),
            ).otherwise(F.lit(0.0)),
        )
    )

    return per_vec.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        stab(F.avg("a")).alias("mean_a"),
        stab(F.avg("b")).alias("mean_b"),
        stab(F.avg("s")).alias("silhouette"),
    )


def s26_silhouette(spark, sf_dir):
    em = spread(load_table(spark, sf_dir, "embeddings"))
    return silhouette_report(em).orderBy(
        "cid", "n_vecs", "mean_a", "mean_b", "silhouette"
    )


QUERIES["s26_silhouette"] = s26_silhouette


def _s26_oracle(n_iter: int = 3) -> str:
    """DuckDB mirror of s26: the shared ``_kmeans_ctes`` centroid
    chain, one N x k distance table, argmin assignment (rn = 1 over
    (d, cid) — the s04 tiebreak), b = min distance over the other
    centroids, and the same stabilized per-cluster means."""
    ctes = _kmeans_ctes(n_iter)
    ctes.append(
        f"dist AS (SELECT v.vec_id, c.cid,"
        f" ROUND(list_distance(v.e, c.ce) ^ 2, 6) d"
        f" FROM vx v, c{n_iter} c)"
    )
    ctes.append(
        "asg AS (SELECT vec_id, cid, d a FROM ("
        "SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id"
        " ORDER BY d, cid) rn FROM dist) WHERE rn = 1)"
    )
    ctes.append(
        "bd AS (SELECT d.vec_id, MIN(d.d) b FROM dist d JOIN asg a"
        " ON d.vec_id = a.vec_id AND d.cid != a.cid GROUP BY d.vec_id)"
    )
    ctes.append(
        "sil AS (SELECT a.cid, a.a, b.b,"
        " CASE WHEN GREATEST(a.a, b.b) > 0"
        " THEN (b.b - a.a) / GREATEST(a.a, b.b) ELSE 0.0 END s"
        " FROM asg a JOIN bd b USING (vec_id))"
    )
    body = ",\n        ".join(ctes)
    return f"""WITH {body}
        SELECT CAST(cid AS INT) cid, CAST(COUNT(*) AS BIGINT) n_vecs,
               ROUND(ROUND(AVG(a), 9) + 1e-12, 6) + 0.0 mean_a,
               ROUND(ROUND(AVG(b), 9) + 1e-12, 6) + 0.0 mean_b,
               ROUND(ROUND(AVG(s), 9) + 1e-12, 6) + 0.0 silhouette
        FROM sil GROUP BY cid
        ORDER BY cid, n_vecs, mean_a, mean_b, silhouette"""


ORACLE_SQL["s26_silhouette"] = _s26_oracle()


# ------------------------------------------- s27 similarity histogram
# Every s-tier ranks; none DESCRIBES. The corpus-similarity
# distribution — how the query-to-corpus cosine mass spreads across
# [-1, 1] — is the audit a retrieval pipeline reads to catch
# embedding collapse (mass piling at ~1) or an unnormalized mixture
# (bimodal lobes) before any top-k number means anything.

SIM_HIST_BINS = 20  # 0.1-wide bins over [-1, 1]


def sim_histogram(embeddings: DataFrame, queries: DataFrame) -> DataFrame:
    """Histogram of query-to-corpus cosine similarities: bin b covers
    [b/10 - 1, b/10 - 0.9), top bin closed at 1.0. The cosine is the
    s01 strict left-fold ``_dot`` rounded to 4 dp (bit-identical to
    DuckDB), so every pair lands in the same bin in both engines —
    binning an IEEE-identical double is exact, no boundary drift.

    Scale shape: queries broadcast (the s01 BNLJ discipline — one
    corpus scan regardless of corpus size), corpus collapses to a
    <= SIM_HIST_BINS-row report through one map-side-combinable
    aggregate; nothing downstream grows with SF."""
    corpus = embeddings.select(
        "vec_id", "embedding", _norm("embedding").alias("nrm")
    )
    q = queries.select("qid", "qe", _norm("qe").alias("qn"))
    sim = F.round(
        _dot("embedding", "qe") / (F.col("nrm") * F.col("qn")), 4
    )
    bin_ = F.least(
        F.greatest(
            F.floor((sim + F.lit(1.0)) * F.lit(10.0)).cast("long"),
            F.lit(0).cast("long"),
        ),
        F.lit(SIM_HIST_BINS - 1).cast("long"),
    )
    return (
        corpus.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .select(bin_.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(
            "bin",
            (F.col("bin").cast("double") * F.lit(0.1) - F.lit(1.0)).alias(
                "lo"
            ),
            "n_pairs",
        )
    )


def s27_sim_histogram(spark, sf_dir):
    em = spread(load_table(spark, sf_dir, "embeddings"))
    return sim_histogram(em, _query_set(em)).orderBy("bin", "lo", "n_pairs")


QUERIES["s27_sim_histogram"] = s27_sim_histogram

ORACLE_SQL["s27_sim_histogram"] = f"""
        WITH q AS (SELECT vec_id qid, embedding::DOUBLE[] qe
                   FROM embeddings WHERE vec_id % {QUERY_STRIDE} = 0),
        s AS (SELECT ROUND(list_cosine_similarity(embedding::DOUBLE[], qe), 4) sim
              FROM embeddings, q WHERE vec_id != qid),
        b AS (SELECT LEAST(GREATEST(CAST(FLOOR((sim + 1.0) * 10.0) AS BIGINT),
                                    0), {SIM_HIST_BINS - 1}) bin
              FROM s)
        SELECT bin, CAST(bin AS DOUBLE) * 0.1 - 1.0 lo, COUNT(*) n_pairs
        FROM b GROUP BY bin ORDER BY bin, lo, n_pairs"""


# ------------------------- s28 corpus-adaptive IVF-PQ (sqrt-N nlist)
# The r10 x30 run (PERFORMANCE.md "x30 end-to-end runs") measured the
# cost of a FIXED coarse quantizer: at IVF_CENTROIDS=16 every probe
# scans N/4 of the corpus, so the ADC pass grows linearly per query
# no matter how large the corpus gets. The probed FRACTION has to
# shrink as the corpus grows for the IVF reduction to mean anything
# at 100 TB — the FAISS IndexIVFPQ sizing guidance is
# nlist ~ 4*sqrt(N)..16*sqrt(N). The committed s20/s22/s24 oracles
# keep their fixed-nlist parameterization (re-parameterizing them
# mid-series would silently rewrite five rounds of CORRECTNESS/BENCH
# artifacts), so the adaptive rule ships as its own oracled contract.


def ivf_pq_adaptive_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = TOPK
) -> DataFrame:
    """:func:`ivf_pq_topk` with corpus-adaptive coarse quantization:
    ``nlist = max(IVF_CENTROIDS, ceil(4 * sqrt(N)))`` — the FAISS
    IndexIVFPQ sizing rule (Jégou et al. 2011 §V uses
    nlist = O(sqrt(N)) so assignment and scan costs balance) — and
    ``nprobe = max(IVF_PROBES, ceil(sqrt(nlist)))`` so recall does
    not collapse as the bucket count grows. Per-query scanned
    fraction is ``nprobe/nlist ~ N^(-1/4)/2`` — it SHRINKS as the
    corpus grows (7.8% at 2,000 vectors vs the fixed shape's 25%),
    which is the property the fixed-nlist bench shape cannot have;
    measured on the sf0.1 corpus that buys recall@5 0.44 for 7.8%
    scanned vs s20's 0.525 for 25% (random unit vectors are IVF's
    worst case — no cluster structure; the oracle pins the ANN
    contract exactly, recall is the documented tradeoff).

    The one driver-side ``count()`` is an index-build-time statistic
    (parquet footer metadata — no column data is read); both engines
    evaluate ``ceil(4*sqrt(N))`` / ``ceil(sqrt(nlist))`` on IEEE
    doubles (sqrt correctly rounded, *4 exact), so the Spark plan and
    the DuckDB oracle always pick the SAME (nlist, nprobe) pair and
    stay bit-exact end-to-end."""
    n = embeddings.count()
    nlist = max(IVF_CENTROIDS, math.ceil(4.0 * math.sqrt(float(n))))
    nprobe = max(IVF_PROBES, math.ceil(math.sqrt(float(nlist))))
    return ivf_pq_topk(
        embeddings, queries, k=k, n_centroids=nlist, n_probes=nprobe
    )


def s28_ivf_pq_adaptive(spark, sf_dir):
    em = spread(load_table(spark, sf_dir, "embeddings"))
    return ivf_pq_adaptive_topk(em, _query_set(em)).orderBy(
        "qid", "vec_id", "sim"
    )


QUERIES["s28_ivf_pq_adaptive"] = s28_ivf_pq_adaptive

ORACLE_SQL["s28_ivf_pq_adaptive"] = _ivf_pq_oracle(
    nlist_sql="(SELECT n FROM nl)",
    nprobe_sql="(SELECT p FROM np)",
    extra_cte=(
        f"nl AS (SELECT GREATEST({IVF_CENTROIDS}, "
        "CAST(CEIL(4.0 * SQRT(COUNT(*))) AS BIGINT)) n FROM embeddings), "
        f"np AS (SELECT GREATEST({IVF_PROBES}, "
        "CAST(CEIL(SQRT(CAST(n AS DOUBLE))) AS BIGINT)) p FROM nl), "
    ),
)
