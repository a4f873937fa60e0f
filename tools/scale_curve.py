#!/usr/bin/env python
"""Scaling-curve harness for the banded dedup / ANN tiers.

The 100 TB story for d03/d04/d16/d23/s20/s04 has so far rested on
plan-shape audits plus cap unit tests (VERDICT r6, "What's missing"
item 3: no scaling *curve* has ever been measured). This tool turns
that into measured evidence on a builder-generated corpus family:

  python tools/scale_curve.py gen            # write fixtures/scale/x{1,3,10}
  python tools/scale_curve.py run [--reps 3] # time targets at each scale

`gen` writes documents.parquet + embeddings.parquet at 1x (matching
the driver's sf0.1 shape: 5 000 docs / 2 000 vectors), 3x and 10x,
all drawn from ONE seeded generator that mimics the driver corpus
profile (15-60 words per doc, langs/sources read from
/root/testdata/sf0.1, unit-norm 64-dim embeddings, 10 labels) with
proportional duplicate structure: ~0.6% exact-dup docs, ~2% near-dup
docs (15% word mutation), ~1.5% perturbed near-dup vectors. Holding
the generator fixed and scaling n is what makes the fitted exponent
meaningful; /root/testdata is never written.

VOCABULARY: 2 000 synthetic words, NOT the driver corpus's 31-word
toy vocab. A first run with the 31-word vocab showed why: random
bag-of-words docs over 31 words are all ambiently similar, so the
TRUE near-dup pair mass itself grows quadratically (d16 verified
pairs 2 025 -> 212 186 for 10x docs) — a corpus-math property no
dedup algorithm can linearize, which would measure the corpus, not
the operator. With a realistic vocabulary ambient similarity
collapses and the injected (linear) duplicates dominate, so the
fitted exponent isolates algorithmic overheads — the thing the 100 TB
claim is actually about. (That toy-vocab run is still recorded in
PERFORMANCE.md as an output-bound stress datapoint.)

`run` executes each target query end-to-end (noop sink, median of
--reps back-to-back reps, rep 1 absorbing codegen) at every scale,
records output rows and — for the banded dedup tiers — the size of
the candidate-pair set that reaches exact verification, then fits
time ~ n^alpha by least squares on log-log and prints a markdown
table for PERFORMANCE.md. A banded tier is scale-safe when alpha is
~1 (VERDICT's bar: <= ~1.2); candidate counts growing ~linearly show
the bucket caps and pre-collapse doing their job, not just the clock.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_ROOT = os.path.join(REPO, "fixtures", "scale")
REF_SF = "/root/testdata/sf0.1"
SCALES = (1, 3, 10)
BASE_DOCS = 5_000
BASE_VECS = 2_000
SEED = 20260815


VOCAB_SIZE = 2_000


def _real_profile():
    import duckdb

    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vrng = np.random.default_rng(SEED + 1)
    vocab = list(
        {
            "".join(vrng.choice(letters, size=int(vrng.integers(4, 9))))
            for _ in range(int(VOCAB_SIZE * 1.3))
        }
    )
    vocab.sort()
    vocab = vocab[:VOCAB_SIZE]
    langs = [
        r[0]
        for r in duckdb.sql(
            f"SELECT DISTINCT lang FROM '{REF_SF}/documents.parquet' ORDER BY lang"
        ).fetchall()
    ]
    sources = [
        r[0]
        for r in duckdb.sql(
            f"SELECT DISTINCT source FROM '{REF_SF}/documents.parquet' ORDER BY source"
        ).fetchall()
    ]
    return vocab, langs, sources


def gen(scales=SCALES) -> None:
    vocab, langs, sources = _real_profile()
    for mult in scales:
        rng = np.random.default_rng(SEED)  # same stream, longer prefix
        n_docs, n_vecs = BASE_DOCS * mult, BASE_VECS * mult
        out_dir = os.path.join(OUT_ROOT, f"x{mult}")
        os.makedirs(out_dir, exist_ok=True)

        texts: list[str] = []
        for i in range(n_docs):
            r = rng.random()
            if i > 10 and r < 0.006:  # exact duplicate of an earlier doc
                texts.append(texts[int(rng.integers(0, i))])
            elif i > 10 and r < 0.026:  # near duplicate, ~15% words mutated
                base = texts[int(rng.integers(0, i))].split(" ")
                k = max(1, int(0.15 * len(base)))
                idx = rng.choice(len(base), size=k, replace=False)
                for j in idx:
                    base[j] = vocab[int(rng.integers(0, len(vocab)))]
                texts.append(" ".join(base))
            else:
                n_words = int(rng.integers(15, 61))
                words = rng.choice(vocab, size=n_words, replace=True)
                texts.append(" ".join(words))
        doc_tbl = pa.table(
            {
                "doc_id": pa.array(range(n_docs), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(
                    [langs[int(x)] for x in rng.integers(0, len(langs), n_docs)]
                ),
                "source": pa.array(
                    [sources[int(x)] for x in rng.integers(0, len(sources), n_docs)]
                ),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        )
        pq.write_table(doc_tbl, os.path.join(out_dir, "documents.parquet"))

        vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
        n_nd = max(1, int(0.015 * n_vecs))
        src = rng.integers(0, n_vecs - n_nd, n_nd)
        dst = np.arange(n_vecs - n_nd, n_vecs)
        vecs[dst] = vecs[src] + 0.05 * rng.standard_normal((n_nd, 64)).astype(
            np.float32
        )
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        emb_tbl = pa.table(
            {
                "vec_id": pa.array(range(n_vecs), pa.int64()),
                "embedding": pa.array(
                    [v.tolist() for v in vecs], pa.list_(pa.float32())
                ),
                "label": pa.array(
                    rng.integers(0, 10, n_vecs).astype(np.int32), pa.int32()
                ),
            }
        )
        pq.write_table(emb_tbl, os.path.join(out_dir, "embeddings.parquet"))
        print(f"wrote {out_dir}: {n_docs} docs / {n_vecs} vecs", file=sys.stderr)


def _candidate_counts(spark, sf_dir: str) -> dict[str, int]:
    """Rows reaching exact verification for the banded dedup tiers."""
    from crossfire_spark.catalog import load_table
    from crossfire_spark.functions.dedup import (
        _exact_dup_membership,
        _representatives,
        minhash_lsh_candidates,
        weighted_srp_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rep_docs = _representatives(docs, _exact_dup_membership(docs))
    return {
        "d03_candidates": minhash_lsh_candidates(rep_docs).count(),
        "d16_candidates": weighted_srp_pairs(
            docs, return_candidates=True
        ).count(),
    }


def run(reps: int, scales=SCALES, only=None, candidates=True) -> None:
    from crossfire_spark import get_spark
    from crossfire_spark.registry import all_queries

    targets = [
        "d03_minhash_lsh",
        "d04_simhash",
        "d16_weighted_neardup",
        "d23_longest_shared_span",
        "s04_ivf_kmeans",
        "s20_ivf_pq_topk",
        # round-7 additions with nontrivial scale stories
        "s22_ivf_pq_residual",
        "d24_bloom_decontam",
        "s23_matryoshka_eval",
        # round-8 additions: the planner's exact pair pass, the
        # keep-first span cut, and the distributed-rank shard deal
        "d29_lsh_param_planner",
        "d30_span_removal_plan",
        "t35_shard_manifest",
        # round-9 additions over the scale-fixture tables (h24 rides
        # the events table, absent here — its cost class is h23's
        # rollup+window plus one extra lead over the same sort)
        "t38_stupid_backoff",
        "g14_modularity",
        "m12_phash_dct",
        "s25_pq_distortion",
        # round-9/10 additions over the fixture tables (VERDICT r9
        # task 7: every op ships with a measured exponent)
        "d31_shard_leakage_audit",
        "t37_vocab_coverage",
        "s24_probe_recall_curve",
        "s26_silhouette",
        "v20_token_gini",
        "g15_edge_embeddedness",
        # round-10 batch 2 (doc/vec-fixture riders; h28 rides events
        # via run-real)
        "t39_langid_confusion",
        "d32_template_dedup",
        "s27_sim_histogram",
        "m14_audio_loudness",
        # round-10 batch 3 (the nlist-scaling answer to the x30 run)
        "s28_ivf_pq_adaptive",
        # round-10 batch 1.5 stragglers (m13 rides the doc fixture;
        # h27 is in REAL_TARGETS)
        "m13_image_stats",
    ]
    if only:
        targets = [t for t in targets if t in only]
    spark = get_spark(app_name="crossfire-scale-curve")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()

    results: dict[str, dict[int, dict]] = {t: {} for t in targets}
    cand: dict[int, dict[str, int]] = {}
    for mult in scales:
        sf_dir = os.path.join(OUT_ROOT, f"x{mult}")
        if not os.path.isdir(sf_dir):
            raise SystemExit(f"{sf_dir} missing — run `gen` first")
        for t in targets:
            times = []
            rows = None
            for _ in range(reps):
                t0 = time.perf_counter()
                df = qs[t](spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                times.append(time.perf_counter() - t0)
            rows = qs[t](spark, sf_dir).count()
            results[t][mult] = {
                "median_s": round(statistics.median(times), 3),
                "rows": rows,
            }
            print(
                f"x{mult} {t}: {results[t][mult]}", file=sys.stderr
            )
        if candidates:
            cand[mult] = _candidate_counts(spark, sf_dir)
            print(f"x{mult} candidates: {cand[mult]}", file=sys.stderr)

    # least-squares slope of log(time) vs log(scale)
    lx = [math.log(m) for m in scales]
    sx = sum(lx)
    sxx = sum(x * x for x in lx)
    n = len(scales)

    def slope(ys):
        ly = [math.log(max(y, 1e-9)) for y in ys]
        return (n * sum(x * y for x, y in zip(lx, ly)) - sx * sum(ly)) / (
            n * sxx - sx * sx
        )

    lines = [
        "| query | "
        + " | ".join(f"x{m} time (s)" for m in scales)
        + " | alpha (t~n^a) | "
        + " | ".join(f"x{m} rows" for m in scales)
        + " |",
        "|---|" + "---|" * (2 * len(scales) + 1),
    ]
    summary = {}
    for t in targets:
        ts = [results[t][m]["median_s"] for m in scales]
        rws = [results[t][m]["rows"] for m in scales]
        a = slope(ts)
        summary[t] = {"alpha": round(a, 2), "times": ts, "rows": rws}
        lines.append(
            f"| {t} | "
            + " | ".join(f"{v:.2f}" for v in ts)
            + f" | {a:.2f} | "
            + " | ".join(str(r) for r in rws)
            + " |"
        )
    print("\n".join(lines))
    if cand:
        cand_lines = [
            "| scale | d03 candidate pairs | d16 candidate pairs |",
            "|---|---|---|",
        ] + [
            f"| x{m} | {cand[m]['d03_candidates']} | {cand[m]['d16_candidates']} |"
            for m in scales
        ]
        print()
        print("\n".join(cand_lines))
    print(json.dumps({"summary": summary, "candidates": {str(k): v for k, v in cand.items()}}))


REAL_SCALES = (1, 10, 100)
REAL_DIRS = {
    1: "/root/testdata/sf0.001",
    10: "/root/testdata/sf0.01",
    100: "/root/testdata/sf0.1",
}
# Events/lineitem-backed ops can't run on the doc/vec fixture family;
# the driver's own testdata scales events and lineitem EXACTLY 10x
# per SF step (1k/10k/100k events, 6k/60k/600k lineitem — verified
# row counts), so the three real SFs are a held-generator n-scaling
# family for them spanning two decades.
REAL_TARGETS = [
    "h27_peak_detection",
    "h28_bollinger_breakout",
    "h22_seasonal_decompose",
    "h23_sax_symbols",
    "h24_sax_motifs",
    "h25_acf",
    "h26_ljung_box",
    "v18_spearman_audit",
    "v19_chi2_independence",
]


def run_real(reps: int, only=None) -> None:
    from crossfire_spark import get_spark
    from crossfire_spark.registry import all_queries

    targets = REAL_TARGETS
    if only:
        targets = [t for t in targets if t in only]
    spark = get_spark(app_name="crossfire-scale-curve-real")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    results: dict[str, dict[int, dict]] = {t: {} for t in targets}
    for mult in REAL_SCALES:
        sf_dir = REAL_DIRS[mult]
        for t in targets:
            times = []
            for _ in range(reps):
                t0 = time.perf_counter()
                qs[t](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                times.append(time.perf_counter() - t0)
            results[t][mult] = {
                "median_s": round(statistics.median(times), 3),
                "rows": qs[t](spark, sf_dir).count(),
            }
            print(f"x{mult} {t}: {results[t][mult]}", file=sys.stderr)

    lx = [math.log(m) for m in REAL_SCALES]
    sx, sxx, n = sum(lx), sum(x * x for x in lx), len(REAL_SCALES)

    def slope(ys):
        ly = [math.log(max(y, 1e-9)) for y in ys]
        return (n * sum(x * y for x, y in zip(lx, ly)) - sx * sum(ly)) / (
            n * sxx - sx * sx
        )

    lines = [
        "| query | "
        + " | ".join(f"x{m} time (s)" for m in REAL_SCALES)
        + " | alpha (t~n^a) | "
        + " | ".join(f"x{m} rows" for m in REAL_SCALES)
        + " |",
        "|---|" + "---|" * (2 * len(REAL_SCALES) + 1),
    ]
    summary = {}
    for t in targets:
        ts = [results[t][m]["median_s"] for m in REAL_SCALES]
        rws = [results[t][m]["rows"] for m in REAL_SCALES]
        a = slope(ts)
        summary[t] = {"alpha": round(a, 2), "times": ts, "rows": rws}
        lines.append(
            f"| {t} | "
            + " | ".join(f"{v:.2f}" for v in ts)
            + f" | {a:.2f} | "
            + " | ".join(str(r) for r in rws)
            + " |"
        )
    print("\n".join(lines))
    print(json.dumps({"summary": summary, "basis": "real-sf 1/10/100"}))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("cmd", choices=["gen", "run", "run-real"])
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--targets", default=None,
                    help="comma-separated subset of the target list")
    ap.add_argument("--no-candidates", action="store_true",
                    help="skip the d03/d16 candidate-count passes")
    args = ap.parse_args()
    only = args.targets.split(",") if args.targets else None
    if args.cmd == "gen":
        gen()
    elif args.cmd == "run-real":
        run_real(args.reps, only=only)
    else:
        run(args.reps, only=only, candidates=not args.no_candidates)


if __name__ == "__main__":
    main()
