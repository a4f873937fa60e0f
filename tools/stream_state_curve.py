#!/usr/bin/env python
"""State-scaling curve for the streaming maintenance family.

tools/scale_curve.py measures cost vs CORPUS size; this tool measures
the other axis a long-running stream lives on: per-micro-batch cost
vs ACCUMULATED STATE size. The claim under test (PERFORMANCE.md,
st14/st19/st20): per-batch work is O(batch + touched buckets' state),
flat in total state — because

- st14 appends PQ codes to a snapshot table and never rescans the
  historical code table during maintenance,
- st19/st20 MERGE through ``upsert_table_bucketed``, which reads and
  rewrites only the hash-buckets the batch's keys touch.

THE SIZING RULE THE MEASUREMENT ENCODES: with uniformly-hashed keys a
fixed bucket count cannot be flat (each bucket grows with state, and
touched cost = touched_buckets x bucket_size). Flatness comes from
the documented deployment discipline — hold PER-BUCKET SIZE constant
(bucket count grows with the table, like file count in any LSM/lake
upsert), so touched state per merge is bounded by
batch_keys x bucket_rows regardless of total state. The harness
therefore scales n_buckets with the state (64 x mult) and keeps the
batch's key set fixed (32 keys), and reports BOTH wall time and the
exact touched-rows bound alongside total state.

Method: seed each store at x1/x3/x10 accumulated state (CDC
latest-per-key table: 200k/600k/2M keys with a 64-char payload; SCD2
version store: same keys x2 versions; PQ code table: the committed
fixtures/scale corpora), then time the SAME fixed micro-batch apply
(2 000 rows over 32 keys / 500 vectors) at each state size — median
of --reps back-to-back merges after one untimed warmup (state size is
invariant across reps: the batch's keys already exist after rep 1).
Least-squares alpha of log(time) vs log(state); flat is alpha ~ 0.
The PLAIN (unbucketed) upsert_table is timed on the same batch as the
contrast row — its full-rewrite merge is O(state) by construction and
must show a clearly positive alpha; that contrast is what certifies
the harness can distinguish the two shapes at this scale.

Usage: python tools/stream_state_curve.py [--reps 3] [--scales 1,3,10]
Prints a markdown table (for PERFORMANCE.md) + one JSON summary line.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALE_FIX = os.path.join(REPO, "fixtures", "scale")

BASE_KEYS = 200_000  # CDC/SCD2 key space at x1
BASE_BUCKETS = 64  # bucket count at x1 — scaled with state (see module doc)
BATCH_ROWS = 2_000  # fixed micro-batch: rows
BATCH_KEYS = 32  # ... over this many distinct keys (fixed at all scales)
VEC_BATCH = 500  # st14 fixed ingest batch


def _cdc_rows(spark, n_rows, key_space, salt):
    """Deterministic synthetic CDC rows with a 64-char payload (state
    bytes must dominate fixed job overhead for the curve to measure
    data, not scheduling)."""
    from pyspark.sql import functions as F

    return spark.range(n_rows).select(
        (F.col("id") % key_space).alias("user_id"),
        (F.col("id") + salt * 10_000_000).alias("event_id"),
        F.timestamp_seconds(
            F.lit(1_600_000_000) + F.pmod(F.col("id") * 37 + salt, F.lit(86_400))
        ).alias("ts"),
        (F.pmod(F.col("id") * 13 + salt, F.lit(1000)) / 10.0).alias("value"),
        F.repeat(F.md5(F.col("id").cast("string")), 2).alias("payload"),
    )


def _time_reps(fn, reps):
    fn()  # untimed warmup: codegen + the batch keys' first insertion
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return round(statistics.median(ts), 3)


def bench_cdc_merge(spark, work, n_keys, n_buckets, reps, bucketed):
    """st19's merge body: newest-per-key window + MERGE, against a
    state table of n_keys accumulated keys. Returns (median_s,
    touched_buckets, touched_rows)."""
    from pyspark.sql import functions as F

    from crossfire_spark.catalog import materialize
    from crossfire_spark.sources.io import (
        BUCKET_COL,
        newest_per_key,
        read_table,
        state_bucket_expr,
        upsert_table,
        upsert_table_bucketed,
    )

    path = os.path.join(work, f"cdc_{'b' if bucketed else 'p'}_{n_keys}")
    seed = _cdc_rows(spark, n_keys, n_keys, salt=0)
    if bucketed:
        upsert_table_bucketed(
            spark, seed, path, keys=["user_id"],
            precedence=["ts", "event_id"], n_buckets=n_buckets,
        )
    else:
        upsert_table(
            spark, seed, path, keys=["user_id"], precedence=["ts", "event_id"]
        )
    batch = materialize(_cdc_rows(spark, BATCH_ROWS, BATCH_KEYS, salt=1))

    def merge():
        latest = newest_per_key(batch, ["user_id"], ["ts", "event_id"])
        if bucketed:
            upsert_table_bucketed(
                spark, latest, path,
                keys=["user_id"], precedence=["ts", "event_id"],
                n_buckets=n_buckets,
            )
        else:
            upsert_table(
                spark, latest, path,
                keys=["user_id"], precedence=["ts", "event_id"],
            )

    med = _time_reps(merge, reps)
    if bucketed:
        tb = [
            r[0]
            for r in batch.select(
                state_bucket_expr(["user_id"], n_buckets).alias("b")
            ).distinct().collect()
        ]
        touched_rows = (
            read_table(spark, path)
            .where(F.col(BUCKET_COL).isin(tb))
            .count()
        )
        return med, len(tb), touched_rows
    return med, n_buckets, None


def bench_scd2_merge(spark, work, n_keys, n_buckets, reps):
    """st20's merge body (touched-bucket read + rechain + bucketed
    MERGE) against a version store of ~2*n_keys accumulated rows."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from crossfire_spark.catalog import materialize
    from crossfire_spark.sources.io import (
        BUCKET_COL,
        read_table,
        state_bucket_expr,
        upsert_table_bucketed,
    )

    path = os.path.join(work, f"scd2_{n_keys}")
    seed = _cdc_rows(spark, 2 * n_keys, n_keys, salt=0).select(
        "user_id", "event_id", F.col("ts").alias("valid_from"),
        F.lit("seed").alias("event_type"), F.col("value").alias("v"),
        "payload",
    )
    w0 = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    seeded = seed.withColumn(
        "valid_to", F.lead("valid_from").over(w0)
    ).withColumn("is_current", F.col("valid_to").isNull())
    upsert_table_bucketed(
        spark, seeded, path,
        keys=["user_id", "event_id"], bucket_keys=["user_id"],
        n_buckets=n_buckets,
    )
    batch = materialize(
        _cdc_rows(spark, BATCH_ROWS, BATCH_KEYS, salt=1).select(
            "user_id", "event_id", F.col("ts").alias("valid_from"),
            F.lit("batch").alias("event_type"), F.col("value").alias("v"),
            "payload",
        )
    )

    def merge():
        touched = batch.select("user_id").distinct()
        touched_buckets = [
            r[0]
            for r in touched.select(
                state_bucket_expr(["user_id"], n_buckets).alias("b")
            )
            .distinct()
            .collect()
        ]
        current = (
            read_table(spark, path)
            .where(F.col(BUCKET_COL).isin(touched_buckets))
            .drop(BUCKET_COL)
            .join(F.broadcast(touched), "user_id", "left_semi")
            .select(
                "user_id", "event_id", "valid_from", "event_type", "v",
                "payload",
            )
        )
        allrows = current.unionByName(
            batch.select(
                "user_id", "event_id", "valid_from", "event_type", "v",
                "payload",
            )
        ).dropDuplicates(["user_id", "event_id"])
        w = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
        rechained = allrows.withColumn(
            "valid_to", F.lead("valid_from").over(w)
        ).withColumn("is_current", F.col("valid_to").isNull())
        upsert_table_bucketed(
            spark, rechained, path,
            keys=["user_id", "event_id"], bucket_keys=["user_id"],
            n_buckets=n_buckets,
        )

    return _time_reps(merge, reps)


def bench_pq_ingest(spark, work, mult, reps):
    """st14's per-batch work: encode a fixed batch against stored
    codebooks + snapshot-append its codes, with the historical code
    table pre-seeded from the x{mult} scale corpus."""
    import numpy as np
    from pyspark.sql import functions as F

    from crossfire_spark.catalog import materialize
    from crossfire_spark.functions.ann_index import build_pq_index
    from crossfire_spark.functions.similarity import pq_encode
    from crossfire_spark.sources.snapshot import snapshot_read, snapshot_write

    sf = os.path.join(SCALE_FIX, f"x{mult}")
    em = spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
    path = os.path.join(work, f"pq_x{mult}")
    if build_pq_index(em, path) is None:
        raise SystemExit(f"empty corpus at {sf}")
    cb = snapshot_read(spark, os.path.join(path, "codebooks")).collect()
    m = max(r["s"] for r in cb) + 1
    kk = max(r["j"] for r in cb) + 1
    books = np.zeros((m, kk, len(cb[0]["c"])), dtype=np.float64)
    for r in cb:
        books[r["s"], r["j"]] = r["c"]
    # fixed ingest batch: the x1 corpus's first VEC_BATCH vectors
    batch = materialize(
        spark.read.parquet(os.path.join(SCALE_FIX, "x1", "embeddings.parquet"))
        .orderBy("vec_id")
        .limit(VEC_BATCH)
        .withColumn("vec_id", F.col("vec_id") + 90_000_000)
    )
    codes_path = os.path.join(path, "codes")
    state_rows = em.count()

    def ingest():
        snapshot_write(pq_encode(batch, books), codes_path)

    return _time_reps(ingest, reps), state_rows


def _alpha(xs, ys):
    lx = [math.log(x) for x in xs]
    ly = [math.log(max(y, 1e-9)) for y in ys]
    n = len(xs)
    sx, sxx = sum(lx), sum(x * x for x in lx)
    return (n * sum(a * b for a, b in zip(lx, ly)) - sx * sum(ly)) / (
        n * sxx - sx * sx
    )


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--scales", default="1,3,10")
    ap.add_argument("--st22", action="store_true",
                    help="measure the st22 state-eviction curve instead")
    args = ap.parse_args()
    scales = [int(s) for s in args.scales.split(",")]
    if args.st22:
        return st22_main(scales)

    from crossfire_spark import get_spark

    spark = get_spark(app_name="crossfire-state-curve")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="state_curve_")
    try:
        rows = {}
        touched = {}
        state_sizes = {}
        for mult in scales:
            n_keys = BASE_KEYS * mult
            n_buckets = BASE_BUCKETS * mult  # constant per-bucket size
            state_sizes[mult] = n_keys
            r = {}
            r["st19_cdc_bucketed"], tb, trows = bench_cdc_merge(
                spark, work, n_keys, n_buckets, args.reps, bucketed=True
            )
            touched[mult] = {"buckets": tb, "rows": trows,
                             "of_buckets": n_buckets}
            r["cdc_plain_contrast"], _, _ = bench_cdc_merge(
                spark, work, n_keys, n_buckets, args.reps, bucketed=False
            )
            r["st20_scd2_bucketed"] = bench_scd2_merge(
                spark, work, n_keys, n_buckets, args.reps
            )
            r["st14_pq_ingest"], pq_state = bench_pq_ingest(
                spark, work, mult, args.reps
            )
            r["_pq_state_rows"] = pq_state
            rows[mult] = r
            print(f"x{mult}: {r} touched={touched[mult]}", file=sys.stderr)

        targets = [
            "st19_cdc_bucketed",
            "st20_scd2_bucketed",
            "st14_pq_ingest",
            "cdc_plain_contrast",
        ]
        lines = [
            "| per-batch apply | "
            + " | ".join(f"x{m} state (s)" for m in scales)
            + " | alpha (t~state^a) | state rows at x1..x10 |",
            "|---|" + "---|" * (len(scales) + 2),
        ]
        summary = {}
        for t in targets:
            ts = [rows[m][t] for m in scales]
            if t == "st14_pq_ingest":
                xs = [rows[m]["_pq_state_rows"] for m in scales]
                srange = f"{xs[0]}..{xs[-1]} codes"
            else:
                xs = [state_sizes[m] for m in scales]
                srange = f"{xs[0]}..{xs[-1]} keys"
            a = _alpha(xs, ts)
            summary[t] = {"alpha": round(a, 2), "times": ts}
            lines.append(
                "| " + t + " | "
                + " | ".join(f"{v:.2f}" for v in ts)
                + f" | {a:.2f} | {srange} |"
            )
        tl = [
            "| scale | touched buckets | of n_buckets | touched state rows |",
            "|---|---|---|---|",
        ] + [
            f"| x{m} | {touched[m]['buckets']} | {touched[m]['of_buckets']}"
            f" | {touched[m]['rows']} |"
            for m in scales
        ]
        print("\n".join(lines))
        print()
        print("\n".join(tl))
        print(json.dumps({
            "summary": summary,
            "touched": {str(k): v for k, v in touched.items()},
            "batch_rows": BATCH_ROWS, "batch_keys": BATCH_KEYS,
            "reps": args.reps,
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)




# ---------------------------------------------------------------------------
# st22: state-store EVICTION curve (run as its own mode: --st22)
# ---------------------------------------------------------------------------

ST22_ROWS_PER_BATCH = 4_000
ST22_POOL = 2_000  # active users per 2-batch block
ST22_STEP_US = 43_000_000  # ~43 s between events -> ~2 days per batch


def bench_session_eviction(spark, work, mult):
    """st22's claim is about the OTHER store — Spark's own state
    store, not a parquet table: with EventTimeTimeout eviction, state
    rows track the ACTIVE-user window; with NoTimeout they grow with
    every user ever seen. Synthesize mult x 6 arrival batches of a
    churning population (user block advances every 2 batches), run
    the identical stateful_sessions operator both ways, and read
    numRowsTotal from the last progress event of each run.

    Returns (evict_state_rows, noevict_state_rows, distinct_users,
    last_batch_ms_evict)."""
    from pyspark.sql import functions as F

    from crossfire_spark.streaming.jobs import (
        SESSION_WM_DELAY_MS,
        _write_arrival_files,
        file_batches,
        run_stream,
        stateful_sessions,
    )

    nb = 6 * mult
    n = nb * ST22_ROWS_PER_BATCH
    ev = spark.range(n).select(
        F.col("id").alias("event_id"),
        (F.lit(1_700_000_000_000_000) + F.col("id") * ST22_STEP_US).alias(
            "tsu"
        ),
        (
            (F.col("id") / (2 * ST22_ROWS_PER_BATCH)).cast("long") * ST22_POOL
            + F.pmod(F.xxhash64("id"), F.lit(ST22_POOL))
        ).alias("user_id"),
        F.pmod(F.col("id"), F.lit(997)).alias("cents"),
        (F.col("id") / ST22_ROWS_PER_BATCH).cast("int").alias("arrival"),
    )
    distinct_users = ev.select("user_id").distinct().count()

    out = {}
    for evict in (True, False):
        sub = os.path.join(work, f"st22_{mult}_{int(evict)}")
        watch = os.path.join(sub, "in")
        os.makedirs(watch)
        _write_arrival_files(
            ev.select("user_id", "event_id", "tsu", "cents", "arrival"),
            nb,
            sub,
            watch,
        )
        stream = (
            file_batches(
                spark, "user_id long, event_id long, tsu long, cents long", watch
            )
            .withColumn("ts", F.timestamp_micros("tsu"))
            .withWatermark("ts", f"{SESSION_WM_DELAY_MS // 1000} seconds")
        )
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            q = run_stream(
                stateful_sessions(stream, evict=evict).writeStream.format("noop"),
                sub,
            )
            state_rows, state_bytes, last_ms = 0, 0, 0.0
            for p in q.recentProgress:
                ops = p.get("stateOperators") or []
                if ops:
                    state_rows = ops[0].get("numRowsTotal", 0)
                    state_bytes = ops[0].get("memoryUsedBytes", 0)
                    last_ms = (p.get("durationMs") or {}).get(
                        "triggerExecution", 0
                    )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        out[evict] = (state_rows, state_bytes, last_ms)
    return out[True], out[False], distinct_users


def st22_main(scales):
    from crossfire_spark import get_spark

    spark = get_spark(app_name="crossfire-st22-curve")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="st22_curve_")
    try:
        lines = [
            "| history | batches | distinct users | state KiB (evict)"
            " | state KiB (NoTimeout contrast) | last-batch ms (evict)"
            " |",
            "|---|---|---|---|---|---|",
        ]
        summary = {}
        for mult in scales:
            ev, no, users = bench_session_eviction(spark, work, mult)
            lines.append(
                f"| x{mult} | {6 * mult} | {users} | {ev[1] // 1024} |"
                f" {no[1] // 1024} | {ev[2]} |"
            )
            summary[f"x{mult}"] = {
                "users": users,
                "evict_state_bytes": ev[1],
                "noevict_state_bytes": no[1],
                "evict_buckets": ev[0],
                "last_batch_ms": ev[2],
            }
            print(f"x{mult}: {summary[f'x{mult}']}", file=sys.stderr)
        print("\n".join(lines))
        print(json.dumps({"metric": "st22_state_eviction", **summary}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
