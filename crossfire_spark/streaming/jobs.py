"""Structured Streaming over the ``events`` table.

Design: every streaming query here has a *batch-equivalent declared
form* so correctness is oracle-checkable — a bounded replay through the
streaming engine must produce exactly the batch answer (SURVEY §7.1
M4), whatever the micro-batch split.

One way to run a bounded replay:

- :func:`run_stream` — the one ``availableNow`` run: checkpoint at
  ``<work>/ckpt``, start, wait, return the query (its
  ``recentProgress`` holds the per-batch phases and observed metrics).
  The caller picks the sink: ``foreachBatch`` (st07, st09, st12, st14,
  st19, st20, st21), ``noop`` (st13) or memory.
- :func:`run_stream_to_memory` — the memory-sink run of the
  aggregating and stateful queries; the one place the session's
  ``spark.sql.shuffle.partitions`` is pinned (to 8) for a stream.
- :func:`file_batches` — the one file-per-trigger reader (st12, st13,
  st14, st21, st22): n files replay as n micro-batches.
- ``sources.io.newest_per_key`` — the one newest-row-per-key rule
  (``RECENCY`` = ``ts, event_id``), used by the per-batch bodies and
  by both upserts' MERGE.

The per-batch bodies of st07, st09, st19 and st20 (:func:`upsert_batch`,
:func:`snapshot_merge_batch`, :func:`cdc_apply_batch`,
:func:`scd2_batch`) are module functions taking ``target`` first, so the
forced-split tests in tests/test_streaming.py replay the shipped bodies.

At scale: windowed streaming aggs shuffle on (window, key) with
partial aggregation map-side; watermarks bound state. The memory sink
exists only for verification — production sinks are parquet/Kafka.
"""

from __future__ import annotations

import os
import uuid
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from crossfire_spark.catalog import event_ts, nudge

WATERMARK = "1 hour"
SESSION_GAP = "30 minutes"

_SESSION_WORKDIRS: list[str] = []


def _session_workdir(prefix: str) -> str:
    """Temp workdir that lives until interpreter exit.

    Streaming jobs that land state in files (st07's upsert table,
    st09's snapshot log) return *lazy* DataFrames over those files —
    collecting them into the driver just to free the directory would
    materialize an unbounded (user-cardinality) result driver-side.
    Instead the workdir is cleaned by one ``atexit`` hook; per-run
    leakage is bounded (one latest-per-key table per invocation)."""
    import atexit
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix=prefix)
    if not _SESSION_WORKDIRS:
        atexit.register(
            lambda: [
                shutil.rmtree(w, ignore_errors=True) for w in _SESSION_WORKDIRS
            ]
        )
    _SESSION_WORKDIRS.append(work)
    return work


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream replaying the events parquet; identical
    ts normalization to the batch catalog (ns long -> µs timestamp)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema
    # the file source wants a directory; glob-filter to the one table
    return event_ts(
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def run_stream(writer, work: str | None = None) -> StreamingQuery:
    """Run a bounded replay to completion: ``writer`` is a
    ``DataStreamWriter`` whose sink the caller chose
    (``foreachBatch(fn)``, ``format("noop")``, ``format("memory")``).
    With ``work`` the checkpoint lives at ``<work>/ckpt``. The
    ``availableNow`` trigger takes everything the source holds at start,
    in as many micro-batches as its rate limits split it into; the
    finished query is returned, so callers read ``recentProgress``
    (per-batch rows, phases, observed metrics) from it."""
    if work is not None:
        writer = writer.option("checkpointLocation", os.path.join(work, "ckpt"))
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q


def file_batches(spark: SparkSession, schema, path: str) -> DataFrame:
    """A parquet file-source stream over ``path`` that takes one file
    per micro-batch, so a replay of n files runs n genuine batches (one
    file would collapse to a single batch)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )


def run_stream_to_memory(sdf: DataFrame, mode: str = "complete") -> DataFrame:
    """Run a streaming DataFrame to completion into a memory sink;
    return the sink table as a batch DataFrame.

    The run pins ``spark.sql.shuffle.partitions`` to 8 and restores it
    afterwards: that bounds the number of state stores, and each
    stateful-operator partition pays store init/commit per micro-batch,
    which dominates bounded replays (measured 10.6 s → 2.1 s at sf0.1
    going 32 → 8). A production cluster sizes this to cores x N
    instead. The partition count is pinned at first run per query, so
    setting it per run is safe; a shuffle-free stream (st11) has no
    exchange for it to reach.
    """
    spark = sdf.sparkSession
    name = f"sink_{uuid.uuid4().hex[:12]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        run_stream(sdf.writeStream.format("memory").queryName(name).outputMode(mode))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


def st01_stream_tumbling(spark, sf_dir):
    """Tumbling 1-hour window, run by the actual streaming engine."""
    agg = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("c"), F.sum("value").alias("sv"))
    )
    sink = run_stream_to_memory(agg, mode="complete")
    return sink.select(
        F.col("w.start").alias("h"),
        "event_type",
        "c",
        F.round("sv", 2).alias("s"),
    ).orderBy("h", "event_type", "c", "s")


def st02_stream_sliding(spark, sf_dir):
    """Sliding window: 1 hour wide, advancing every 30 minutes."""
    agg = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("c"), F.sum("value").alias("sv"))
    )
    sink = run_stream_to_memory(agg, mode="complete")
    return sink.select(
        F.col("w.start").alias("h"),
        "event_type",
        "c",
        F.round("sv", 2).alias("s"),
    ).orderBy("h", "event_type", "c", "s")


def session_windows(events: DataFrame, gap: str = SESSION_GAP) -> DataFrame:
    """Session-window aggregation per user — the same plan runs in
    batch and streaming (streaming needs watermark + append mode; see
    tests for the streaming execution)."""
    return (
        events.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("c"), F.round(F.sum("value"), 2).alias("s"))
        .select("user_id", F.col("w.start").alias("session_start"), "c", "s")
    )


def st03_session_window(spark, sf_dir):
    """Session windows (30-minute gap), declared in batch mode: append
    mode emits only watermark-closed sessions, so the batch form is the
    deterministic surface; tests/test_streaming.py runs the same plan
    through the streaming engine."""
    from crossfire_spark.catalog import load_table

    e = load_table(spark, sf_dir, "events")
    return session_windows(e).orderBy("user_id", "session_start", "c", "s")


# newest change per user: the precedence of every latest-per-user table
RECENCY = ["ts", "event_id"]


def _latest_view(rows: DataFrame) -> DataFrame:
    """The declared result of st07/st09/st19: one row per user."""
    return rows.select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        F.round("value", 2).alias("v"),
    ).orderBy("user_id", "event_id", "event_type", "ts", "v")


def upsert_batch(target: str, batch_df: DataFrame, _batch_id) -> None:
    """st07's micro-batch: the batch's newest event per user, upserted
    into the parquet table at ``target`` with recency precedence."""
    from crossfire_spark.sources.io import newest_per_key, upsert_table

    upsert_table(
        batch_df.sparkSession,
        newest_per_key(batch_df, ["user_id"], RECENCY),
        target,
        keys=["user_id"],
        precedence=RECENCY,
    )


def st07_stream_upsert(spark, sf_dir):
    """Streaming MERGE (continuous ingest): ``foreachBatch`` runs
    :func:`upsert_batch`, which reduces each micro-batch to its newest
    event per user, then upserts into a parquet state table keyed by
    ``user_id`` with recency precedence (``ts, event_id``) — so the
    final table is the global latest-event-per-user regardless of how
    the source was split into batches (out-of-order batches cannot
    clobber newer state).
    This is the streaming face of ``sources.io.upsert_table``; a
    log-backed MERGE (Delta/Iceberg) would replace the staging swap,
    not the plan. Batching-independence is pinned in
    tests/test_streaming.py with a forced 3-batch replay of the same
    body.
    """
    from crossfire_spark.sources.io import read_table

    work = _session_workdir("st07_")
    target = os.path.join(work, "latest")
    stream = events_stream(spark, sf_dir).select(
        "user_id", "event_id", "event_type", "ts", "value"
    )
    run_stream(stream.writeStream.foreachBatch(partial(upsert_batch, target)), work)
    # lazy over the session-scoped state table (atexit cleanup) — the
    # result is user-cardinality, unbounded at scale, so it must not
    # round-trip through the driver just to free a temp dir
    if not os.path.isdir(target):  # zero-batch replay (empty source)
        rows = spark.createDataFrame([], stream.schema)
    else:
        rows = read_table(spark, target)
    return _latest_view(rows)


def snapshot_merge_batch(target: str, batch_df: DataFrame, _batch_id) -> None:
    """st09's micro-batch: the batch's newest event per user, merged
    with the stored rows of the users it touches (newest wins), commits
    one ``snapshot_merge`` version of the table at ``target``."""
    from crossfire_spark.sources.io import newest_per_key
    from crossfire_spark.sources.snapshot import (
        snapshot_merge,
        snapshot_read,
        snapshot_versions,
        snapshot_write,
    )

    latest = newest_per_key(batch_df, ["user_id"], RECENCY)
    if not snapshot_versions(target):
        snapshot_write(latest, target)
        return
    s = batch_df.sparkSession
    current = snapshot_read(s, target).join(
        latest.select("user_id"), "user_id", "left_semi"
    )
    best = newest_per_key(current.unionByName(latest), ["user_id"], RECENCY)
    snapshot_merge(s, best, target, keys=["user_id"])


def st09_snapshot_merge_stream(spark, sf_dir):
    """Streaming MERGE INTO the log-backed versioned table
    (``sources.snapshot``): every micro-batch commits one
    ``snapshot_merge`` version of the latest-event-per-user table
    (:func:`snapshot_merge_batch`) — continuous ingest with snapshot
    isolation (readers pinned to a version never see a half-applied
    batch), commit history across batch boundaries, and partition-level
    copy-on-write under the merge.

    Recency is enforced by read-merge-write: the batch's candidate
    rows are unioned with the current state of the touched keys and
    the newest (ts, event_id) wins, so out-of-order or replayed
    batches cannot clobber newer state — the final table equals the
    batch latest-per-user oracle for ANY batching of the source.
    st07 is the same semantics into a swap-in-place parquet table;
    this is the version that survives concurrent readers and crashes
    (a torn write leaves an unclaimed version slot, never a torn
    table)."""
    from crossfire_spark.sources.snapshot import snapshot_read, snapshot_versions

    work = _session_workdir("st09_")
    target = os.path.join(work, "latest")
    stream = events_stream(spark, sf_dir).select(
        "user_id", "event_id", "event_type", "ts", "value"
    )
    run_stream(
        stream.writeStream.foreachBatch(partial(snapshot_merge_batch, target)), work
    )
    # lazy over the session-scoped snapshot log (atexit cleanup) — see
    # st07: no driver round-trip for an unbounded result
    if not snapshot_versions(target):  # zero-batch replay (empty source)
        rows = spark.createDataFrame([], stream.schema)
    else:
        rows = snapshot_read(spark, target)
    return _latest_view(rows)


def st08_stream_dedup(spark, sf_dir):
    """Streaming deduplication: the source replayed TWICE (self-union
    — every event arrives at least twice) and collapsed back with
    ``dropDuplicatesWithinWatermark`` keyed on event_id. The two
    copies are byte-identical, so the surviving rows are exactly the
    original table — making the stateful dedup operator fully
    oracle-checkable (oracle = plain SELECT on events).

    Scale shape: dedup state is keyed by event_id, shuffled once, and
    *expired by the watermark* — unbounded-retention dropDuplicates
    would OOM a 100 TB ingest; the watermark bound is the whole point
    of the WithinWatermark variant."""
    a = events_stream(spark, sf_dir).withWatermark("ts", WATERMARK)
    b = events_stream(spark, sf_dir).withWatermark("ts", WATERMARK)
    dd = a.unionByName(b).dropDuplicatesWithinWatermark(["event_id"])
    sink = run_stream_to_memory(
        dd.select("event_id", "user_id", "event_type", "ts", "value"),
        mode="append",
    )
    return sink.select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        F.round("value", 2).alias("v"),
    ).orderBy("event_id", "user_id", "event_type", "ts", "v")


def st10_snapshot_source_stream(spark, sf_dir):
    """The engine's versioned table as a *streaming source*: events
    land in the snapshot table over three commits, then a consumer
    tails the table with ``spark.readStream.format("snapshot_stream")``
    (the Spark 4 Python DataSource in ``sources/snapshot_stream.py``)
    and aggregates per-user totals. Offsets are log versions; batch
    partitions are the commits' added files, read executor-side as
    Arrow batches. The streamed aggregate must equal the batch
    aggregate over the same events — full oracle.

    Scale shape: the tail is O(changed files) metadata on the driver
    and one task per new file on executors; the per-user aggregate
    shuffles once with map-side partials."""
    import shutil
    import tempfile

    from crossfire_spark.catalog import load_table
    from crossfire_spark.sources.snapshot import snapshot_write
    from crossfire_spark.sources.snapshot_stream import snapshot_read_stream

    work = tempfile.mkdtemp(prefix="st10_")
    table = os.path.join(work, "events_snap")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    third = F.pmod(F.col("event_id"), F.lit(3))
    for i in range(3):
        snapshot_write(ev.where(third == i), table)
    agg = (
        snapshot_read_stream(spark, table)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"), F.sum("value").alias("sv"))
    )
    sink = run_stream_to_memory(agg, mode="complete")
    # the memory sink holds the aggregate rows independent of the
    # snapshot files, so the workdir can go now and the result stays
    # a lazy view over the sink (aggregate-cardinality, not corpus)
    shutil.rmtree(work, ignore_errors=True)
    return (
        sink.select("user_id", "c", F.round("sv", 2).alias("s"))
        .orderBy("user_id", "c", "s")
    )


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream replaying the documents parquet — the
    continuous-ingest face of the text-pipeline operators."""
    path = os.path.join(sf_dir, "documents.parquet")
    schema = spark.read.parquet(path).schema
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def st11_stream_pii(spark, sf_dir):
    """Streaming PII sanitization — the stateless ETL shape none of
    st01-st10 covers: a pure append-mode projection (regex redaction,
    ``functions.text.pii_scrub``) run by the streaming engine. No
    state store, no watermark, no shuffle until the verification
    ORDER BY: at scale this is the classic continuous-sanitize job
    whose throughput is bounded only by source read + codegen'd regex.
    Oracle = the identical batch SQL (t10), because a stateless map
    over a replayed table is batching-invariant."""
    from crossfire_spark.functions.text import pii_scrub

    s = pii_scrub(documents_stream(spark, sf_dir)).select(
        "doc_id",
        "n_email",
        "n_phone",
        "n_ip",
        (F.col("n_email") + F.col("n_phone") + F.col("n_ip") > 0).alias(
            "has_pii"
        ),
        F.md5(F.col("scrubbed")).alias("scrubbed_fp"),
    )
    sink = run_stream_to_memory(s, mode="append")
    return sink.orderBy(
        "doc_id", "n_email", "n_phone", "n_ip", "has_pii", "scrubbed_fp"
    )


def st12_stream_matview(spark, sf_dir):
    """Streaming continuous aggregate — the TimescaleDB/Databricks
    "materialized view over a stream" surface built from engine
    pieces: every micro-batch (1) append-commits to a snapshot base
    table and (2) advances the incrementally-maintained aggregate
    view (``sources.matview``) from the base's CDC feed alone — no
    base rescan, however many batches have accumulated. The declared
    result reads the VIEW and must equal the plain GROUP BY over all
    events — so the whole stream→commit→refresh loop is oracle-
    checked for any batching of the source.

    Scale shape: a micro-batch refresh is one pass — one scan of the
    batch's CDC rows, one of the view, one join — in 3 Spark jobs;
    |event_type| keys means the view itself is tiny forever (a
    partitioned or clustered view would rewrite only the files holding
    changed keys). The
    source is split into 4 files read by :func:`file_batches`, so
    several genuine micro-batch refreshes run."""
    from crossfire_spark.catalog import load_table
    from crossfire_spark.sources.matview import (
        create_aggregate_view,
        refresh_aggregate_view,
    )
    from crossfire_spark.sources.snapshot import (
        snapshot_read,
        snapshot_versions,
        snapshot_write,
    )

    work = _session_workdir("st12_")
    src = os.path.join(work, "in")
    base = os.path.join(work, "base")
    view = os.path.join(work, "view")
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    ev.repartition(4).write.parquet(src)

    def ingest(batch_df, _batch_id):
        s = batch_df.sparkSession
        snapshot_write(batch_df, base)
        if not snapshot_versions(view):
            create_aggregate_view(
                s, base, view, keys=["event_type"], measures=["value"]
            )
        else:
            refresh_aggregate_view(s, base, view)

    batches = file_batches(spark, ev.schema, src)
    run_stream(batches.writeStream.foreachBatch(ingest), work)
    return (
        snapshot_read(spark, view)
        .select(
            "event_type",
            F.col("_cnt").alias("n"),
            F.round("sum_value", 2).alias("s"),
        )
        .orderBy("event_type", "n", "s")
    )


def st13_stream_quality(spark, sf_dir):
    """Streaming data-quality monitor via the Observation API — the
    counters ride the stream itself (computed by the tasks during the
    pass the sink already does, delivered per micro-batch through
    query progress), never a second scan of the data. The declared
    result is the across-batch total per metric, which must equal the
    batch aggregate over the whole table for ANY batching — exactly
    what the oracle states.

    Scale shape: observe() metrics are accumulator-style aggregates —
    zero extra shuffle, zero extra scan, constant driver traffic per
    batch (one row of counters). This is the v01 constraint-report
    discipline applied to a continuous pipeline; the sink here is
    noop because the metrics ARE the product."""
    from crossfire_spark.catalog import load_table

    work = _session_workdir("st13_")
    src = os.path.join(work, "in")
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", "value"
    )
    ev.repartition(4).write.parquet(src)
    observed = file_batches(spark, ev.schema, src).observe(
        "quality",
        F.count(F.lit(1)).alias("rows_total"),
        F.count_if(F.col("value") > 50).alias("high_value"),
        F.count_if(F.col("event_type") == "error").alias("errors"),
        F.count_if(F.col("user_id").isNull()).alias("null_user"),
    )
    q = run_stream(observed.writeStream.format("noop"), work)
    totals = {"rows_total": 0, "high_value": 0, "errors": 0, "null_user": 0}
    for p in q.recentProgress:
        om = (p.get("observedMetrics") or {}).get("quality")
        if om:
            for k in totals:
                totals[k] += int(om[k])
    return spark.createDataFrame(
        sorted(totals.items()), "metric string, n long"
    ).orderBy("metric", "n")


def st14_index_maintenance(spark, sf_dir):
    """Streaming ANN-index maintenance — the piece a build-once index
    needs in production: new embeddings arrive as a stream, each
    micro-batch encodes AGAINST THE STORED CODEBOOKS (O(batch) work,
    the codebooks never retrain) and append-commits its codes to the
    snapshot code table; queries served from the maintained index are
    identical to the ad-hoc PQ run over the full corpus with the same
    codebooks — which is exactly what this returns and what the
    equality test pins.

    Scale shape: per micro-batch one Arrow encode pass over the batch
    + one O(1)-metadata snapshot append; the historical code table is
    never rewritten and never rescanned by maintenance. Rows-only
    (quantization-dependent candidates, like s09/s10)."""
    from crossfire_spark.catalog import load_table, spread
    from crossfire_spark.functions.ann_index import (
        build_pq_index,
        query_pq_index,
        read_pq_codebooks,
    )
    from crossfire_spark.functions.similarity import _query_set, pq_encode
    from crossfire_spark.sources.snapshot import snapshot_write

    em = spread(load_table(spark, sf_dir, "embeddings"))
    base = em.where(F.col("vec_id") % 10 != 3)
    new = em.where(F.col("vec_id") % 10 == 3)
    work = _session_workdir("st14_")
    path = os.path.join(work, "pq")
    if build_pq_index(base, path) is None:  # empty corpus
        from crossfire_spark.functions.similarity import _empty_topk

        return _empty_topk(spark)
    books = read_pq_codebooks(spark, path)
    # stream the new vectors in multiple micro-batches
    src = os.path.join(work, "in")
    new.repartition(4).write.parquet(src)
    codes_path = os.path.join(path, "codes")

    def ingest(batch_df, _bid):
        snapshot_write(pq_encode(batch_df, books), codes_path)

    batches = file_batches(spark, new.schema, src)
    run_stream(batches.writeStream.foreachBatch(ingest), work)
    return query_pq_index(spark, path, em, _query_set(em)).orderBy(
        "qid", "vec_id", "sim"
    )


ORACLE_SQL: dict[str, str] = {
    "st13_stream_quality": """
        SELECT 'errors' metric, CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT) n FROM events
        UNION ALL
        SELECT 'high_value', CAST(COUNT(*) FILTER (value > 50) AS BIGINT) FROM events
        UNION ALL
        SELECT 'null_user', CAST(COUNT(*) FILTER (user_id IS NULL) AS BIGINT) FROM events
        UNION ALL
        SELECT 'rows_total', CAST(COUNT(*) AS BIGINT) FROM events
        ORDER BY metric, n""",
    "st12_stream_matview": """
        SELECT event_type, COUNT(*) n, ROUND(SUM(value), 2) s
        FROM events GROUP BY event_type
        ORDER BY event_type, n, s""",
    "st08_stream_dedup": """
        SELECT event_id, user_id, event_type, ts, ROUND(value, 2) v
        FROM events ORDER BY event_id, user_id, event_type, ts, v""",
    "st01_stream_tumbling": """
        SELECT DATE_TRUNC('hour', ts) h, event_type, COUNT(*) c, ROUND(SUM(value),2) s
        FROM events GROUP BY DATE_TRUNC('hour', ts), event_type
        ORDER BY h, event_type, c, s""",
    "st02_stream_sliding": """
        WITH x AS (SELECT event_type, value,
                          unnest([time_bucket(INTERVAL '30 minutes', ts),
                                  time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) h
                   FROM events)
        SELECT h, event_type, COUNT(*) c, ROUND(SUM(value),2) s
        FROM x GROUP BY h, event_type ORDER BY h, event_type, c, s""",
    "st03_session_window": """
        WITH o AS (SELECT user_id, ts, value,
                          CASE WHEN LAG(ts) OVER w IS NULL
                                 OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
                               THEN 1 ELSE 0 END brk
                   FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        g AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) sid FROM o)
        SELECT user_id, MIN(ts) session_start, COUNT(*) c, ROUND(SUM(value),2) s
        FROM g GROUP BY user_id, sid
        ORDER BY user_id, session_start, c, s""",
    "st07_stream_upsert": """
        SELECT user_id, event_id, event_type, ts, ROUND(value, 2) v
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                  ORDER BY ts DESC, event_id DESC) rn FROM events) t
        WHERE rn = 1 ORDER BY user_id, event_id, event_type, ts, v""",
    "st09_snapshot_merge_stream": """
        SELECT user_id, event_id, event_type, ts, ROUND(value, 2) v
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                  ORDER BY ts DESC, event_id DESC) rn FROM events) t
        WHERE rn = 1 ORDER BY user_id, event_id, event_type, ts, v""",
    "st10_snapshot_source_stream": """
        SELECT user_id, COUNT(*) c, ROUND(SUM(value), 2) s
        FROM events GROUP BY user_id ORDER BY user_id, c, s""",
}



STREAM_TOPK = 10


def st16_stream_topk(spark, sf_dir):
    """Continuous top-k: per-user value totals maintained by the
    streaming engine (complete-mode state), the final state ranked to
    the top-STREAM_TOPK users — the "live leaderboard" pattern. The
    post-sink rank is a TakeOrdered over state cardinality, never the
    event stream; for unbounded key spaces production bounds the state
    with the bucketed-state discipline st04/st15 use."""
    agg = (
        events_stream(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.sum("value").alias("s"))
    )
    sink = run_stream_to_memory(agg, mode="complete")
    return (
        sink.orderBy(F.col("s").desc(), "user_id")
        .limit(STREAM_TOPK)
        .select("user_id", nudge("s", 2).alias("total"))
        .orderBy("user_id", "total")
    )


QUERIES = {
    "st01_stream_tumbling": st01_stream_tumbling,
    "st02_stream_sliding": st02_stream_sliding,
    "st03_session_window": st03_session_window,
    "st07_stream_upsert": st07_stream_upsert,
    "st08_stream_dedup": st08_stream_dedup,
    "st09_snapshot_merge_stream": st09_snapshot_merge_stream,
    "st10_snapshot_source_stream": st10_snapshot_source_stream,
    "st11_stream_pii": st11_stream_pii,
    "st12_stream_matview": st12_stream_matview,
    "st13_stream_quality": st13_stream_quality,
    "st14_index_maintenance": st14_index_maintenance,
    "st16_stream_topk": st16_stream_topk,
}

# st11's oracle is the t10 batch SQL verbatim: a stateless projection
# replayed through the streaming engine must equal its batch run.
from crossfire_spark.functions.text import ORACLE_SQL as TEXT_ORACLE_SQL  # noqa: E402

ORACLE_SQL["st11_stream_pii"] = TEXT_ORACLE_SQL["t10_pii_scrub"]

ORACLE_SQL["st16_stream_topk"] = f"""
        SELECT * FROM (
            SELECT user_id, ROUND(ROUND(SUM(value), 6) + 1e-9, 2) total
            FROM events GROUP BY user_id
            ORDER BY SUM(value) DESC, user_id LIMIT {STREAM_TOPK})
        ORDER BY user_id, total"""


def cdc_apply_batch(target: str, batch_df: DataFrame, _batch_id) -> None:
    """st19's micro-batch: the batch's newest change per user, op
    included, MERGEd with recency precedence into the bucketed state
    table at ``target`` (a delete lands as a tombstone row)."""
    from crossfire_spark.sources.io import newest_per_key, upsert_table_bucketed

    upsert_table_bucketed(
        batch_df.sparkSession,
        newest_per_key(batch_df, ["user_id"], RECENCY),
        target,
        keys=["user_id"],
        precedence=RECENCY,
    )


def st19_stream_cdc_apply(spark, sf_dir):
    """Streaming CDC apply — st07's MERGE plus DELETE semantics, the
    full changelog contract (Debezium/Delta CDF shape): each event is
    an upsert ('U') or a delete ('D' — here the deterministic proxy
    ``event_type = 'error'``), keyed by ``user_id``, ordered by
    ``(ts, event_id)``. Per micro-batch (:func:`cdc_apply_batch`) the
    newest change per key is MERGEd into the state table WITH its op —
    deletes persist as TOMBSTONES so a late-arriving older upsert cannot
    resurrect a deleted key (the recency precedence settles the race);
    the read view filters tombstones out. This is exactly how
    log-compacted CDC state works at scale: tombstones survive until
    compaction, the final projection hides them. Batching-independence
    (1-batch vs forced split replay of the same body) is pinned in
    tests/test_streaming.py.

    State is bucket-partitioned (``upsert_table_bucketed``): each
    micro-batch reads and rewrites only the hash-buckets its keys
    touch, so per-batch cost is O(batch + touched buckets), flat in
    accumulated state size (measured: tools/stream_state_curve.py)."""
    from crossfire_spark.sources.io import read_state_table

    work = _session_workdir("st19_")
    target = os.path.join(work, "state")
    stream = events_stream(spark, sf_dir).select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        "value",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    run_stream(stream.writeStream.foreachBatch(partial(cdc_apply_batch, target)), work)
    if not os.path.isdir(target):  # zero-batch replay (empty source)
        state = spark.createDataFrame([], stream.schema)
    else:
        state = read_state_table(spark, target)
    # hide tombstones, keep them stored
    return _latest_view(state.where(F.col("op") == "U"))


QUERIES["st19_stream_cdc_apply"] = st19_stream_cdc_apply

ORACLE_SQL["st19_stream_cdc_apply"] = """
        SELECT user_id, event_id, event_type, ts, ROUND(value, 2) v
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                  ORDER BY ts DESC, event_id DESC) rn FROM events) t
        WHERE rn = 1 AND event_type != 'error'
        ORDER BY user_id, event_id, event_type, ts, v"""


def scd2_batch(target: str, batch_df: DataFrame, _batch_id) -> None:
    """st20's micro-batch: re-derive the validity chain of the users
    the batch touches and MERGE it into the bucketed version store at
    ``target``; only the touched users' buckets are read."""
    from pyspark.sql import Window

    from crossfire_spark.sources.io import (
        BUCKET_COL,
        read_table,
        state_bucket_expr,
        upsert_table_bucketed,
    )

    sp = batch_df.sparkSession
    fresh = batch_df.select(
        "user_id",
        "event_id",
        F.col("ts").alias("valid_from"),
        "event_type",
        F.round("value", 2).alias("v"),
    )
    if os.path.isdir(target):
        touched = fresh.select("user_id").distinct()
        touched_buckets = [
            r[0]
            for r in touched.select(state_bucket_expr(["user_id"]).alias("b"))
            .distinct()
            .collect()
        ]
        current = (
            read_table(sp, target)
            .where(F.col(BUCKET_COL).isin(touched_buckets))
            .drop(BUCKET_COL)  # partition-pruned: untouched buckets unread
            .join(F.broadcast(touched), "user_id", "left_semi")
            .select("user_id", "event_id", "valid_from", "event_type", "v")
        )
        allrows = current.unionByName(fresh).dropDuplicates(["user_id", "event_id"])
    else:
        allrows = fresh
    w = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    rechained = allrows.withColumn(
        "valid_to", F.lead("valid_from").over(w)
    ).withColumn("is_current", F.col("valid_to").isNull())
    upsert_table_bucketed(
        sp,
        rechained.select(
            "user_id", "event_id", "valid_from", "valid_to",
            "event_type", "v", "is_current",
        ),
        target,
        keys=["user_id", "event_id"],
        bucket_keys=["user_id"],  # a user's versions co-live
    )


def st20_stream_scd2(spark, sf_dir):
    """Incremental SCD2 maintenance — h18's versioned-dimension table
    kept current by the stream: each micro-batch (a) reads the stored
    versions of the users it touches, (b) unions its own change rows
    in as new versions, (c) recomputes the LEAD validity chain for
    those users only, and (d) MERGEs the recomputed rows back (key =
    (user_id, event_id), so a re-derived version row replaces its
    stale open-interval predecessor). Untouched users are never read
    or rewritten — per-batch cost is O(batch + touched users'
    versions), the incremental-view discipline st12/st14 use. Equals
    the batch h18 build under any micro-batch split (pinned by a
    forced split-replay test of the same body, :func:`scd2_batch`);
    shares h18's DuckDB oracle.

    The version store is bucket-partitioned on ``user_id``
    (``upsert_table_bucketed``), so the MERGE in (d) rewrites only
    the touched hash-buckets — per-batch cost stays flat as the
    dimension's history grows (measured: tools/stream_state_curve.py)."""
    from crossfire_spark.sources.io import read_state_table

    work = _session_workdir("st20_")
    target = os.path.join(work, "scd2")
    stream = events_stream(spark, sf_dir).select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    out_schema = (
        "user_id long, event_id long, valid_from timestamp,"
        " valid_to timestamp, event_type string, v double,"
        " is_current boolean"
    )
    run_stream(stream.writeStream.foreachBatch(partial(scd2_batch, target)), work)
    if not os.path.isdir(target):  # zero-batch replay (empty source)
        return spark.createDataFrame([], out_schema)
    return read_state_table(spark, target).orderBy(
        "user_id", "valid_from", "event_id", "event_type", "v"
    )


QUERIES["st20_stream_scd2"] = st20_stream_scd2

from crossfire_spark.operators.extended import (  # noqa: E402
    ORACLE_SQL as EXTENDED_ORACLE_SQL,
)

ORACLE_SQL["st20_stream_scd2"] = EXTENDED_ORACLE_SQL["h18_scd2_intervals"]


def _write_arrival_files(tagged, nb: int, work: str, watch: str) -> None:
    """One parquet file per ``arrival`` batch value, mtimes spaced 60 s
    apart so the file stream source replays them in arrival order
    (FileStreamSource lists oldest-modified first). Empty arrival
    batches write no file — the downstream watermark recursion is
    unaffected (an empty batch contributes no event-time max).

    ONE Spark job (dynamic ``partitionBy`` + a 1-file-per-partition
    repartition), not nb sequential coalesce(1) writes — the nb
    job-submission round-trips dominated the replay setup."""
    import shutil

    t_base = 1_700_000_000
    tmp = os.path.join(work, "tmp_arrivals")
    (
        tagged.repartition(nb, "arrival")
        .write.partitionBy("arrival")
        .parquet(tmp)
    )
    for b in range(nb):
        pdir = os.path.join(tmp, f"arrival={b}")
        if not os.path.isdir(pdir):
            continue
        files = sorted(
            f for f in os.listdir(pdir) if f.endswith(".parquet")
        )
        # repartition(nb, "arrival") puts each arrival value in
        # exactly one task, so each arrival dir must hold exactly one
        # part-file; a task retry / speculative duplicate would leave
        # more and silently drop rows from the replay if we took [0].
        if len(files) > 1:
            raise AssertionError(
                f"arrival dir {pdir} has {len(files)} part-files; "
                "replay fixture would drop rows"
            )
        if files:
            dst = os.path.join(watch, f"arrival_{b}.parquet")
            shutil.move(os.path.join(pdir, files[0]), dst)
            os.utime(dst, (t_base + 60 * b, t_base + 60 * b))
    shutil.rmtree(tmp)


LATE_ARRIVAL_BATCHES = 6
LATE_DELAY_US = 12 * 3600 * 1_000_000  # 12-hour allowed lateness
LATE_JITTER_MOD = 7  # every 7th event arrives one batch late


def st21_late_data_audit(spark, sf_dir):
    """Watermark late-data audit — the observability layer every
    event-time pipeline runs NEXT TO its windowed aggregations: per
    event type, how many rows arrived behind the watermark (and how
    far behind), i.e. the data a `withWatermark(ts, delay)` operator
    would silently drop. Production teams audit this in
    ``foreachBatch`` precisely because the engine's own drops are
    visible only as counters (``numRowsDroppedByWatermark``), not as
    rows you can attribute to a source.

    The replay is deterministic end to end: arrival micro-batch =
    event-time bucket (integer µs arithmetic, the h-family bucket
    formula) with every ``LATE_JITTER_MOD``-th event displaced one
    batch later (the delayed-delivery channel); one file per arrival
    batch, mtimes spaced so the file source replays them in arrival
    order; the watermark recursion is the standard one — watermark
    before batch b = max event time over batches < b minus
    ``LATE_DELAY_US``. The audit is therefore a pure function of the
    table and carries a full DuckDB oracle replaying the same
    recursion with a running-max window.

    Scale shape: per batch ONE map-side-combinable aggregate per
    event type (counts + max lateness + max event time — a handful of
    rows to the driver per batch, never events); watermark state is
    a single µs scalar. O(batch) per batch, flat in history size."""
    import shutil

    from crossfire_spark.catalog import load_table, stab

    work = _session_workdir("st21_")
    watch = os.path.join(work, "in")
    os.makedirs(watch)

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.unix_micros("ts").alias("tsu")
    )
    mn, mx = ev.agg(F.min("tsu"), F.max("tsu")).first()
    out_schema = (
        "event_type string, n_total long, n_late long, n_ontime long,"
        " max_late_s long, late_share double"
    )
    if mn is None:
        return spark.createDataFrame([], out_schema)
    nb = LATE_ARRIVAL_BATCHES
    # integer DIV, never float division: (tsu-mn)*nb is ~6e15 at this
    # epoch — above 2^53, where a double quotient truncates wrong
    b0 = F.expr(f"((tsu - {mn}L) * {nb}) DIV ({mx}L - {mn}L + 1)")
    arr = F.when(
        F.pmod("event_id", F.lit(LATE_JITTER_MOD)) == 0,
        F.least(b0 + 1, F.lit(nb - 1)),
    ).otherwise(b0)
    tagged = ev.withColumn("arrival", arr.cast("int"))
    _write_arrival_files(tagged, nb, work, watch)

    state = {"max_tsu": None}
    acc: dict[str, list] = {}  # event_type -> [n, n_late, max_late_us]

    def audit(batch_df, _batch_id):
        wm = (
            state["max_tsu"] - LATE_DELAY_US
            if state["max_tsu"] is not None
            else None
        )
        late = (
            (F.col("tsu") < F.lit(wm)) if wm is not None else F.lit(False)
        )
        rows = (
            batch_df.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(late.cast("long")).alias("n_late"),
                F.max(F.when(late, F.lit(wm) - F.col("tsu"))).alias("ml"),
                F.max("tsu").alias("mt"),
            )
            .collect()
        )
        for r in rows:
            a = acc.setdefault(r.event_type, [0, 0, None])
            a[0] += r.n
            a[1] += r.n_late or 0
            if r.ml is not None and (a[2] is None or r.ml > a[2]):
                a[2] = r.ml
            if state["max_tsu"] is None or r.mt > state["max_tsu"]:
                state["max_tsu"] = r.mt

    stream = file_batches(spark, "event_id long, event_type string, tsu long", watch)
    run_stream(stream.writeStream.foreachBatch(audit), work)

    out = spark.createDataFrame(
        [
            (et, a[0], a[1], a[0] - a[1], a[2])
            for et, a in sorted(acc.items())
        ],
        "event_type string, n_total long, n_late long, n_ontime long,"
        " max_late_us long",
    )
    return out.select(
        "event_type",
        "n_total",
        "n_late",
        "n_ontime",
        F.expr("max_late_us DIV 1000000").alias("max_late_s"),
        stab(F.col("n_late") / F.col("n_total")).alias("late_share"),
    ).orderBy("event_type")


QUERIES["st21_late_data_audit"] = st21_late_data_audit

ORACLE_SQL["st21_late_data_audit"] = f"""
        WITH sp AS (SELECT epoch_us(MIN(ts)) mn, epoch_us(MAX(ts)) mx
                    FROM events),
        e AS (SELECT event_type, epoch_us(ts) tsu,
                     CASE WHEN event_id % {LATE_JITTER_MOD} = 0
                          THEN LEAST((epoch_us(ts) - sp.mn) * {LATE_ARRIVAL_BATCHES}
                                     // (sp.mx - sp.mn + 1) + 1,
                                     {LATE_ARRIVAL_BATCHES - 1})
                          ELSE (epoch_us(ts) - sp.mn) * {LATE_ARRIVAL_BATCHES}
                               // (sp.mx - sp.mn + 1) END arr
              FROM events, sp),
        bm AS (SELECT arr, MAX(tsu) m FROM e GROUP BY arr),
        wm AS (SELECT arr, MAX(m) OVER (ORDER BY arr
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   - {LATE_DELAY_US} w
               FROM bm),
        f AS (SELECT e.event_type, e.tsu, wm.w,
                     (wm.w IS NOT NULL AND e.tsu < wm.w) late
              FROM e JOIN wm USING (arr))
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) n_total,
               CAST(SUM(CASE WHEN late THEN 1 ELSE 0 END) AS BIGINT) n_late,
               CAST(SUM(CASE WHEN late THEN 0 ELSE 1 END) AS BIGINT) n_ontime,
               CAST(MAX(CASE WHEN late THEN w - tsu END) // 1000000
                    AS BIGINT) max_late_s,
               ROUND(ROUND(SUM(CASE WHEN late THEN 1 ELSE 0 END)
                           / COUNT(*), 9) + 1e-12, 6) + 0.0 late_share
        FROM f GROUP BY event_type ORDER BY event_type"""


SESSION_ARRIVAL_BATCHES = 6
SESSION_WM_DELAY_MS = 60_000  # 1-minute allowed lateness


def stateful_sessions(
    stream: DataFrame, evict: bool = True, n_buckets: int = 64
) -> DataFrame:
    """The st22 state operator on an arbitrary pre-watermarked stream
    of (user_id, event_id, tsu, cents): gaps-and-islands sessions in
    exact integer µs arithmetic.

    State is BUCKETED (``pmod(xxhash64(user_id), n_buckets)`` — the
    st04/st15 lesson: per-GROUP Python dispatch, not arithmetic, is
    what bounds ``applyInPandasWithState`` at high key cardinality,
    so each bucket carries its users' (start, last, n, cents) tuples
    as flat parallel arrays and one batch costs ≤ n_buckets Python
    invocations, not |users|). Eviction is therefore MANUAL against
    ``getCurrentWatermarkMs()`` on every invocation, with the
    bucket's ``setTimeoutTimestamp`` at the MIN remaining deadline so
    idle buckets still get woken (including by the availableNow
    no-data final batch) — per-user deadline semantics are exactly
    the unbucketed form's: a session emits iff some invocation sees
    watermark_ms > last_ms + gap_ms, i.e. the same strict predicate
    the DuckDB oracle states. ``evict=False`` is the NoTimeout
    contrast the state-curve harness measures (state grows with every
    user ever seen; trailing sessions never emit)."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from crossfire_spark.operators.extended import SESSION_GAP_US

    gap_us = SESSION_GAP_US
    gap_ms = SESSION_GAP_US // 1000

    def update(key, pdfs, state: GroupState):
        sess: dict[int, list[int]] = {}
        if state.exists:
            us, st0, la, nn, ce = state.get
            for u, a, b, c, d in zip(us, st0, la, nn, ce):
                sess[int(u)] = [int(a), int(b), int(c), int(d)]
        closed = []
        if not state.hasTimedOut:
            batch = pd.concat(list(pdfs)).sort_values(["tsu", "event_id"])
            for u, g in batch.groupby("user_id", sort=False):
                u = int(u)
                cur = sess.get(u)
                for tsu, c in zip(g["tsu"], g["cents"]):
                    tsu, c = int(tsu), int(c)
                    if cur is None:
                        cur = [tsu, tsu, 1, c]
                    elif tsu - cur[1] > gap_us:
                        closed.append((u, cur[2], cur[0], cur[1], cur[3]))
                        cur = [tsu, tsu, 1, c]
                    else:
                        cur[1], cur[2], cur[3] = tsu, cur[2] + 1, cur[3] + c
                sess[u] = cur
        if evict:
            wm = state.getCurrentWatermarkMs()
            for u in sorted(sess):
                cur = sess[u]
                if wm > cur[1] // 1000 + gap_ms:  # the oracle's strict >
                    closed.append((u, cur[2], cur[0], cur[1], cur[3]))
                    del sess[u]
        if sess:
            us = sorted(sess)
            state.update(
                (
                    us,
                    [sess[u][0] for u in us],
                    [sess[u][1] for u in us],
                    [sess[u][2] for u in us],
                    [sess[u][3] for u in us],
                )
            )
            if evict:
                # min remaining deadline; the +1 clamp only engages on
                # an exact ms tie with the current watermark (post-
                # eviction deadlines are >= wm by construction)
                state.setTimeoutTimestamp(
                    max(
                        min(sess[u][1] // 1000 + gap_ms for u in us),
                        wm + 1,
                    )
                )
        else:
            state.remove()
        yield pd.DataFrame(
            closed,
            columns=["user_id", "n_events", "start_us", "end_us", "cents"],
        )

    bucketed = stream.withColumn(
        "_bucket", F.pmod(F.xxhash64("user_id"), F.lit(n_buckets))
    )
    return (
        bucketed.groupBy("_bucket")
        .applyInPandasWithState(
            update,
            outputStructType=(
                "user_id long, n_events long, start_us long, end_us long,"
                " cents long"
            ),
            stateStructType=(
                "users array<long>, starts array<long>, lasts array<long>,"
                " ns array<long>, cents array<long>"
            ),
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.EventTimeTimeout
                if evict
                else GroupStateTimeout.NoTimeout
            ),
        )
    )


def st22_stateful_sessions(spark, sf_dir):
    """Stateful sessionization with EVENT-TIME TIMEOUTS — the
    ``applyInPandasWithState`` surface st04/st15/st17 exercise, plus
    the piece none of them needed: ``GroupStateTimeout.EventTimeTimeout``
    with ``setTimeoutTimestamp``, so a user's trailing session is
    EVICTED and emitted when the watermark passes last_event + gap
    (the unbounded-key state-leak fix every production sessionizer
    needs — without timeouts, one state entry per ever-seen user
    lives forever). Sessions closed by witnessing the successor event
    emit immediately; the no-data final micro-batch (availableNow
    runs one after the last file) fires the remaining timeouts whose
    deadline the final watermark passed; any session still open at
    the final watermark stays unemitted — exactly the append-mode
    contract of a session window.

    Deterministic end to end: time-bucketed arrival files in mtime
    order (the st21 replay, no jitter), exact integer µs session
    arithmetic inside the state function, integer-cents value sums
    (order-independent — the h21 discipline). The DuckDB oracle is
    the h05 gaps-and-islands CTE with the closure predicate: a
    session emits iff it has a successor session (same user) OR
    final_watermark_ms > last_event_ms + gap_ms, where
    final_watermark_ms = floor(max event µs / 1000) − delay.
    Known 1 ms tie window vs that predicate (ADVICE r8): the engine
    registers ``max(deadline, wm + 1)`` because Spark rejects a
    timeout <= the current watermark; if a deadline ties the current
    watermark exactly AND the final watermark lands at exactly wm+1,
    Spark's strict ``watermark > timeout`` never fires while the
    oracle emits. Unreachable on this fixture — event times are µs
    ticks with second-scale gaps, so a deadline/watermark ms tie
    combined with a 1 ms terminal advance does not occur — but real
    deployments with ms-granular events should register the raw
    deadline and rely on Spark's own >current-watermark validation.

    Scale shape: state = ONE (start, last, n, cents) tuple per ACTIVE
    user (timeouts bound it — evicted keys cost nothing); per batch
    the state operator shuffles only the batch's keys; the state
    function is Arrow-batched. O(batch + touched keys), and unlike
    the NoTimeout jobs the key set cannot grow monotonically."""
    from crossfire_spark.catalog import load_table

    work = _session_workdir("st22_")
    watch = os.path.join(work, "in")
    os.makedirs(watch)

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("tsu"),
        F.expr("CAST(FLOOR(value * 100) AS BIGINT)").alias("cents"),
    )
    mn, mx = ev.agg(F.min("tsu"), F.max("tsu")).first()
    out_schema = (
        "user_id long, n_events long, t_start timestamp,"
        " t_end timestamp, sum_value double"
    )
    if mn is None:
        return spark.createDataFrame([], out_schema)
    nb = SESSION_ARRIVAL_BATCHES
    tagged = ev.withColumn(
        "arrival",
        F.expr(f"CAST(((tsu - {mn}L) * {nb}) DIV ({mx}L - {mn}L + 1) AS INT)"),
    )
    _write_arrival_files(tagged, nb, work, watch)

    stream = (
        file_batches(spark, "user_id long, event_id long, tsu long, cents long", watch)
        .withColumn("ts", F.timestamp_micros("tsu"))
        .withWatermark("ts", f"{SESSION_WM_DELAY_MS // 1000} seconds")
    )
    sessions = stateful_sessions(stream)
    sink = run_stream_to_memory(sessions, mode="append")
    return sink.select(
        "user_id",
        "n_events",
        F.timestamp_micros("start_us").alias("t_start"),
        F.timestamp_micros("end_us").alias("t_end"),
        (F.col("cents").cast("double") / 100.0).alias("sum_value"),
    ).orderBy("user_id", "t_start", "t_end", "n_events", "sum_value")


QUERIES["st22_stateful_sessions"] = st22_stateful_sessions

ORACLE_SQL["st22_stateful_sessions"] = f"""
        WITH b AS (SELECT user_id, ts, event_id,
                CAST(FLOOR(value * 100) AS BIGINT) cents,
                CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                     THEN 1 ELSE 0 END boundary
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        s AS (SELECT user_id, ts, event_id, cents,
                SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) sess
            FROM b),
        g AS (SELECT user_id, sess, CAST(COUNT(*) AS BIGINT) n_events,
                     MIN(ts) t_start, MAX(ts) t_end,
                     CAST(SUM(cents) AS DOUBLE) / 100.0 sum_value,
                     MAX(sess) OVER (PARTITION BY user_id) last_sess
              FROM s GROUP BY user_id, sess),
        wm AS (SELECT epoch_us(MAX(ts)) // 1000 - {SESSION_WM_DELAY_MS} w_ms
               FROM events)
        SELECT user_id, n_events, t_start, t_end, sum_value
        FROM g CROSS JOIN wm
        WHERE sess < last_sess
           OR wm.w_ms > epoch_us(t_end) // 1000 + 1800000
        ORDER BY user_id, t_start, t_end, n_events, sum_value"""
