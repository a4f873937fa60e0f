"""Streaming tests: the streaming engine's answers must equal the
batch/oracle answers (SURVEY §7.1 M5 correctness = streaming result
of the windowed aggregation equals the batch answer), plus streaming
dedup and append-mode session-window behavior."""

from __future__ import annotations

from pyspark.sql import functions as F

from crossfire_spark.catalog import load_table
from crossfire_spark.streaming.jobs import (
    events_stream,
    run_stream_to_memory,
    session_windows,
)
from test_differential import oracle_test

test_streaming_matches_oracle = oracle_test("crossfire_spark.streaming.jobs")


def _three_file_split(spark, events, tmp_path):
    """``events`` written as 3 parquet files, one per
    ``pmod(event_id, 3)`` (interleaved rows, so every file spans all
    users and all of time), and streamed back one file per
    micro-batch."""
    src = str(tmp_path / "src")
    events.withColumn("b", F.pmod("event_id", F.lit(3))).repartition(
        "b"
    ).write.partitionBy("b").parquet(src)
    return (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )


def _replay(stream, body, target, tmp_path):
    """Run the shipped per-batch ``body`` into ``target`` over
    ``stream``; returns the number of micro-batches that read rows."""
    from functools import partial

    from crossfire_spark.streaming.jobs import run_stream

    q = run_stream(
        stream.writeStream.foreachBatch(partial(body, target)), str(tmp_path)
    )
    return sum(1 for p in q.recentProgress if p["numInputRows"] > 0)


def _newest(events):
    """The batch answer: each user's newest row by (ts, event_id)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return events.withColumn("rn", F.row_number().over(w)).where("rn = 1")


def test_streaming_session_append_is_prefix_of_batch(spark, sf_dir):
    """Append-mode session windows emit only watermark-closed
    sessions: the streaming output must be a subset of the batch
    result, missing at most the sessions near the stream's end."""
    stream = session_windows(events_stream(spark, sf_dir).withWatermark("ts", "0 seconds"))
    got = {
        (r.user_id, r.session_start, r.c, r.s)
        for r in run_stream_to_memory(stream, mode="append").collect()
    }
    batch = {
        (r.user_id, r.session_start, r.c, r.s)
        for r in session_windows(load_table(spark, sf_dir, "events")).collect()
    }
    assert got <= batch
    # with a 0-second watermark everything before the max event time
    # closes; only the tail sessions (one per user at most) may lag
    assert len(batch - got) <= load_table(spark, sf_dir, "events").select(
        "user_id"
    ).distinct().count()


def test_stream_upsert_batching_independent(spark, sf_dir, tmp_path):
    """Streaming MERGE is deterministic under any micro-batch split:
    st07's shipped body replays events as 3 single-file micro-batches
    (files arrive in arbitrary ts order) and the merged state table
    must equal the batch latest-per-user."""
    from crossfire_spark.sources.io import read_table
    from crossfire_spark.streaming.jobs import upsert_batch

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts", "value"
    )
    target = str(tmp_path / "latest")
    stream = _three_file_split(spark, events, tmp_path)
    n_batches = _replay(stream, upsert_batch, target, tmp_path)
    assert n_batches >= 3, "replay did not split into micro-batches"
    got = {
        (r.user_id, r.event_id)
        for r in read_table(spark, target).collect()
    }
    expect = {(r.user_id, r.event_id) for r in _newest(events).collect()}
    assert got == expect


def test_streaming_dedup_within_watermark(spark, sf_dir):
    """dropDuplicatesWithinWatermark collapses re-deliveries: stream
    the events table twice (union) and dedup on event_id."""
    s1 = events_stream(spark, sf_dir)
    s2 = events_stream(spark, sf_dir)
    doubled = s1.union(s2).withWatermark("ts", "1 hour")
    deduped = doubled.dropDuplicatesWithinWatermark(["event_id"])
    out = run_stream_to_memory(deduped, mode="append")
    n_events = load_table(spark, sf_dir, "events").count()
    assert out.count() == n_events
    assert out.select("event_id").distinct().count() == n_events


def test_snapshot_merge_stream_batching_independent(spark, sf_dir, tmp_path):
    """st09's shipped read-merge-write body into the versioned table is
    deterministic under any micro-batch split, and each batch is one
    committed version (history survives across batches)."""
    from crossfire_spark.sources.snapshot import snapshot_history, snapshot_read
    from crossfire_spark.streaming.jobs import snapshot_merge_batch

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts", "value"
    )
    target = str(tmp_path / "latest")
    stream = _three_file_split(spark, events, tmp_path)
    n_batches = _replay(stream, snapshot_merge_batch, target, tmp_path)
    assert n_batches >= 3, "replay did not split into micro-batches"
    hist = snapshot_history(target)
    assert len(hist) >= 3, "each micro-batch must commit one version"
    assert {h["operation"] for h in hist[1:]} == {"merge"}
    got = {
        (r.user_id, r.event_id)
        for r in snapshot_read(spark, target).collect()
    }
    expect = {(r.user_id, r.event_id) for r in _newest(events).collect()}
    assert got == expect


def test_snapshot_stream_source_resumes_from_checkpoint(
    spark, sf_dir, tmp_path
):
    """The Python DataSource snapshot stream delivers each committed
    file exactly once across restarts: a checkpointed availableNow run
    consumes versions <= head; a later commit + rerun appends only the
    new version's rows."""
    from crossfire_spark.catalog import load_table
    from crossfire_spark.sources.snapshot import snapshot_write
    from crossfire_spark.sources.snapshot_stream import snapshot_read_stream

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    table = str(tmp_path / "snap_src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    third = F.pmod(F.col("event_id"), F.lit(3))
    snapshot_write(ev.where(third == 0), table)
    snapshot_write(ev.where(third == 1), table)

    def run_once():
        q = (
            snapshot_read_stream(spark, table)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n01 = ev.where(third != 2).count()
    got1 = spark.read.parquet(out)
    assert got1.count() == n01
    # new commit, same checkpoint -> only version 2's rows are new
    snapshot_write(ev.where(third == 2), table)
    run_once()
    got2 = spark.read.parquet(out)
    assert got2.count() == ev.count()
    assert got2.select("event_id").distinct().count() == ev.count()
    # schema carried through the custom source
    assert set(got2.columns) == {"event_id", "user_id", "value"}


def test_snapshot_stream_source_partitioned_table(spark, sf_dir, tmp_path):
    """Hive partition columns (path-encoded, absent from data files)
    are reconstructed by the stream reader from manifest metadata."""
    from crossfire_spark.catalog import load_table
    from crossfire_spark.sources.snapshot import snapshot_write
    from crossfire_spark.sources.snapshot_stream import snapshot_read_stream

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    table = str(tmp_path / "snap_part")
    snapshot_write(docs, table, partition_by=["lang"])
    sink = f"sink_{abs(hash(table)) % 10**8}"
    q = (
        snapshot_read_stream(spark, table)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table(sink)
    assert got.count() == docs.count()
    want = {(r.doc_id, r.lang) for r in docs.select("doc_id", "lang").collect()}
    have = {(r.doc_id, r.lang) for r in got.select("doc_id", "lang").collect()}
    assert have == want


def test_st14_maintained_index_equals_adhoc(spark, sf_dir):
    """Codes appended from the stream + the stored codebooks must give
    exactly the ad-hoc PQ result computed with the same codebooks."""
    import numpy as np

    from crossfire_spark.catalog import load_table, spread
    from crossfire_spark.functions.similarity import _query_set, pq_topk
    from crossfire_spark.streaming.jobs import st14_index_maintenance

    got = [
        tuple(r)
        for r in st14_index_maintenance(spark, sf_dir)
        .orderBy("qid", "vec_id")
        .collect()
    ]
    em = spread(load_table(spark, sf_dir, "embeddings"))
    base = em.where(F.col("vec_id") % 10 != 3)
    from crossfire_spark.functions.similarity import pq_codebooks

    books = pq_codebooks(base)
    expect = [
        tuple(r)
        for r in pq_topk(em, _query_set(em), books=books)
        .orderBy("qid", "vec_id")
        .collect()
    ]
    assert got == expect


def test_st15_state_carries_across_batches(spark, sf_dir, tmp_path):
    """The streaming anomaly detector must emit the SAME rows as the
    batch h08 operator when the replay is split at the time median
    into two in-order micro-batches — the second batch's early frames
    depend on state carried from the first, so equality proves the
    cross-batch window handoff."""
    from crossfire_spark.operators.extended import rolling_anomalies
    from crossfire_spark.streaming.stateful import stream_anomalies

    events = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") < 200)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    )
    cut = events.agg(
        F.expr("percentile_approx(unix_micros(ts), 0.5)").alias("c")
    ).first()["c"]
    src = str(tmp_path / "src")
    early = events.where(F.unix_micros("ts") <= cut)
    late = events.where(F.unix_micros("ts") > cut)
    early.coalesce(1).write.parquet(src + "/f0")
    late.coalesce(1).write.parquet(src + "/f1")
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    from crossfire_spark.streaming.jobs import run_stream_to_memory

    got = run_stream_to_memory(stream_anomalies(stream), mode="append")
    want = rolling_anomalies(events)
    g = sorted(map(tuple, got.collect()))
    w = sorted(map(tuple, want.collect()))
    assert g == w and len(g) > 0


def test_st17_funnel_state_carries_across_batches(spark, sf_dir, tmp_path):
    """The streaming funnel's final per-user stage must equal the
    batch first-touch computation when the replay splits at the time
    median into two in-order micro-batches — users whose click or
    purchase lands in batch 2 depend on stage state carried from
    batch 1."""
    from crossfire_spark.operators.extended import FUNNEL_STEPS
    from crossfire_spark.streaming.jobs import run_stream_to_memory
    from crossfire_spark.streaming.stateful import stream_funnel

    events = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    )
    cut = events.agg(
        F.expr("percentile_approx(unix_micros(ts), 0.5)").alias("c")
    ).first()["c"]
    src = str(tmp_path / "src")
    events.where(F.unix_micros("ts") <= cut).coalesce(1).write.parquet(src + "/f0")
    events.where(F.unix_micros("ts") > cut).coalesce(1).write.parquet(src + "/f1")
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    got = run_stream_to_memory(stream_funnel(stream), mode="update")
    final = {
        r["user_id"]: r["stage"]
        for r in got.groupBy("user_id")
        .agg(F.max("stage").alias("stage"))
        .collect()
    }
    # batch truth: chained first-touch stages
    s1 = (
        events.where(F.col("event_type") == FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t"))
    )
    stages = {r["user_id"]: 1 for r in s1.collect()}
    prev = s1
    for i, step in enumerate(FUNNEL_STEPS[1:], start=2):
        prev = (
            events.where(F.col("event_type") == step)
            .join(prev.select("user_id", F.col("t").alias("pt")), "user_id")
            .where(F.col("ts") > F.col("pt"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("t"))
        )
        for r in prev.collect():
            stages[r["user_id"]] = i
    for u, st in final.items():
        assert stages.get(u, 0) == st, (u, st, stages.get(u, 0))
    assert set(stages) <= set(final)


def test_st18_interval_merge_order_independent_across_batches(
    spark, sf_dir, tmp_path
):
    """The streaming interval union's assembled final state must equal
    batch h15 even when the replay is split at the time median and fed
    LATE HALF FIRST — interval union is commutative, so unlike
    st15/st17 the operator must converge from out-of-order ingestion
    (islands formed from late intervals later merge with early ones)."""
    from crossfire_spark.operators.extended import h15_interval_merge
    from crossfire_spark.streaming.jobs import run_stream_to_memory
    from crossfire_spark.streaming.stateful import stream_interval_merge

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    cut = events.agg(
        F.expr("percentile_approx(unix_micros(ts), 0.5)").alias("c")
    ).first()["c"]
    src = str(tmp_path / "src")
    # f0 sorts before f1 in the file source: LATE half replays first
    events.where(F.unix_micros("ts") > cut).coalesce(1).write.parquet(
        src + "/f0"
    )
    events.where(F.unix_micros("ts") <= cut).coalesce(1).write.parquet(
        src + "/f1"
    )
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    out = run_stream_to_memory(stream_interval_merge(stream), mode="update")
    n_batches = {r["ver"] for r in out.select("ver").distinct().collect()}
    assert len(n_batches) >= 2, "replay did not split into micro-batches"
    from pyspark.sql import Window

    w = Window.partitionBy("user_id")
    final = (
        out.withColumn("mv", F.max("ver").over(w))
        .where(F.col("ver") == F.col("mv"))
        .select(
            "user_id",
            "island",
            F.timestamp_micros("start_us").alias("start_ts"),
            F.timestamp_micros("end_us").alias("end_ts"),
            "n_events",
        )
    )
    got = sorted(map(tuple, final.collect()))
    want = sorted(map(tuple, h15_interval_merge(spark, sf_dir).collect()))
    assert got == want and len(got) > 0


def test_stream_cdc_apply_batching_independent_and_tombstones(
    spark, sf_dir, tmp_path
):
    """st19's shipped CDC body (bucketed upsert) under a forced 3-batch
    split equals the batch changelog compaction: newest change per user
    wins, users whose newest change is a delete are ABSENT from the
    read view but PRESENT as tombstones in the stored state (so a late
    older upsert cannot resurrect them)."""
    from crossfire_spark.sources.io import read_state_table
    from crossfire_spark.streaming.jobs import cdc_apply_batch

    events = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        "value",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    target = str(tmp_path / "state")
    stream = _three_file_split(spark, events, tmp_path)
    n_batches = _replay(stream, cdc_apply_batch, target, tmp_path)
    assert n_batches >= 3, "replay did not split into micro-batches"
    state = read_state_table(spark, target)
    newest = _newest(events)
    live_expect = {
        (r.user_id, r.event_id) for r in newest.where("op = 'U'").collect()
    }
    dead_expect = {r.user_id for r in newest.where("op = 'D'").collect()}
    live_got = {
        (r.user_id, r.event_id) for r in state.where("op = 'U'").collect()
    }
    dead_got = {r.user_id for r in state.where("op = 'D'").collect()}
    assert live_got == live_expect
    assert dead_got == dead_expect
    assert dead_expect, "corpus should exercise the delete path"
    assert dead_expect.isdisjoint({u for u, _ in live_got})


def test_stream_scd2_batching_independent(spark, sf_dir, tmp_path):
    """st20's shipped incremental SCD2 body (touched-bucket pruning,
    bucketed upsert) under a forced 3-batch split equals the batch h18
    build: every version row, every valid_to closure (including
    intervals that straddle batch boundaries), and exactly one open
    interval per user."""
    from crossfire_spark.operators.extended import scd2_intervals
    from crossfire_spark.sources.io import read_state_table
    from crossfire_spark.streaming.jobs import scd2_batch

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    target = str(tmp_path / "scd2")
    stream = _three_file_split(spark, events, tmp_path)
    n_batches = _replay(stream, scd2_batch, target, tmp_path)
    assert n_batches >= 3, "replay did not split into micro-batches"
    got = {
        (r.user_id, r.event_id): (r.valid_from, r.valid_to, r.is_current)
        for r in read_state_table(spark, target).collect()
    }
    expect = {
        (r.user_id, r.event_id): (r.valid_from, r.valid_to, r.is_current)
        for r in scd2_intervals(events).collect()
    }
    assert got == expect
    open_per_user: dict = {}
    for (u, _), (_, vt, cur) in got.items():
        if cur:
            open_per_user[u] = open_per_user.get(u, 0) + 1
            assert vt is None
    assert set(open_per_user.values()) == {1}


def test_st22_timeout_path_and_state_eviction(spark, sf_dir):
    """st22's two emission channels are both exercised by the
    fixture: sessions closed by a successor (every non-last session
    per user) and sessions closed by the EventTimeTimeout (trailing
    sessions whose deadline the final watermark passed). The emitted
    set must sit between 'all non-last sessions' (timeouts add more)
    and the full gaps-and-islands census (open trailers withheld)."""
    from pyspark.sql import functions as SF

    from crossfire_spark.operators.extended import h05_sessionize
    from crossfire_spark.streaming.jobs import st22_stateful_sessions

    got = st22_stateful_sessions(spark, sf_dir)
    n_emitted = got.count()
    census = h05_sessionize(spark, sf_dir).select("user_id", "sess")
    n_sessions = census.count()
    n_users = census.select("user_id").distinct().count()
    n_nonlast = n_sessions - n_users
    assert n_nonlast <= n_emitted <= n_sessions
    assert n_emitted > n_nonlast, "timeout channel never fired"
    # per-session invariants
    bad = got.where(
        (SF.col("n_events") <= 0) | (SF.col("t_end") < SF.col("t_start"))
    ).count()
    assert bad == 0


def test_arrival_writer_one_file_per_batch_in_mtime_order(spark, tmp_path):
    """The st21/st22 replay determinism rests on _write_arrival_files'
    contract: exactly one parquet file per non-empty arrival value,
    strictly increasing mtimes in arrival order, rows partitioned
    exactly by the arrival column."""
    import os

    from pyspark.sql import functions as SF

    from crossfire_spark.streaming.jobs import _write_arrival_files

    work = str(tmp_path / "w")
    watch = str(tmp_path / "w" / "in")
    os.makedirs(watch)
    df = spark.range(1000).select(
        SF.col("id").alias("event_id"),
        (SF.col("id") * 7).alias("tsu"),
        SF.pmod("id", SF.lit(5)).cast("int").alias("arrival"),
    ).where(SF.col("arrival") != 3)  # one deliberately empty batch
    _write_arrival_files(df, 6, work, watch)
    files = sorted(os.listdir(watch))
    assert files == [f"arrival_{b}.parquet" for b in (0, 1, 2, 4)]
    mtimes = [os.path.getmtime(os.path.join(watch, f)) for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
    back = spark.read.parquet(os.path.join(watch, "arrival_2.parquet"))
    got = {r.event_id % 5 for r in back.select("event_id").collect()}
    assert got == {2} and back.count() == 200
