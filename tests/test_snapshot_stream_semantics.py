"""Initial-offset semantics of the snapshot streaming source: a fresh
stream delivers the current head as one snapshot (never superseded row
versions), startingVersion replays history explicitly, and subsequent
commits stream incrementally across restarts."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from crossfire_spark.sources.snapshot import snapshot_merge, snapshot_write
from crossfire_spark.sources.snapshot_stream import snapshot_read_stream
from crossfire_spark.streaming.jobs import run_stream_to_memory


def _rows(spark, path, starting_version=None):
    sdf = snapshot_read_stream(spark, path, starting_version=starting_version)
    sink = run_stream_to_memory(sdf.select("id", "val"), mode="append")
    return {(r.id, r.val) for r in sink.collect()}


def test_fresh_stream_sees_head_not_history(spark, tmp_path):
    """Overwrite-heavy table: a new consumer must get the head state
    only — the overwritten generation must not replay."""
    path = str(tmp_path / "t")
    snapshot_write(
        spark.createDataFrame([(1, "old"), (2, "old")], "id long, val string"),
        path,
    )
    snapshot_write(
        spark.createDataFrame([(3, "new")], "id long, val string"),
        path,
        mode="overwrite",
    )
    assert _rows(spark, path) == {(3, "new")}


def test_fresh_stream_after_merge_sees_current_rows_once(spark, tmp_path):
    path = str(tmp_path / "t")
    snapshot_write(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id long, val string"
        ),
        path,
    )
    snapshot_merge(
        spark,
        spark.createDataFrame([(2, "B")], "id long, val string"),
        path,
        keys=["id"],
    )
    assert _rows(spark, path) == {(1, "a"), (2, "B"), (3, "c")}


def test_starting_version_replays_history(spark, tmp_path):
    """startingVersion=0 opts into the documented full add-replay —
    superseded rows included."""
    path = str(tmp_path / "t")
    snapshot_write(
        spark.createDataFrame([(1, "old")], "id long, val string"), path
    )
    snapshot_write(
        spark.createDataFrame([(2, "new")], "id long, val string"),
        path,
        mode="overwrite",
    )
    assert _rows(spark, path, starting_version=0) == {(1, "old"), (2, "new")}
    assert _rows(spark, path, starting_version=1) == {(2, "new")}


def test_incremental_tail_across_restarts(spark, tmp_path):
    """With a persistent checkpoint: first run delivers the snapshot,
    a restart after one more commit delivers only the new adds."""
    path = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    snapshot_write(
        spark.createDataFrame([(1, "a")], "id long, val string"), path
    )

    def run_once():
        q = (
            snapshot_read_stream(spark, path)
            .select("id", "val")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    got1 = {(r.id, r.val) for r in spark.read.parquet(out).collect()}
    assert got1 == {(1, "a")}
    snapshot_write(
        spark.createDataFrame([(2, "b")], "id long, val string"), path
    )
    run_once()
    got2 = {(r.id, r.val) for r in spark.read.parquet(out).collect()}
    assert got2 == {(1, "a"), (2, "b")}
