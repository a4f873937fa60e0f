"""The snapshot table as a first-class Structured Streaming source.

Spark 4's Python DataSource API (``pyspark.sql.datasource``) lets the
engine's log-backed table (``sources/snapshot.py``) be tailed with
``spark.readStream`` like any built-in source — no JVM code:

- **offsets are log versions**: a micro-batch covers the manifest
  range ``(start_version, latest_version]``; resuming from a
  checkpoint replays from the committed version, giving exactly-once
  file delivery (data files are immutable and a commit is atomic).
- **partitions are changed files**: the reader diffs each commit's
  manifest against its parent (the same file-diff that powers
  ``snapshot_changes``) and hands one ``InputPartition`` per *added*
  file. Executors read their file with pyarrow and yield Arrow record
  batches — the vectorized path, no per-row Python.
- **append semantics**: overwrite/merge commits stream their added
  files only (the insert half of the CDC feed); a streaming consumer
  that needs deletes reads ``snapshot_changes`` in ``foreachBatch``
  instead.
- **initial snapshot, then adds** (the Delta/Iceberg convention): a
  fresh stream's first batch is the *current head's* file set — one
  consistent snapshot, no superseded row versions from overwritten/
  merged-away history — and subsequent batches are per-commit added
  files. ``option("startingVersion", n)`` instead replays added files
  from version ``n`` onward (``0`` = full history); since only the
  insert half streams, a replay across overwrite/merge commits
  delivers superseded row versions — by design, documented here.

Scale notes: offset resolution and the manifest diff are driver-side
O(commits + changed files) metadata; row bytes only ever move
executor-side, one task per new file (Spark splits nothing further —
snapshot files are written at bounded size by the sink). This is the
shape Delta/Iceberg streaming sources use.

The reference has no streaming surface (SURVEY §2.10); this extends
the engine's own table format to continuous consumers.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from crossfire_spark.sources.snapshot import _read_manifest, snapshot_versions


class _AddedFile(InputPartition):
    """One newly-added data file plus its hive partition values
    (partition columns are path-encoded, not stored in the file)."""

    def __init__(self, full_path: str, part_values: dict[str, str]):
        self.full_path = full_path
        self.part_values = part_values


class SnapshotStreamReader(DataSourceStreamReader):
    def __init__(
        self,
        path: str,
        schema: StructType,
        starting_version: int | None = None,
    ):
        self.path = path
        self.schema_names = [f.name for f in schema.fields]
        self.schema_json = schema.json()
        self.starting_version = starting_version

    def initialOffset(self) -> dict:
        if self.starting_version is not None:
            # explicit replay-from-version: adds of every commit >=
            # startingVersion stream through (full history at 0)
            return {"version": self.starting_version - 1}
        # default = the Delta/Iceberg convention: first batch is the
        # head SNAPSHOT (marked by snapshot_of), later batches are
        # per-commit adds — a new consumer of an overwrite/merge-heavy
        # table never sees superseded row versions.
        vs = snapshot_versions(self.path)
        return {"version": vs[-1] if vs else -1, "snapshot_of": True}

    def latestOffset(self) -> dict:
        vs = snapshot_versions(self.path)
        return {"version": vs[-1] if vs else -1}

    def partitions(self, start: dict, end: dict):
        s, e = start["version"], end["version"]
        parts: list[_AddedFile] = []
        if start.get("snapshot_of"):
            # initial batch: the whole file set of the offset version —
            # one consistent snapshot of the table as of stream start
            if s >= 0:
                m = _read_manifest(self.path, s)
                fparts = m.get("file_partitions", {})
                for f in sorted(m["files"]):
                    parts.append(
                        _AddedFile(
                            os.path.join(self.path, f),
                            dict(fparts.get(f) or {}),
                        )
                    )
        for v in snapshot_versions(self.path):
            if not (s < v <= e):
                continue
            m = _read_manifest(self.path, v)
            parent_files: set[str] = set()
            if m["parent"] is not None:
                parent_files = set(_read_manifest(self.path, m["parent"])["files"])
            fparts = m.get("file_partitions", {})
            for f in sorted(set(m["files"]) - parent_files):
                parts.append(
                    _AddedFile(
                        os.path.join(self.path, f), dict(fparts.get(f) or {})
                    )
                )
        # Spark requires >= 1 partition per batch; an empty batch
        # (no new commits) reads an empty sentinel.
        return parts or [_AddedFile("", {})]

    def read(self, partition: _AddedFile):
        import pyarrow as pa
        import pyarrow.parquet as pq

        if not partition.full_path:
            return
        table = pq.read_table(partition.full_path)
        # attach path-encoded partition columns, cast to the table
        # schema's type for that field
        target = StructType.fromJson(json.loads(self.schema_json))
        spark_to_pa = {
            "long": pa.int64(),
            "integer": pa.int32(),
            "double": pa.float64(),
            "float": pa.float32(),
            "string": pa.string(),
            "boolean": pa.bool_(),
        }
        for col, val in partition.part_values.items():
            if col in table.column_names:
                continue
            typ = next(
                (f.dataType.typeName() for f in target.fields if f.name == col),
                "string",
            )
            pa_type = spark_to_pa.get(typ, pa.string())
            arr = pa.array([val] * len(table)).cast(pa_type)
            table = table.append_column(col, arr)
        table = table.select(self.schema_names)
        yield from table.to_batches()

    def commit(self, end: dict) -> None:
        pass  # offsets live in the stream checkpoint


class SnapshotStreamSource(DataSource):
    """``spark.readStream.format("snapshot_stream").option("path", p)``."""

    @classmethod
    def name(cls) -> str:
        return "snapshot_stream"

    def schema(self) -> StructType:
        path = self.options["path"]
        vs = snapshot_versions(path)
        if not vs:
            raise FileNotFoundError(f"no snapshot log at {path}")
        return StructType.fromJson(json.loads(_read_manifest(path, vs[-1])["schema"]))

    def streamReader(self, schema: StructType) -> SnapshotStreamReader:
        # option keys may arrive case-normalized depending on the
        # reader path — accept both spellings
        sv = self.options.get("startingVersion", self.options.get("startingversion"))
        return SnapshotStreamReader(
            self.options["path"],
            schema,
            starting_version=None if sv is None else int(sv),
        )


def register_snapshot_source(spark: SparkSession) -> None:
    """Idempotently register the source with the session.

    The class is registered for pickle-BY-VALUE first: Spark ships the
    DataSource to worker processes via cloudpickle, and a by-reference
    pickle would require ``crossfire_spark`` on every executor's
    ``sys.path`` — true when the driver runs from the repo root, false
    for a host application running elsewhere. This module and the
    snapshot log reader it calls (``sources/snapshot.py``) use stdlib +
    pyarrow + pyspark only, so both ship by value in a few KB and the
    deployment constraint goes away."""
    import sys

    from pyspark import cloudpickle

    for module in (SnapshotStreamSource.__module__, snapshot_versions.__module__):
        cloudpickle.register_pickle_by_value(sys.modules[module])
    spark.dataSource.register(SnapshotStreamSource)


def snapshot_read_stream(
    spark: SparkSession, path: str, starting_version: int | None = None
) -> DataFrame:
    """Tail a snapshot table as a stream: the current head as one
    initial snapshot, then per-commit appended rows (pass
    ``starting_version`` to replay added files from a log version
    instead — see module docstring for the superseded-rows caveat)."""
    register_snapshot_source(spark)
    reader = spark.readStream.format("snapshot_stream").option("path", path)
    if starting_version is not None:
        reader = reader.option("startingVersion", str(starting_version))
    return reader.load()
