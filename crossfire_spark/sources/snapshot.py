"""Log-backed versioned table (minimal Delta/Iceberg-shaped sink).

``upsert_table`` / ``compact_table`` in ``io.py`` rewrite the table
root in place; that loses history and relies on a directory swap. This
module adds the missing piece — an append-only **snapshot log**:

- a table is a directory with immutable parquet data files under
  ``data/`` and JSON manifests under ``_log/v{N}.json``;
- every manifest lists the *complete* set of data files visible at
  that version (no log replay needed to read), plus the operation and
  parent version;
- a commit is one atomic ``os.rename`` of a temp manifest into its
  version slot — if the slot is taken, a concurrent writer won, and
  the commit retries against the new head (optimistic concurrency);
- readers resolve a manifest once and read exactly its files, so a
  reader pinned to version N is untouched by later commits
  (snapshot isolation), and ``version=`` gives time travel.

Scale notes: commits are O(1) metadata regardless of table size —
appending 1 TB to a 100 TB table writes the new files plus one JSON.
On an object store the rename becomes a conditional PUT
(if-none-match), which is exactly how log-backed formats commit.
Manifests list files, never rows; at very large file counts the
file list itself would be sharded (Iceberg's manifest lists) — out of
scope here, noted for parity. Data files are immutable; history is
reclaimed explicitly with ``snapshot_expire``, never as a side effect
of a write.

The reference has no table format (its state lives in memory and a
JSON admin view, ``CrossAZBlockPlacementPolicyPlugin.java:221-262``);
this is engine-side infrastructure a 100 TB pipeline needs for
restatement-safe sinks.
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_LOG = "_log"
_DATA = "data"


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(path, _LOG, f"v{version:06d}.json")


def snapshot_versions(path: str) -> list[int]:
    """Committed versions, ascending. Empty list = no table yet."""
    log_dir = os.path.join(path, _LOG)
    if not os.path.isdir(log_dir):
        return []
    return sorted(
        int(f[1:-5])
        for f in os.listdir(log_dir)
        if f.startswith("v") and f.endswith(".json")
    )


def _read_manifest(path: str, version: int) -> dict:
    with open(_manifest_path(path, version)) as fh:
        return json.load(fh)


def _current_version(path: str) -> int | None:
    versions = snapshot_versions(path)
    return versions[-1] if versions else None


def _schema_key(schema_json: str) -> list[tuple[str, str]]:
    """(name, type) pairs — schema identity for compatibility checks.
    Nullability is deliberately ignored: a non-null batch is always
    writable into a nullable table column, and Spark expression
    nullability flips on trivia (``lit()`` is non-null)."""
    return [
        (f["name"], json.dumps(f["type"], sort_keys=True))
        for f in json.loads(schema_json)["fields"]
    ]


def _merge_schemas(table_schema_json: str, df_schema_json: str) -> str:
    """Union of two schemas for additive evolution: every column of the
    existing table plus any new columns the incoming batch introduces.
    Columns present in both must agree exactly on type (no narrowing,
    widening, or nullability games — rename/retype is a restatement)."""
    from pyspark.sql.types import StructType

    table = StructType.fromJson(json.loads(table_schema_json))
    batch = StructType.fromJson(json.loads(df_schema_json))
    by_name = {f.name: f for f in table.fields}
    for f in batch.fields:
        old = by_name.get(f.name)
        if old is None:
            by_name[f.name] = f
        elif old.dataType != f.dataType:
            raise ValueError(
                f"schema evolution cannot change column {f.name!r}: "
                f"{old.dataType.simpleString()} -> "
                f"{f.dataType.simpleString()} (overwrite to restate)"
            )
    # table columns keep their positions; new ones append at the end
    order = [f.name for f in table.fields] + [
        f.name for f in batch.fields if f.name not in {x.name for x in table.fields}
    ]
    return StructType([by_name[n] for n in order]).json()


def _list_data_files(data_dir: str, batch_rel: str) -> dict[str, dict]:
    """Map manifest-relative file path -> partition values parsed from
    hive-style ``col=value`` directory segments (empty dict when the
    write was unpartitioned)."""
    out: dict[str, dict] = {}
    for root, _dirs, names in os.walk(data_dir):
        rel_dir = os.path.relpath(root, data_dir)
        parts = {}
        if rel_dir != ".":
            for seg in rel_dir.split(os.sep):
                k, _, v = seg.partition("=")
                parts[k] = v
        for f in names:
            if f.endswith(".parquet"):
                rel = os.path.join(batch_rel, "" if rel_dir == "." else rel_dir, f)
                out[os.path.normpath(rel)] = parts
    return out


def _enforce_constraints(df: DataFrame, constraints: dict[str, str]) -> None:
    """Validate ``df`` against every CHECK expression in one combined
    aggregate (a count_if column per constraint — adding a constraint
    adds a column, not a pass). Raises with per-constraint violation
    counts; NULL predicate results count as violations (a CHECK must
    prove the row valid)."""
    if not constraints:
        return
    try:
        checks = [
            F.count_if(~F.coalesce(F.expr(expr), F.lit(False))).alias(name)
            for name, expr in sorted(constraints.items())
        ]
        row = df.agg(*checks).first()
    except Exception as e:  # unresolved column etc. (additive batches)
        raise ValueError(
            "CHECK constraint could not be evaluated against this batch "
            f"(a merge_schema append must still carry every constrained "
            f"column): {e}"
        ) from e
    bad = {n: row[n] for n in sorted(constraints) if row[n] > 0}
    if bad:
        detail = ", ".join(
            f"{n} ({constraints[n]!r}): {c} rows" for n, c in bad.items()
        )
        raise ValueError(f"CHECK constraint violation: {detail}")


def _file_rows(path: str, files: list[str]) -> dict[str, int]:
    """Per-file parquet row count from the footer (driver-side
    metadata read of freshly written local files, same discipline as
    :func:`_file_stats`). Recorded on the manifest so ``COUNT(*)``
    — the most common query against any table — is answerable from
    metadata alone at any scale."""
    import pyarrow.parquet as pq

    return {
        rel: pq.ParquetFile(os.path.join(path, rel)).metadata.num_rows
        for rel in files
    }


def _file_stats(
    path: str, files: list[str], cols: list[str]
) -> dict[str, dict[str, list]]:
    """Per-file [min, max] for ``cols``, read from the parquet footers
    of freshly written files (one driver-side footer read per file —
    the files were just written locally, so this is metadata, not a
    scan). Only JSON-native scalar types are recorded; a file/column
    without usable stats simply has none and is never pruned."""
    import pyarrow.parquet as pq

    out: dict[str, dict[str, list]] = {}
    for rel in files:
        md = pq.ParquetFile(os.path.join(path, rel)).metadata
        schema = md.schema.to_arrow_schema()
        st: dict[str, list] = {}
        for c in cols:
            idx = schema.get_field_index(c)
            if idx < 0:
                continue
            mins, maxs = [], []
            for g in range(md.num_row_groups):
                s = md.row_group(g).column(idx).statistics
                if s is None or not s.has_min_max:
                    mins = []
                    break
                mins.append(s.min)
                maxs.append(s.max)
            if not mins:
                continue
            lo, hi = min(mins), max(maxs)
            if isinstance(lo, (int, float, str)) and not isinstance(lo, bool):
                st[c] = [lo, hi]
        out[rel] = st
    return out


def _stats_disjoint(st: dict, col: str, lo, hi) -> bool:
    """True iff the file provably contains no value of ``col`` in
    [lo, hi] — missing stats always mean "might match" (keep)."""
    r = st.get(col)
    return r is not None and (r[1] < lo or r[0] > hi)


def snapshot_write(
    df: DataFrame,
    path: str,
    mode: str = "append",
    max_retries: int = 10,
    partition_by: list[str] | None = None,
    merge_schema: bool = False,
    stats_cols: list[str] | None = None,
    properties: dict | None = None,
) -> int:
    """Commit ``df`` as a new table version; returns the version.
    ``properties`` is recorded verbatim on this commit's manifest.

    ``append`` keeps the parent's files and adds the new ones;
    ``overwrite`` starts the file list fresh (old files stay on disk
    for time travel until ``snapshot_expire``). Data lands first in a
    unique subdir (never visible until the manifest commits), then the
    manifest claims the next version slot by atomic rename.

    ``partition_by`` hive-partitions the data files and records each
    file's partition values in the manifest, so reads prune files
    driver-side from metadata alone — no directory listing, the
    property that makes partition pruning O(manifest) instead of
    O(storage listing) on a 100 TB table. Appends must keep the
    table's partition spec; ``overwrite`` may change it.

    ``merge_schema=True`` permits *additive* appends: new nullable
    columns extend the table schema; existing columns must match
    exactly. Old files simply lack the new columns and read as null
    (the manifest schema, not file footers, defines the table — a
    schema change is one manifest write, no data rewrite).
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    part_cols = list(partition_by or [])
    # CHECK constraints are table-level semantics: they survive every
    # write mode (like Delta) until dropped, and every incoming batch
    # is validated BEFORE any data lands — one combined aggregate over
    # the batch, however many constraints the table carries.
    head_v = _current_version(path)
    table_constraints: dict[str, str] = {}
    if head_v is not None:
        table_constraints = dict(
            _read_manifest(path, head_v).get("constraints", {})
        )
    if table_constraints:
        _enforce_constraints(df, table_constraints)
    os.makedirs(os.path.join(path, _LOG), exist_ok=True)
    batch = uuid.uuid4().hex[:12]
    data_dir = os.path.join(path, _DATA, batch)
    writer = df.write.mode("errorifexists")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.parquet(data_dir)
    new_files = _list_data_files(data_dir, os.path.join(_DATA, batch))
    new_rows = _file_rows(path, sorted(new_files))
    for _ in range(max_retries):
        parent = _current_version(path)
        files = dict(new_files)
        schema_json = df.schema.json()
        scols = list(stats_cols or [])
        stats: dict[str, dict] = {}
        rows: dict[str, int] = dict(new_rows)
        if mode == "append" and parent is not None:
            parent_manifest = _read_manifest(path, parent)
            # re-read under contention: a concurrent ADD CONSTRAINT
            # must not be dropped by this commit's stamp
            table_constraints = dict(
                parent_manifest.get("constraints", {})
            ) or table_constraints
            parent_parts = parent_manifest.get("partition_by", [])
            if parent_parts != part_cols:
                raise ValueError(
                    f"append partition spec mismatch at {path} v{parent}: "
                    f"table is partitioned by {parent_parts}, append by "
                    f"{part_cols} (overwrite to repartition)"
                )
            if _schema_key(parent_manifest["schema"]) != _schema_key(
                schema_json
            ):
                if not merge_schema:
                    raise ValueError(
                        f"append schema mismatch at {path} v{parent}: "
                        "appends must match the table schema exactly "
                        "(merge_schema=True for additive evolution, "
                        "overwrite to restate)"
                    )
                schema_json = _merge_schemas(
                    parent_manifest["schema"], schema_json
                )
            files = {**parent_manifest["file_partitions"], **files} if (
                "file_partitions" in parent_manifest
            ) else {**dict.fromkeys(parent_manifest["files"], {}), **files}
            # carry the table's stats discipline and prior file stats
            scols = sorted(
                set(scols) | set(parent_manifest.get("stats_cols", []))
            )
            stats.update(parent_manifest.get("file_stats", {}))
            rows = {**parent_manifest.get("file_rows", {}), **rows}
        if scols:
            stats.update(_file_stats(path, sorted(new_files), scols))
        version = 0 if parent is None else parent + 1
        manifest = {
            "version": version,
            "parent": parent,
            "operation": mode,
            "files": sorted(files),
            "file_partitions": {f: files[f] for f in sorted(files)},
            "partition_by": part_cols,
            "stats_cols": scols,
            "file_stats": {f: stats.get(f, {}) for f in sorted(files)},
            "file_rows": {f: rows[f] for f in sorted(files) if f in rows},
            "schema": schema_json,
            "properties": dict(properties or {}),
            "constraints": table_constraints,
        }
        tmp = os.path.join(path, _LOG, f".tmp_{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        target = _manifest_path(path, version)
        try:
            # atomic claim of the version slot: link fails with EEXIST
            # if a concurrent writer committed this version first.
            os.link(tmp, target)
            os.unlink(tmp)
            return version
        except FileExistsError:
            os.unlink(tmp)  # lost the race — recompute against new head
    raise RuntimeError(f"commit contention: {max_retries} retries exhausted")


def snapshot_read(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    where: dict[str, object] | None = None,
    ranges: dict[str, tuple] | None = None,
) -> DataFrame:
    """Read a committed version (default: latest).

    The file list is resolved once, driver-side, and the scan reads
    with the **manifest schema** — so files written before an additive
    schema evolution surface the new columns as null, with no footer
    merging. ``where`` is an equality predicate on partition columns,
    applied to the manifest's per-file partition values: pruning costs
    one JSON read regardless of table size, and the scan never sees a
    pruned file. ``ranges`` is an inclusive-range predicate
    ``{col: (lo, hi)}`` pruned against the manifest's per-file min/max
    column stats (recorded when the table was written with
    ``stats_cols``) — zone-map file skipping from metadata alone;
    files without stats for a column are conservatively kept. Note:
    ``ranges`` prunes *files*, it does not filter rows — apply the row
    filter on the returned frame (the point is the scan never opens a
    provably-irrelevant file).
    """
    from pyspark.sql.types import StructType

    if version is None:
        version = _current_version(path)
        if version is None:
            raise FileNotFoundError(f"no snapshot log at {path}")
    manifest = _read_manifest(path, version)
    files = manifest["files"]
    fparts = manifest.get("file_partitions") or dict.fromkeys(files, {})
    part_cols = manifest.get("partition_by", [])
    if where:
        unknown = sorted(set(where) - set(part_cols))
        if unknown:
            raise ValueError(
                f"where keys {unknown} are not partition columns {part_cols}"
            )
        files = [
            f
            for f in files
            if all(fparts[f].get(k) == str(v) for k, v in where.items())
        ]
    if ranges:
        fstats = manifest.get("file_stats", {})
        files = [
            f
            for f in files
            if not any(
                _stats_disjoint(fstats.get(f, {}), c, lo, hi)
                for c, (lo, hi) in ranges.items()
            )
        ]
    schema = StructType.fromJson(json.loads(manifest["schema"]))
    return _read_files(spark, path, files, schema, part_cols)


def snapshot_count(
    path: str,
    version: int | None = None,
    where: dict[str, object] | None = None,
) -> int:
    """Exact ``COUNT(*)`` from manifest metadata — zero data IO.

    The aggregate-pushdown fast path every table format grows
    eventually: per-file row counts were recorded at commit time, so
    the answer is a manifest read however large the table is;
    ``where`` (equality on partition columns) prunes files from the
    manifest's partition values first, exactly like ``snapshot_read``.
    Files from manifests written before row counts were recorded fall
    back to one driver-side footer read each."""
    if version is None:
        version = _current_version(path)
        if version is None:
            raise FileNotFoundError(f"no snapshot log at {path}")
    manifest = _read_manifest(path, version)
    files = manifest["files"]
    fparts = manifest.get("file_partitions") or dict.fromkeys(files, {})
    if where:
        part_cols = manifest.get("partition_by", [])
        unknown = sorted(set(where) - set(part_cols))
        if unknown:
            raise ValueError(
                f"where keys {unknown} are not partition columns {part_cols}"
            )
        files = [
            f
            for f in files
            if all(fparts[f].get(k) == str(v) for k, v in where.items())
        ]
    rows = manifest.get("file_rows", {})
    missing = [f for f in files if f not in rows]
    if missing:
        rows = {**rows, **_file_rows(path, missing)}
    return sum(rows[f] for f in files)


def _read_files(spark, path, files, schema, part_cols):
    """Scan an explicit manifest file list with the manifest schema.
    Partitioned layouts are grouped by write batch so each group gets
    the basePath that makes Spark materialize the hive-style partition
    columns; batches = commits, so group count is the commit count,
    not the file count."""
    if not files:
        return spark.createDataFrame([], schema)
    if not part_cols:
        return spark.read.schema(schema).parquet(
            *[os.path.join(path, f) for f in files]
        )
    by_batch: dict[str, list[str]] = {}
    for f in files:
        batch_dir = os.path.join(*f.split(os.sep)[:2])  # data/<batch>
        by_batch.setdefault(batch_dir, []).append(f)
    out = None
    for batch_dir, batch_files in sorted(by_batch.items()):
        part = (
            spark.read.schema(schema)
            .option("basePath", os.path.join(path, batch_dir))
            .parquet(*[os.path.join(path, f) for f in batch_files])
        )
        out = part if out is None else out.unionByName(part)
    return out


def snapshot_merge(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    keys: list[str],
    delete_keys: DataFrame | None = None,
    properties: dict | None = None,
) -> int:
    """MERGE INTO the versioned table: rows of ``df`` replace existing
    rows with the same ``keys`` (upsert), rows whose keys appear in
    ``delete_keys`` are removed, committed as one new version —
    history and pinned readers are untouched. Keys match with SQL
    MERGE semantics: a NULL key never matches. On a partitioned table
    ``delete_keys`` must carry the partition columns (the merge prunes
    rewrites to touched partitions from the batch's values).
    ``properties`` is recorded verbatim on the commit's manifest (the
    hook incremental consumers use to stamp e.g. the base-table
    version a materialized view has processed).

    Copy-on-write through :func:`_rewrite_touched`: only files in
    partitions the update touches, and among those only files whose
    recorded key [min, max] meets the update's key range, are read,
    anti-joined, and rewritten; every other file carries over into
    the new manifest by reference. Merging 1 GB of updates confined to
    one partition (or one key range of a clustered table) of a 100 TB
    table rewrites those files, not the table.

    Optimistic concurrency: the merge is computed against the head it
    read. If another writer commits first, the precomputed file set is
    stale, so the merge *fails* (rerun it) rather than silently
    committing over the newer table state.
    """
    head = _current_version(path)
    if head is None:
        raise FileNotFoundError(f"no snapshot log at {path}")
    if _schema_key(_read_manifest(path, head)["schema"]) != _schema_key(
        df.schema.json()
    ):
        raise ValueError(
            "merge batch schema must match the table schema exactly"
        )
    all_keys = df.select(*keys).distinct()
    touched = [df]
    if delete_keys is not None:
        all_keys = all_keys.unionByName(
            delete_keys.select(*keys)
        ).distinct()
        touched.append(delete_keys)

    def upsert(current: DataFrame) -> DataFrame:
        return current.join(all_keys, keys, "left_anti").unionByName(df)

    return _rewrite_touched(
        spark, path, keys[0], touched, upsert, properties, batch=df
    )


# the directory value Spark writes for a NULL partition value
_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _rewrite_touched(
    spark: SparkSession,
    path: str,
    key: str,
    touched: list[DataFrame],
    rewrite: Callable[[DataFrame], DataFrame],
    properties: dict | None,
    batch: DataFrame | None = None,
    null_safe: bool = False,
) -> int:
    """Copy-on-write core of every keyed rewrite of a snapshot table:
    pick the head files that may hold a touched row, read them, write
    ``rewrite(rows of those files)`` in their place and commit against
    the head it read. ``rewrite`` returns the files' complete new
    contents (survivors, updates and inserts), so a caller plans its
    whole change as one frame over the rewritten rows.

    ``touched`` are frames naming the changed rows; each carries the
    table's partition columns and the key column ``key``. Files are
    picked in two steps, both from manifest metadata:

    - partition pruning: on a partitioned table, only files in
      partitions some touched row belongs to (one ``distinct`` collect
      per frame);
    - key-stats pruning: a file whose recorded [min, max] of ``key``
      is disjoint from the touched key range provably holds no touched
      row (one aggregate). Stats never cover NULLs, so a ``null_safe``
      caller (NULL keys match each other) keeps every candidate file
      when a touched key is NULL.

    Unpartitioned tables without key stats rewrite every file and
    launch no pruning job. ``batch``, when given, is the incoming rows:
    they alone are checked against the table schema and its CHECK
    constraints (rows carried over were checked when written);
    otherwise the rewritten rows are. A commit that finds its version
    slot taken raises: the file set was picked from a stale head.
    """
    from functools import reduce

    from pyspark.sql.types import StructType

    head = _current_version(path)
    if head is None:
        raise FileNotFoundError(f"no snapshot log at {path}")
    m = _read_manifest(path, head)
    constraints = m.get("constraints", {})
    if batch is not None:
        _enforce_constraints(batch, constraints)
    part_cols = m.get("partition_by", [])
    fparts = m.get("file_partitions") or dict.fromkeys(m["files"], {})
    schema = StructType.fromJson(json.loads(m["schema"]))
    if part_cols:
        hit: set[tuple] = set()
        for t in touched:
            missing = sorted(set(part_cols) - set(t.columns))
            if missing:
                raise ValueError(
                    f"delete_keys must carry partition columns {missing}"
                )
            hit |= {
                tuple(
                    _NULL_PARTITION if r[c] is None else str(r[c])
                    for c in part_cols
                )
                for r in t.select(*part_cols).distinct().collect()
            }
        keep = {
            f: p
            for f, p in fparts.items()
            if tuple(p.get(c) for c in part_cols) not in hit
        }
        rewrite_files = sorted(f for f in fparts if f not in keep)
    else:
        keep, rewrite_files = {}, sorted(fparts)
    fstats = m.get("file_stats", {})
    if rewrite_files and any(
        key in fstats.get(f, {}) for f in rewrite_files
    ):
        bounds = (
            reduce(DataFrame.unionByName, [t.select(key) for t in touched])
            .agg(
                F.min(key).alias("lo"),
                F.max(key).alias("hi"),
                F.count_if(F.col(key).isNull()).alias("nulls"),
            )
            .first()
        )
        if bounds["lo"] is not None and not (null_safe and bounds["nulls"]):
            pruned = {
                f
                for f in rewrite_files
                if _stats_disjoint(
                    fstats.get(f, {}), key, bounds["lo"], bounds["hi"]
                )
            }
            keep = {**keep, **{f: fparts[f] for f in sorted(pruned)}}
            rewrite_files = [f for f in rewrite_files if f not in pruned]
    new = rewrite(_read_files(spark, path, rewrite_files, schema, part_cols))
    if batch is None:
        if _schema_key(m["schema"]) != _schema_key(new.schema.json()):
            raise ValueError(
                "rewritten rows must match the table schema exactly"
            )
        _enforce_constraints(new, constraints)
    batch_id = uuid.uuid4().hex[:12]
    data_dir = os.path.join(path, _DATA, batch_id)
    writer = new.write.mode("errorifexists")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.parquet(data_dir)
    new_files = _list_data_files(data_dir, os.path.join(_DATA, batch_id))
    files = {**keep, **new_files}
    scols = m.get("stats_cols", [])
    stats = {f: fstats.get(f, {}) for f in keep}
    if scols:
        stats.update(_file_stats(path, sorted(new_files), scols))
    rows = {
        f: n for f, n in m.get("file_rows", {}).items() if f in keep
    }
    rows.update(_file_rows(path, sorted(new_files)))
    manifest = {
        "version": head + 1,
        "parent": head,
        "operation": "merge",
        "files": sorted(files),
        "file_partitions": {f: files[f] for f in sorted(files)},
        "partition_by": part_cols,
        "stats_cols": scols,
        "file_stats": {f: stats.get(f, {}) for f in sorted(files)},
        "file_rows": {f: rows[f] for f in sorted(files) if f in rows},
        "schema": m["schema"],
        "properties": dict(properties or {}),
        "constraints": dict(constraints),
    }
    tmp = os.path.join(path, _LOG, f".tmp_{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    try:
        os.link(tmp, _manifest_path(path, head + 1))
        os.unlink(tmp)
        return head + 1
    except FileExistsError:
        os.unlink(tmp)
        raise RuntimeError(
            f"concurrent commit at {path} v{head + 1}: merge was computed "
            "against a stale head — rerun the merge"
        ) from None


def _metadata_commit(path: str, operation: str, **updates) -> int:
    """Commit a new version that changes only table metadata: the head
    manifest's file set carries over by reference, ``updates`` replace
    top-level manifest fields. One JSON write, zero data IO."""
    head = _current_version(path)
    if head is None:
        raise FileNotFoundError(f"no snapshot log at {path}")
    m = _read_manifest(path, head)
    m.update(updates)
    m["version"] = head + 1
    m["parent"] = head
    m["operation"] = operation
    tmp = os.path.join(path, _LOG, f".tmp_{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as fh:
        json.dump(m, fh)
    try:
        os.link(tmp, _manifest_path(path, head + 1))
        os.unlink(tmp)
        return head + 1
    except FileExistsError:
        os.unlink(tmp)
        raise RuntimeError(
            f"concurrent commit at {path} v{head + 1}: rerun"
        ) from None


def snapshot_add_constraint(
    spark: SparkSession, path: str, name: str, expr: str
) -> int:
    """ADD CONSTRAINT name CHECK (expr) — the Delta constraint
    surface: existing head data is validated first (one aggregate
    scan; a table already violating the rule must not silently gain
    it), then the constraint lands as a metadata-only commit. Every
    subsequent write/merge batch is validated against it before any
    data commits; drops are metadata-only too."""
    head = _current_version(path)
    if head is None:
        raise FileNotFoundError(f"no snapshot log at {path}")
    m = _read_manifest(path, head)
    cons = dict(m.get("constraints", {}))
    if name in cons:
        raise ValueError(f"constraint {name!r} already exists on {path}")
    _enforce_constraints(snapshot_read(spark, path), {name: expr})
    cons[name] = expr
    return _metadata_commit(path, "add_constraint", constraints=cons)


def snapshot_drop_constraint(path: str, name: str) -> int:
    """DROP CONSTRAINT name — metadata-only commit."""
    head = _current_version(path)
    if head is None:
        raise FileNotFoundError(f"no snapshot log at {path}")
    m = _read_manifest(path, head)
    cons = dict(m.get("constraints", {}))
    if name not in cons:
        raise ValueError(f"no constraint {name!r} on {path}")
    del cons[name]
    return _metadata_commit(path, "drop_constraint", constraints=cons)


def snapshot_schema_diff(
    path: str, from_version: int, to_version: int
) -> list[dict]:
    """Schema changes between two versions, from manifests alone
    (zero data IO): one dict per changed column with ``change`` in
    {added, removed, type_changed}. The audit a consumer runs before
    pinning code to a table that evolved under it."""
    import json as _json

    def fields(v: int) -> dict[str, str]:
        m = _read_manifest(path, v)
        return {
            f["name"]: _json.dumps(f["type"], sort_keys=True)
            for f in _json.loads(m["schema"])["fields"]
        }

    a, b = fields(from_version), fields(to_version)
    out: list[dict] = []
    for name in sorted(set(a) | set(b)):
        if name not in b:
            out.append({"column": name, "change": "removed", "from": a[name], "to": None})
        elif name not in a:
            out.append({"column": name, "change": "added", "from": None, "to": b[name]})
        elif a[name] != b[name]:
            out.append(
                {"column": name, "change": "type_changed", "from": a[name], "to": b[name]}
            )
    return out


def snapshot_history(path: str) -> list[dict]:
    """Commit log, oldest first: version, parent, operation, file
    count, partition spec — the ``DESCRIBE HISTORY`` surface."""
    return [
        {
            "version": v,
            "parent": (m := _read_manifest(path, v))["parent"],
            "operation": m["operation"],
            "n_files": len(m["files"]),
            "partition_by": m.get("partition_by", []),
        }
        for v in snapshot_versions(path)
    ]


def snapshot_changes(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Incremental change feed between two committed versions — rows
    in table schema plus ``_change_type`` (``insert``/``delete``) and
    ``_commit_version`` metadata columns; the CDC surface an
    incremental consumer (downstream ETL, index refresh, cache
    invalidation) tails instead of re-reading the table.

    Changes are derived from the **manifest file diff** per commit:
    files added by a commit carry its inserted rows, files it dropped
    carry the deleted ones (an upserted key therefore appears as
    delete + insert, the standard file-granular CDC fallback). Cost is
    O(changed files), never O(table): the partition-level
    copy-on-write MERGE carries untouched files across by reference,
    so they never enter any diff — merging one partition of a 100 TB
    table feeds only that partition's files through the change scan.
    ``from_version`` is exclusive, ``to_version`` inclusive (default:
    head), mirroring "give me everything since the version I last
    processed"."""
    from pyspark.sql.types import StructType

    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no snapshot log at {path}")
    if to_version is None:
        to_version = versions[-1]
    if from_version > to_version:
        raise ValueError(
            f"from_version {from_version} > to_version {to_version}"
        )
    for v in (from_version, to_version):
        if v not in versions:
            raise ValueError(f"version {v} not in log {versions}")
    out: DataFrame | None = None
    for v in versions:
        if not (from_version < v <= to_version):
            continue
        m = _read_manifest(path, v)
        parent = m["parent"]
        p_files: set[str] = set()
        p_schema = m["schema"]
        p_parts: list[str] = m.get("partition_by", [])
        if parent is not None:
            pm = _read_manifest(path, parent)
            p_files = set(pm["files"])
            p_schema = pm["schema"]
            p_parts = pm.get("partition_by", [])
        added = sorted(set(m["files"]) - p_files)
        removed = sorted(p_files - set(m["files"]))
        for files, schema_json, part_cols, change in (
            (added, m["schema"], m.get("partition_by", []), "insert"),
            (removed, p_schema, p_parts, "delete"),
        ):
            if not files:
                continue
            schema = StructType.fromJson(json.loads(schema_json))
            part = (
                _read_files(spark, path, files, schema, part_cols)
                .withColumn("_change_type", F.lit(change))
                .withColumn("_commit_version", F.lit(v))
            )
            out = part if out is None else out.unionByName(
                part, allowMissingColumns=True
            )
    if out is None:
        head = _read_manifest(path, to_version)
        schema = StructType.fromJson(json.loads(head["schema"]))
        return (
            spark.createDataFrame([], schema)
            .withColumn("_change_type", F.lit(""))
            .withColumn("_commit_version", F.lit(0))
        )
    return out


def snapshot_compact(
    spark: SparkSession, path: str, target_file_mb: int = 128
) -> int:
    """Rewrite the head version's files into ~``target_file_mb``
    outputs and commit as an overwrite version. History (and pinned
    readers) keep the old files; only the head sees the compact set."""
    df = snapshot_read(spark, path)
    head = _read_manifest(path, _current_version(path))
    size = sum(
        os.path.getsize(os.path.join(path, f)) for f in head["files"]
    )
    n = max(1, round(size / (target_file_mb * 1024 * 1024)))
    return snapshot_write(
        df.coalesce(n),
        path,
        mode="overwrite",
        partition_by=head.get("partition_by") or None,
        # maintenance rewrites data layout, not table semantics: the
        # head's property stamp (e.g. a materialized view's processed
        # base version) must survive the commit
        properties=head.get("properties") or None,
    )


def snapshot_cluster(
    spark: SparkSession,
    path: str,
    cols: list[str],
    bits: int = 6,
    target_file_mb: int = 128,
    n_files: int | None = None,
) -> int:
    """Rewrite the head version Z-ORDER-clustered on ``cols`` and
    commit as an overwrite with per-file stats on those columns.

    Linear clustering (plain sort) gives disjoint file ranges on ONE
    column; Z-order interleaves the bit-patterns of each column's
    quantile-bucket id, so rows close in *any* clustered dimension
    land in few files — after clustering, ``snapshot_read(ranges=)``
    prunes on every clustered column, not just the leading one (the
    Delta/Iceberg OPTIMIZE ZORDER surface).

    Scale shape: bucket boundaries come from ``approxQuantile``
    (one pass, driver gets 2^bits cutpoints per column — KBs); the
    z-key is a codegen'd bit-interleave projection; the rewrite is one
    ``repartitionByRange`` on the z-key (range exchange) + local sort.
    No window functions, no global sort on data columns, nothing
    driver-side proportional to rows."""
    df = snapshot_read(spark, path)
    head = _read_manifest(path, _current_version(path))
    dtypes = dict(df.dtypes)
    numeric = ("tinyint", "smallint", "int", "bigint", "float", "double")
    for c in cols:
        if c not in dtypes:
            raise ValueError(f"snapshot_cluster: no such column {c!r}")
        if not (
            dtypes[c] in numeric
            or dtypes[c].startswith("decimal")
            or dtypes[c] in ("string", "date", "timestamp")
        ):
            raise ValueError(
                f"snapshot_cluster: column {c!r} has type {dtypes[c]}; "
                "Z-order clustering supports numeric, string, date and "
                "timestamp columns"
            )
    n_buckets = 1 << bits
    probs = [i / n_buckets for i in range(1, n_buckets)]
    zkey = None
    for ci, c in enumerate(cols):
        if dtypes[c] in numeric or dtypes[c].startswith("decimal"):
            cuts = df.stat.approxQuantile(c, probs, 0.01)
            # bucket id = count of cutpoints below the value — a flat
            # codegen'd comparison chain (2^bits literals per column);
            # backtick-quote so names needing escaping survive the expr
            cq = f"`{c.replace('`', '``')}`"
            cmp_expr = "+".join(
                f"(CASE WHEN cast({cq} as double) > {float(x)!r} THEN 1 ELSE 0 END)"
                for x in cuts
            ) or "0"
            bucket = F.expr(f"({cmp_expr})")
        else:
            # string/date/timestamp: approxQuantile doesn't apply, so
            # boundaries are evenly-ranked DISTINCT values (one sorted
            # pass over the distinct set — bounded by column
            # cardinality, the clustering-column norm; a pathological
            # high-cardinality key pays a distinct-sort, not a full
            # table sort). Comparisons are Column ops against literal
            # values — no SQL string interpolation, no quoting hazard.
            from pyspark.sql import Window as _W

            dv = df.select(c).where(F.col(c).isNotNull()).distinct()
            n_dv = dv.count()
            step = max(1, n_dv // n_buckets)
            ranked = dv.withColumn(
                "_rn", F.row_number().over(_W.orderBy(F.col(c)))
            )
            cuts = [
                r[c]
                for r in ranked.where(
                    (F.col("_rn") % step == 0) & (F.col("_rn") < n_dv)
                )
                .orderBy("_rn")
                .limit(n_buckets - 1)
                .collect()
            ]
            bucket = None
            for x in cuts:
                piece = (F.col(c) > F.lit(x)).cast("int")
                bucket = piece if bucket is None else bucket + piece
            if bucket is None:
                bucket = F.lit(0)
        # spread this column's bits to positions ci, ci+len, ci+2*len …
        spread_bits = None
        for b in range(bits):
            piece = (
                F.shiftleft(
                    F.shiftright(bucket, b).bitwiseAND(F.lit(1)),
                    b * len(cols) + ci,
                )
            )
            spread_bits = piece if spread_bits is None else (
                spread_bits.bitwiseOR(piece)
            )
        zkey = spread_bits if zkey is None else zkey.bitwiseOR(spread_bits)
    if n_files is None:
        size = sum(
            os.path.getsize(os.path.join(path, f)) for f in head["files"]
        )
        n_files = max(2, round(size / (target_file_mb * 1024 * 1024)))
    clustered = (
        df.withColumn("__z", zkey)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    return snapshot_write(
        clustered,
        path,
        mode="overwrite",
        partition_by=head.get("partition_by") or None,
        stats_cols=sorted(set(cols) | set(head.get("stats_cols", []))),
        properties=head.get("properties") or None,  # see snapshot_compact
    )


def snapshot_expire(path: str, keep_last: int = 1) -> int:
    """Drop all but the last ``keep_last`` versions and delete data
    files no remaining version references. Returns files deleted.
    The only operation that removes data — writes never do."""
    versions = snapshot_versions(path)
    if len(versions) <= keep_last:
        return 0
    keep, drop = versions[-keep_last:], versions[:-keep_last]
    referenced = set()
    for v in keep:
        referenced.update(_read_manifest(path, v)["files"])
    deleted = 0
    for v in drop:
        for f in _read_manifest(path, v)["files"]:
            if f not in referenced:
                full = os.path.join(path, f)
                if os.path.exists(full):
                    os.unlink(full)
                    deleted += 1
        os.unlink(_manifest_path(path, v))
    return deleted
