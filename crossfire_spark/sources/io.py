"""Sources and sinks (SURVEY §2.1).

The reference's only real I/O is classpath resources and a Gson JSON
rendering of cluster state served over HTTP
(``CrossAZBlockPlacementPolicyPlugin.java:221-262``,
``DNSToSwitchMappingReloadServicePlugin.java:135-155`` — S3/S4/P8).
The engine generalizes that to proper columnar I/O:

- ``read_table`` / ``write_table``: parquet (primary; vectorized reader,
  predicate pushdown), orc, json, csv — with partitioned writes
  (``partitionBy``) so downstream scans get partition pruning, the
  moral equivalent of the reference's topology-subtree restriction
  (``CrossAZBlockPlacementPolicy.java:133-138``).
- ``upsert_table``: MERGE-by-key state refresh (last writer wins)
  through a staging-dir swap; ``compact_table``: small-file
  compaction to ~128 MB targets. Log-backed table formats
  (Delta/Iceberg) would subsume both; they are not in this container,
  so the engine ships the plain-filesystem equivalents.
- ``topology_report``: the admin-UI JSON view as a DataFrame →
  ``to_json`` projection (P8's ``(ip, hostname, location)`` triple,
  sorted by (location, address) exactly like the UI table,
  ``crossaz-reconfigurable-plugin.html:104-118`` — O5).

Scale notes: writers never collect; JSON/CSV exist for interop and
reports, parquet is the data path. Partition counts follow the
DataFrame's own partitioning — callers repartition by the partition
columns before a partitioned write to avoid small-file explosions.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_FORMATS = ("parquet", "orc", "json", "csv")


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema=None,
    **options,
) -> DataFrame:
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {_FORMATS}")
    _recover_swap(path)
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        options.setdefault("header", "true")
        if schema is None:
            options.setdefault("inferSchema", "true")
    return reader.options(**options).load(path)


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    **options,
) -> None:
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {_FORMATS}")
    writer = df.write.format(fmt).mode(mode)
    if fmt == "csv":
        options.setdefault("header", "true")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.options(**options).save(path)


def _backup_of(path: str) -> str:
    return f"{path}.__old"


def _recover_swap(path: str) -> None:
    """Heal a crash inside :func:`_swap_into_place`: if ``path`` is
    missing but its backup exists, the crash hit the window between
    the two renames — restore the backup (the old table version)."""
    backup = _backup_of(path)
    if not os.path.exists(path) and os.path.exists(backup):
        os.rename(backup, path)


def _swap_into_place(staging: str, path: str) -> None:
    """Replace ``path`` with ``staging`` as atomically as a plain
    filesystem allows (write-new, move-old-aside, move-new-in,
    drop-old). The backup name is deterministic (``<path>.__old``) so
    a crash between the two renames is recoverable: the next
    read/write through this module finds the lone backup and restores
    it (:func:`_recover_swap`). On an object store / HDFS deployment
    this maps to a rename of the table root; table formats with a
    transaction log (the snapshot sink, Delta/Iceberg) replace this
    whole dance — see the module note."""
    backup = _backup_of(path)
    # leftover backup from a crash *after* a successful swap: the live
    # table at `path` is newer, so the backup is garbage
    if os.path.exists(path):
        shutil.rmtree(backup, ignore_errors=True)
        os.rename(path, backup)
    os.rename(staging, path)
    shutil.rmtree(backup, ignore_errors=True)


def newest_per_key(
    df: DataFrame, keys: list[str], precedence: list[str]
) -> DataFrame:
    """The newest row per key: ``row_number() == 1`` over ``keys``,
    each ``precedence`` column ranking descending. Rows tied on every
    precedence column keep an arbitrary one of them."""
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in precedence])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def _merge_newest(
    current: DataFrame,
    updates: DataFrame,
    keys: list[str],
    precedence: list[str] | None,
) -> DataFrame:
    """The MERGE of both upserts: ``current`` ⊎ ``updates``, newest per
    key by ``precedence``, an update winning a full tie."""
    both = current.withColumn("__src", F.lit(0)).unionByName(
        updates.withColumn("__src", F.lit(1))
    )
    return newest_per_key(both, keys, [*(precedence or []), "__src"]).drop(
        "__src"
    )


def upsert_table(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    keys: list[str],
    fmt: str = "parquet",
    precedence: list[str] | None = None,
) -> None:
    """MERGE-by-key (upsert): rows in ``updates`` replace current rows
    with the same key; unmatched update rows are inserted. This is the
    moral equivalent of the reference's state-refresh cycle — rebuild
    the authoritative table from (old state ⊎ new reports), last
    writer wins (S3/A6, ``DNSToSwitchMappingReloadServicePlugin.java``
    reload path).

    Plan shape: one shuffle on ``keys`` (window dedup), then a full
    rewrite through a staging directory so readers never observe a
    half-written table. At 100 TB you'd partition the table and only
    rewrite touched partitions (or use a log-backed format — Delta /
    Iceberg, not in this container); the key-precedence window is
    identical either way. ``updates`` must be key-unique (dedupe it
    first) — precedence between update rows with equal keys is
    undefined.

    ``precedence`` names columns that rank rows with equal keys
    (descending, update-wins tiebreak) — e.g. ``["ts"]`` keeps the
    newest row per key regardless of arrival order, which makes a
    streaming merge deterministic under any micro-batch split
    (out-of-order batches can no longer clobber newer state).
    """
    _recover_swap(path)
    if not os.path.exists(path):
        write_table(updates, path, fmt=fmt)
        return
    merged = _merge_newest(
        read_table(spark, path, fmt=fmt), updates, keys, precedence
    )
    staging = f"{path}.__staging_{uuid.uuid4().hex[:8]}"
    merged.write.format(fmt).mode("overwrite").save(staging)
    _swap_into_place(staging, path)


BUCKET_COL = "__bucket"


def _bucket_backup(path: str, bucket: int) -> str:
    # dot-prefixed so Spark's file listing and hive partition
    # discovery both ignore it while a swap is in flight
    return os.path.join(path, f".__old_{BUCKET_COL}={bucket}")


def _bucket_dir(path: str, bucket: int) -> str:
    return os.path.join(path, f"{BUCKET_COL}={bucket}")


def _recover_bucket_swaps(path: str) -> None:
    """Heal a crash inside a per-bucket swap: a lone backup whose live
    bucket dir is missing is the old bucket version — restore it; a
    backup whose live dir exists is garbage from a crash after the
    swap succeeded — drop it."""
    if not os.path.isdir(path):
        return
    prefix = f".__old_{BUCKET_COL}="
    for name in os.listdir(path):
        if not name.startswith(prefix):
            continue
        live = os.path.join(path, f"{BUCKET_COL}={name[len(prefix):]}")
        backup = os.path.join(path, name)
        if os.path.exists(live):
            shutil.rmtree(backup, ignore_errors=True)
        else:
            os.rename(backup, live)


def state_bucket_expr(keys: list[str], n_buckets: int = 64):
    """The bucket assignment a bucketed state table uses — exposed so
    readers can compute touched buckets and prune their own scans with
    ``WHERE __bucket IN (...)`` before a keyed lookup."""
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets))


def upsert_table_bucketed(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    keys: list[str],
    n_buckets: int = 64,
    fmt: str = "parquet",
    precedence: list[str] | None = None,
    bucket_keys: list[str] | None = None,
) -> None:
    """:func:`upsert_table` with the 100 TB state layout it documents:
    the table is hive-partitioned by ``__bucket =
    pmod(xxhash64(keys), n_buckets)`` and a merge reads AND rewrites
    only the buckets its update keys hash into — per-batch cost is
    O(batch + touched buckets' state), independent of total state
    size (measured in ``tools/stream_state_curve.py``; the plain
    upsert's full rewrite is O(state) per batch). Same key/precedence
    MERGE semantics, same crash discipline (per-bucket staged swap
    with a recoverable dot-prefixed backup, invisible to partition
    discovery).

    Readers use :func:`read_state_table`, which drops the internal
    bucket column. ``n_buckets`` is fixed at table creation — pick it
    so each bucket holds ~one write task's worth of state; changing it
    requires a rewrite (as with any hash-partitioned store).

    ``bucket_keys`` (default: ``keys``) lets a multi-column merge key
    bucket on a prefix — e.g. a version store MERGEd on
    ``(user_id, event_id)`` but bucketed on ``user_id`` so one user's
    whole history co-lives in one bucket and per-user reads prune.
    Must be a subset of each row's identity that never changes across
    versions of the same key (it decides which bucket dir a key's row
    lives in).
    """
    updates = updates.withColumn(
        BUCKET_COL, state_bucket_expr(bucket_keys or keys, n_buckets)
    )
    if not os.path.exists(path):
        # one file per bucket: a long-running merge stream must not
        # accumulate small files (each touch rewrites the bucket as a
        # whole, so the file count per bucket stays at the count the
        # last touch wrote — pin it to 1 with a bucket-keyed shuffle)
        write_table(
            updates.repartition(F.col(BUCKET_COL)),
            path,
            fmt=fmt,
            partition_by=[BUCKET_COL],
        )
        return
    _recover_bucket_swaps(path)
    touched = sorted(
        r[0] for r in updates.select(BUCKET_COL).distinct().collect()
    )  # bounded by n_buckets, never by update or state cardinality
    if not touched:
        return
    current = read_table(spark, path, fmt=fmt).where(
        F.col(BUCKET_COL).isin(touched)  # partition-pruned scan
    )
    merged = _merge_newest(current, updates, keys, precedence)
    staging = f"{path}.__staging_{uuid.uuid4().hex[:8]}"
    merged.repartition(F.col(BUCKET_COL)).write.format(fmt).mode(
        "overwrite"
    ).partitionBy(BUCKET_COL).save(staging)
    for b in touched:
        live, backup = _bucket_dir(path, b), _bucket_backup(path, b)
        staged = os.path.join(staging, f"{BUCKET_COL}={b}")
        if not os.path.isdir(staged):
            continue  # merge emitted no rows for this bucket
        if os.path.exists(live):
            shutil.rmtree(backup, ignore_errors=True)
            os.rename(live, backup)
        os.rename(staged, live)
        shutil.rmtree(backup, ignore_errors=True)
    shutil.rmtree(staging, ignore_errors=True)


def read_state_table(
    spark: SparkSession, path: str, fmt: str = "parquet"
) -> DataFrame:
    """Read a (possibly bucketed) state table, hiding the internal
    bucket partition column. Works on plain :func:`upsert_table`
    output too (no bucket column to drop)."""
    _recover_bucket_swaps(path)
    df = read_table(spark, path, fmt=fmt)
    return df.drop(BUCKET_COL) if BUCKET_COL in df.columns else df


def compact_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    target_partitions: int | None = None,
    target_mb: int = 128,
) -> int:
    """Small-file compaction: rewrite a table into ~``target_mb``
    output files (or an explicit ``target_partitions``). Long-running
    ingest produces many small files; scans then pay per-file open
    cost and lose vectorized-reader locality — at 100 TB this is the
    difference between a scan bound by S3 metadata calls and one bound
    by bandwidth. Returns the partition count written."""
    df = read_table(spark, path, fmt=fmt)
    if target_partitions is None:
        size = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(path)
            for f in fs
        )
        target_partitions = max(1, round(size / (target_mb * 1024 * 1024)))
    staging = f"{path}.__staging_{uuid.uuid4().hex[:8]}"
    df.repartition(target_partitions).write.format(fmt).mode(
        "overwrite"
    ).save(staging)
    _swap_into_place(staging, path)
    return target_partitions


def topology_report(datanodes: DataFrame) -> DataFrame:
    """The admin-UI cluster view as rows of JSON documents:
    one document per datacenter with its racks and node addresses,
    sorted by (location, address) like the reference UI table."""
    nodes = datanodes.select(
        "datacenter",
        "rack",
        "location",
        F.concat_ws(":", "ip", "hostname").alias("address"),
    )
    per_rack = (
        nodes.groupBy("datacenter", "rack")
        .agg(F.sort_array(F.collect_list("address")).alias("addresses"))
        .groupBy("datacenter")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("rack", "addresses"))
            ).alias("racks")
        )
    )
    return per_rack.select(
        "datacenter",
        F.to_json(F.struct("datacenter", "racks")).alias("report"),
    ).orderBy("datacenter")
