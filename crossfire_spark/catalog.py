"""Catalog: register the driver testdata parquet files as temp views.

Scan capability maps the reference's topology/storage enumeration
(``CrossAZBlockPlacementPolicy.java:615-632,600-603`` — SURVEY §2.1
S1/S2) onto Spark's vectorized Parquet source: column pruning and
predicate pushdown reach the scan for free once tables are views.

The one special case is ``events``: the driver writes its ``ts``
column as Parquet ``timestamp[ns]`` which Spark 4 refuses to read
natively. With ``spark.sql.legacy.parquet.nanosAsLong=true`` the
column surfaces as a nanosecond LONG; the view exposes
``ts = timestamp_micros(ts_ns / 1000)`` (µs truncation, invisible to
hour-granularity aggregation) so downstream queries see a plain
timestamp column, identical to what DuckDB reads.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
)
EXTENSION_TABLES = ("events", "documents", "embeddings")
ALL_TABLES = TPCH_TABLES + EXTENSION_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table, normalizing engine-specific quirks."""
    # Defensive runtime confs: the driver may hand us a session built
    # without the engine defaults. All are runtime-settable SQL confs.
    # UTC keeps timestamp rendering identical to the DuckDB oracle;
    # AQE coalesces the 200-partition default away on small inputs.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    if name == "events":
        # required to read timestamp[ns] parquet.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    return event_ts(df) if name == "events" else df


def event_ts(df: DataFrame) -> DataFrame:
    """``df`` with its ``ts`` column as a µs TIMESTAMP, for the batch
    catalog and the events stream alike."""
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # nanosecond parquet timestamp surfaced as long; convert to µs.
        # Integer DIV, not float division — double loses integer
        # precision above 2^53 and drifts the timestamp by ±1 µs.
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if ts_type == "timestamp_ntz":
        # µs parquet timestamp without zone (isAdjustedToUTC=false):
        # cast to TIMESTAMP so event-time ops (watermarks) accept it;
        # the UTC session timezone makes the cast value-preserving.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def spread(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Round-robin repartition a scan that yields fewer partitions than
    cores — a single small parquet file (one row group) otherwise
    serializes CPU-heavy per-row work (minhash, simhash, BM25 scoring,
    matrix products) onto one task. At cluster scale the scan already
    carries >= cores partitions and this returns the input unchanged,
    so no shuffle is ever added to a 100 TB plan; it only widens the
    degenerate small-file case. Keep it out of cheap scan->agg queries
    where the exchange would cost more than it saves."""
    sc = df.sparkSession.sparkContext
    n = min_parts or sc.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def materialize(
    df: DataFrame, counters: dict[str, F.Column] | None = None, *, eager: bool = True
):
    """Pin an intermediate that several consumers (or every round of a
    loop) read. This is the package's one way to materialize, so the
    medium and how counters attach to it are decided here only.

    The medium is a local checkpoint: executor-local blocks, the same
    storage a shuffle write uses, and a plan cut so later consumers
    read the rows instead of re-deriving them. ``eager=False`` pins the
    rows when the first consumer's job computes them.

    Given ``counters`` (name -> aggregate Column), returns
    ``(frame, {name: value})``: the values are computed over the pinned
    rows by the checkpoint's own job through an ``Observation``, so a
    row count or a checksum costs no separate job."""
    if counters:
        if not eager:
            raise ValueError("counters ride the eager checkpoint job")
        obs = Observation()
        df = df.observe(obs, *[c.alias(name) for name, c in counters.items()])
    pinned = df.localCheckpoint(eager)
    return (pinned, obs.get) if counters else pinned


def stab_signed(c: F.Column | str, dp: int) -> F.Column:
    """Round a float so both engines agree bit for bit: round to 9 dp,
    nudge by 1e-12 past half-way ties, round to ``dp``. A -0.0 result
    keeps its sign, as in the oracle SQL's
    ``ROUND(ROUND(x, 9) + 1e-12, dp)``."""
    return F.round(F.round(c, 9) + F.lit(1e-12), dp)


def stab(c: F.Column | str, dp: int = 6) -> F.Column:
    """``stab_signed`` plus a trailing ``+ 0.0`` that turns -0.0 into
    +0.0, spelled ``ROUND(ROUND(x, 9) + 1e-12, dp) + 0.0`` in the
    oracle SQL."""
    return stab_signed(c, dp) + F.lit(0.0)


def nudge(c: F.Column | str, dp: int) -> F.Column:
    """The older cross-engine rounding, spelled
    ``ROUND(ROUND(x, 6) + 1e-9, dp)`` in the oracle SQL: round to 6 dp
    first (collapses ~1e-16 cross-engine sum differences to one
    double), then nudge +1e-9 off any exact .xx5 boundary — Spark
    ROUND goes through decimal strings (0.575 -> 0.58) while DuckDB
    rounds the raw binary (0.57499…9 -> 0.57); off-boundary they
    agree, and non-boundary 6-dp multiples sit >= 1e-6 away so the
    nudge can't flip them."""
    return F.round(F.round(c, 6) + F.lit(1e-9), dp)


def register_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, tables=ALL_TABLES
) -> dict[str, DataFrame]:
    """Register each testdata table as a temp view; return the frames."""
    out: dict[str, DataFrame] = {}
    for name in tables:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
