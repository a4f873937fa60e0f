"""Streaming joins (SURVEY §2.10 extension surface).

- **st05_stream_static** — stream ⋈ static dimension: the streaming
  side micro-batches against a broadcast of the static side; no
  streaming state at all. The batch oracle is the same join run
  statically.
- **st06_stream_stream** — stream ⋈ stream inner join on key with an
  event-time range constraint + watermarks on both sides: the
  constraint is what lets Spark expire buffered rows, bounding state
  at scale. Replaying bounded files through availableNow must
  reproduce the equivalent batch self-join exactly.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from crossfire_spark.streaming.jobs import events_stream, run_stream_to_memory


def st05_stream_static(spark, sf_dir):
    """Stream events joined to the static customer dimension."""
    from crossfire_spark.catalog import load_table

    customers = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    stream = events_stream(spark, sf_dir).join(customers, "user_id")
    agg = stream.groupBy("c_mktsegment", "event_type").agg(
        F.count(F.lit(1)).alias("c"), F.sum("value").alias("sv")
    )
    sink = run_stream_to_memory(agg, mode="complete")
    return sink.select(
        "c_mktsegment", "event_type", "c", F.round("sv", 2).alias("s")
    ).orderBy("c_mktsegment", "event_type", "c", "s")


def st06_stream_stream(spark, sf_dir):
    """Two event streams (clicks vs purchases per user) joined within
    a 1-hour event-time window: purchase within an hour after a click
    by the same user."""
    clicks = (
        events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    sink = run_stream_to_memory(joined, mode="append")
    return sink.select("user_id", "click_id", "purchase_id").orderBy(
        "user_id", "click_id", "purchase_id"
    )


ORACLE_SQL = {
    "st05_stream_static": """
        SELECT c_mktsegment, event_type, COUNT(*) c, ROUND(SUM(value), 2) s
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY c_mktsegment, event_type
        ORDER BY c_mktsegment, event_type, c, s""",
    "st06_stream_stream": """
        SELECT e.user_id, e.event_id click_id, p.event_id purchase_id
        FROM events e JOIN events p
          ON e.user_id = p.user_id
         AND e.event_type = 'click' AND p.event_type = 'purchase'
         AND p.ts > e.ts AND p.ts <= e.ts + INTERVAL 1 HOUR
        ORDER BY e.user_id, click_id, purchase_id""",
}
QUERIES = {
    "st05_stream_static": st05_stream_static,
    "st06_stream_stream": st06_stream_stream,
}
