"""Extended declared operators: JSON extraction, hypertable-style
time rollup, range (interval) join, approximate aggregates.

- **j01_json_extract** — the JSON-in-string ``events.props`` column
  (the engine analog of the reference's Gson views, S4/F8):
  ``get_json_object`` stays JVM-side; at scale prefer ``from_json``
  with an explicit schema once per column, not repeated path probes.
- **h01_time_rollup** — hypertable-style continuous aggregate: one
  pass produces hour buckets and their day-level rollup via
  ``rollup(day, hour)`` — the declarative form of a TimescaleDB-like
  hierarchy (and of the reference's per-level topology aggregation,
  A2). At scale the hour rows double as the materialized layer the
  day layer re-aggregates from.
- **r01_range_join** — interval join of facts to a small band table.
  With a broadcast-size band dim the right plan IS
  BroadcastNestedLoopJoin (each row tests a handful of intervals);
  ``range_join_binned`` is the scale path for when the interval table
  itself is big: explode intervals into fixed-width bins, equi-join
  on bin, residual-filter — turning O(rows x intervals) into
  O(rows + intervals x bins/interval).
- **approx_distinct** — HLL-sketch ``approx_count_distinct``; no
  cross-engine oracle (sketch internals differ), accuracy pinned in
  tests instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crossfire_spark.catalog import load_table, materialize, nudge, stab, stab_signed
from crossfire_spark.functions.skew import prefix_sums
from crossfire_spark.functions.text import (
    SPLIT_TRAIN_LIM,
    SPLIT_VAL_LIM,
    _hash_u16,
    _u16_sql,
    bag_fingerprint,
    split_assign,
    tokens,
)

PRICE_BANDS = [
    ("low", 0.0, 50_000.0),
    ("mid", 50_000.0, 150_000.0),
    ("high", 150_000.0, 1e9),
]

MAD_K = 1.4826  # normal-consistency constant (robust z-score scale)
OUTLIER_Z = 3.0


def j01_json_extract(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.groupBy("event_type")
        .agg(
            F.round(F.avg(k), 2).alias("ak"),
            F.max(k).alias("mk"),
            F.count(F.lit(1)).alias("c"),
        )
        .orderBy("event_type", "ak", "mk", "c")
    )


def h01_time_rollup(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    return (
        e.withColumn("d", F.date_trunc("day", "ts"))
        .withColumn("h", F.date_trunc("hour", "ts"))
        .rollup("d", "h")
        .agg(F.count(F.lit(1)).alias("c"), F.round(F.sum("value"), 2).alias("s"))
        .orderBy(
            F.col("d").asc_nulls_first(),
            F.col("h").asc_nulls_first(),
            "c",
            "s",
        )
    )


def h02_ohlc(spark, sf_dir):
    """OHLC candlestick rollup — the canonical time-series downsample:
    per (hour, event_type) bucket, the opening value (at min ts),
    closing value (at max ts), low, high, and volume. ``min_by`` /
    ``max_by`` compute arg-extremes inside the one two-phase hash agg
    — no window, no self-join, one shuffle on the bucket key; this is
    how a 100 TB tick table downsamples to hourly candles. ``ts`` is
    unique per bucket in this dataset (verified at sf0.01/0.1), so the
    arg-extremes are well-defined in any engine."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.withColumn("h", F.date_trunc("hour", "ts"))
        .groupBy("h", "event_type")
        .agg(
            F.round(F.min_by("value", "ts"), 2).alias("open_v"),
            F.round(F.max_by("value", "ts"), 2).alias("close_v"),
            F.round(F.min("value"), 2).alias("lo"),
            F.round(F.max("value"), 2).alias("hi"),
            F.count(F.lit(1)).alias("volume"),
        )
        .orderBy("h", "event_type", "open_v", "close_v", "lo", "hi", "volume")
    )


def price_bands(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(PRICE_BANDS, "band string, lo double, hi double")


def range_join(facts: DataFrame, bands: DataFrame, point: str) -> DataFrame:
    """Interval join: broadcast the band table; BNLJ with the range
    predicate — the right plan while the band side stays small."""
    return facts.join(
        F.broadcast(bands),
        (F.col(point) >= F.col("lo")) & (F.col(point) < F.col("hi")),
    )


def range_join_binned(
    facts: DataFrame, bands: DataFrame, point: str, bin_width: float
) -> DataFrame:
    """Scale path for big interval tables: explode each interval into
    the fixed-width bins it covers, equi-join points to bins, then
    residual-filter the exact range predicate."""
    binned_bands = bands.select(
        "*",
        F.explode(
            F.sequence(
                F.floor(F.col("lo") / bin_width).cast("long"),
                F.floor((F.col("hi") - 1e-9) / bin_width).cast("long"),
            )
        ).alias("_bin"),
    )
    binned_facts = facts.withColumn(
        "_bin", F.floor(F.col(point) / bin_width).cast("long")
    )
    return (
        binned_facts.join(binned_bands, "_bin")
        .where((F.col(point) >= F.col("lo")) & (F.col(point) < F.col("hi")))
        .drop("_bin")
    )


def r01_range_join(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    joined = range_join(o, price_bands(spark), "o_totalprice")
    return (
        joined.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.round(F.sum("o_totalprice"), 2).alias("s"),
        )
        .orderBy("band", "c", "s")
    )


def approx_distinct(df: DataFrame, col: str, rsd: float = 0.05) -> DataFrame:
    """HLL-sketch distinct count — the constant-memory path for
    cardinality at 100 TB (exact countDistinct shuffles every value)."""
    return df.select(F.approx_count_distinct(col, rsd).alias("approx"))


def h03_matview_rollup(spark, sf_dir):
    """Continuous aggregate the TimescaleDB/Delta way: the orders
    rollup is materialized as an incrementally-maintained view over
    the engine's snapshot table — base lands in two commits, the view
    is created after the first and *refreshed from the CDC feed only*
    after the second (no base rescan), then served from the view.
    The declared result must equal the plain GROUP BY over all orders,
    which is exactly what the DuckDB oracle computes — so the whole
    create→commit→refresh→read loop is oracle-checked."""
    import os

    from crossfire_spark.sources.matview import (
        create_aggregate_view,
        refresh_aggregate_view,
    )
    from crossfire_spark.sources.snapshot import snapshot_read, snapshot_write
    from crossfire_spark.streaming.jobs import _session_workdir

    work = _session_workdir("h03_")
    base = os.path.join(work, "base")
    view = os.path.join(work, "view")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    snapshot_write(o.where(F.col("o_orderkey") % 2 == 0), base)
    create_aggregate_view(
        spark, base, view, keys=["o_orderstatus"], measures=["o_totalprice"]
    )
    snapshot_write(o.where(F.col("o_orderkey") % 2 == 1), base)
    refresh_aggregate_view(spark, base, view)
    return (
        snapshot_read(spark, view)
        .select(
            "o_orderstatus",
            F.col("_cnt").alias("n"),
            F.round("sum_o_totalprice", 2).alias("s"),
        )
        .orderBy("o_orderstatus", "n", "s")
    )


ORACLE_SQL: dict[str, str] = {
    "h04_gap_fill": """
        WITH hourly AS (SELECT event_type, DATE_TRUNC('hour', ts) h,
                               COUNT(*) c, ROUND(SUM(value),2) s
                        FROM events GROUP BY event_type, DATE_TRUNC('hour', ts)),
        bounds AS (SELECT MIN(h) lo, MAX(h) hi FROM hourly),
        spine AS (SELECT et.event_type, gs.h
                  FROM (SELECT DISTINCT event_type FROM events) et,
                       (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) h
                        FROM bounds) gs),
        j AS (SELECT sp.event_type, sp.h, COALESCE(hr.c, 0) c, hr.s
              FROM spine sp LEFT JOIN hourly hr
                ON sp.event_type = hr.event_type AND sp.h = hr.h)
        SELECT event_type, h, CAST(c AS BIGINT) c, (c = 0) filled,
               last_value(s IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) s_locf
        FROM j ORDER BY event_type, h, c, filled, s_locf""",
    "v01_constraint_report": """
        WITH base AS (SELECT
                CAST(COUNT(*) FILTER (o_custkey IS NULL) AS BIGINT) null_custkey,
                CAST(COUNT(*) FILTER (o_totalprice < 0) AS BIGINT) neg_totalprice,
                CAST(COUNT(*) FILTER (o_orderstatus NOT IN ('O','F','P')) AS BIGINT) bad_status,
                CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) dup_orderkey
            FROM orders),
        fk AS (SELECT CAST(COUNT(*) AS BIGINT) orphan_custkey FROM orders o
               WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
        m AS (SELECT * FROM base CROSS JOIN fk),
        s(rule, violations) AS (
            SELECT 'fk_custkey_exists', orphan_custkey FROM m
            UNION ALL SELECT 'no_duplicate_orderkey', dup_orderkey FROM m
            UNION ALL SELECT 'not_null_custkey', null_custkey FROM m
            UNION ALL SELECT 'status_accepted_values', bad_status FROM m
            UNION ALL SELECT 'totalprice_non_negative', neg_totalprice FROM m)
        SELECT rule, violations, (violations = 0) ok FROM s
        ORDER BY rule, violations, ok""",
    "h03_matview_rollup": """
        SELECT o_orderstatus, COUNT(*) n, ROUND(SUM(o_totalprice), 2) s
        FROM orders GROUP BY o_orderstatus
        ORDER BY o_orderstatus, n, s""",
    "j01_json_extract": """
        SELECT event_type,
               ROUND(AVG(CAST(json_extract_string(props, '$.k') AS INTEGER)), 2) ak,
               MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) mk,
               COUNT(*) c
        FROM events GROUP BY event_type ORDER BY event_type, ak, mk, c""",
    # DuckDB DATE_TRUNC('day') yields DATE where Spark yields
    # timestamp — cast for identical rendering.
    "h01_time_rollup": """
        SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) d, DATE_TRUNC('hour', ts) h,
               COUNT(*) c, ROUND(SUM(value), 2) s
        FROM events GROUP BY ROLLUP(CAST(DATE_TRUNC('day', ts) AS TIMESTAMP), DATE_TRUNC('hour', ts))
        ORDER BY d NULLS FIRST, h NULLS FIRST, c, s""",
    "r01_range_join": """
        WITH bands(band, lo, hi) AS (VALUES
            ('low', 0.0, 50000.0), ('mid', 50000.0, 150000.0), ('high', 150000.0, 1e9))
        SELECT band, COUNT(*) c, ROUND(SUM(o_totalprice), 2) s
        FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
        GROUP BY band ORDER BY band, c, s""",
    "h02_ohlc": """
        SELECT DATE_TRUNC('hour', ts) h, event_type,
               ROUND(arg_min(value, ts), 2) open_v,
               ROUND(arg_max(value, ts), 2) close_v,
               ROUND(MIN(value), 2) lo, ROUND(MAX(value), 2) hi,
               COUNT(*) volume
        FROM events GROUP BY DATE_TRUNC('hour', ts), event_type
        ORDER BY h, event_type, open_v, close_v, lo, hi, volume""",
    "h05_sessionize": """
        WITH b AS (SELECT user_id, ts, event_id, value,
                CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                     THEN 1 ELSE 0 END boundary
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        s AS (SELECT user_id, ts, event_id, value,
                SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) sess
            FROM b)
        SELECT user_id, CAST(sess AS BIGINT) sess, COUNT(*) n_events,
               MIN(ts) t_start, MAX(ts) t_end,
               (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 1e6 dur_s,
               ROUND(SUM(value), 2) sum_value
        FROM s GROUP BY user_id, sess
        ORDER BY user_id, sess, n_events, t_start, t_end, dur_s, sum_value""",
    "h06_time_weighted": """
        WITH d AS (SELECT event_type, value,
                lead(epoch_us(ts)) OVER (PARTITION BY event_type ORDER BY ts, event_id)
                    - epoch_us(ts) dur_us
            FROM events)
        SELECT event_type,
               ROUND(ROUND(SUM(value * dur_us) / SUM(dur_us), 6) + 1e-9, 4) twa,
               COUNT(*) n_obs, SUM(dur_us) / 1e6 span_s
        FROM d WHERE dur_us IS NOT NULL GROUP BY event_type
        ORDER BY event_type, twa, n_obs, span_s""",
    "h07_m4_downsample": """
        WITH span AS (SELECT event_type, epoch_us(MIN(ts)) t0, epoch_us(MAX(ts)) t1
                      FROM events GROUP BY event_type),
        b AS (SELECT e.event_type,
                     CAST((epoch_us(e.ts) - s.t0) * 64 // (s.t1 - s.t0 + 1) AS INTEGER) bucket,
                     e.ts, e.value
              FROM events e JOIN span s USING (event_type))
        SELECT event_type, bucket,
               ROUND(arg_min(value, ts), 2) v_first,
               ROUND(arg_max(value, ts), 2) v_last,
               ROUND(MIN(value), 2) v_min, ROUND(MAX(value), 2) v_max,
               COUNT(*) n_points
        FROM b GROUP BY event_type, bucket
        ORDER BY event_type, bucket, v_first, v_last, v_min, v_max, n_points""",
    "v04_outlier_report": f"""
        WITH med AS (SELECT source, quantile_cont(n_chars, 0.5) med
                     FROM documents GROUP BY source),
        dev AS (SELECT d.source, ABS(d.n_chars - m.med) ad
                FROM documents d JOIN med m USING (source)),
        mad AS (SELECT source, quantile_cont(ad, 0.5) mad FROM dev GROUP BY source),
        fl AS (SELECT dev.source, COUNT(*) n_docs,
                      CAST(COUNT(*) FILTER (dev.ad > {OUTLIER_Z * MAD_K} * mad.mad) AS BIGINT) n_outliers
               FROM dev JOIN mad USING (source) GROUP BY dev.source)
        SELECT med.source, ROUND(med.med, 2) med, ROUND(mad.mad, 2) mad,
               fl.n_docs, fl.n_outliers
        FROM med JOIN mad USING (source) JOIN fl USING (source)
        ORDER BY source, med, mad, n_docs, n_outliers""",
    "v03_table_diff": """
        WITH u AS (SELECT o_orderkey k,
                ((instr('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1) * 4096
                 + (instr('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR)), 2, 1)) - 1) * 256
                 + (instr('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR)), 3, 1)) - 1) * 16
                 + (instr('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR)), 4, 1)) - 1)) % 16 bucket,
                CAST(ROUND(o_totalprice * 100) AS BIGINT) ck
            FROM orders),
        a AS (SELECT bucket, COUNT(*) n_a, CAST(SUM(ck) AS BIGINT) ck_a
              FROM u GROUP BY bucket),
        u2 AS (SELECT u.bucket,
                CASE WHEN o.o_orderkey % 101 = 0
                     THEN CAST(ROUND((o.o_totalprice + 1) * 100) AS BIGINT)
                     ELSE u.ck END ck
            FROM u JOIN orders o ON u.k = o.o_orderkey
            WHERE o.o_orderkey % 97 <> 0),
        b AS (SELECT bucket, COUNT(*) n_b, CAST(SUM(ck) AS BIGINT) ck_b
              FROM u2 GROUP BY bucket)
        SELECT COALESCE(a.bucket, b.bucket) bucket,
               COALESCE(n_a, 0) n_a, COALESCE(n_b, 0) n_b,
               COALESCE(ck_a, 0) ck_a, COALESCE(ck_b, 0) ck_b,
               (COALESCE(n_a, 0) = COALESCE(n_b, 0)
                AND COALESCE(ck_a, 0) = COALESCE(ck_b, 0)) "match"
        FROM a FULL OUTER JOIN b ON a.bucket = b.bucket
        ORDER BY bucket, n_a, n_b, ck_a, ck_b, "match" """,
    "v02_drift_report": """
        WITH counts AS (SELECT source, LEAST(FLOOR(n_chars / 100), 9) b, COUNT(*) c
                        FROM documents GROUP BY source, LEAST(FLOOR(n_chars / 100), 9)),
        totals AS (SELECT source, SUM(c) n FROM counts GROUP BY source),
        grid AS (SELECT t.source, t.n, gs.b
                 FROM totals t, (SELECT unnest(range(0, 10)) b) gs),
        dist AS (SELECT g.source, g.b, COALESCE(c.c, 0) * 1.0 / g.n + 1e-6 p
                 FROM grid g LEFT JOIN counts c ON g.source = c.source AND g.b = c.b),
        ref AS (SELECT b, p p_ref FROM dist WHERE source = 'src0')
        SELECT d.source,
               ROUND(ROUND(SUM((d.p - r.p_ref) * ln(d.p / r.p_ref)), 6) + 1e-9, 4) psi,
               CAST(t.n AS BIGINT) n_docs
        FROM dist d JOIN ref r ON d.b = r.b JOIN totals t ON d.source = t.source
        GROUP BY d.source, t.n
        ORDER BY d.source, psi, n_docs""",
}

def constraint_report(o: DataFrame, c: DataFrame) -> DataFrame:
    """Declarative data-quality constraint report (the Deequ/Delta-
    constraints shape): evaluate a constraint suite against the orders
    table in as few passes as the constraints allow and emit one row
    per constraint (name, violation metric, pass flag).

    Scale shape: the four row-local constraints (not-null, range,
    accepted-values) plus the uniqueness check are ONE aggregate over
    one scan — each constraint is a count_if / distinct-count column,
    map-side combinable; only referential integrity needs a second
    input (left-anti join against the broadcast customer key set).
    Adding a constraint adds a column, not a pass — the property that
    makes a validation suite affordable at 100 TB."""
    base = o.agg(
        F.count_if(F.col("o_custkey").isNull()).alias("null_custkey"),
        F.count_if(F.col("o_totalprice") < 0).alias("neg_totalprice"),
        F.count_if(~F.col("o_orderstatus").isin("O", "F", "P")).alias(
            "bad_status"
        ),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias(
            "dup_orderkey"
        ),
    )
    fk = (
        o.join(
            F.broadcast(c.select(F.col("c_custkey").alias("o_custkey"))),
            "o_custkey",
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("orphan_custkey"))
    )
    wide = base.crossJoin(F.broadcast(fk))
    rows = [
        ("fk_custkey_exists", "orphan_custkey"),
        ("no_duplicate_orderkey", "dup_orderkey"),
        ("not_null_custkey", "null_custkey"),
        ("status_accepted_values", "bad_status"),
        ("totalprice_non_negative", "neg_totalprice"),
    ]
    stacked = ", ".join(f"'{name}', {col}" for name, col in rows)
    return (
        wide.select(
            F.expr(f"stack({len(rows)}, {stacked}) as (rule, violations)")
        )
        .select(
            "rule",
            "violations",
            (F.col("violations") == 0).alias("ok"),
        )
        .orderBy("rule", "violations", "ok")
    )


def h04_gap_fill(spark, sf_dir):
    """Time-bucket gap filling with LOCF — the TimescaleDB
    ``time_bucket_gapfill`` + ``locf`` surface: generate the complete
    hourly spine per event_type across the observed range, zero-fill
    counts for missing buckets, and carry the last observed sum
    forward (last_value IGNORE NULLS).

    Scale shape: the spine is |types| x |hours| rows — calendar-
    bounded metadata, generated declaratively (sequence + explode)
    from a 1-row bounds aggregate, never driver-side; the left join
    runs spine-vs-hourly (both aggregate-cardinality, the raw events
    table is touched once by the hourly rollup); LOCF is one window
    per series key over already-aggregated rows."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.withColumn("h", F.date_trunc("hour", "ts"))
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).alias("c"), F.round(F.sum("value"), 2).alias("s"))
    )
    bounds = hourly.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    hours = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("h")
    )
    spine = e.select("event_type").distinct().crossJoin(F.broadcast(hours))
    j = spine.join(hourly, ["event_type", "h"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        j.select(
            "event_type",
            "h",
            F.coalesce("c", F.lit(0)).alias("c"),
            (F.coalesce("c", F.lit(0)) == 0).alias("filled"),
            F.last("s", ignorenulls=True).over(w).alias("s_locf"),
        )
        .orderBy("event_type", "h", "c", "filled", "s_locf")
    )


def v01_constraint_report(spark, sf_dir):
    return constraint_report(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
    )


SESSION_GAP_US = 1_800_000_000  # 30 min, in exact integer microseconds


def sessionize(events: DataFrame, gap_us: int = SESSION_GAP_US) -> DataFrame:
    """Batch sessionization — gap-based session assignment (the batch
    twin of the streaming session window st03): a new session starts
    when a user's inter-event gap exceeds ``gap_us``; session index =
    running count of boundaries (lag + cumulative sum over one
    user-partitioned window).

    Scale shape: ONE shuffle of events on ``user_id``; both window
    passes and the per-session aggregate reuse that partitioning
    (the agg keys are (user_id, sess), a superset of the window key,
    so no second exchange). Timestamps compare in exact integer
    microseconds (``unix_micros``) — no float in the boundary
    predicate, so every engine draws identical session borders."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    boundary = (
        F.lag(us).over(w).isNull() | ((us - F.lag(us).over(w)) > gap_us)
    ).cast("int")
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        events.select("user_id", "ts", "event_id", "value")
        .withColumn("sess", F.sum(boundary).over(run))
        .groupBy("user_id", "sess")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("t_start"),
            F.max("ts").alias("t_end"),
            (
                (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
                / F.lit(1e6)
            ).alias("dur_s"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


def h05_sessionize(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    return sessionize(e).orderBy(
        "user_id", "sess", "n_events", "t_start", "t_end", "dur_s", "sum_value"
    )


def time_weighted_avg(events: DataFrame, series_key: str = "event_type") -> DataFrame:
    """Time-weighted average per series — the TimescaleDB
    ``time_weight('LOCF', ...)`` surface: each observation's value
    holds until the next observation in its series, so the average
    weights each value by its holding duration (the final observation
    carries no weight). One window pass (``lead`` over the series
    partitioning) + one aggregate on the same key — one shuffle total.

    Durations are exact integer microseconds; the weighted sum is the
    only float reduction, stabilized by the engine's standard
    round(round(x, 6) + 1e-9, 4) discipline."""
    from pyspark.sql import Window

    w = Window.partitionBy(series_key).orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    dur = F.lead(us).over(w) - us  # NULL on the last observation
    weighted = events.select(
        series_key, "value", dur.alias("dur_us")
    ).where(F.col("dur_us").isNotNull())
    twa = F.sum(F.col("value") * F.col("dur_us")) / F.sum("dur_us")
    return weighted.groupBy(series_key).agg(
        nudge(twa, 4).alias("twa"),
        F.count(F.lit(1)).alias("n_obs"),
        (F.sum("dur_us") / F.lit(1e6)).alias("span_s"),
    )


def h06_time_weighted(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    return time_weighted_avg(e).orderBy("event_type", "twa", "n_obs", "span_s")


M4_WIDTH = 64  # pixel buckets per series


def m4_downsample(events: DataFrame, width: int = M4_WIDTH) -> DataFrame:
    """M4 visualization-aware downsampling (Jugel et al., VLDB 2014):
    per series, split the time range into ``width`` pixel-column
    buckets and keep each bucket's first, last, min, and max values —
    the lossless reduction for line-chart rendering (every pixel the
    full-resolution chart would light is preserved).

    Scale shape: per-series (t0, t1) spans are one map-side-combinable
    aggregate broadcast back onto the stream; the bucket id is pure
    integer arithmetic (``div`` — no float in the boundary, so the
    oracle's ``//`` states the identical bucketing); the M4 tuple
    itself is ONE two-phase hash agg with ``min_by``/``max_by``
    arg-extremes — no window, no self-join, one shuffle on (series,
    bucket). A 100 TB tick table reduces to series×64 rows. ``ts`` is
    unique per series bucket in this dataset (the h02 convention), so
    the arg-extremes are engine-independent."""
    span = events.groupBy("event_type").agg(
        F.unix_micros(F.min("ts")).alias("t0"),
        F.unix_micros(F.max("ts")).alias("t1"),
    )
    # (t - t0) * width div (t1 - t0 + 1): exact integer bucketing in
    # [0, width-1]; the +1 keeps t = t1 inside the last bucket.
    bucket = F.expr(
        f"(unix_micros(ts) - t0) * {M4_WIDTH} div (t1 - t0 + 1)"
    ).cast("int")
    return (
        events.join(F.broadcast(span), "event_type")
        .withColumn("bucket", bucket)
        .groupBy("event_type", "bucket")
        .agg(
            F.round(F.min_by("value", "ts"), 2).alias("v_first"),
            F.round(F.max_by("value", "ts"), 2).alias("v_last"),
            F.round(F.min("value"), 2).alias("v_min"),
            F.round(F.max("value"), 2).alias("v_max"),
            F.count(F.lit(1)).alias("n_points"),
        )
    )


def h07_m4_downsample(spark, sf_dir):
    """M4 downsample of the events table to 64 pixel columns per
    event_type — oracled by the identical integer bucketing + arg-
    extreme aggregate in DuckDB."""
    e = load_table(spark, sf_dir, "events")
    return m4_downsample(e).orderBy(
        "event_type", "bucket", "v_first", "v_last", "v_min", "v_max", "n_points"
    )


LTTB_BUCKETS = 32


def lttb_downsample(events: DataFrame, buckets: int = LTTB_BUCKETS) -> DataFrame:
    """(event_type, bucket, ts, value) — parallel LTTB downsample:
    per series, keep from each time bucket the point forming the
    LARGEST TRIANGLE with the neighboring buckets' centroids
    (Steinarsson's Largest-Triangle-Three-Buckets with FIXED
    bucket-average anchors — the parallelizable variant: classic LTTB
    anchors on the previously *selected* point, a sequential chain;
    anchoring on bucket centroids makes every bucket independent, the
    standard trade for distributed execution). Complements h07's M4:
    M4 preserves pixel extremes, LTTB preserves visual shape.

    Scale shape: one span aggregate broadcast back, one centroid
    aggregate (series×B rows — the lag/lead over it is metadata-
    sized), one broadcast join of centroids onto the stream, one
    argmax-by-struct hash agg. No corpus window, no self-join.
    Determinism: the ranking key is the triangle area ROUNDED to 6 dp
    (floats cross engines) with a min-ts tiebreak; first/last buckets
    anchor on their own centroid side only, degenerating to max
    distance from the single anchor — same formula with the missing
    anchor coalesced to the point itself."""
    from pyspark.sql import Window

    span = events.groupBy("event_type").agg(
        F.unix_micros(F.min("ts")).alias("t0"),
        F.unix_micros(F.max("ts")).alias("t1"),
    )
    bucket = F.expr(
        f"(unix_micros(ts) - t0) * {buckets} div (t1 - t0 + 1)"
    ).cast("int")
    pts = materialize(  # centroids AND the scoring join read it
        events.join(F.broadcast(span), "event_type")
        .select(
            "event_type",
            bucket.alias("bucket"),
            "ts",
            "value",
            ((F.unix_micros("ts") - F.col("t0")) / F.lit(1e6)).alias("x"),
        )
    )
    cent = pts.groupBy("event_type", "bucket").agg(
        F.avg("x").alias("cx"), F.avg("value").alias("cy")
    )
    w = Window.partitionBy("event_type").orderBy("bucket")
    anchors = cent.select(
        "event_type",
        "bucket",
        F.lag("cx").over(w).alias("px"),
        F.lag("cy").over(w).alias("py"),
        F.lead("cx").over(w).alias("nx"),
        F.lead("cy").over(w).alias("ny"),
    )
    j = pts.join(F.broadcast(anchors), ["event_type", "bucket"])
    px = F.coalesce("px", F.col("x"))
    py = F.coalesce("py", F.col("value"))
    nx = F.coalesce("nx", F.col("x"))
    ny = F.coalesce("ny", F.col("value"))
    area = F.abs(
        (px - nx) * (F.col("value") - py) - (px - F.col("x")) * (ny - py)
    )
    scored = j.select(
        "event_type",
        "bucket",
        "ts",
        "value",
        F.round(area, 6).alias("a"),
    )
    return (
        scored.groupBy("event_type", "bucket")
        .agg(
            F.min(
                F.struct(
                    (-F.col("a")).alias("na"),
                    F.col("ts").alias("ts"),
                    F.col("value").alias("value"),
                )
            ).alias("m")
        )
        .select(
            "event_type",
            "bucket",
            F.col("m.ts").alias("ts"),
            F.round(F.col("m.value"), 2).alias("value"),
        )
    )


def h09_lttb_downsample(spark, sf_dir):
    """Parallel-LTTB downsample of the events table — oracled by the
    identical centroid-anchor argmax in DuckDB."""
    e = load_table(spark, sf_dir, "events")
    return lttb_downsample(e).orderBy("event_type", "bucket", "ts", "value")


ANOM_LOOKBACK = 10  # trailing observations per user stream
ANOM_MIN_N = 5      # minimum frame size before scoring
ANOM_Z = 2.0        # |z| flag threshold


def rolling_anomalies(events: DataFrame) -> DataFrame:
    """(event_id, user_id, value, z) — rolling z-score anomaly flags
    per user stream: each event's value scored against the mean/std
    of that user's previous ANOM_LOOKBACK events (frame excludes the
    current row, so an outlier never masks itself); flagged when the
    frame holds >= ANOM_MIN_N observations and |z| >= ANOM_Z. The
    streaming-telemetry outlier primitive (per-entity baseline, not a
    global quantile — contrast v04's corpus-level outlier report).

    Scale shape: one window partitioned by ``user_id`` — millions of
    short per-user streams, so no partition outgrows a task at 100×
    (contrast a per-event_type window: low-cardinality keys would
    funnel). No joins, no second scan; z is stabilized (ROUND(·,9)
    +1e-12 → 4 dp) because mean/std accumulate engine-specifically."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-ANOM_LOOKBACK, -1)
    )
    z = (F.col("value") - F.avg("value").over(w)) / F.stddev_pop("value").over(w)
    base = events.select(
        "event_id",
        "user_id",
        "value",
        F.count("value").over(w).alias("n"),
        F.stddev_pop("value").over(w).alias("sd"),
        z.alias("z_raw"),
    )
    return base.where(
        (F.col("n") >= ANOM_MIN_N)
        & (F.col("sd") > 0)
        & (F.abs("z_raw") >= ANOM_Z)
    ).select(
        "event_id",
        "user_id",
        "value",
        stab_signed("z_raw", 4).alias("z"),
    )


def h08_rolling_anomaly(spark, sf_dir):
    """Per-user rolling z-score anomalies over the events table —
    oracled by the identical frame spec in DuckDB."""
    e = load_table(spark, sf_dir, "events")
    return rolling_anomalies(e).orderBy("event_id", "user_id", "value", "z")


DRIFT_BUCKETS = 10
DRIFT_BUCKET_WIDTH = 100  # n_chars per bucket; bucket 9 is open-ended
DRIFT_EPS = 1e-6
DRIFT_REF_SOURCE = "src0"


def drift_report(docs: DataFrame) -> DataFrame:
    """Population-stability-index (PSI) drift report — the pipeline-
    observability check that a new crawl/dump still looks like the
    reference corpus: bucket ``n_chars`` into fixed-width bins,
    compare each source's distribution against ``DRIFT_REF_SOURCE``,
    PSI = Σ_b (q_b − p_b)·ln(q_b/p_b) with add-ε smoothing.
    PSI < 0.1 is conventionally "no shift", > 0.25 "action".

    Scale shape: the corpus collapses to |sources|×10 bucket counts in
    one map-side-combinable aggregate; everything after (the bucket
    grid, the reference join, the PSI fold) is metadata-sized. The
    grid is sources × a literal 10-row range — no driver loop."""
    bucket = F.least(
        F.floor(F.col("n_chars") / DRIFT_BUCKET_WIDTH),
        F.lit(DRIFT_BUCKETS - 1),
    ).cast("long")
    # |sources|x10 rows feeding three consumers (totals, grid, dist) —
    # materialize once so the corpus is scanned exactly once
    counts = materialize(
        docs.select("source", bucket.alias("b"))
        .groupBy("source", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = counts.groupBy("source").agg(F.sum("c").alias("n"))
    grid = totals.select("source", "n").crossJoin(
        F.broadcast(
            counts.sparkSession.range(DRIFT_BUCKETS).select(
                F.col("id").alias("b")
            )
        )
    )
    dist = grid.join(counts, ["source", "b"], "left").select(
        "source",
        "b",
        (F.coalesce("c", F.lit(0)) / F.col("n") + DRIFT_EPS).alias("p"),
    )
    ref = dist.where(F.col("source") == DRIFT_REF_SOURCE).select(
        "b", F.col("p").alias("p_ref")
    )
    psi = F.sum((F.col("p") - F.col("p_ref")) * F.log(F.col("p") / F.col("p_ref")))
    return (
        dist.join(F.broadcast(ref), "b")
        .groupBy("source")
        .agg(nudge(psi, 4).alias("psi"))
        .join(totals, "source")
        .select("source", "psi", F.col("n").alias("n_docs"))
    )


def v02_drift_report(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return drift_report(d).orderBy("source", "psi", "n_docs")


def outlier_report(docs: DataFrame) -> DataFrame:
    """Robust outlier accounting per source — median/MAD instead of
    mean/stddev, so the detector itself is not dragged by the
    outliers it hunts: per source, the median and MAD of ``n_chars``
    (continuous-interpolation percentiles, the q34 discipline) and
    the count of documents beyond ``OUTLIER_Z`` robust z-scores.

    Two grouped percentile passes (median, then median of absolute
    deviations) + one counting pass — three source-keyed aggregates,
    no window over raw rows, no driver materialization."""
    med = docs.groupBy("source").agg(
        F.expr("percentile(n_chars, 0.5)").alias("med")
    )
    dev = docs.join(F.broadcast(med), "source").select(
        "source", "n_chars", F.abs(F.col("n_chars") - F.col("med")).alias("ad")
    )
    mad = dev.groupBy("source").agg(
        F.expr("percentile(ad, 0.5)").alias("mad")
    )
    flagged = (
        dev.join(F.broadcast(mad), "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_if(
                F.col("ad") > F.lit(OUTLIER_Z * MAD_K) * F.col("mad")
            ).alias("n_outliers"),
        )
    )
    return (
        med.join(mad, "source")
        .join(flagged, "source")
        .select(
            "source",
            F.round("med", 2).alias("med"),
            F.round("mad", 2).alias("mad"),
            "n_docs",
            "n_outliers",
        )
    )


def v04_outlier_report(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return outlier_report(d).orderBy(
        "source", "med", "mad", "n_docs", "n_outliers"
    )


DIFF_BUCKETS = 16


def table_diff(
    a: DataFrame, b: DataFrame, key: str, checksum: F.Column
) -> DataFrame:
    """Bucketed data reconciliation — the "did the migration copy
    everything" diff between two tables sharing a key: rows hash into
    ``DIFF_BUCKETS`` buckets by an engine-agnostic md5 coin on the
    key, each side collapses to per-bucket (row count, checksum), and
    the report flags buckets whose counts or checksums disagree.

    Scale shape: each side is ONE map-side-combinable aggregate down
    to 16 rows — the tables are never joined row-to-row, so a 100 TB
    reconciliation moves 32 rows over the network; mismatched buckets
    then scope the expensive row-level investigation to 1/16th of the
    key space per bad bucket. Checksums are integer sums (exact,
    order-independent), never float accumulation."""
    def side(df: DataFrame, tag: str) -> DataFrame:
        bucket = _hash_u16(F.col(key)) % DIFF_BUCKETS
        return df.select(
            bucket.alias("bucket"), checksum.alias("_ck"), F.col(key)
        ).groupBy("bucket").agg(
            F.count(F.lit(1)).alias(f"n_{tag}"),
            F.sum("_ck").alias(f"ck_{tag}"),
        )

    return (
        side(a, "a")
        .join(side(b, "b"), "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce("n_a", F.lit(0)).alias("n_a"),
            F.coalesce("n_b", F.lit(0)).alias("n_b"),
            F.coalesce("ck_a", F.lit(0)).alias("ck_a"),
            F.coalesce("ck_b", F.lit(0)).alias("ck_b"),
            (
                (F.coalesce("n_a", F.lit(0)) == F.coalesce("n_b", F.lit(0)))
                & (F.coalesce("ck_a", F.lit(0)) == F.coalesce("ck_b", F.lit(0)))
            ).alias("match"),
        )
    )


def v03_table_diff(spark, sf_dir):
    """Reconciliation of orders against a deterministically-drifted
    copy (every 97th key dropped, every 101st price bumped) — the
    diff must localize exactly those injected discrepancies."""
    o = load_table(spark, sf_dir, "orders")
    drifted = o.where(F.col("o_orderkey") % 97 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 101 == 0, F.col("o_totalprice") + 1
        ).otherwise(F.col("o_totalprice")),
    )
    ck = F.round(F.col("o_totalprice") * 100).cast("long")
    return table_diff(o, drifted, "o_orderkey", ck).orderBy(
        "bucket", "n_a", "n_b", "ck_a", "ck_b", "match"
    )


PROFILE_COLS = (
    ("o_orderkey", "num"),
    ("o_custkey", "num"),
    ("o_totalprice", "num"),
    ("o_orderstatus", "str"),
    ("o_orderpriority", "str"),
    ("o_orderdate", "date"),
)


def column_profile(df: DataFrame, approx: bool = False) -> DataFrame:
    """One row per profiled column — (col, n_rows, n_null, n_distinct,
    min_v, max_v, min_s, max_s): the deequ/TFDV-style table profile a
    pipeline snapshots before and after every ingest (v02's drift
    report consumes exactly this kind of summary). Numeric extremes
    land in typed double columns, string/date extremes in string
    columns, so the output schema is stable across heterogeneous
    inputs.

    Scale shape, exact tier (``approx=False``): one full scan folds
    every non-distinct metric into a single HashAggregate; each exact
    distinct count is its own column-pruned scan (columnar parquet
    reads exactly that column) joined back as a 1-row broadcast. NOT
    the one-agg multi-distinct form: Spark rewrites that via an
    Expand that multiplies the whole row stream ×(k+1) through two
    SortAggregates (measured 4.2 s vs 1.3 s here at sf0.1).

    Approx tier (``approx=True``, the 100 TB shape): every metric
    including ``approx_count_distinct`` (HLL++, rsd 0.05, map-side
    combinable) folds into ONE HashAggregate over ONE scan — no
    per-column re-scans, no Expand. Accuracy vs the exact tier is
    pinned in tests (≤5% relative error per column)."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c, _kind in PROFILE_COLS:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nn"),
            F.min(c).alias(f"{c}__mn"),
            F.max(c).alias(f"{c}__mx"),
        ]
        if approx:
            # rsd 0.02 (vs the 0.05 default): a profile's distinct
            # counts feed drift thresholds, so spend the ~2.7 KB/
            # sketch for ±4%-at-2σ accuracy — still one scan, still
            # map-side combinable.
            aggs.append(F.approx_count_distinct(c, 0.02).alias(f"{c}__nd"))
    a = df.agg(*aggs)
    if not approx:
        for c, _kind in PROFILE_COLS:
            a = a.crossJoin(
                F.broadcast(df.agg(F.countDistinct(c).alias(f"{c}__nd")))
            )
    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")
    structs = []
    for c, kind in PROFILE_COLS:
        mn, mx = F.col(f"{c}__mn"), F.col(f"{c}__mx")
        if kind == "num":
            vals = (
                F.round(mn.cast("double"), 2),
                F.round(mx.cast("double"), 2),
                null_s,
                null_s,
            )
        elif kind == "str":
            vals = (null_d, null_d, mn, mx)
        else:  # timestamp: date portion renders identically in UTC
            vals = (
                null_d,
                null_d,
                mn.cast("date").cast("string"),
                mx.cast("date").cast("string"),
            )
        structs.append(
            F.struct(
                F.lit(c).alias("col"),
                F.col("n_rows").alias("n_rows"),
                F.col(f"{c}__nn").alias("n_null"),
                F.col(f"{c}__nd").alias("n_distinct"),
                vals[0].alias("min_v"),
                vals[1].alias("max_v"),
                vals[2].alias("min_s"),
                vals[3].alias("max_s"),
            )
        )
    return a.select(F.explode(F.array(*structs)).alias("p")).select("p.*")


def v06_column_profile(spark, sf_dir):
    """Column profile of the orders table — oracled by the identical
    per-column aggregate UNION in DuckDB."""
    o = load_table(spark, sf_dir, "orders")
    return column_profile(o).orderBy(
        "col", "n_rows", "n_null", "n_distinct", "min_v", "max_v", "min_s", "max_s"
    )


def v06_column_profile_approx(spark, sf_dir):
    """The 100 TB tier of v06: identical schema, but every metric —
    including the distinct counts, via ``approx_count_distinct``
    (HLL++) — computed in ONE HashAggregate over ONE scan of the
    table (v06 exact pays one extra column-pruned scan per exact
    distinct count; this pays zero). Sketch estimates are engine-
    specific, so the entry is declared rows-only; accuracy vs the
    exact tier (≤5% relative error on every n_distinct) and the
    one-scan plan shape are pinned in tests."""
    o = load_table(spark, sf_dir, "orders")
    return column_profile(o, approx=True).orderBy(
        "col", "n_rows", "n_null", "n_distinct", "min_v", "max_v", "min_s", "max_s"
    )




DRIFT_COLS = ("o_orderkey", "o_custkey", "o_totalprice")
DRIFT_NULL_TOL = 0.01   # absolute null-rate increase that trips the gate
DRIFT_MEAN_TOL = 0.05   # relative mean shift that trips the gate


def profile_drift_gate(
    base_and_current: DataFrame, split_col: str = "grp"
) -> DataFrame:
    """deequ-style two-snapshot drift gate: given one table carrying a
    0/1 ``split_col`` (0 = baseline snapshot, 1 = current ingest),
    emit per numeric column the row counts, null rates, means, the
    relative mean shift, and a PASS / WARN_NULLS / WARN_SHIFT status —
    the accept/reject check a pipeline runs on every new partition
    before publishing it.

    Scale shape: ONE HashAggregate over ONE scan — every per-split
    metric is a conditional aggregate (``FILTER``-style ``CASE``), so
    adding a snapshot never adds a pass; the k-column explode runs on
    a 1-row aggregate. Float discipline: means stabilized
    ``ROUND(ROUND(x, 6) + 1e-9, 2)``; the sign-indefinite shift gets
    the trailing ``+ 0.0`` (negative-zero rule, SURVEY §2.12)."""
    aggs = []
    for g, p in (("b", 0), ("c", 1)):
        aggs.append(
            F.count(F.when(F.col(split_col) == p, F.lit(1))).alias(f"__{g}n")
        )
        for c in DRIFT_COLS:
            aggs += [
                F.sum(
                    F.when(
                        (F.col(split_col) == p) & F.col(c).isNull(), 1
                    ).otherwise(
                        F.when(F.col(split_col) == p, 0)
                    )
                ).alias(f"{c}__{g}null"),
                F.avg(F.when(F.col(split_col) == p, F.col(c))).alias(
                    f"{c}__{g}mean"
                ),
            ]
    a = base_and_current.agg(*aggs)
    structs = []
    for c in DRIFT_COLS:
        bn, cn = F.col("__bn"), F.col("__cn")
        b_null = F.col(f"{c}__bnull") / bn
        c_null = F.col(f"{c}__cnull") / cn
        b_mean = F.col(f"{c}__bmean")
        c_mean = F.col(f"{c}__cmean")
        shift = stab((c_mean - b_mean) / F.abs(b_mean), 4)
        null_delta = stab(c_null - b_null, 4)
        status = (
            F.when(null_delta > DRIFT_NULL_TOL, F.lit("WARN_NULLS"))
            .when(F.abs(shift) > DRIFT_MEAN_TOL, F.lit("WARN_SHIFT"))
            .otherwise(F.lit("PASS"))
        )
        structs.append(
            F.struct(
                F.lit(c).alias("col"),
                bn.alias("base_rows"),
                cn.alias("cur_rows"),
                nudge(b_mean, 2).alias("base_mean"),
                nudge(c_mean, 2).alias("cur_mean"),
                null_delta.alias("null_delta"),
                shift.alias("mean_shift"),
                status.alias("status"),
            )
        )
    return a.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def v15_profile_drift_gate(spark, sf_dir):
    """Drift gate between the even- and odd-orderkey halves of orders
    (a deterministic stand-in for yesterday's vs today's partition) —
    fully oracled by the identical FILTER-aggregate in DuckDB."""
    o = load_table(spark, sf_dir, "orders").withColumn(
        "grp", F.pmod("o_orderkey", F.lit(2)).cast("int")
    )
    return profile_drift_gate(o).orderBy("col", "base_rows", "cur_rows")


QUANTILE_PS = (0.5, 0.9, 0.99)


def v07_quantile_report(spark, sf_dir):
    """Per-status order-value quantiles (p50/p90/p99) — the latency-
    style distribution report every pipeline SLA dashboard needs.
    EXACT percentiles (Spark's ``percentile`` ≡ DuckDB's
    ``quantile_cont``: linear interpolation at p·(n−1)) so the DuckDB
    oracle is exact; at 100 TB swap ``approx_percentile`` (t-digest
    sketch, map-side combinable, no per-group sort) into the same
    plan — exact per-group percentile sorts each group's values and
    is the declared oracle tier only. One hash agg, one shuffle on
    the 3-value status key; stabilized ROUND(·,6)+1e-9 → 2 dp."""
    o = load_table(spark, sf_dir, "orders")
    ps = ", ".join(str(p) for p in QUANTILE_PS)
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(f"percentile(o_totalprice, array({ps}))").alias("q"),
        )
        .select(
            "o_orderstatus",
            "n",
            *[
                nudge(F.col("q")[i], 2).alias(f"p{int(p * 100)}")
                for i, p in enumerate(QUANTILE_PS)
            ],
        )
        .orderBy("o_orderstatus", "n", "p50", "p90", "p99")
    )




FK_CHECKS = (
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
)


def fk_orphan_check(
    name: str, fact: DataFrame, fk: str, dim: DataFrame, pk: str
) -> DataFrame:
    """One FK edge → a 1-row (fk, n_rows, orphan_keys, orphan_rows)
    aggregate — see :func:`v08_referential_integrity`."""
    p = dim.select(F.col(pk).alias("_pk"))
    keys = fact.select(F.col(fk).alias("_pk")).groupBy("_pk").agg(
        F.count(F.lit(1)).alias("_n")
    )
    orphans = keys.join(p, "_pk", "left_anti")
    return orphans.agg(
        F.lit(name).alias("fk"),
        F.coalesce(F.count(F.lit(1)), F.lit(0)).alias("orphan_keys"),
        F.coalesce(F.sum("_n"), F.lit(0)).alias("orphan_rows"),
    ).crossJoin(F.broadcast(fact.agg(F.count(F.lit(1)).alias("n_rows"))))


def v08_referential_integrity(spark, sf_dir):
    """Referential-integrity report — for each declared FK edge, the
    row count checked, the DISTINCT orphaned key count, and the rows
    carrying an orphaned key. The cross-table counterpart of v01's
    single-table constraint suite; ingest pipelines run exactly this
    before promoting a snapshot.

    Scale shape: each check is (distinct FK keys) anti-join (PK side)
    — the anti-join runs on the DEDUPED key set (map-side-combinable
    distinct first), so a 100 TB fact table reduces to its key
    cardinality before any join; orphaned-row counts come from one
    broadcast-back of the (small) orphan key set. The per-check
    results are 1-row aggregates unioned into the report."""
    parts = [
        fk_orphan_check(
            name,
            load_table(spark, sf_dir, ft),
            fk,
            load_table(spark, sf_dir, pt),
            pk,
        )
        for name, ft, fk, pt, pk in FK_CHECKS
    ]
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_)
    return out.select("fk", "n_rows", "orphan_keys", "orphan_rows").orderBy(
        "fk", "n_rows", "orphan_keys", "orphan_rows"
    )




def v09_sketch_cardinality(spark, sf_dir):
    """Mergeable-sketch cardinality report: per-source distinct
    bag-fingerprints via Apache DataSketches HLL
    (``hll_sketch_agg``), plus the GLOBAL estimate computed by
    MERGING the per-source sketches (``hll_union_agg``) — the
    capability ``approx_count_distinct`` lacks: per-partition/per-day
    sketches persist as bytes and union incrementally, so "distinct
    docs all-time" never rescans history at 100 TB. Estimates sit
    within the sketch's error bound but the exact integer depends on
    merge order (sparse→dense promotion), so there is no cross-engine
    oracle and no run-to-run byte determinism — rows-only, with
    accuracy (±2% vs exact) and union-vs-direct closeness pinned in
    tests."""
    d = load_table(spark, sf_dir, "documents")
    fp = d.select("source", bag_fingerprint("text").alias("fp"))
    sk = fp.groupBy("source").agg(F.expr("hll_sketch_agg(fp)").alias("sk"))
    sk = materialize(sk)  # per-source estimates AND the union read it
    per = sk.select("source", F.expr("hll_sketch_estimate(sk)").alias("est"))
    merged = sk.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est")
    ).select(F.lit("__all__").alias("source"), "est")
    return per.unionByName(merged).orderBy("source", "est")


# --------------------------------------------------- bounded EWMA
# Exponential smoothing is inherently recursive (y_t depends on
# y_{t-1}), which distributes badly: the textbook form forces a
# sequential per-key scan. The declared operator is the BOUNDED-
# HORIZON form: (1-a)^k < 4% of the newest weight beyond k=8 lags, so
# the smoother truncates to 8 window lags and renormalizes over the
# weights actually present — one window pass, no recursion, no UDF,
# and each term is a fixed decimal literal so both engines parse the
# identical double (libm pow() is NOT guaranteed identical cross-
# engine; literal weights sidestep it).
EWMA_WEIGHTS = (  # (1 - 0.3)^k, exact decimal literals, k = 0..7
    "1.0", "0.7", "0.49", "0.343", "0.2401",
    "0.16807", "0.117649", "0.0823543",
)


def ewma_smooth(events: DataFrame) -> DataFrame:
    """Per-user bounded-horizon EWMA of ``value`` ordered by time.

    Scale shape: ONE window partitioned by high-cardinality
    ``user_id`` (the h08 lesson — never a low-cardinality funnel);
    all 8 lags ride the same sort, so the physical plan is a single
    per-partition sort + window, no joins, no Python. The numerator
    and denominator are built in fixed left-to-right term order so
    IEEE summation order matches the SQL oracle textually."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    num = None
    den = None
    for k, wt in enumerate(EWMA_WEIGHTS):
        x = F.col("value") if k == 0 else F.lag("value", k).over(w)
        term = F.when(x.isNotNull(), F.lit(float(wt)) * x).otherwise(F.lit(0.0))
        ind = F.when(x.isNotNull(), F.lit(float(wt))).otherwise(F.lit(0.0))
        num = term if num is None else num + term
        den = ind if den is None else den + ind
    return events.select(
        "event_id",
        "user_id",
        "value",
        stab_signed(num / den, 4).alias("ewma"),
    )


def h10_ewma_smooth(spark, sf_dir):
    """Bounded-horizon exponential smoothing — oracled by the
    identical lag expansion in DuckDB."""
    e = load_table(spark, sf_dir, "events")
    return ewma_smooth(e).orderBy("event_id", "user_id", "value", "ewma")


# ----------------------------------------------- shuffle-skew report
# The pre-flight diagnosis every big join/agg needs at 100 TB: per
# candidate shuffle key, how concentrated are the rows? max/avg count
# (skew ratio) and the top key's share of all rows decide between a
# plain shuffle, AQE skew-join, or explicit salting. Each report is
# two aggregates — a map-side-combinable per-key count, then a
# metadata-sized fold over the counts — so diagnosing a key costs one
# scan of the fact table and nothing else.
SKEW_CHECKS = (
    ("lineitem:l_orderkey", "lineitem", "l_orderkey"),
    ("lineitem:l_suppkey", "lineitem", "l_suppkey"),
    ("orders:o_custkey", "orders", "o_custkey"),
    ("events:user_id", "events", "user_id"),
)


def key_skew_report(df: DataFrame, label: str, key: str) -> DataFrame:
    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("c"))
    rep = counts.agg(
        F.sum("c").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("c").alias("max_c"),
        nudge(F.expr("percentile(c, 0.99)"), 2).alias("p99_c"),
        nudge(F.avg("c"), 2).alias("avg_c"),
        nudge(F.max("c") / F.avg("c"), 2).alias("skew_ratio"),
        stab_signed(F.max("c") / F.sum("c"), 4).alias("top_share"),
    )
    return rep.select(F.lit(label).alias("keyed"), "*")


def v10_skew_report(spark, sf_dir):
    """Shuffle-key skew diagnosis over the declared fact tables."""
    out = None
    for label, table, key in SKEW_CHECKS:
        rep = key_skew_report(load_table(spark, sf_dir, table), label, key)
        out = rep if out is None else out.unionByName(rep)
    return out.orderBy(
        "keyed", "n_rows", "n_keys", "max_c", "p99_c", "avg_c",
        "skew_ratio", "top_share",
    )


# ------------------------------------------- hour-of-day seasonality
# The profile a stream pipeline consults before setting watermarks /
# autoscaling: per (event_type, hour-of-day), volume, mean value, and
# that hour's share of the type's traffic. One map-side-combinable
# hash agg over the fact table; the share window runs on the
# ALREADY-AGGREGATED table (n_types x 24 rows), so the only
# unpartitioned work in the plan is metadata-sized.


def h11_seasonality(spark, sf_dir):
    """Hour-of-day seasonality profile of the events stream."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    by = e.groupBy("event_type", F.hour("ts").alias("hod")).agg(
        F.count(F.lit(1)).alias("c"),
        nudge(F.avg("value"), 2).alias("avg_v"),
    )
    w = Window.partitionBy("event_type")
    return by.select(
        "event_type",
        "hod",
        "c",
        "avg_v",
        stab_signed(F.col("c") / F.sum("c").over(w), 4).alias("hr_share"),
    ).orderBy("event_type", "hod", "c", "avg_v", "hr_share")


# -------------------------------------------------- Benford audit
# First-significant-digit distribution vs Benford's law — the classic
# fabricated-data screen for financial columns. The digit comes from
# the decimal STRING rendering (first [1-9] char), not
# floor(x/10^floor(log10 x)): the float log path misclassifies exact
# powers of ten when log10 lands an ulp above the integer. One hash
# agg to 9 rows; expectation and deviation are per-row literals math.


def v11_benford_report(spark, sf_dir):
    """Benford first-digit audit of ``lineitem.l_extendedprice``."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    digit = F.regexp_extract(
        F.col("l_extendedprice").cast("string"), "[1-9]", 0
    ).cast("int")
    by = (
        li.where(F.col("l_extendedprice") > 0)
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy()
    obs = F.col("c") / F.sum("c").over(w)
    exp = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return by.select(
        "digit",
        "c",
        stab_signed(obs, 4).alias("obs_freq"),
        stab_signed(exp, 4).alias("exp_freq"),
        stab_signed(F.abs(obs - exp), 4).alias("dev"),
    ).orderBy("digit", "c", "obs_freq", "exp_freq", "dev")


# --------------------------------------------------- funnel analysis
# The product-analytics staple: how many users progress view → click
# → purchase, each step strictly after the previous one (first
# qualifying timestamp per step). Three user-keyed aggregates chained
# by broadcast-sized semi-state — each stage is one filter + groupBy
# over the events scan, the stage tables are user-cardinality, and
# the final report is three 1-row aggregates cross-joined: nothing in
# the plan grows faster than distinct users at 100 TB.
FUNNEL_STEPS = ("view", "click", "purchase")


def funnel(events: DataFrame, steps=FUNNEL_STEPS) -> DataFrame:
    """(step, n_users, conv_from_prev, conv_from_first) — strictly
    ordered first-touch funnel over the step event types."""
    stage = (
        events.where(F.col("event_type") == steps[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t"))
    )
    stages = [stage]
    for s in steps[1:]:
        nxt = (
            events.where(F.col("event_type") == s)
            .join(stages[-1].select("user_id", F.col("t").alias("pt")), "user_id")
            .where(F.col("ts") > F.col("pt"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("t"))
        )
        stages.append(nxt)
    counts = [
        st.agg(F.count(F.lit(1)).alias(f"n{i}")) for i, st in enumerate(stages)
    ]
    allc = counts[0]
    for c in counts[1:]:
        allc = allc.crossJoin(c)  # 1-row x 1-row
    rows = []
    for i, s in enumerate(steps):
        prev = F.col(f"n{i - 1}") if i else F.col("n0")
        rows.append(
            F.struct(
                F.lit(i + 1).alias("step_no"),
                F.lit(s).alias("step"),
                F.col(f"n{i}").alias("n_users"),
                # try_divide: NULL on an empty cohort (0/0) — matches
                # DuckDB's division semantics instead of ANSI-throwing
                stab_signed(F.try_divide(F.col(f"n{i}"), prev), 4).alias(
                    "conv_from_prev"
                ),
                stab_signed(F.try_divide(F.col(f"n{i}"), F.col("n0")), 4).alias(
                    "conv_from_first"
                ),
            )
        )
    return allc.select(F.explode(F.array(*rows)).alias("r")).select("r.*")


def h12_funnel(spark, sf_dir):
    """Strict-order view→click→purchase funnel over events — oracled
    by the identical chained-CTE computation in DuckDB."""
    e = load_table(spark, sf_dir, "events")
    return funnel(e).orderBy(
        "step_no", "step", "n_users", "conv_from_prev", "conv_from_first"
    )


# ----------------------------------------------- retention cohorts
# The other product-analytics staple next to h12: users cohorted by
# first-activity week, retention = share of the cohort active at each
# later week offset. Shape: one user-keyed min (first week), one
# (user, week) distinct, one join back on user, one (cohort, offset)
# count — every table after the scan is user- or cohort-cardinality,
# and the cohort-size join is against the offset-0 row of the same
# aggregate (no second scan).


def retention_cohorts(events: DataFrame) -> DataFrame:
    """(cohort_week, week_offset, n_active, retention)."""
    first = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cw")
    )
    active = (
        events.select("user_id", F.date_trunc("week", "ts").alias("w"))
        .distinct()
    )
    offs = materialize(  # read twice: rows + cohort-size lookup
        active.join(first, "user_id")
        .select(
            "cw",
            (F.datediff(F.col("w"), F.col("cw")) / 7).cast("int").alias("off"),
        )
        .groupBy("cw", "off")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    size = offs.where(F.col("off") == 0).select(
        "cw", F.col("n_active").alias("n0")
    )
    return offs.join(size, "cw").select(
        F.col("cw").alias("cohort_week"),
        F.col("off").alias("week_offset"),
        "n_active",
        stab_signed(F.col("n_active") / F.col("n0"), 4).alias("retention"),
    )


def h13_retention_cohorts(spark, sf_dir):
    """Weekly retention cohorts over events — oracled by the identical
    computation in DuckDB."""
    e = load_table(spark, sf_dir, "events")
    return retention_cohorts(e).orderBy(
        "cohort_week", "week_offset", "n_active", "retention"
    )


# ------------------------------------ functional-dependency audit
# Schema-quality profiling: for each declared candidate FD det→dep,
# how many determinant values map to more than one dependent value?
# A held FD is a normalization/compression opportunity (and an
# integrity invariant worth a constraint); a violated one quantifies
# denormalization noise. One map-combinable (det → distinct-dep)
# aggregate per FD, then a metadata-sized fold — each audit costs one
# scan of its table.
FD_CHECKS = (
    ("orders:o_orderkey->o_custkey", "orders", "o_orderkey", "o_custkey"),
    ("nation:n_nationkey->n_regionkey", "nation", "n_nationkey", "n_regionkey"),
    ("customer:c_nationkey->c_mktsegment", "customer", "c_nationkey", "c_mktsegment"),
    ("lineitem:l_orderkey->l_returnflag", "lineitem", "l_orderkey", "l_returnflag"),
    ("part:p_type->p_brand", "part", "p_type", "p_brand"),
)


def fd_audit(df: DataFrame, label: str, det: str, dep: str) -> DataFrame:
    per_key = df.groupBy(det).agg(F.countDistinct(dep).alias("nd"))
    return per_key.agg(
        F.lit(label).alias("fd"),
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)).alias("n_viol"),
        stab_signed(
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)) / F.count(F.lit(1)), 4
        ).alias("viol_rate"),
        F.max("nd").alias("max_deps"),
    )


def v12_fd_audit(spark, sf_dir):
    """Functional-dependency violation report over declared candidate
    FDs — oracled by the identical per-FD aggregation in DuckDB."""
    out = None
    for label, table, det, dep in FD_CHECKS:
        rep = fd_audit(load_table(spark, sf_dir, table), label, det, dep)
        out = rep if out is None else out.unionByName(rep)
    return out.orderBy("fd", "n_keys", "n_viol", "viol_rate", "max_deps")


QUERIES = {
    "j01_json_extract": j01_json_extract,
    "h01_time_rollup": h01_time_rollup,
    "h02_ohlc": h02_ohlc,
    "h03_matview_rollup": h03_matview_rollup,
    "h04_gap_fill": h04_gap_fill,
    "h05_sessionize": h05_sessionize,
    "h06_time_weighted": h06_time_weighted,
    "h07_m4_downsample": h07_m4_downsample,
    "h08_rolling_anomaly": h08_rolling_anomaly,
    "h09_lttb_downsample": h09_lttb_downsample,
    "h10_ewma_smooth": h10_ewma_smooth,
    "r01_range_join": r01_range_join,
    "v01_constraint_report": v01_constraint_report,
    "v02_drift_report": v02_drift_report,
    "v03_table_diff": v03_table_diff,
    "v04_outlier_report": v04_outlier_report,
    "v06_column_profile": v06_column_profile,
    "v06_column_profile_approx": v06_column_profile_approx,
    "v07_quantile_report": v07_quantile_report,
    "v08_referential_integrity": v08_referential_integrity,
    "v09_sketch_cardinality": v09_sketch_cardinality,
    "v10_skew_report": v10_skew_report,
    "h11_seasonality": h11_seasonality,
    "v11_benford_report": v11_benford_report,
    "h12_funnel": h12_funnel,
    "v12_fd_audit": v12_fd_audit,
    "h13_retention_cohorts": h13_retention_cohorts,
}

_EWMA_NUM_SQL = " + ".join(
    f"CASE WHEN {c} IS NOT NULL THEN {w} * {c} ELSE 0.0 END"
    for w, c in zip(EWMA_WEIGHTS, ["value"] + [f"l{k}" for k in range(1, 8)])
)
_EWMA_DEN_SQL = " + ".join(
    f"CASE WHEN {c} IS NOT NULL THEN {w} ELSE 0.0 END"
    for w, c in zip(EWMA_WEIGHTS, ["value"] + [f"l{k}" for k in range(1, 8)])
)
_EWMA_LAGS_SQL = ", ".join(
    f"lag(value, {k}) OVER w l{k}" for k in range(1, 8)
)

ORACLE_SQL["h10_ewma_smooth"] = f"""
        WITH l AS (
            SELECT event_id, user_id, value, {_EWMA_LAGS_SQL}
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        SELECT event_id, user_id, value,
               ROUND(ROUND(({_EWMA_NUM_SQL}) / ({_EWMA_DEN_SQL}), 9)
                     + 1e-12, 4) ewma
        FROM l ORDER BY event_id, user_id, value, ewma"""

ORACLE_SQL["v10_skew_report"] = "\nUNION ALL\n".join(
    f"""
        SELECT '{label}' keyed,
               CAST(SUM(c) AS BIGINT) n_rows,
               COUNT(*) n_keys,
               MAX(c) max_c,
               ROUND(ROUND(quantile_cont(c, 0.99), 6) + 1e-9, 2) p99_c,
               ROUND(ROUND(AVG(c), 6) + 1e-9, 2) avg_c,
               ROUND(ROUND(MAX(c) * 1.0 / AVG(c), 6) + 1e-9, 2) skew_ratio,
               ROUND(ROUND(MAX(c) * 1.0 / SUM(c), 9) + 1e-12, 4) top_share
        FROM (SELECT {key} k, COUNT(*) c FROM {table} GROUP BY {key})"""
    for label, table, key in SKEW_CHECKS
) + """
        ORDER BY keyed, n_rows, n_keys, max_c, p99_c, avg_c,
                 skew_ratio, top_share"""

ORACLE_SQL["h11_seasonality"] = """
        WITH b AS (
            SELECT event_type, CAST(EXTRACT(hour FROM ts) AS INT) hod,
                   COUNT(*) c,
                   ROUND(ROUND(AVG(value), 6) + 1e-9, 2) avg_v
            FROM events GROUP BY 1, 2)
        SELECT event_type, hod, c, avg_v,
               ROUND(ROUND(c * 1.0 / SUM(c) OVER (PARTITION BY event_type), 9)
                     + 1e-12, 4) hr_share
        FROM b ORDER BY event_type, hod, c, avg_v, hr_share"""

ORACLE_SQL["v11_benford_report"] = """
        WITH b AS (
            SELECT CAST(regexp_extract(CAST(l_extendedprice AS VARCHAR), '[1-9]', 0) AS INT) digit,
                   COUNT(*) c
            FROM lineitem WHERE l_extendedprice > 0 GROUP BY 1)
        SELECT digit, c,
               ROUND(ROUND(c * 1.0 / SUM(c) OVER (), 9) + 1e-12, 4) obs_freq,
               ROUND(ROUND(log10(1.0 + 1.0 / digit), 9) + 1e-12, 4) exp_freq,
               ROUND(ROUND(ABS(c * 1.0 / SUM(c) OVER () - log10(1.0 + 1.0 / digit)), 9)
                     + 1e-12, 4) dev
        FROM b ORDER BY digit, c, obs_freq, exp_freq, dev"""

ORACLE_SQL["h13_retention_cohorts"] = """
        WITH fw AS (SELECT user_id, date_trunc('week', MIN(ts)) cw
                    FROM events GROUP BY user_id),
        act AS (SELECT DISTINCT user_id, date_trunc('week', ts) w
                FROM events),
        offs AS (SELECT cw,
                        CAST(date_diff('day', cw, w) / 7 AS INT) wk_off,
                        COUNT(*) n_active
                 FROM act JOIN fw USING (user_id)
                 GROUP BY 1, 2),
        s0 AS (SELECT cw, n_active n0 FROM offs WHERE wk_off = 0)
        SELECT CAST(offs.cw AS TIMESTAMP) cohort_week, wk_off week_offset, n_active,
               ROUND(ROUND(n_active * 1.0 / n0, 9) + 1e-12, 4) retention
        FROM offs JOIN s0 ON offs.cw = s0.cw
        ORDER BY cohort_week, week_offset, n_active, retention"""

ORACLE_SQL["v12_fd_audit"] = "\nUNION ALL\n".join(
    f"""
        SELECT '{label}' fd,
               COUNT(*) n_keys,
               CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) n_viol,
               ROUND(ROUND(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 1.0
                           / COUNT(*), 9) + 1e-12, 4) viol_rate,
               MAX(nd) max_deps
        FROM (SELECT {det} k, COUNT(DISTINCT {dep}) nd FROM {table}
              GROUP BY {det})"""
    for label, table, det, dep in FD_CHECKS
) + """
        ORDER BY fd, n_keys, n_viol, viol_rate, max_deps"""

ORACLE_SQL["h12_funnel"] = """
        WITH s1 AS (SELECT user_id, MIN(ts) t FROM events
                    WHERE event_type = 'view' GROUP BY user_id),
        s2 AS (SELECT e.user_id, MIN(e.ts) t FROM events e
               JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
               WHERE e.event_type = 'click' GROUP BY e.user_id),
        s3 AS (SELECT e.user_id, MIN(e.ts) t FROM events e
               JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t
               WHERE e.event_type = 'purchase' GROUP BY e.user_id),
        c AS (SELECT (SELECT COUNT(*) FROM s1) n0,
                     (SELECT COUNT(*) FROM s2) n1,
                     (SELECT COUNT(*) FROM s3) n2)
        SELECT * FROM (
            SELECT 1 step_no, 'view' step, n0 n_users,
                   ROUND(ROUND(n0 * 1.0 / n0, 9) + 1e-12, 4) conv_from_prev,
                   ROUND(ROUND(n0 * 1.0 / n0, 9) + 1e-12, 4) conv_from_first
            FROM c
            UNION ALL
            SELECT 2, 'click', n1,
                   ROUND(ROUND(n1 * 1.0 / n0, 9) + 1e-12, 4),
                   ROUND(ROUND(n1 * 1.0 / n0, 9) + 1e-12, 4) FROM c
            UNION ALL
            SELECT 3, 'purchase', n2,
                   ROUND(ROUND(n2 * 1.0 / n1, 9) + 1e-12, 4),
                   ROUND(ROUND(n2 * 1.0 / n0, 9) + 1e-12, 4) FROM c)
        ORDER BY step_no, step, n_users, conv_from_prev, conv_from_first"""

ORACLE_SQL["h08_rolling_anomaly"] = f"""
        WITH scored AS (
            SELECT event_id, user_id, value,
                   COUNT(value) OVER w n,
                   AVG(value) OVER w mu,
                   STDDEV_POP(value) OVER w sd
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN {ANOM_LOOKBACK} PRECEDING AND 1 PRECEDING))
        SELECT event_id, user_id, value,
               ROUND(ROUND((value - mu) / sd, 9) + 1e-12, 4) z
        FROM scored
        WHERE n >= {ANOM_MIN_N} AND sd > 0 AND abs((value - mu) / sd) >= {ANOM_Z}
        ORDER BY event_id, user_id, value, z"""

ORACLE_SQL["v06_column_profile"] = """
        SELECT 'o_orderkey' col, COUNT(*) n_rows,
               CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) n_null,
               COUNT(DISTINCT o_orderkey) n_distinct,
               ROUND(CAST(MIN(o_orderkey) AS DOUBLE), 2) min_v, ROUND(CAST(MAX(o_orderkey) AS DOUBLE), 2) max_v, CAST(NULL AS VARCHAR) min_s, CAST(NULL AS VARCHAR) max_s
        FROM orders
        UNION ALL
        SELECT 'o_custkey' col, COUNT(*) n_rows,
               CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) n_null,
               COUNT(DISTINCT o_custkey) n_distinct,
               ROUND(CAST(MIN(o_custkey) AS DOUBLE), 2) min_v, ROUND(CAST(MAX(o_custkey) AS DOUBLE), 2) max_v, CAST(NULL AS VARCHAR) min_s, CAST(NULL AS VARCHAR) max_s
        FROM orders
        UNION ALL
        SELECT 'o_totalprice' col, COUNT(*) n_rows,
               CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) n_null,
               COUNT(DISTINCT o_totalprice) n_distinct,
               ROUND(CAST(MIN(o_totalprice) AS DOUBLE), 2) min_v, ROUND(CAST(MAX(o_totalprice) AS DOUBLE), 2) max_v, CAST(NULL AS VARCHAR) min_s, CAST(NULL AS VARCHAR) max_s
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus' col, COUNT(*) n_rows,
               CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) n_null,
               COUNT(DISTINCT o_orderstatus) n_distinct,
               CAST(NULL AS DOUBLE) min_v, CAST(NULL AS DOUBLE) max_v, MIN(o_orderstatus) min_s, MAX(o_orderstatus) max_s
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority' col, COUNT(*) n_rows,
               CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) n_null,
               COUNT(DISTINCT o_orderpriority) n_distinct,
               CAST(NULL AS DOUBLE) min_v, CAST(NULL AS DOUBLE) max_v, MIN(o_orderpriority) min_s, MAX(o_orderpriority) max_s
        FROM orders
        UNION ALL
        SELECT 'o_orderdate' col, COUNT(*) n_rows,
               CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) n_null,
               COUNT(DISTINCT o_orderdate) n_distinct,
               CAST(NULL AS DOUBLE) min_v, CAST(NULL AS DOUBLE) max_v, CAST(CAST(MIN(o_orderdate) AS DATE) AS VARCHAR) min_s, CAST(CAST(MAX(o_orderdate) AS DATE) AS VARCHAR) max_s
        FROM orders
        ORDER BY col, n_rows, n_null, n_distinct, min_v, max_v, min_s, max_s"""

ORACLE_SQL["v07_quantile_report"] = """
        SELECT o_orderstatus, COUNT(*) n,
               ROUND(ROUND(quantile_cont(o_totalprice, 0.5), 6) + 1e-9, 2) p50,
               ROUND(ROUND(quantile_cont(o_totalprice, 0.9), 6) + 1e-9, 2) p90,
               ROUND(ROUND(quantile_cont(o_totalprice, 0.99), 6) + 1e-9, 2) p99
        FROM orders GROUP BY o_orderstatus
        ORDER BY o_orderstatus, n, p50, p90, p99"""

ORACLE_SQL["v08_referential_integrity"] = """
        SELECT 'lineitem->orders' fk, (SELECT COUNT(*) FROM lineitem) n_rows,
               COUNT(*) FILTER (orphan) orphan_keys,
               CAST(COALESCE(SUM(n) FILTER (orphan), 0) AS BIGINT) orphan_rows
        FROM (SELECT l_orderkey k, COUNT(*) n,
                     l_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderkey IS NOT NULL) orphan
              FROM lineitem GROUP BY l_orderkey)
        UNION ALL
        SELECT 'orders->customer' fk, (SELECT COUNT(*) FROM orders) n_rows,
               COUNT(*) FILTER (orphan) orphan_keys,
               CAST(COALESCE(SUM(n) FILTER (orphan), 0) AS BIGINT) orphan_rows
        FROM (SELECT o_custkey k, COUNT(*) n,
                     o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL) orphan
              FROM orders GROUP BY o_custkey)
        UNION ALL
        SELECT 'lineitem->part' fk, (SELECT COUNT(*) FROM lineitem) n_rows,
               COUNT(*) FILTER (orphan) orphan_keys,
               CAST(COALESCE(SUM(n) FILTER (orphan), 0) AS BIGINT) orphan_rows
        FROM (SELECT l_partkey k, COUNT(*) n,
                     l_partkey NOT IN (SELECT p_partkey FROM part WHERE p_partkey IS NOT NULL) orphan
              FROM lineitem GROUP BY l_partkey)
        UNION ALL
        SELECT 'lineitem->supplier' fk, (SELECT COUNT(*) FROM lineitem) n_rows,
               COUNT(*) FILTER (orphan) orphan_keys,
               CAST(COALESCE(SUM(n) FILTER (orphan), 0) AS BIGINT) orphan_rows
        FROM (SELECT l_suppkey k, COUNT(*) n,
                     l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_suppkey IS NOT NULL) orphan
              FROM lineitem GROUP BY l_suppkey)
        ORDER BY fk, n_rows, orphan_keys, orphan_rows"""

ORACLE_SQL["h09_lttb_downsample"] = f"""
        WITH span AS (SELECT event_type, epoch_us(MIN(ts)) t0, epoch_us(MAX(ts)) t1
                      FROM events GROUP BY event_type),
        pts AS (SELECT e.event_type,
                       CAST((epoch_us(e.ts) - s.t0) * {LTTB_BUCKETS} // (s.t1 - s.t0 + 1) AS INTEGER) bucket,
                       e.ts, e.value,
                       (epoch_us(e.ts) - s.t0) / 1e6 x
                FROM events e JOIN span s USING (event_type)),
        cent AS (SELECT event_type, bucket, AVG(x) cx, AVG(value) cy
                 FROM pts GROUP BY event_type, bucket),
        anch AS (SELECT event_type, bucket,
                        LAG(cx)  OVER w px, LAG(cy)  OVER w py,
                        LEAD(cx) OVER w nx, LEAD(cy) OVER w ny
                 FROM cent WINDOW w AS (PARTITION BY event_type ORDER BY bucket)),
        scored AS (SELECT p.event_type, p.bucket, p.ts, p.value,
                          ROUND(ABS((COALESCE(a.px, p.x) - COALESCE(a.nx, p.x))
                                    * (p.value - COALESCE(a.py, p.value))
                                    - (COALESCE(a.px, p.x) - p.x)
                                    * (COALESCE(a.ny, p.value) - COALESCE(a.py, p.value))), 6) a
                   FROM pts p JOIN anch a USING (event_type, bucket))
        SELECT event_type, bucket, ts, ROUND(value, 2) "value"
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type, bucket
                                           ORDER BY a DESC, ts) rn
              FROM scored)
        WHERE rn = 1
        ORDER BY event_type, bucket, ts, "value"
"""


# --------------------------------------------------- AMOC changepoint
CP_MIN_N = 20  # users with shorter streams carry no detectable shift


def changepoints(events: DataFrame) -> DataFrame:
    """At-most-one-changepoint (AMOC) detection per user stream — the
    binary-segmentation primitive (the first split of Scott-Knott /
    PELT-style detectors): for every interior index t of the
    ts-ordered value series, the CUSUM-type statistic
    ``sqrt(t*(n-t)/n) * |mean(left) - mean(right)|``; the report is
    each user's argmax split (its position, epoch second, mean shift
    and statistic). The textbook recursive CUSUM
    (``s_t = max(0, s_{t-1} + x_t - k)``) does NOT distribute — this
    prefix-sum form is the standard scale-out rewrite: one ordered
    window pass, no recursion, no UDF.

    Scale shape: one window partitioned by ``user_id`` (millions of
    short per-user streams — same key discipline as h08); prefix sums
    accumulate in ts order, so left/right means derive from the SAME
    sequential additions on any engine (the totals reuse the prefix
    value at row n via ``last`` over the ordered frame rather than
    re-summing in partition order, which is not order-deterministic).
    The statistic is a pure function of those bit-identical prefixes;
    ranking ties break on position."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0))
    base = events.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.row_number().over(w).alias("rn"),
        cum.alias("cum"),
    ).withColumn(
        "total",
        F.last("cum").over(w.rowsBetween(0, Window.unboundedFollowing)),
    ).withColumn(
        "n", F.max("rn").over(Window.partitionBy("user_id"))
    )
    t = F.col("rn").cast("double")
    n = F.col("n").cast("double")
    shift = F.abs(F.col("cum") / t - (F.col("total") - F.col("cum")) / (n - t))
    stat = F.sqrt(t * (n - t) / n) * shift
    scored = base.where(
        (F.col("n") >= CP_MIN_N) & (F.col("rn") < F.col("n"))
    ).select(
        "user_id",
        "n",
        "rn",
        F.unix_timestamp("ts").alias("cp_epoch"),
        stat.alias("stat_raw"),
        shift.alias("shift_raw"),
    )
    pick = Window.partitionBy("user_id").orderBy(
        F.col("stat_raw").desc(), F.col("rn")
    )
    return (
        scored.withColumn("pr", F.row_number().over(pick))
        .where(F.col("pr") == 1)
        .select(
            "user_id",
            F.col("n").alias("n_events"),
            F.col("rn").alias("cp_index"),
            "cp_epoch",
            stab_signed("shift_raw", 4).alias("mean_shift"),
            stab_signed("stat_raw", 4).alias("cp_stat"),
        )
    )


def h14_changepoint(spark, sf_dir):
    """Per-user AMOC changepoint report over the events table —
    oracled by the identical prefix-sum statistic in DuckDB."""
    e = load_table(spark, sf_dir, "events")
    return changepoints(e).orderBy(
        "user_id", "n_events", "cp_index", "cp_epoch", "mean_shift", "cp_stat"
    )


QUERIES["h14_changepoint"] = h14_changepoint

ORACLE_SQL["h14_changepoint"] = f"""
        WITH b1 AS (
            SELECT user_id, ts, event_id, value,
                   ROW_NUMBER() OVER w rn,
                   SUM(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        base AS (
            SELECT user_id, ts, rn, cum,
                   LAST_VALUE(cum) OVER (w ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) total,
                   MAX(rn) OVER (PARTITION BY user_id) n
            FROM b1
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        scored AS (
            SELECT user_id, n, rn,
                   CAST(floor(epoch(ts)) AS BIGINT) cp_epoch,
                   ABS(cum / rn - (total - cum) / (n - rn)) shift_raw,
                   SQRT(rn * (n - rn) * 1.0 / n)
                       * ABS(cum / rn - (total - cum) / (n - rn)) stat_raw
            FROM base WHERE n >= {CP_MIN_N} AND rn < n)
        SELECT user_id, n n_events, rn cp_index, cp_epoch,
               ROUND(ROUND(shift_raw, 9) + 1e-12, 4) mean_shift,
               ROUND(ROUND(stat_raw, 9) + 1e-12, 4) cp_stat
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                           ORDER BY stat_raw DESC, rn) pr
              FROM scored)
        WHERE pr = 1
        ORDER BY user_id, n_events, cp_index, cp_epoch, mean_shift, cp_stat"""


def h15_interval_merge(spark, sf_dir):
    """Interval union (merge-overlapping-intervals / gaps-and-islands
    with a running max): each event is an interval
    ``[ts, ts + value seconds)`` and overlapping intervals per user
    merge into maximal islands — the downtime-window / coverage-union
    primitive. Distinct from h05's sessionize: intervals have
    VARIABLE lengths, so an early long interval can span several later
    short ones — island detection needs the cumulative MAX of interval
    ends over all preceding rows, not the previous row's gap.

    Scale shape: ONE shuffle of events on ``user_id``; the two window
    passes (cummax-of-end, cumsum-of-boundary-flags) and the island
    aggregate all reuse that partitioning. Determinism: boundaries
    compare exact integer microseconds — the duration is
    ``FLOOR(value * 1e6)`` µs (explicit FLOOR: Spark's double→long
    CAST truncates where DuckDB's rounds), so every engine draws
    identical island borders; no float reaches a predicate."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    end_us = F.unix_micros("ts") + F.floor(F.col("value") * 1_000_000).cast(
        "long"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = w.rowsBetween(Window.unboundedPreceding, -1)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged = (
        e.select("user_id", "ts", "event_id", end_us.alias("end_us"))
        .withColumn("prev_max_end", F.max("end_us").over(prev))
        .withColumn(
            "ni",
            F.when(
                F.col("prev_max_end").isNull()
                | (F.unix_micros("ts") > F.col("prev_max_end")),
                1,
            )
            .otherwise(0)
            .cast("long"),
        )
        .withColumn("island", F.sum("ni").over(run))
    )
    return (
        flagged.groupBy("user_id", "island")
        .agg(
            F.min("ts").alias("start_ts"),
            F.timestamp_micros(F.max("end_us")).alias("end_ts"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id", "island", "start_ts", "end_ts", "n_events")
    )


QUERIES["h15_interval_merge"] = h15_interval_merge

ORACLE_SQL["h15_interval_merge"] = """
        WITH b AS (
            SELECT user_id, ts, event_id,
                   epoch_us(ts) + CAST(FLOOR(value * 1000000) AS BIGINT) end_us
            FROM events),
        p AS (
            SELECT user_id, ts, event_id, end_us,
                   MAX(end_us) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) prev_max_end
            FROM b),
        f AS (
            SELECT *, CASE WHEN prev_max_end IS NULL
                             OR epoch_us(ts) > prev_max_end
                           THEN 1 ELSE 0 END ni
            FROM p),
        i AS (
            SELECT *, CAST(SUM(ni) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) island
            FROM f)
        SELECT user_id, island, MIN(ts) start_ts,
               make_timestamp(MAX(end_us)) end_ts, COUNT(*) n_events
        FROM i GROUP BY user_id, island
        ORDER BY user_id, island, start_ts, end_ts, n_events"""


def v13_split_drift(spark, sf_dir):
    """Split-composition drift report — the validation twin of t15's
    leakage-safe split assignment: per language, the share of each
    split's documents that language occupies, and the max pairwise
    share drift across train/val/test. A biased split (one language
    over-represented in val) is the classic silent eval-skew bug in
    LLM data pipelines; this is the report that catches it before
    training. Missing (split, language) cells read as 0 share.

    Scale shape: the split coin is a pure per-row projection (t15);
    one shuffle to (split, lang) counts, a 3-row broadcast of split
    totals, and a language-keyed pivot via conditional aggregation —
    no windows, no corpus-wide sort. Shares are non-negative and
    rounded 9→6 dp; drift subtracts already-rounded shares, so both
    engines compute identical bits."""
    d = load_table(spark, sf_dir, "documents")
    sp = split_assign(d).select("doc_id", "split")
    j = d.select("doc_id", "lang").join(sp, "doc_id")
    cnt = j.groupBy("split", "lang").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("split").agg(F.sum("c").alias("t"))
    sh = cnt.join(F.broadcast(tot), "split").select(
        "split",
        "lang",
        stab_signed(F.col("c") * 1.0 / F.col("t"), 6).alias("share"),
    )

    def share_of(split: str) -> F.Column:
        return F.coalesce(
            F.max(F.when(F.col("split") == split, F.col("share"))),
            F.lit(0.0),
        )

    piv = sh.groupBy("lang").agg(
        share_of("train").alias("train_share"),
        share_of("val").alias("val_share"),
        share_of("test").alias("test_share"),
    )
    drift = F.round(
        F.greatest("train_share", "val_share", "test_share")
        - F.least("train_share", "val_share", "test_share"),
        6,
    )
    return piv.select(
        "lang", "train_share", "val_share", "test_share",
        drift.alias("drift"),
    ).orderBy("lang", "train_share", "val_share", "test_share", "drift")


QUERIES["v13_split_drift"] = v13_split_drift


def _v13_oracle() -> str:
    return f"""
        WITH f AS (SELECT doc_id, lang,
                md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) fp
            FROM documents),
        g AS (SELECT doc_id, lang,
                     CASE WHEN {_u16_sql('fp')} < {SPLIT_TRAIN_LIM} THEN 'train'
                          WHEN {_u16_sql('fp')} < {SPLIT_VAL_LIM} THEN 'val'
                          ELSE 'test' END split
              FROM f),
        cnt AS (SELECT split, lang, COUNT(*) c FROM g GROUP BY split, lang),
        tot AS (SELECT split, SUM(c) t FROM cnt GROUP BY split),
        sh AS (SELECT cnt.split, lang,
                      ROUND(ROUND(c * 1.0 / t, 9) + 1e-12, 6) shr
               FROM cnt JOIN tot ON cnt.split = tot.split),
        piv AS (SELECT lang,
                       COALESCE(MAX(CASE WHEN split = 'train' THEN shr END), 0.0) train_share,
                       COALESCE(MAX(CASE WHEN split = 'val' THEN shr END), 0.0) val_share,
                       COALESCE(MAX(CASE WHEN split = 'test' THEN shr END), 0.0) test_share
                FROM sh GROUP BY lang)
        SELECT lang, train_share, val_share, test_share,
               ROUND(GREATEST(train_share, val_share, test_share)
                     - LEAST(train_share, val_share, test_share), 6) drift
        FROM piv
        ORDER BY lang, train_share, val_share, test_share, drift"""


ORACLE_SQL["v13_split_drift"] = _v13_oracle()




def v14_dup_label_consistency(spark, sf_dir):
    """Label-consistency-through-duplicates report: near-dup clusters
    (the d06 transitive closure over exact-Jaccard pairs) whose
    members disagree on ``source`` or ``lang``. Cross-SOURCE clusters
    are the provenance/licensing ambiguity a curation pipeline must
    resolve before attribution (the same text shipped under two
    origins); cross-LANG clusters are langid errors surfaced by
    near-identical text carrying different language labels — both are
    real bugs that plain per-table validation cannot see because each
    row is individually fine. One row per inconsistent multi-doc
    cluster with member/source/lang counts.

    Scale shape: the cluster map is d06's node-cardinality min-label
    propagation; the report is one aggregate on the cluster key with
    two COUNT(DISTINCT) measures. Integer-only output."""
    from crossfire_spark.functions.dedup import exact_jaccard_pairs
    from crossfire_spark.functions.graph import connected_components

    d = load_table(spark, sf_dir, "documents")
    cc = connected_components(exact_jaccard_pairs(d))
    full = (
        d.select("doc_id", "source", "lang")
        .join(cc, "doc_id", "left")
        .select(
            "source",
            "lang",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        )
    )
    agg = full.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
    )
    return agg.where(
        (F.col("n_sources") > 1) | (F.col("n_langs") > 1)
    ).orderBy("cluster_id", "n_docs", "n_sources", "n_langs")


QUERIES["v14_dup_label_consistency"] = v14_dup_label_consistency


def _v14_oracle() -> str:
    from crossfire_spark.functions.dedup import JACCARD_THRESHOLD

    return f"""
        WITH RECURSIVE w AS (SELECT doc_id, string_split(lower(text), ' ') words FROM documents),
        shd AS (SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') s
                FROM w, unnest(range(1, greatest(len(words) - 2, 1) + 1)) t(i)),
        ns AS (SELECT doc_id, COUNT(*) n FROM shd GROUP BY doc_id),
        inter AS (SELECT a.doc_id doc_a, b.doc_id doc_b, COUNT(*) i
                  FROM shd a JOIN shd b ON a.s = b.s AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
        pairs AS (SELECT doc_a, doc_b
                  FROM inter JOIN ns x ON doc_a = x.doc_id JOIN ns y ON doc_b = y.doc_id
                  WHERE i * 1.0 / (x.n + y.n - i) >= {JACCARD_THRESHOLD}),
        edges AS (SELECT doc_a a, doc_b b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
        reach(n, m) AS (SELECT a, a FROM edges
                        UNION
                        SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a),
        cc AS (SELECT n doc_id, MIN(m) cluster_id FROM reach GROUP BY n),
        f AS (SELECT d.source, d.lang,
                     COALESCE(cc.cluster_id, d.doc_id) cluster_id
              FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id),
        agg AS (SELECT cluster_id, COUNT(*) n_docs,
                       COUNT(DISTINCT source) n_sources,
                       COUNT(DISTINCT lang) n_langs
                FROM f GROUP BY cluster_id)
        SELECT cluster_id, n_docs, n_sources, n_langs
        FROM agg WHERE n_sources > 1 OR n_langs > 1
        ORDER BY cluster_id, n_docs, n_sources, n_langs"""


ORACLE_SQL["v14_dup_label_consistency"] = _v14_oracle()


MEDFILT_W = 6  # trailing window (rows): 7-point median filter


def h16_rolling_median(spark, sf_dir):
    """Rolling median filter — the ROBUST smoother (h10's EWMA twin):
    per user, the interpolated median of the trailing 7 values. A
    median filter removes impulsive spikes that any linear smoother
    (EWMA/moving average) smears; it is the standard pre-step before
    changepoint/anomaly scoring on noisy metrics. Also reports each
    point's absolute deviation from its local median — the robust
    spike magnitude.

    Spark-first: ``percentile`` is a true WINDOW aggregate here (one
    exchange on user_id, no collect_list detour, no UDF); DuckDB's
    ``quantile_cont`` states the identical interpolated statistic.
    Both engines interpolate the even-count midpoint; results are
    stabilized 9→4 dp (values ≥ 0 and |dev| is ABS-wrapped, so no
    -0.0 hazard)."""
    e = load_table(spark, sf_dir, "events")
    e.createOrReplaceTempView("cf_events_h16")
    return spark.sql(
        f"""
        SELECT user_id, event_id,
               ROUND(ROUND(med_raw, 9) + 1e-12, 4) med,
               ROUND(ROUND(ABS(value - med_raw), 9) + 1e-12, 4) dev
        FROM (SELECT user_id, event_id, value,
                     percentile(value, 0.5) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN {MEDFILT_W} PRECEDING AND CURRENT ROW
                     ) med_raw
              FROM cf_events_h16)
        ORDER BY user_id, event_id, med, dev"""
    )


QUERIES["h16_rolling_median"] = h16_rolling_median

ORACLE_SQL["h16_rolling_median"] = f"""
        SELECT user_id, event_id,
               ROUND(ROUND(med_raw, 9) + 1e-12, 4) med,
               ROUND(ROUND(ABS(value - med_raw), 9) + 1e-12, 4) dev
        FROM (SELECT user_id, event_id, value,
                     quantile_cont(value, 0.5) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN {MEDFILT_W} PRECEDING AND CURRENT ROW
                     ) med_raw
              FROM events)
        ORDER BY user_id, event_id, med, dev"""


def _v15_oracle() -> str:
    """DuckDB mirror of the drift gate: the same single FILTER-
    aggregate + per-column projection, rounding discipline included."""
    cols = []
    for c in DRIFT_COLS:
        cols.append(
            f"SELECT '{c}' col, bn base_rows, cn cur_rows,\n"
            f"  ROUND(ROUND({c}__bmean, 6) + 1e-9, 2) base_mean,\n"
            f"  ROUND(ROUND({c}__cmean, 6) + 1e-9, 2) cur_mean,\n"
            f"  ROUND(ROUND({c}__cnull / CAST(cn AS DOUBLE)"
            f" - {c}__bnull / CAST(bn AS DOUBLE), 9) + 1e-12, 4) + 0.0 null_delta,\n"
            f"  ROUND(ROUND(({c}__cmean - {c}__bmean) / ABS({c}__bmean), 9)"
            f" + 1e-12, 4) + 0.0 mean_shift,\n"
            f"  CASE WHEN ROUND(ROUND({c}__cnull / CAST(cn AS DOUBLE)"
            f" - {c}__bnull / CAST(bn AS DOUBLE), 9) + 1e-12, 4) + 0.0"
            f" > {DRIFT_NULL_TOL} THEN 'WARN_NULLS'\n"
            f"       WHEN ABS(ROUND(ROUND(({c}__cmean - {c}__bmean)"
            f" / ABS({c}__bmean), 9) + 1e-12, 4) + 0.0)"
            f" > {DRIFT_MEAN_TOL} THEN 'WARN_SHIFT'\n"
            f"       ELSE 'PASS' END status\n"
            f"FROM a"
        )
    metrics = [
        "COUNT(*) FILTER (WHERE o_orderkey % 2 = 0) bn",
        "COUNT(*) FILTER (WHERE o_orderkey % 2 = 1) cn",
    ]
    for c in DRIFT_COLS:
        for g, p in (("b", 0), ("c", 1)):
            metrics.append(
                f"CAST(COUNT(*) FILTER (WHERE o_orderkey % 2 = {p}"
                f" AND {c} IS NULL) AS BIGINT) {c}__{g}null"
            )
            metrics.append(
                f"AVG({c}) FILTER (WHERE o_orderkey % 2 = {p}) {c}__{g}mean"
            )
    body = ",\n          ".join(metrics)
    sel = "\nUNION ALL\n".join(cols)
    return (
        f"WITH a AS (SELECT {body} FROM orders)\n{sel}\n"
        "ORDER BY col, base_rows, cur_rows"
    )


QUERIES["v15_profile_drift_gate"] = v15_profile_drift_gate
ORACLE_SQL["v15_profile_drift_gate"] = _v15_oracle()


HOLT_ALPHA = 0.5   # level gain  — binary-exact literal on both engines
HOLT_BETA = 0.25   # trend gain  — binary-exact literal on both engines


def holt_linear(series: DataFrame) -> DataFrame:
    """Holt's linear-trend double exponential smoothing (Holt 1957;
    the trend-aware upgrade of h10's EWMA) over a (key, d, y) series
    table: per key, sequentially

        f_t = l_{t-1} + b_{t-1}            (one-step forecast)
        l_t = α·y_t + (1-α)·f_t            (level)
        b_t = β·(l_t - l_{t-1}) + (1-β)·b_{t-1}   (trend)

    seeded l_1 = y_1, b_1 = 0, f_1 = NULL. Unlike the bounded-horizon
    EWMA (which truncates to a lag window so a window expression can
    compute it), a trend recursion has no finite lag form — this is
    the canonical "genuinely sequential per key" operator, so it runs
    as one ``applyInPandas`` per key: ONE shuffle on the series key,
    state = one (level, trend) pair, scale in the number of series,
    never their length × keys. α, β are powers of two, so every
    arithmetic step is the identical IEEE double op in DuckDB's
    recursive-CTE replay — the whole recursion is cross-engine exact
    before the output rounding (level/trend/forecast stabilized
    ``ROUND(ROUND(x, 9) + 1e-12, 4) + 0.0``)."""
    a, b = HOLT_ALPHA, HOLT_BETA

    def _fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        n = len(pdf)
        level = [0.0] * n
        trend = [0.0] * n
        fcst: list = [None] * n
        lp, bp = 0.0, 0.0
        for i in range(n):
            y = float(pdf.y.iloc[i])
            if i == 0:
                level[i], trend[i] = y, 0.0
            else:
                f = lp + bp
                fcst[i] = f
                lv = a * y + (1.0 - a) * f
                level[i] = lv
                trend[i] = b * (lv - lp) + (1.0 - b) * bp
            lp, bp = level[i], trend[i]
        pdf["level"], pdf["trend"], pdf["forecast"] = level, trend, fcst
        return pdf

    out = series.groupBy("skey").applyInPandas(
        _fit,
        "skey string, d timestamp, y double, level double, trend double,"
        " forecast double",
    )
    return out.select(
        "skey",
        "d",
        "y",
        stab(F.col("level"), 4).alias("level"),
        stab(F.col("trend"), 4).alias("trend"),
        stab(F.col("forecast"), 4).alias("forecast"),
    )


def h17_holt_linear(spark, sf_dir):
    """Holt linear smoothing of the per-event-type daily value series
    — fully oracled by a DuckDB recursive-CTE replay of the identical
    recursion."""
    e = load_table(spark, sf_dir, "events")
    series = e.groupBy(
        F.col("event_type").alias("skey"),
        F.date_trunc("day", "ts").alias("d"),
    ).agg(F.round(F.sum("value"), 6).alias("y"))
    return holt_linear(series).orderBy("skey", "d", "y")


QUERIES["h17_holt_linear"] = h17_holt_linear

ORACLE_SQL["h17_holt_linear"] = f"""
        WITH RECURSIVE v AS (
            SELECT event_type skey, CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) d,
                   ROUND(SUM(value), 6) y,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                       ORDER BY CAST(DATE_TRUNC('day', ts) AS TIMESTAMP)) rn
            FROM events GROUP BY 1, 2),
        s AS (
            SELECT skey, rn, d, y, y AS "level", CAST(0.0 AS DOUBLE) "trend",
                   CAST(NULL AS DOUBLE) "forecast"
            FROM v WHERE rn = 1
            UNION ALL
            SELECT v.skey, v.rn, v.d, v.y,
                   {HOLT_ALPHA} * v.y + {1.0 - HOLT_ALPHA} * (s."level" + s."trend"),
                   {HOLT_BETA} * (({HOLT_ALPHA} * v.y
                       + {1.0 - HOLT_ALPHA} * (s."level" + s."trend")) - s."level")
                       + {1.0 - HOLT_BETA} * s."trend",
                   s.level + s.trend
            FROM s JOIN v ON v.skey = s.skey AND v.rn = s.rn + 1)
        SELECT skey, d, y,
               ROUND(ROUND("level", 9) + 1e-12, 4) + 0.0 AS "level",
               ROUND(ROUND("trend", 9) + 1e-12, 4) + 0.0 AS "trend",
               ROUND(ROUND("forecast", 9) + 1e-12, 4) + 0.0 AS "forecast"
        FROM s ORDER BY skey, d, y"""


def scd2_intervals(changes: DataFrame) -> DataFrame:
    """Slowly-Changing-Dimension type-2 build (Kimball's versioned
    dimension): every change row becomes a validity interval — open at
    its own timestamp, closed by the key's NEXT change
    (``valid_to = LEAD(ts)``, NULL while current). One LEAD window =
    one shuffle on the dimension key; at 100 TB the key space
    partitions freely and nothing is global. The streaming twin
    (st20) maintains the same table incrementally."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return changes.select(
        "user_id",
        "event_id",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        "event_type",
        F.round("value", 2).alias("v"),
    ).withColumn("is_current", F.col("valid_to").isNull())


def h18_scd2_intervals(spark, sf_dir):
    """SCD2 validity intervals of the per-user event changelog —
    fully oracled by the identical LEAD window in DuckDB."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    return scd2_intervals(e).orderBy(
        "user_id", "valid_from", "event_id", "event_type", "v"
    )


QUERIES["h18_scd2_intervals"] = h18_scd2_intervals

ORACLE_SQL["h18_scd2_intervals"] = """
        SELECT user_id, event_id, ts valid_from,
               LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   valid_to,
               event_type, ROUND(value, 2) v,
               LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS NULL is_current
        FROM events
        ORDER BY user_id, valid_from, event_id, event_type, v"""


KS_CRIT_05 = 1.358  # Smirnov asymptotic critical coefficient, alpha=0.05


def ks_two_sample(
    df: DataFrame, value_col: str, grp_col: str = "grp"
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the 0/1 splits
    of ``grp_col``: D = max_x |F_a(x) − F_b(x)|, with the standard
    tie handling (ECDFs evaluated after all occurrences of each
    distinct value). One row out: split sizes, D, the α=0.05
    asymptotic critical value c·√((n_a+n_b)/(n_a·n_b)), and the
    reject flag — the distribution-shift gate v15's mean test can't
    see (equal means, different shapes).

    Scale shape: per-value counts, then both ECDFs from ``prefix_sums``
    (exact integers: D is bit-deterministic before its stabilizer)."""
    spark = df.sparkSession
    pv = df.groupBy(F.col(value_col).alias("v")).agg(
        F.sum(F.when(F.col(grp_col) == 0, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col(grp_col) == 1, 1).otherwise(0)).alias("cb"),
    )
    cum, totals = prefix_sums(pv, [], ["v"], ["ca", "cb"])
    n = totals.get((), {"ca": 0, "cb": 0})
    n_a, n_b = n["ca"], n["cb"]
    if not n_a or not n_b:
        return spark.createDataFrame(
            [], "n_a long, n_b long, ks_d double, crit_05 double,"
            " reject boolean"
        )
    diff = F.abs(
        (F.col("ca_before") + F.col("ca")) / F.lit(float(n_a))
        - (F.col("cb_before") + F.col("cb")) / F.lit(float(n_b))
    )
    crit = KS_CRIT_05 * ((n_a + n_b) / (n_a * float(n_b))) ** 0.5
    return cum.agg(
        F.lit(n_a).cast("long").alias("n_a"),
        F.lit(n_b).cast("long").alias("n_b"),
        stab(F.max(diff)).alias("ks_d"),
        stab(F.lit(crit)).alias("crit_05"),
        (stab(F.max(diff)) > stab(F.lit(crit))).alias("reject"),
    )


def v16_ks_test(spark, sf_dir):
    """KS two-sample test of o_totalprice between the even/odd
    orderkey halves — fully oracled by the global-window ECDF in
    DuckDB (the oracle may use the one-task form; the engine's
    partition-offset form must equal it exactly)."""
    o = load_table(spark, sf_dir, "orders").withColumn(
        "grp", F.pmod("o_orderkey", F.lit(2)).cast("int")
    )
    return ks_two_sample(o, "o_totalprice").orderBy("n_a", "n_b", "ks_d")


QUERIES["v16_ks_test"] = v16_ks_test

ORACLE_SQL["v16_ks_test"] = f"""
        WITH g AS (SELECT o_totalprice v,
                          COUNT(*) FILTER (WHERE o_orderkey % 2 = 0) ca,
                          COUNT(*) FILTER (WHERE o_orderkey % 2 = 1) cb
                   FROM orders GROUP BY 1),
        t AS (SELECT SUM(ca) na, SUM(cb) nb FROM g),
        c AS (SELECT SUM(ca) OVER (ORDER BY v) la,
                     SUM(cb) OVER (ORDER BY v) lb FROM g)
        SELECT CAST(t.na AS BIGINT) n_a, CAST(t.nb AS BIGINT) n_b,
               ROUND(ROUND(MAX(ABS(la / CAST(t.na AS DOUBLE)
                   - lb / CAST(t.nb AS DOUBLE))), 9) + 1e-12, 6) + 0.0 ks_d,
               ROUND(ROUND({KS_CRIT_05} * sqrt((t.na + t.nb)
                   / (t.na * CAST(t.nb AS DOUBLE))), 9) + 1e-12, 6) + 0.0 crit_05,
               ROUND(ROUND(MAX(ABS(la / CAST(t.na AS DOUBLE)
                   - lb / CAST(t.nb AS DOUBLE))), 9) + 1e-12, 6)
                 > ROUND(ROUND({KS_CRIT_05} * sqrt((t.na + t.nb)
                   / (t.na * CAST(t.nb AS DOUBLE))), 9) + 1e-12, 6) reject
        FROM c, t
        WHERE t.na > 0 AND t.nb > 0  -- engine emits 0 rows on an empty split
        GROUP BY t.na, t.nb
        ORDER BY n_a, n_b, ks_d"""


def h19_forecast_backtest(spark, sf_dir):
    """Rolling-origin backtest of h17's one-step-ahead Holt forecasts
    — the evaluation loop that decides whether a forecaster is fit to
    alert on (per series: MAE, MAPE, mean signed bias over every step
    that had a forecast). Composes h17's recursion (already
    cross-engine exact) with one per-key aggregate; the bias column is
    sign-indefinite so it carries the negative-zero guard."""
    e = load_table(spark, sf_dir, "events")
    series = e.groupBy(
        F.col("event_type").alias("skey"),
        F.date_trunc("day", "ts").alias("d"),
    ).agg(F.round(F.sum("value"), 6).alias("y"))
    fit = holt_linear(series).where(F.col("forecast").isNotNull())
    err = F.col("y") - F.col("forecast")
    return (
        fit.groupBy("skey")
        .agg(
            F.count(F.lit(1)).alias("n_steps"),
            F.avg(F.abs(err)).alias("_mae"),
            # y == 0 buckets are excluded from MAPE (ANSI-division
            # discipline: avg ignores the NULLed terms on both engines)
            F.avg(
                F.when(F.col("y") != 0, F.abs(err) / F.abs(F.col("y")))
            ).alias("_mape"),
            F.avg(err).alias("_bias"),
        )
        .select(
            "skey",
            "n_steps",
            stab(F.col("_mae"), 4).alias("mae"),
            stab(F.col("_mape"), 4).alias("mape"),
            stab(F.col("_bias"), 4).alias("bias"),
        )
        .orderBy("skey", "n_steps", "mae", "mape", "bias")
    )


QUERIES["h19_forecast_backtest"] = h19_forecast_backtest

ORACLE_SQL["h19_forecast_backtest"] = (
    ORACLE_SQL["h17_holt_linear"]
    .replace(
        '''SELECT skey, d, y,
               ROUND(ROUND("level", 9) + 1e-12, 4) + 0.0 AS "level",
               ROUND(ROUND("trend", 9) + 1e-12, 4) + 0.0 AS "trend",
               ROUND(ROUND("forecast", 9) + 1e-12, 4) + 0.0 AS "forecast"
        FROM s ORDER BY skey, d, y''',
        '''SELECT skey, CAST(COUNT(*) AS BIGINT) n_steps,
               ROUND(ROUND(AVG(ABS(y - f4)), 9) + 1e-12, 4) + 0.0 mae,
               ROUND(ROUND(AVG(CASE WHEN y <> 0
                   THEN ABS(y - f4) / ABS(y) END), 9) + 1e-12, 4)
                   + 0.0 mape,
               ROUND(ROUND(AVG(y - f4), 9) + 1e-12, 4) + 0.0 bias
        FROM (SELECT skey, y,
                     ROUND(ROUND("forecast", 9) + 1e-12, 4) + 0.0 f4
              FROM s WHERE "forecast" IS NOT NULL)
        GROUP BY skey
        ORDER BY skey, n_steps, mae, mape, bias''',
    )
)


ANOM_K = 3.0  # flag when |err| exceeds K x the expanding mean abs error


def h20_forecast_anomaly(spark, sf_dir):
    """Forecast-residual anomaly detection — the alerting loop h19's
    backtest qualifies: per series, each day's absolute one-step
    forecast error compares against the EXPANDING mean absolute error
    of all PRIOR forecast days (a self-calibrating threshold that
    needs no fixed scale); days where err > K·baseline flag as
    anomalies. Composes h17's cross-engine-exact recursion with one
    expanding window over the same series key — no new shuffle key.
    All comparisons run on 6-dp-rounded quantities on BOTH engines so
    the boolean can't flip on summation-order noise."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    series = e.groupBy(
        F.col("event_type").alias("skey"),
        F.date_trunc("day", "ts").alias("d"),
    ).agg(F.round(F.sum("value"), 6).alias("y"))
    fit = holt_linear(series).where(F.col("forecast").isNotNull())
    err = F.round(F.abs(F.col("y") - F.col("forecast")), 6)
    w = (
        Window.partitionBy("skey")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = fit.select("skey", "d", "y", "forecast", err.alias("err")).withColumn(
        "baseline", F.round(F.avg("err").over(w), 6)
    )
    return out.select(
        "skey",
        "d",
        "y",
        "err",
        F.col("baseline"),
        F.when(
            F.col("baseline").isNotNull(),
            F.col("err") > F.round(F.lit(ANOM_K) * F.col("baseline"), 6),
        ).otherwise(F.lit(False)).alias("is_anomaly"),
    ).orderBy("skey", "d", "y", "err", "baseline", "is_anomaly")


QUERIES["h20_forecast_anomaly"] = h20_forecast_anomaly

ORACLE_SQL["h20_forecast_anomaly"] = (
    ORACLE_SQL["h17_holt_linear"]
    .replace(
        '''SELECT skey, d, y,
               ROUND(ROUND("level", 9) + 1e-12, 4) + 0.0 AS "level",
               ROUND(ROUND("trend", 9) + 1e-12, 4) + 0.0 AS "trend",
               ROUND(ROUND("forecast", 9) + 1e-12, 4) + 0.0 AS "forecast"
        FROM s ORDER BY skey, d, y''',
        '''SELECT skey, d, y, err, baseline,
               CASE WHEN baseline IS NOT NULL
                    THEN err > ROUND(3.0 * baseline, 6)
                    ELSE FALSE END is_anomaly
        FROM (SELECT skey, d, y, err,
                     ROUND(AVG(err) OVER (PARTITION BY skey ORDER BY d
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                         6) baseline
              FROM (SELECT skey, d, y,
                           ROUND(ABS(y - (ROUND(ROUND("forecast", 9)
                               + 1e-12, 4) + 0.0)), 6) err
                    FROM s WHERE "forecast" IS NOT NULL))
        ORDER BY skey, d, y, err, baseline, is_anomaly''',
    )
)


# ------------------------------------------------------------------
# h21: Holt–Winters additive seasonal smoothing (triple exponential)

HW_PERIOD = 7      # weekly seasonality over the daily series
HW_ALPHA = 0.5     # level gain   — power of two: binary-exact on both engines
HW_BETA = 0.25     # trend gain
HW_GAMMA = 0.25    # seasonal gain


def holt_winters_seasonal(series: DataFrame, period: int = HW_PERIOD) -> DataFrame:
    """Holt–Winters additive triple exponential smoothing (Winters
    1960; h17's Holt recursion + a rotating seasonal state) over a
    (skey, d, y) series: per key, with m = ``period``, sequentially

        f_t = l_{t-1} + b_{t-1} + s_{t-m}            (forecast)
        l_t = α·(y_t − s_{t-m}) + (1−α)·(l_{t-1}+b_{t-1})
        b_t = β·(l_t − l_{t-1}) + (1−β)·b_{t-1}
        s_t = γ·(y_t − l_t) + (1−γ)·s_{t-m}

    seeded at observation m by l_m = y_m, b_m = 0,
    s_i = y_i − y_m for i ≤ m (a pure order-determined seeding — no
    aggregate whose float summation order could differ across
    engines). The first m−1 observations are the warm-up and emit no
    rows; keys with fewer than m observations emit none.

    Like h17 this is the canonical genuinely-sequential-per-key
    operator: one ``applyInPandas`` per key = ONE shuffle on the
    series key; state is (level, trend, m seasonals) per key, so
    scale is in the number of series, never their length. All gains
    are powers of two and every arithmetic step is written in the
    same operand order as the DuckDB recursive-CTE oracle (which
    carries the m seasonals as a rotating LIST column), so the whole
    recursion is cross-engine IEEE-exact before the output
    stabilization ``ROUND(ROUND(x, 9) + 1e-12, 4) + 0.0``."""
    a, b_, g = HW_ALPHA, HW_BETA, HW_GAMMA
    m = period

    def _fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        n = len(pdf)
        if n < m:
            return pdf.iloc[0:0].assign(
                level=0.0, trend=0.0, season=0.0, forecast=0.0
            )
        y = [float(v) for v in pdf.y]
        seas = [y[i] - y[m - 1] for i in range(m)]
        lv, tr = y[m - 1], 0.0
        level = [lv]
        trend = [tr]
        season = [seas[m - 1]]  # = 0.0 by the seeding
        fcst: list = [None]
        for t in range(m, n):
            s_tm = seas.pop(0)
            f = lv + tr + s_tm
            l_new = a * (y[t] - s_tm) + (1.0 - a) * (lv + tr)
            t_new = b_ * (l_new - lv) + (1.0 - b_) * tr
            s_new = g * (y[t] - l_new) + (1.0 - g) * s_tm
            seas.append(s_new)
            lv, tr = l_new, t_new
            level.append(lv)
            trend.append(tr)
            season.append(s_new)
            fcst.append(f)
        out = pdf.iloc[m - 1:].copy()
        out["level"], out["trend"] = level, trend
        out["season"], out["forecast"] = season, fcst
        return out

    out = series.groupBy("skey").applyInPandas(
        _fit,
        "skey string, d timestamp, y double, level double, trend double,"
        " season double, forecast double",
    )
    return out.select(
        "skey",
        "d",
        "y",
        stab(F.col("level"), 4).alias("level"),
        stab(F.col("trend"), 4).alias("trend"),
        stab(F.col("season"), 4).alias("season"),
        stab(F.col("forecast"), 4).alias("forecast"),
    )


def h21_holt_winters(spark, sf_dir):
    """Holt–Winters additive-seasonal smoothing of the per-event-type
    daily value series (period 7) — fully oracled by a DuckDB
    recursive CTE that carries the rotating seasonal state as a LIST
    column and replays the identical IEEE arithmetic.

    The daily series is built as an INTEGER-CENTS floor-sum
    (SUM(FLOOR(value*100)) / 100.0): a float SUM's result depends on
    summation order, and a 1-ulp input difference walking through 150
    recursion steps can straddle the output-rounding boundary (it did,
    once, at sf0.1 with ROUND(SUM,6)) — the integer aggregate is
    order-independent, so the recursion inputs are bit-identical
    across engines by construction, not by luck."""
    e = load_table(spark, sf_dir, "events")
    series = e.groupBy(
        F.col("event_type").alias("skey"),
        F.date_trunc("day", "ts").alias("d"),
    ).agg(
        (F.sum(F.floor(F.col("value") * 100)) / F.lit(100.0)).alias("y")
    )
    return holt_winters_seasonal(series).orderBy("skey", "d", "y")


QUERIES["h21_holt_winters"] = h21_holt_winters

_HW_L = f"{HW_ALPHA}*(v.y - s.seas[1]) + {1.0 - HW_ALPHA}*(s.l + s.b)"
ORACLE_SQL["h21_holt_winters"] = f"""
        WITH RECURSIVE v AS (
            SELECT event_type skey, CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) d,
                   CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS DOUBLE)
                       / 100.0 y,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                       ORDER BY CAST(DATE_TRUNC('day', ts) AS TIMESTAMP)) rn
            FROM events GROUP BY 1, 2),
        ym AS (SELECT skey, y ym FROM v WHERE rn = {HW_PERIOD}),
        s AS (
            SELECT v.skey, {HW_PERIOD} rn, CAST(NULL AS DOUBLE) f,
                   ym.ym l, CAST(0.0 AS DOUBLE) b,
                   list(v.y - ym.ym ORDER BY v.rn) seas
            FROM v JOIN ym USING (skey) WHERE v.rn <= {HW_PERIOD}
            GROUP BY v.skey, ym.ym
            UNION ALL
            SELECT v.skey, v.rn,
                   s.l + s.b + s.seas[1],
                   {_HW_L},
                   {HW_BETA}*(({_HW_L}) - s.l) + {1.0 - HW_BETA}*s.b,
                   list_append(s.seas[2:],
                       {HW_GAMMA}*(v.y - ({_HW_L})) + {1.0 - HW_GAMMA}*s.seas[1])
            FROM s JOIN v ON v.skey = s.skey AND v.rn = s.rn + 1)
        SELECT s.skey, v.d, v.y,
               ROUND(ROUND(s.l, 9) + 1e-12, 4) + 0.0 AS "level",
               ROUND(ROUND(s.b, 9) + 1e-12, 4) + 0.0 AS "trend",
               ROUND(ROUND(s.seas[{HW_PERIOD}], 9) + 1e-12, 4) + 0.0 AS season,
               ROUND(ROUND(s.f, 9) + 1e-12, 4) + 0.0 AS forecast
        FROM s JOIN v ON v.skey = s.skey AND v.rn = s.rn
        ORDER BY s.skey, v.d, v.y"""


NMI_DEPENDENT_THRESHOLD = 0.02


def mutual_information(
    df: DataFrame, x_col: str, y_col: str
) -> DataFrame:
    """Mutual-information dependence audit between two categorical
    columns: MI = Σ p(x,y)·ln(p(x,y)/(p(x)p(y))), entropies H(X)/H(Y),
    and the normalized score NMI = MI/√(H(X)·H(Y)) — the *soft*
    complement of v12's functional-dependency audit (FD says "Y is a
    function of X"; MI measures HOW MUCH knowing X tells you about Y,
    catching the partial couplings an exact FD check calls simply
    "violated"). A data-curation team runs this before stratifying or
    splitting on a column: a split key with high NMI against the
    label leaks the label across splits.

    Scale shape: ONE shuffle — the (x, y) contingency aggregate
    (map-side combinable counts); the marginals derive from that
    k_x·k_y-row table, never from a second corpus scan, and every
    join after the first aggregate is over category-cardinality
    tables (broadcast). Determinism: all probabilities are ratios of
    exact BIGINT counts; ln terms are summed once and the outputs
    stabilized with the double-round discipline; the n > 0 guard
    makes the empty-input answer zero rows on both engines (the
    ADVICE r7 degenerate-input rule)."""
    joint = materialize(  # k_x*k_y rows; read by marginals + terms
        df.groupBy(F.col(x_col).alias("x"), F.col(y_col).alias("y"))
        .agg(F.count(F.lit(1)).alias("cxy"))
    )
    mx = joint.groupBy("x").agg(F.sum("cxy").alias("cx"))
    my = joint.groupBy("y").agg(F.sum("cxy").alias("cy"))
    tot = joint.agg(
        F.sum("cxy").alias("n"),
        F.count(F.lit(1)).alias("k_xy"),
    )

    # H terms from the marginal tables (ln over exact counts; the
    # n-division happens once, after the sums)
    hx_sum = mx.agg(
        F.sum(F.col("cx").cast("double") * F.log(F.col("cx").cast("double"))).alias("sx"),
        F.count(F.lit(1)).alias("k_x"),
    )
    hy_sum = my.agg(
        F.sum(F.col("cy").cast("double") * F.log(F.col("cy").cast("double"))).alias("sy"),
        F.count(F.lit(1)).alias("k_y"),
    )
    mi_sum = (
        joint.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(tot.select("n")))
        .agg(
            F.sum(
                F.col("cxy").cast("double")
                * F.log(
                    F.col("cxy").cast("double")
                    * F.col("n")
                    / (F.col("cx").cast("double") * F.col("cy"))
                )
            ).alias("sm")
        )
    )
    nd = F.col("n").cast("double")
    h_x = F.log(nd) - F.col("sx") / nd
    h_y = F.log(nd) - F.col("sy") / nd
    mi = F.col("sm") / nd
    nmi = F.when(
        (h_x > F.lit(0.0)) & (h_y > F.lit(0.0)), mi / F.sqrt(h_x * h_y)
    ).otherwise(F.lit(0.0))
    return (
        tot.crossJoin(F.broadcast(hx_sum))
        .crossJoin(F.broadcast(hy_sum))
        .crossJoin(F.broadcast(mi_sum))
        .where(F.col("n") > 0)
        .select(
            F.col("n").cast("long").alias("n"),
            F.col("k_x").cast("long").alias("k_x"),
            F.col("k_y").cast("long").alias("k_y"),
            F.col("k_xy").cast("long").alias("k_xy"),
            stab(h_x).alias("h_x"),
            stab(h_y).alias("h_y"),
            stab(mi).alias("mi"),
            stab(nmi).alias("nmi"),
            (stab(nmi) > F.lit(NMI_DEPENDENT_THRESHOLD)).alias("dependent"),
        )
    )


def v17_mutual_information(spark, sf_dir):
    """MI/NMI dependence audit of documents.lang vs documents.source
    — the pre-split leakage check (is the language mix independent of
    the source mix?). Fully oracled by the identical contingency
    arithmetic in DuckDB."""
    d = load_table(spark, sf_dir, "documents")
    return mutual_information(d, "lang", "source").orderBy("n")


QUERIES["v17_mutual_information"] = v17_mutual_information

ORACLE_SQL["v17_mutual_information"] = f"""
        WITH joint AS (SELECT lang x, source y, COUNT(*) cxy
                       FROM documents GROUP BY 1, 2),
        mx AS (SELECT x, SUM(cxy) cx FROM joint GROUP BY x),
        my AS (SELECT y, SUM(cxy) cy FROM joint GROUP BY y),
        tot AS (SELECT SUM(cxy) n, COUNT(*) k_xy FROM joint),
        hx AS (SELECT SUM(CAST(cx AS DOUBLE) * LN(CAST(cx AS DOUBLE))) sx,
                      COUNT(*) k_x FROM mx),
        hy AS (SELECT SUM(CAST(cy AS DOUBLE) * LN(CAST(cy AS DOUBLE))) sy,
                      COUNT(*) k_y FROM my),
        ms AS (SELECT SUM(CAST(cxy AS DOUBLE)
                          * LN(CAST(cxy AS DOUBLE) * n
                               / (CAST(cx AS DOUBLE) * cy))) sm
               FROM joint JOIN mx USING (x) JOIN my USING (y)
                    CROSS JOIN tot),
        raw AS (SELECT CAST(n AS BIGINT) n, CAST(k_x AS BIGINT) k_x,
                       CAST(k_y AS BIGINT) k_y, CAST(k_xy AS BIGINT) k_xy,
                       LN(CAST(n AS DOUBLE)) - sx / CAST(n AS DOUBLE) h_x,
                       LN(CAST(n AS DOUBLE)) - sy / CAST(n AS DOUBLE) h_y,
                       sm / CAST(n AS DOUBLE) mi
                FROM tot CROSS JOIN hx CROSS JOIN hy CROSS JOIN ms
                WHERE n > 0),
        fin AS (SELECT n, k_x, k_y, k_xy,
                       ROUND(ROUND(h_x, 9) + 1e-12, 6) + 0.0 h_x,
                       ROUND(ROUND(h_y, 9) + 1e-12, 6) + 0.0 h_y,
                       ROUND(ROUND(mi, 9) + 1e-12, 6) + 0.0 mi,
                       ROUND(ROUND(CASE WHEN h_x > 0.0 AND h_y > 0.0
                                        THEN mi / SQRT(h_x * h_y)
                                        ELSE 0.0 END, 9) + 1e-12, 6)
                           + 0.0 nmi
                FROM raw)
        SELECT n, k_x, k_y, k_xy, h_x, h_y, mi, nmi,
               nmi > {NMI_DEPENDENT_THRESHOLD} AS dependent
        FROM fin ORDER BY n"""


# ------------------------------------- classical seasonal decomposition
# h11 profiles hour-of-day SHARES and h21 smooths with Holt-Winters;
# neither answers the decomposition question a capacity planner asks
# first: "after removing the trend, what is each hour's additive
# seasonal effect?" (classical additive decomposition, the
# moving-average method of Hyndman & Athanasopoulos, *Forecasting:
# Principles and Practice* §3.4 — STL's loess is replaced by the
# textbook centered 2x24 MA, which IS the classical method for an
# even period).

SD_PERIOD = 24  # hourly phase; centered 2x24 moving average
SD_HALF = SD_PERIOD // 2


def seasonal_decompose(e: DataFrame) -> DataFrame:
    """Classical additive seasonal decomposition of the per-event-type
    HOURLY value series: trend = centered 2x24 MA, detrended = y -
    trend, seasonal(hod) = mean detrended at that hour-of-day phase,
    plus the centered variant (seasonal - overall mean detrended).
    Gaps collapse to observation rank (the MA slides over observed
    hours) — declared, deterministic, and what a rank-indexed audit
    wants; phase still comes from the real wall-clock hour.

    EXACT-ARITHMETIC SHAPE (the h21 integer-cents lesson, taken one
    step further): the hourly level is an integer-cents BIGINT; both
    MA half-window sums stay BIGINT inside the window frames (window
    SUM over DOUBLE is summation-order-dependent and DuckDB's
    segment-tree order differs from Spark's frame iteration); the
    detrended value is held as the EXACT integer numerator
    det4800 = 48*cents - (S1+S2) over the common denominator 4800,
    so the per-phase group sums are again order-independent BIGINTs.
    Exactly TWO float divisions happen, both last. No sum of squares
    anywhere: det4800^2 would overflow BIGINT around hourly sums of
    ~2e8 cents, so variance-explained is deliberately NOT reported.

    Scale shape: one shuffle to hourly grain (map-side combinable),
    one window per series key (a series is one partition's worth of
    hourly rows — years fit in memory), one 24-row-per-key aggregate.
    Output is k_types x 24 rows."""
    from pyspark.sql import Window

    hourly = e.groupBy(
        F.col("event_type").alias("skey"),
        F.date_trunc("hour", "ts").alias("b"),
    ).agg(
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents")
    )
    w = Window.partitionBy("skey").orderBy("b")
    s1 = w.rowsBetween(-SD_HALF, SD_HALF - 1)
    s2 = w.rowsBetween(-(SD_HALF - 1), SD_HALF)
    framed = hourly.select(
        "skey",
        F.hour("b").alias("hod"),
        "cents",
        F.sum("cents").over(s1).alias("s1"),
        F.count("cents").over(s1).alias("c1"),
        F.sum("cents").over(s2).alias("s2"),
        F.count("cents").over(s2).alias("c2"),
    )
    det = framed.where(
        (F.col("c1") == SD_PERIOD) & (F.col("c2") == SD_PERIOD)
    ).select(
        "skey",
        "hod",
        (
            F.col("cents") * (2 * SD_PERIOD) - (F.col("s1") + F.col("s2"))
        ).alias("det4800"),
    )
    per_hod = det.groupBy("skey", "hod").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum("det4800").alias("dsum"),
    )
    overall = det.groupBy("skey").agg(
        F.count(F.lit(1)).alias("tn"),
        F.sum("det4800").alias("tsum"),
    )
    denom = float(2 * SD_PERIOD * 100)  # 4800: cents x 2x24-MA scale

    raw = F.col("dsum") / (F.lit(denom) * F.col("n_obs"))
    mean_all = F.col("tsum") / (F.lit(denom) * F.col("tn"))
    return per_hod.join(overall, "skey").select(
        "skey",
        "hod",
        "n_obs",
        stab(raw).alias("seasonal"),
        stab(raw - mean_all).alias("seasonal_centered"),
    )


def h22_seasonal_decompose(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    return seasonal_decompose(e).orderBy(
        "skey", "hod", "n_obs", "seasonal", "seasonal_centered"
    )


QUERIES["h22_seasonal_decompose"] = h22_seasonal_decompose

ORACLE_SQL["h22_seasonal_decompose"] = f"""
        WITH hourly AS (
            SELECT event_type skey,
                   CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) b,
                   SUM(CAST(FLOOR(value * 100) AS BIGINT)) cents
            FROM events GROUP BY 1, 2),
        framed AS (
            SELECT skey, CAST(HOUR(b) AS INT) hod, cents,
                   SUM(cents) OVER (PARTITION BY skey ORDER BY b
                       ROWS BETWEEN {SD_HALF} PRECEDING
                                AND {SD_HALF - 1} FOLLOWING) s1,
                   COUNT(cents) OVER (PARTITION BY skey ORDER BY b
                       ROWS BETWEEN {SD_HALF} PRECEDING
                                AND {SD_HALF - 1} FOLLOWING) c1,
                   SUM(cents) OVER (PARTITION BY skey ORDER BY b
                       ROWS BETWEEN {SD_HALF - 1} PRECEDING
                                AND {SD_HALF} FOLLOWING) s2,
                   COUNT(cents) OVER (PARTITION BY skey ORDER BY b
                       ROWS BETWEEN {SD_HALF - 1} PRECEDING
                                AND {SD_HALF} FOLLOWING) c2
            FROM hourly),
        det AS (
            SELECT skey, hod,
                   cents * {2 * SD_PERIOD} - (s1 + s2) det4800
            FROM framed
            WHERE c1 = {SD_PERIOD} AND c2 = {SD_PERIOD}),
        per_hod AS (
            SELECT skey, hod, CAST(COUNT(*) AS BIGINT) n_obs,
                   SUM(det4800) dsum
            FROM det GROUP BY skey, hod),
        overall AS (
            SELECT skey, CAST(COUNT(*) AS BIGINT) tn, SUM(det4800) tsum
            FROM det GROUP BY skey)
        SELECT p.skey, p.hod, p.n_obs,
               ROUND(ROUND(CAST(p.dsum AS DOUBLE)
                           / ({2 * SD_PERIOD * 100}.0 * p.n_obs), 9)
                     + 1e-12, 6) + 0.0 seasonal,
               ROUND(ROUND(CAST(p.dsum AS DOUBLE)
                           / ({2 * SD_PERIOD * 100}.0 * p.n_obs)
                           - CAST(o.tsum AS DOUBLE)
                             / ({2 * SD_PERIOD * 100}.0 * o.tn), 9)
                     + 1e-12, 6) + 0.0 seasonal_centered
        FROM per_hod p JOIN overall o USING (skey)
        ORDER BY skey, hod, n_obs, seasonal, seasonal_centered"""


# --------------------------------------------- Spearman rank audit
# v16 tests distribution equality and q46/g10 report PEARSON
# correlation; the monotonicity audit between them is Spearman's
# rank rho: rho_s >> rho_p flags a nonlinear-but-monotone relation,
# rho_p >> rho_s flags outlier-driven correlation. Tie handling is
# the textbook average-rank (fractional) form, carried as the exact
# INTEGER 2*avg_rank = 2*rank_min + ties - 1 — correlation is
# affine-invariant, so corr(r2x, r2y) IS rho_s with no float rank
# arithmetic anywhere before the one corr() aggregate (rounded to
# 4 dp with the g10 epsilon — the corr accumulator is the only
# engine-specific float path).


def _r2_map(li: DataFrame, vcol: str, out: str) -> DataFrame:
    """Distributed (l_returnflag, vcol) -> 2*avg_rank - 1 map.

    Identity: avg (fractional) rank of value v within its group is
    rank_min + (ties-1)/2 where rank_min = 1 + #(rows < v); so
    2*avg_rank - 1 = 2*#(rows < v) + ties — an exact BIGINT with no
    float rank arithmetic. #(rows < v) is ``prefix_sums`` over the
    distinct (group, v) tie counts, not a window on the 3-valued
    l_returnflag."""
    vals = li.groupBy("l_returnflag", vcol).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    ranked, _ = prefix_sums(vals, ["l_returnflag"], [vcol], ["cnt"])
    return ranked.select(
        "l_returnflag",
        vcol,
        (F.lit(2) * F.col("cnt_before") + F.col("cnt")).alias(out),
    )


def spearman_audit(li: DataFrame) -> DataFrame:
    """Per-returnflag Spearman vs Pearson correlation of
    (l_quantity, l_extendedprice): n, rho_s, rho_p, and the
    monotonicity gap rho_s - rho_p.

    Scale shape: two ``_r2_map`` rank maps, each joined back to
    lineitem on its high-cardinality (group, value) key, + ONE
    corr/count aggregate. The integer 2*avg_rank keeps rank
    arithmetic exact; only corr() touches floats."""
    rq = _r2_map(li, "l_quantity", "r2q")
    rp = _r2_map(li, "l_extendedprice", "r2p")
    ranked = (
        li.select("l_returnflag", "l_quantity", "l_extendedprice")
        .join(rq, ["l_returnflag", "l_quantity"])
        .join(rp, ["l_returnflag", "l_extendedprice"])
    )

    return (
        ranked.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.corr("r2q", "r2p").alias("rho_s_raw"),
            F.corr("l_quantity", "l_extendedprice").alias("rho_p_raw"),
        )
        .select(
            "l_returnflag",
            "n",
            (nudge(F.col("rho_s_raw"), 4) + 0.0).alias("rho_s"),
            (nudge(F.col("rho_p_raw"), 4) + 0.0).alias("rho_p"),
            (nudge(F.col("rho_s_raw") - F.col("rho_p_raw"), 4) + 0.0).alias(
                "monotone_gap"
            ),
        )
    )


def v18_spearman_audit(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return spearman_audit(li).orderBy(
        "l_returnflag", "n", "rho_s", "rho_p", "monotone_gap"
    )


QUERIES["v18_spearman_audit"] = v18_spearman_audit

ORACLE_SQL["v18_spearman_audit"] = """
        WITH ranked AS (
            SELECT l_returnflag, l_quantity, l_extendedprice,
                   2 * RANK() OVER (PARTITION BY l_returnflag
                                    ORDER BY l_quantity)
                     + COUNT(*) OVER (PARTITION BY l_returnflag,
                                      l_quantity) - 2 r2q,
                   2 * RANK() OVER (PARTITION BY l_returnflag
                                    ORDER BY l_extendedprice)
                     + COUNT(*) OVER (PARTITION BY l_returnflag,
                                      l_extendedprice) - 2 r2p
            FROM lineitem)
        SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) n,
               ROUND(ROUND(corr(r2q, r2p), 6) + 1e-9, 4) + 0.0 rho_s,
               ROUND(ROUND(corr(l_quantity, l_extendedprice), 6)
                     + 1e-9, 4) + 0.0 rho_p,
               ROUND(ROUND(corr(r2q, r2p)
                           - corr(l_quantity, l_extendedprice), 6)
                     + 1e-9, 4) + 0.0 monotone_gap
        FROM ranked GROUP BY l_returnflag
        ORDER BY l_returnflag, n, rho_s, rho_p, monotone_gap"""


# ---------------------------------------------------- SAX symbols
# h22 decomposes the hourly series; h23 DISCRETIZES it: Piecewise
# Aggregate Approximation + symbol assignment (SAX — Lin, Keogh,
# Lonardi & Chiu 2003, "A Symbolic Representation of Time Series").
# Classic SAX z-normalizes and uses Gaussian breakpoints; the
# z-norm's sum-of-squares is an engine-specific float accumulation,
# so this variant uses per-series QUARTILE breakpoints over the PAA
# means instead (DATA-adaptive breakpoints are a standard SAX
# variant, and quartiles ride the proven v07 percentile ≡
# quantile_cont equivalence). Everything before the one PAA division
# and the quartile interpolation is exact BIGINT.

SAX_SEG_HOURS = 4  # PAA segment length (hours per symbol)


def sax_symbols(e: DataFrame) -> DataFrame:
    """PAA + quartile-SAX over the per-event-type hourly cents
    series: one row per (skey, seg) with the segment's hour count,
    PAA mean (stab 6 dp) and symbol a/b/c/d (a = lowest quartile).
    Rank-indexed like h22 (gaps collapse); segments are full by
    construction except each series' tail.

    Scale shape: hourly rollup shuffle, one rank window per series,
    one segment aggregate, one 3-number-per-series quartile table
    broadcast back. Symbols compare UNROUNDED doubles against the
    quartiles — both are bit-identical across engines because their
    inputs (exact integer sums, one division, linear interpolation)
    are."""
    from pyspark.sql import Window

    hourly = e.groupBy(
        F.col("event_type").alias("skey"),
        F.date_trunc("hour", "ts").alias("b"),
    ).agg(
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents")
    )
    w = Window.partitionBy("skey").orderBy("b")
    seg = hourly.select(
        "skey",
        "cents",
        ((F.row_number().over(w) - 1) / F.lit(SAX_SEG_HOURS))
        .cast("long")
        .alias("seg"),
    )
    paa = seg.groupBy("skey", "seg").agg(
        F.count(F.lit(1)).alias("n_hours"),
        (F.sum("cents") / (F.lit(100.0) * F.count(F.lit(1)))).alias("paa"),
    )
    bp = paa.groupBy("skey").agg(
        F.expr("percentile(paa, array(0.25, 0.5, 0.75))").alias("q")
    )

    return paa.join(F.broadcast(bp), "skey").select(
        "skey",
        "seg",
        "n_hours",
        stab(F.col("paa")).alias("paa"),
        F.when(F.col("paa") < F.col("q")[0], F.lit("a"))
        .when(F.col("paa") < F.col("q")[1], F.lit("b"))
        .when(F.col("paa") < F.col("q")[2], F.lit("c"))
        .otherwise(F.lit("d"))
        .alias("symbol"),
    )


def h23_sax_symbols(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    return sax_symbols(e).orderBy("skey", "seg", "n_hours", "paa", "symbol")


QUERIES["h23_sax_symbols"] = h23_sax_symbols

# the PAA/quartile CTE chain, shared verbatim by the h23 oracle and
# the h24 motif oracle so the two statements can never disagree about
# the discretization
_SAX_CTE = f"""
        WITH hourly AS (
            SELECT event_type skey,
                   CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) b,
                   SUM(CAST(FLOOR(value * 100) AS BIGINT)) cents
            FROM events GROUP BY 1, 2),
        seg AS (
            SELECT skey, cents,
                   -- '//' (integer floor division): bare '/' is float
                   -- division in DuckDB and CAST(double AS BIGINT)
                   -- ROUNDS, splitting segments 3/5 instead of 4/4
                   CAST((ROW_NUMBER() OVER (PARTITION BY skey ORDER BY b)
                         - 1) // {SAX_SEG_HOURS} AS BIGINT) seg
            FROM hourly),
        paa AS (
            SELECT skey, seg, CAST(COUNT(*) AS BIGINT) n_hours,
                   CAST(SUM(cents) AS DOUBLE) / (100.0 * COUNT(*)) paa
            FROM seg GROUP BY skey, seg),
        bp AS (
            SELECT skey, quantile_cont(paa, [0.25, 0.5, 0.75]) q
            FROM paa GROUP BY skey)"""

ORACLE_SQL["h23_sax_symbols"] = f"""{_SAX_CTE}
        SELECT p.skey, p.seg, p.n_hours,
               ROUND(ROUND(p.paa, 9) + 1e-12, 6) + 0.0 paa,
               CASE WHEN p.paa < q[1] THEN 'a'
                    WHEN p.paa < q[2] THEN 'b'
                    WHEN p.paa < q[3] THEN 'c'
                    ELSE 'd' END symbol
        FROM paa p JOIN bp USING (skey)
        ORDER BY skey, seg, n_hours, paa, symbol"""


# ------------------------------------------------- h24 SAX motifs
# h23 discretizes the series; h24 MINES it: motif discovery over the
# SAX word stream (Lin, Keogh, Lonardi & Chiu 2003 §5 / Chiu, Keogh
# & Lonardi 2003, "Probabilistic Discovery of Time Series Motifs" —
# repeated symbolic words locate recurring raw-series patterns).
# Words are TUMBLING (4 consecutive segments, stride 4), which is
# also how the motif literature excludes "trivial matches": a sliding
# word trivially repeats against its own neighbors one offset over.

MOTIF_W = 4  # SAX symbols per word


def sax_motifs(e: DataFrame) -> DataFrame:
    """Per (series, SAX word): occurrence count, first/last word
    position, and the motif flag (word seen >= 2 times). Every word is
    reported — never an empty result — with ``is_motif`` as an exact
    0/1 BIGINT so the oracle compare stays integer.

    Scale shape: h23's rollup + rank window per series, then three
    LEADs over the SAME window (no extra shuffle — one sort serves
    rank and leads), a modulo filter, and one (skey, word)-keyed
    aggregate. Strings and BIGINTs end to end; the only floats are
    inside h23's proven-bit-exact symbol assignment."""
    from pyspark.sql import Window

    sym = sax_symbols(e)
    w = Window.partitionBy("skey").orderBy("seg")
    words = (
        sym.select(
            "skey",
            "seg",
            "symbol",
            F.lead("symbol", 1).over(w).alias("s1"),
            F.lead("symbol", 2).over(w).alias("s2"),
            F.lead("symbol", 3).over(w).alias("s3"),
        )
        .where((F.col("seg") % MOTIF_W == 0) & F.col("s3").isNotNull())
        .select(
            "skey",
            (F.col("seg") / MOTIF_W).cast("long").alias("wseg"),
            F.concat("symbol", "s1", "s2", "s3").alias("word"),
        )
    )
    return words.groupBy("skey", "word").agg(
        F.count(F.lit(1)).alias("n_occ"),
        F.min("wseg").alias("first_wseg"),
        F.max("wseg").alias("last_wseg"),
        (F.count(F.lit(1)) >= 2).cast("long").alias("is_motif"),
    )


def h24_sax_motifs(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    return sax_motifs(e).orderBy(
        "skey", "word", "n_occ", "first_wseg", "last_wseg", "is_motif"
    )


QUERIES["h24_sax_motifs"] = h24_sax_motifs

ORACLE_SQL["h24_sax_motifs"] = f"""{_SAX_CTE},
        sym AS (
            SELECT p.skey, p.seg,
                   CASE WHEN p.paa < q[1] THEN 'a'
                        WHEN p.paa < q[2] THEN 'b'
                        WHEN p.paa < q[3] THEN 'c'
                        ELSE 'd' END symbol
            FROM paa p JOIN bp USING (skey)),
        lw AS (
            SELECT skey, seg, symbol,
                   LEAD(symbol, 1) OVER (PARTITION BY skey ORDER BY seg) s1,
                   LEAD(symbol, 2) OVER (PARTITION BY skey ORDER BY seg) s2,
                   LEAD(symbol, 3) OVER (PARTITION BY skey ORDER BY seg) s3
            FROM sym),
        words AS (
            SELECT skey, CAST(seg // {MOTIF_W} AS BIGINT) wseg,
                   symbol || s1 || s2 || s3 word
            FROM lw WHERE seg % {MOTIF_W} = 0 AND s3 IS NOT NULL)
        SELECT skey, word, CAST(COUNT(*) AS BIGINT) n_occ,
               CAST(MIN(wseg) AS BIGINT) first_wseg,
               CAST(MAX(wseg) AS BIGINT) last_wseg,
               CAST(CASE WHEN COUNT(*) >= 2 THEN 1 ELSE 0 END AS BIGINT) is_motif
        FROM words GROUP BY skey, word
        ORDER BY skey, word, n_occ, first_wseg, last_wseg, is_motif"""


# ------------------------------------------- v19 chi2 independence
# v17 measures dependence in information units (MI/NMI); v19 is the
# CLASSICAL test on the same contingency: Pearson's chi-squared
# statistic + Cramér's V effect size (Cramér 1946, §21.9) with
# Cohen's conventional tiers. The statistic uses the observed-cells
# identity chi2 = n * (sum_cells o^2/(cx*cy) - 1) — algebraically
# equal to sum (o-e)^2/e over the FULL k_x x k_y grid (empty cells'
# o=0 terms fold into the -1), so the computation never generates
# the grid: one pass over the observed contingency rows only, the
# exact shape that survives a high-cardinality column pair at 100 TB.

CRAMERS_TIERS = ((0.5, "strong"), (0.3, "moderate"), (0.1, "weak"))


def chi2_independence(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """One-row report: n, k_x, k_y, dof, chi2, cramers_v, tier.

    Scale shape is v17's: ONE contingency shuffle (map-side
    combinable), marginals derived from the contingency (never a
    second corpus scan), every later join broadcast. All inputs to
    the one float sum are ratios of exact BIGINTs (cxy^2 < 2^53 up to
    ~9e7-row cells); chi2 clamps at 0 before the sqrt because the
    float sum may land a hair under 1 on an independent pair."""
    joint = materialize(  # read by both marginals + the term sum
        df.groupBy(F.col(x_col).alias("x"), F.col(y_col).alias("y"))
        .agg(F.count(F.lit(1)).alias("cxy"))
    )
    mx = joint.groupBy("x").agg(F.sum("cxy").alias("cx"))
    my = joint.groupBy("y").agg(F.sum("cxy").alias("cy"))
    tot = joint.agg(F.sum("cxy").alias("n"))
    kx = mx.agg(F.count(F.lit(1)).alias("k_x"))
    ky = my.agg(F.count(F.lit(1)).alias("k_y"))
    s = (
        joint.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .agg(
            F.sum(
                (F.col("cxy").cast("double") * F.col("cxy"))
                / (F.col("cx").cast("double") * F.col("cy"))
            ).alias("s")
        )
    )

    nd = F.col("n").cast("double")
    chi2 = F.greatest(nd * (F.col("s") - F.lit(1.0)), F.lit(0.0))
    mind = F.least(F.col("k_x") - 1, F.col("k_y") - 1)
    v = F.when(
        mind > 0, F.sqrt(chi2 / (nd * mind.cast("double")))
    ).otherwise(F.lit(0.0))
    vs = stab(v, 6)
    tier = (
        F.when(vs >= CRAMERS_TIERS[0][0], F.lit(CRAMERS_TIERS[0][1]))
        .when(vs >= CRAMERS_TIERS[1][0], F.lit(CRAMERS_TIERS[1][1]))
        .when(vs >= CRAMERS_TIERS[2][0], F.lit(CRAMERS_TIERS[2][1]))
        .otherwise(F.lit("negligible"))
    )
    return (
        tot.crossJoin(F.broadcast(kx))
        .crossJoin(F.broadcast(ky))
        .crossJoin(F.broadcast(s))
        .where(F.col("n") > 0)
        .select(
            F.col("n").cast("long").alias("n"),
            F.col("k_x").cast("long").alias("k_x"),
            F.col("k_y").cast("long").alias("k_y"),
            ((F.col("k_x") - 1) * (F.col("k_y") - 1))
            .cast("long")
            .alias("dof"),
            stab(chi2, 4).alias("chi2"),
            vs.alias("cramers_v"),
            tier.alias("tier"),
        )
    )


def v19_chi2_independence(spark, sf_dir):
    """Chi-squared + Cramér's V audit of documents.lang vs
    documents.source — the classical-statistics twin of v17's MI over
    the same contingency. Fully oracled by the identical
    observed-cells arithmetic in DuckDB."""
    d = load_table(spark, sf_dir, "documents")
    return chi2_independence(d, "lang", "source").orderBy("n")


QUERIES["v19_chi2_independence"] = v19_chi2_independence

ORACLE_SQL["v19_chi2_independence"] = f"""
        WITH joint AS (SELECT lang x, source y, COUNT(*) cxy
                       FROM documents GROUP BY 1, 2),
        mx AS (SELECT x, SUM(cxy) cx FROM joint GROUP BY x),
        my AS (SELECT y, SUM(cxy) cy FROM joint GROUP BY y),
        tot AS (SELECT SUM(cxy) n FROM joint),
        kx AS (SELECT COUNT(*) k_x FROM mx),
        ky AS (SELECT COUNT(*) k_y FROM my),
        ts AS (SELECT SUM((CAST(cxy AS DOUBLE) * cxy)
                          / (CAST(cx AS DOUBLE) * cy)) s
               FROM joint JOIN mx USING (x) JOIN my USING (y)),
        raw AS (SELECT CAST(n AS BIGINT) n, CAST(k_x AS BIGINT) k_x,
                       CAST(k_y AS BIGINT) k_y,
                       GREATEST(CAST(n AS DOUBLE) * (s - 1.0), 0.0) chi2
                FROM tot CROSS JOIN kx CROSS JOIN ky CROSS JOIN ts
                WHERE n > 0),
        fin AS (SELECT n, k_x, k_y,
                       CAST((k_x - 1) * (k_y - 1) AS BIGINT) dof,
                       ROUND(ROUND(chi2, 9) + 1e-12, 4) + 0.0 chi2,
                       ROUND(ROUND(CASE WHEN LEAST(k_x - 1, k_y - 1) > 0
                                        THEN SQRT(chi2 / (CAST(n AS DOUBLE)
                                             * CAST(LEAST(k_x - 1, k_y - 1)
                                                    AS DOUBLE)))
                                        ELSE 0.0 END, 9) + 1e-12, 6)
                           + 0.0 cramers_v
                FROM raw)
        SELECT n, k_x, k_y, dof, chi2, cramers_v,
               CASE WHEN cramers_v >= {CRAMERS_TIERS[0][0]} THEN '{CRAMERS_TIERS[0][1]}'
                    WHEN cramers_v >= {CRAMERS_TIERS[1][0]} THEN '{CRAMERS_TIERS[1][1]}'
                    WHEN cramers_v >= {CRAMERS_TIERS[2][0]} THEN '{CRAMERS_TIERS[2][1]}'
                    ELSE 'negligible' END tier
        FROM fin ORDER BY n"""


# ----------------------------------------- autocorrelation function
# h22 removes the 24h seasonal effect and h11 profiles phase shares;
# neither reports the statistic a forecaster checks FIRST: the sample
# autocorrelation function r_k (Box & Jenkins) of the hourly series,
# and its portmanteau significance (Ljung-Box 1978). Implemented over
# the same hourly integer-cents rollup as h22 (windows run over the
# COLLAPSED series — the declared low-cardinality-window exemption:
# one series-key partition holds hourly rows, never raw events).
# Reference parity: the crossfire reference has no time-series tier;
# these extend the engine's h-family instrument set.

ACF_MAX_LAG = 6
# chi-square 95th percentile at ACF_MAX_LAG dof (Ljung-Box null)
LB_CRIT_95 = 12.5916


def _acf_components(e: DataFrame):
    """Shared h25/h26 aggregate: per event-type series, the series
    length n, the centered denominator den = sum((y-m)^2) and lag
    numerators num_k = sum((y_t-m)(y_{t-k}-m)) for k=1..ACF_MAX_LAG,
    over the hourly integer-cents rollup ranked by observed hour
    (gaps collapse to rank, the h22 declaration).

    Determinism: m = S/n is ONE IEEE division of exact BIGINTs, so
    every per-row deviation is bit-identical in either engine; only
    the num/den SUM accumulators are order-dependent, and every
    consumer stabilizes (round 9 -> +1e-12 -> round out) before
    comparing. Scale shape: one map-side-combinable shuffle to hourly
    grain, ONE window over the collapsed series computing all
    ACF_MAX_LAG lags, one aggregate."""
    from pyspark.sql import Window

    hourly = e.groupBy(
        F.col("event_type").alias("skey"),
        F.date_trunc("hour", "ts").alias("b"),
    ).agg(
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents")
    )
    w = Window.partitionBy("skey").orderBy("b")
    lagged = hourly.select(
        "skey",
        "cents",
        *[
            F.lag("cents", k).over(w).alias(f"l{k}")
            for k in range(1, ACF_MAX_LAG + 1)
        ],
    )
    stats = lagged.groupBy("skey").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s")
    )
    m = F.col("s").cast("double") / F.col("n").cast("double")
    dev = F.col("cents").cast("double") - m
    return (
        lagged.join(F.broadcast(stats), "skey")
        .groupBy("skey")
        .agg(
            F.first("n").alias("n"),
            F.sum(dev * dev).alias("den"),
            *[
                F.sum(
                    (F.col(f"l{k}").cast("double") - m) * dev
                ).alias(f"num{k}")
                for k in range(1, ACF_MAX_LAG + 1)
            ],
        )
    )


def acf_report(e: DataFrame) -> DataFrame:
    """h25: per event-type series, sample ACF r_k at lags
    1..ACF_MAX_LAG over the hourly cents series: (skey, lag, n,
    n_pairs, r). r is stabilized 9 -> 6 dp; constant series (den=0)
    report r = 0.0 by declaration."""
    comp = _acf_components(e)
    long = comp.select(
        "skey",
        "n",
        "den",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("long").alias("lag"),
                        F.col(f"num{k}").alias("num"),
                    )
                    for k in range(1, ACF_MAX_LAG + 1)
                ]
            )
        ).alias("x"),
    ).select("skey", "n", "den", "x.lag", "x.num")

    return long.where(F.col("n") > F.col("lag")).select(
        "skey",
        "lag",
        "n",
        (F.col("n") - F.col("lag")).alias("n_pairs"),
        stab(
            F.when(F.col("den") > 0, F.col("num") / F.col("den")).otherwise(
                F.lit(0.0)
            )
        ).alias("r"),
    )


def h25_acf(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    return acf_report(e).orderBy("skey", "lag", "n", "n_pairs", "r")


QUERIES["h25_acf"] = h25_acf


def _acf_oracle_ctes() -> str:
    lag_cols = ",\n                   ".join(
        f"LAG(cents, {k}) OVER (PARTITION BY skey ORDER BY b) l{k}"
        for k in range(1, ACF_MAX_LAG + 1)
    )
    num_cols = ",\n                   ".join(
        f"SUM((CAST(l{k} AS DOUBLE) - m)"
        f" * (CAST(cents AS DOUBLE) - m)) num{k}"
        for k in range(1, ACF_MAX_LAG + 1)
    )
    return f"""
        WITH hourly AS (
            SELECT event_type skey,
                   CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) b,
                   SUM(CAST(FLOOR(value * 100) AS BIGINT)) cents
            FROM events GROUP BY 1, 2),
        lagged AS (
            SELECT skey, b, cents,
                   {lag_cols}
            FROM hourly),
        stats AS (
            SELECT skey, CAST(COUNT(*) AS BIGINT) n,
                   CAST(SUM(cents) AS DOUBLE)
                     / CAST(COUNT(*) AS DOUBLE) m
            FROM lagged GROUP BY skey),
        comp AS (
            SELECT l.skey, s.n,
                   SUM((CAST(cents AS DOUBLE) - m)
                       * (CAST(cents AS DOUBLE) - m)) den,
                   {num_cols}
            FROM lagged l JOIN stats s USING (skey)
            GROUP BY l.skey, s.n)"""


def _acf_oracle() -> str:
    unions = "\n            UNION ALL ".join(
        f"SELECT skey, CAST({k} AS BIGINT) lag, n, den, num{k} num"
        f" FROM comp"
        for k in range(1, ACF_MAX_LAG + 1)
    )
    return f"""{_acf_oracle_ctes()},
        long AS ({unions})
        SELECT skey, lag, n, n - lag n_pairs,
               ROUND(ROUND(CASE WHEN den > 0 THEN num / den
                                ELSE 0.0 END, 9) + 1e-12, 6) + 0.0 r
        FROM long WHERE n > lag
        ORDER BY skey, lag, n, n_pairs, r"""


ORACLE_SQL["h25_acf"] = _acf_oracle()


def ljung_box(e: DataFrame) -> DataFrame:
    """h26: Ljung-Box portmanteau statistic per event-type series,
    Q = n(n+2) * sum_{k=1..K} r_k^2/(n-k), over h25's ACF at
    K = ACF_MAX_LAG lags. Q is built from the 6-dp-STABILIZED r_k in
    one EXPLICIT fixed-association expression (r1 term + r2 term +
    ...), so no order-dependent float aggregation exists between the
    rounded ACF and the final stabilizer; the 5% chi-square decision
    compares the 4-dp-rounded Q so both engines see the same
    boundary. Series shorter than K+1 hours are dropped (Q needs
    every lag)."""
    comp = _acf_components(e)

    def r6(k: int) -> F.Column:
        raw = F.when(
            F.col("den") > 0, F.col(f"num{k}") / F.col("den")
        ).otherwise(F.lit(0.0))
        return stab(raw)

    nd = F.col("n").cast("double")
    q = F.lit(0.0)
    for k in range(1, ACF_MAX_LAG + 1):
        q = q + r6(k) * r6(k) / (nd - F.lit(float(k)))
    q = nd * (nd + F.lit(2.0)) * q
    q4 = stab(q, 4)
    return comp.where(F.col("n") > ACF_MAX_LAG).select(
        "skey",
        "n",
        F.lit(ACF_MAX_LAG).cast("long").alias("dof"),
        q4.alias("q_lb"),
        (q4 > F.lit(LB_CRIT_95)).alias("reject_white_noise"),
    )


def h26_ljung_box(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    return ljung_box(e).orderBy("skey", "n", "dof", "q_lb")


QUERIES["h26_ljung_box"] = h26_ljung_box


def _lb_oracle() -> str:
    terms = []
    for k in range(1, ACF_MAX_LAG + 1):
        r = (
            f"(ROUND(ROUND(CASE WHEN den > 0 THEN num{k} / den"
            f" ELSE 0.0 END, 9) + 1e-12, 6) + 0.0)"
        )
        terms.append(f"{r} * {r} / (CAST(n AS DOUBLE) - {k}.0)")
    qexpr = " + ".join(terms)
    return f"""{_acf_oracle_ctes()},
        qv AS (
            SELECT skey, n,
                   CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0)
                     * ({qexpr}) q
            FROM comp WHERE n > {ACF_MAX_LAG}),
        fin AS (
            SELECT skey, n, CAST({ACF_MAX_LAG} AS BIGINT) dof,
                   ROUND(ROUND(q, 9) + 1e-12, 4) + 0.0 q_lb
            FROM qv)
        SELECT skey, n, dof, q_lb, q_lb > {LB_CRIT_95} reject_white_noise
        FROM fin ORDER BY skey, n, dof, q_lb"""


ORACLE_SQL["h26_ljung_box"] = _lb_oracle()


# --------------------------------------------- corpus concentration
# v10 reports partition-key skew and t25 the heavy-hitter tokens;
# the corpus-level concentration question between them — "how
# unequally are TOKENS distributed across documents within each
# source?" — is the Lorenz/Gini audit a data-mixing plan reads
# before weighting sources (a source whose token mass sits in a few
# giant documents packs and dedups very differently from a uniform
# one). Gini over sorted per-doc token counts x_(1) <= ... <= x_(n):
# G = 2 * sum(i * x_i) / (n * sum(x)) - (n + 1) / n  (the exact
# discrete form, not a binned approximation).

def token_gini(docs: DataFrame) -> DataFrame:
    """Per-source Gini coefficient of per-document token counts:
    (source, n_docs, total_tokens, gini).

    Exact-arithmetic shape: the rank-weighted sum S_w = sum(i * x_i)
    and totals stay BIGINT; gini performs exactly TWO IEEE divisions
    in a fixed expression, stabilized 9 -> 6 dp. (At 100 TB, i*x_i
    reaches ~1e20 and the weighted sum must widen to DECIMAL(38,0) —
    a one-line change called out here so the overflow is a documented
    cliff, not a surprise.)

    Scale shape: the per-source rank comes from ``prefix_sums``, not
    a window on the handful-valued source. Equal token counts permute
    only within a tie group, where sum(i) is order-free, so the
    doc_id tiebreak cannot move the statistic."""
    base = docs.select(
        "source",
        "doc_id",
        F.size(tokens("text")).cast("long").alias("tokens"),
        F.lit(1).alias("one"),
    )
    # a NULL text has NULL tokens: it counts in n_docs, adds nothing to
    # the sums and ranks after every counted document, as the oracle's
    # default NULLS LAST puts it
    ranked, _ = prefix_sums(
        base, ["source"], [F.col("tokens").asc_nulls_last(), "doc_id"], ["one"]
    )
    agg = ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tokens").alias("total_tokens"),
        F.sum((F.col("one_before") + 1) * F.col("tokens")).alias("sw"),
    )
    nd = F.col("n_docs").cast("double")
    gini = F.when(
        F.col("total_tokens") > 0,
        F.lit(2.0)
        * F.col("sw").cast("double")
        / (F.col("n_docs") * F.col("total_tokens")).cast("double")
        - (nd + F.lit(1.0)) / nd,
    ).otherwise(F.lit(0.0))
    return agg.select(
        "source", "n_docs", "total_tokens", stab(gini).alias("gini")
    )


def v20_token_gini(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return token_gini(d).orderBy("source", "n_docs", "total_tokens", "gini")


QUERIES["v20_token_gini"] = v20_token_gini

ORACLE_SQL["v20_token_gini"] = """
        WITH base AS (
            SELECT source, doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) tokens
            FROM documents),
        ranked AS (
            SELECT source, tokens,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY tokens, doc_id) rnk
            FROM base),
        agg AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) n_docs,
                   CAST(SUM(tokens) AS BIGINT) total_tokens,
                   CAST(SUM(rnk * tokens) AS BIGINT) sw
            FROM ranked GROUP BY source)
        SELECT source, n_docs, total_tokens,
               ROUND(ROUND(CASE WHEN total_tokens > 0 THEN
                   2.0 * CAST(sw AS DOUBLE)
                     / CAST(n_docs * total_tokens AS DOUBLE)
                   - (CAST(n_docs AS DOUBLE) + 1.0)
                     / CAST(n_docs AS DOUBLE)
                   ELSE 0.0 END, 9) + 1e-12, 6) + 0.0 gini
        FROM agg ORDER BY source, n_docs, total_tokens, gini"""


# --------------------------------------------------- peak detection
# h08 flags rolling-z anomalies and h14 finds the best single mean
# shift; neither reports local MAXIMA — the "when does each series
# peak, and by how much over its neighborhood" question a capacity
# planner asks of the hourly load curve. A strict local-max scan
# with a +/- PEAK_HALF_WINDOW neighborhood over the hourly rollup;
# plateaus are excluded by the strict inequality (declared — a flat
# top has no unique peak hour).

PEAK_HALF_WINDOW = 3


def peak_report(e: DataFrame) -> DataFrame:
    """Per event-type hourly peaks: rows whose integer-cents hourly
    level STRICTLY exceeds every neighbor within PEAK_HALF_WINDOW
    observed hours on each side (edge rows with a truncated
    neighborhood still qualify — max over an empty frame is NULL,
    treated as -inf via coalesce). Exact BIGINT arithmetic only;
    ``over_neighbors`` = cents - max(neighborhood) is the
    prominence-lite margin.

    Scale shape: one map-side-combinable shuffle to hourly grain,
    ONE window over the COLLAPSED series (the declared h-family
    low-cardinality exemption: hourly rows, never raw events)."""
    from pyspark.sql import Window

    hourly = e.groupBy(
        F.col("event_type").alias("skey"),
        F.date_trunc("hour", "ts").alias("b"),
    ).agg(
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents")
    )
    w = Window.partitionBy("skey").orderBy("b")
    lo = F.max("cents").over(w.rowsBetween(-PEAK_HALF_WINDOW, -1))
    hi = F.max("cents").over(w.rowsBetween(1, PEAK_HALF_WINDOW))
    neigh = F.greatest(
        F.coalesce(lo, F.lit(-(1 << 62))), F.coalesce(hi, F.lit(-(1 << 62)))
    )
    return (
        hourly.select(
            "skey",
            "b",
            "cents",
            neigh.alias("neighbor_max"),
        )
        .where(F.col("cents") > F.col("neighbor_max"))
        .select(
            "skey",
            "b",
            "cents",
            "neighbor_max",
            (F.col("cents") - F.col("neighbor_max")).alias("over_neighbors"),
        )
    )


def h27_peak_detection(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    return peak_report(e).orderBy(
        "skey", "b", "cents", "neighbor_max", "over_neighbors"
    )


QUERIES["h27_peak_detection"] = h27_peak_detection

ORACLE_SQL["h27_peak_detection"] = f"""
        WITH hourly AS (
            SELECT event_type skey,
                   CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) b,
                   CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT))
                        AS BIGINT) cents
            FROM events GROUP BY 1, 2),
        framed AS (
            SELECT skey, b, cents,
                   GREATEST(
                       COALESCE(MAX(cents) OVER (PARTITION BY skey ORDER BY b
                           ROWS BETWEEN {PEAK_HALF_WINDOW} PRECEDING
                                    AND 1 PRECEDING), {-(1 << 62)}),
                       COALESCE(MAX(cents) OVER (PARTITION BY skey ORDER BY b
                           ROWS BETWEEN 1 FOLLOWING
                                    AND {PEAK_HALF_WINDOW} FOLLOWING),
                           {-(1 << 62)})) neighbor_max
            FROM hourly)
        SELECT skey, b, cents, CAST(neighbor_max AS BIGINT) neighbor_max,
               CAST(cents - neighbor_max AS BIGINT) over_neighbors
        FROM framed WHERE cents > neighbor_max
        ORDER BY skey, b, cents, neighbor_max, over_neighbors"""


# ------------------------------------------- h28 band breakouts
# h08 z-scores single events per user; the series-level question —
# "which HOURS broke out of their own trailing band?" — is the
# Bollinger test over the hourly rollup. All-integer decision: with
# trailing-window count n, sum s, sum-of-squares ss and level x,
#   |x - s/n| > K * sigma  <=>  (n*x - s)^2 > K^2 * (n*ss - s^2)
# so the breakout set is decided in exact BIGINT arithmetic — no
# float boundary can flip a row between engines. (At 100 TB hourly
# cents reach ~1e9 and (n*x - s)^2 needs DECIMAL(38,0); the widening
# is one cast here, called out so the overflow is a documented cliff.)

BOLL_WINDOW = 24  # trailing hours
BOLL_K2 = 9  # K = 3 sigma
BOLL_MIN_N = 12  # minimum trailing observations before the band exists


def bollinger_breakouts(e: DataFrame) -> DataFrame:
    """Hourly levels strictly outside their trailing BOLL_WINDOW-hour
    3-sigma band, per event_type: (skey, b, cents, n, s, dev_sq,
    band_sq) — dev_sq = (n*x - s)^2, band_sq = K^2*(n*ss - s^2), all
    exact BIGINT; a row is emitted iff dev_sq > band_sq with at least
    BOLL_MIN_N trailing hours.

    Scale shape: one map-side-combinable shuffle to hourly grain,
    ONE window over the COLLAPSED series (the declared h-family
    low-cardinality exemption: hourly rows, never raw events)."""
    from pyspark.sql import Window

    hourly = e.groupBy(
        F.col("event_type").alias("skey"),
        F.date_trunc("hour", "ts").alias("b"),
    ).agg(
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents")
    )
    w = (
        Window.partitionBy("skey")
        .orderBy("b")
        .rowsBetween(-BOLL_WINDOW, -1)
    )
    n = F.count(F.lit(1)).over(w)
    s = F.sum("cents").over(w)
    ss = F.sum(F.col("cents") * F.col("cents")).over(w)
    x = F.col("cents")
    dev_sq = (n * x - s) * (n * x - s)
    band_sq = F.lit(BOLL_K2) * (n * ss - s * s)
    return (
        hourly.select(
            "skey",
            "b",
            "cents",
            n.alias("n"),
            s.alias("s"),
            dev_sq.alias("dev_sq"),
            band_sq.alias("band_sq"),
        )
        .where(
            (F.col("n") >= BOLL_MIN_N) & (F.col("dev_sq") > F.col("band_sq"))
        )
    )


def h28_bollinger_breakout(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    return bollinger_breakouts(e).orderBy(
        "skey", "b", "cents", "n", "s", "dev_sq", "band_sq"
    )


QUERIES["h28_bollinger_breakout"] = h28_bollinger_breakout

ORACLE_SQL["h28_bollinger_breakout"] = f"""
        WITH hourly AS (
            SELECT event_type skey,
                   CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) b,
                   CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT))
                        AS BIGINT) cents
            FROM events GROUP BY 1, 2),
        framed AS (
            SELECT skey, b, cents,
                   COUNT(*) OVER tw n,
                   SUM(cents) OVER tw s,
                   SUM(cents * cents) OVER tw ss
            FROM hourly
            WINDOW tw AS (PARTITION BY skey ORDER BY b
                          ROWS BETWEEN {BOLL_WINDOW} PRECEDING
                                   AND 1 PRECEDING))
        SELECT skey, b, cents, CAST(n AS BIGINT) n, CAST(s AS BIGINT) s,
               CAST((n * cents - s) * (n * cents - s) AS BIGINT) dev_sq,
               CAST({BOLL_K2} * (n * ss - s * s) AS BIGINT) band_sq
        FROM framed
        WHERE n >= {BOLL_MIN_N}
          AND (n * cents - s) * (n * cents - s) > {BOLL_K2} * (n * ss - s * s)
        ORDER BY skey, b, cents, n, s, dev_sq, band_sq"""
