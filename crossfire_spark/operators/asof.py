"""As-of join and k-way sorted merge — ordered-data operators the
task surface requires that Spark's join zoo lacks as primitives.

**As-of join** (``asof_join``): for each left row, the single right
row with the largest right timestamp strictly before the left's.
Implemented merge-style, the way it scales: union both sides with a
side marker, one window pass per key carrying the last-seen right
values forward (``F.last(ignorenulls)``). Cost = one shuffle on the
key + one sort — never the range-join row explosion a naive
``l.ts > r.ts`` join produces. Strictness is encoded in the sort
order: at equal timestamps the left row sorts *before* the right row,
so an equal-ts right match is invisible to it.

**K-way sorted merge** (``kway_merge``): the reference's lazy k-way
iterator merge (``LazyIterators.java:104-140`` O3, with its
consume-equal-together dedup semantics) — in Spark, merging N sorted
runs IS the sort machinery (range-partition + TimSort over runs), so
the operator is ``unionByName`` + ``orderBy`` (+ ``dropDuplicates``
for the dedup variant); the declarative form lets Catalyst fuse it
with whatever follows.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crossfire_spark.catalog import load_table, nudge


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    prefix: str = "prev_",
    direction: str = "backward",
) -> DataFrame:
    """Left as-of join: attach one right row's ``value_cols`` (and its
    timestamp, ``{prefix}ts``) to every left row; nulls when no match
    exists. ``direction="backward"`` (default) matches the most recent
    *strictly earlier* right row; ``"forward"`` matches the nearest
    *strictly later* one.

    ``right`` must be unique per (on, right_ts) — pre-aggregate if it
    isn't, or the match is ambiguous in any engine.

    Both directions are the same merge-style single window pass; only
    the frame direction and the equal-timestamp tiebreak flip. The
    left row must be *outside* the frame that could see an equal-ts
    right row: backward sorts left before right at equal ts (a
    trailing frame cannot see it), forward sorts left after right (a
    leading frame cannot see it).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    back = direction == "backward"
    l_side, r_side = (0, 1) if back else (1, 0)
    l_marked = left.select(
        F.col(on).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(l_side).alias("_side"),
        F.lit(1).alias("_is_left"),
        F.struct(*left.columns).alias("_l"),
        F.lit(None).cast("timestamp").alias("_rts"),
        *[F.lit(None).cast(dict(right.dtypes)[c]).alias(f"_r_{c}") for c in value_cols],
    )
    r_marked = right.select(
        F.col(on).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(r_side).alias("_side"),
        F.lit(0).alias("_is_left"),
        F.lit(None).cast(l_marked.schema["_l"].dataType).alias("_l"),
        F.col(right_ts).alias("_rts"),
        *[F.col(c).alias(f"_r_{c}") for c in value_cols],
    )
    base = Window.partitionBy("_k").orderBy("_ts", "_side")
    if back:
        w = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        pick = F.last
    else:
        w = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        pick = F.first
    carried = l_marked.unionByName(r_marked).select(
        "_is_left",
        "_l",
        pick("_rts", ignorenulls=True).over(w).alias(f"{prefix}ts"),
        *[
            pick(f"_r_{c}", ignorenulls=True).over(w).alias(f"{prefix}{c}")
            for c in value_cols
        ],
    )
    return carried.where(F.col("_is_left") == 1).select(
        "_l.*", f"{prefix}ts", *[f"{prefix}{c}" for c in value_cols]
    )


def kway_merge(
    runs: list[DataFrame], keys: list[str], dedup: bool = False
) -> DataFrame:
    """Merge N sorted runs into one totally-ordered DataFrame.
    ``dedup=True`` reproduces the reference's consume-equal-together
    semantics (equal-key elements across runs collapse to one)."""
    merged = reduce(DataFrame.unionByName, runs)
    if dedup:
        merged = merged.dropDuplicates(keys)
    return merged.orderBy(*keys)


def a01_asof_join(spark, sf_dir):
    """Declared as-of join: each event gets the user's most recent
    strictly-earlier 'click' event (ts + value)."""
    e = load_table(spark, sf_dir, "events")
    clicks = (
        e.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    joined = asof_join(
        e.select("event_id", "user_id", "ts"),
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        value_cols=["value"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("prev_ts"),
        F.round("prev_value", 2).alias("prev_value"),
    ).orderBy("event_id", "user_id", "prev_ts", "prev_value")


def a02_asof_forward(spark, sf_dir):
    """Forward as-of join: each event gets the user's *next*
    strictly-later 'click' event — the lookahead variant (label
    attribution: "what did the user click next?")."""
    e = load_table(spark, sf_dir, "events")
    clicks = (
        e.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    joined = asof_join(
        e.select("event_id", "user_id", "ts"),
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        value_cols=["value"],
        prefix="next_",
        direction="forward",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("next_ts"),
        F.round("next_value", 2).alias("next_value"),
    ).orderBy("event_id", "user_id", "next_ts", "next_value")


def a03_asof_nearest(spark, sf_dir):
    """Nearest as-of join — each event gets the time-CLOSEST 'click'
    of its user, looking both directions (ties → the earlier one, the
    pandas ``merge_asof(direction='nearest')`` convention). Composed
    from the backward and forward merge passes over the same keyed
    union — still no row-pairing join with the right side; the final
    pick is a per-row CASE on the two carried candidates."""
    e = load_table(spark, sf_dir, "events")
    clicks = (
        e.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    left = e.select("event_id", "user_id", "ts")
    b = asof_join(
        left, clicks, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=["value"],
    )
    f = asof_join(
        left, clicks, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=["value"], prefix="next_", direction="forward",
    )
    j = b.join(f.select("event_id", "next_ts", "next_value"), "event_id")
    d_prev = F.unix_micros("ts") - F.unix_micros("prev_ts")
    d_next = F.unix_micros("next_ts") - F.unix_micros("ts")
    take_prev = F.col("prev_ts").isNotNull() & (
        F.col("next_ts").isNull() | (d_prev <= d_next)
    )
    return j.select(
        "event_id",
        "user_id",
        F.when(take_prev, F.col("prev_ts")).otherwise(F.col("next_ts")).alias(
            "near_ts"
        ),
        F.round(
            F.when(take_prev, F.col("prev_value")).otherwise(
                F.col("next_value")
            ),
            2,
        ).alias("near_value"),
    ).orderBy("event_id", "user_id", "near_ts", "near_value")


def a04_asof_interpolate(spark, sf_dir):
    """Interpolating as-of join — each event gets the user's click
    value LINEARLY INTERPOLATED at the event's timestamp between the
    bracketing clicks (strictly-earlier prev, strictly-later next):
    ``prev + (next - prev) * (t - t0)/(t1 - t0)``. One-sided rows fall
    back to the single bracketing value (the hold-last/hold-next
    convention); unbracketed rows are NULL. This is the time-series
    resampling primitive kdb's ``aj``-plus-interp and pandas'
    ``interpolate(method='time')`` provide and Spark lacks.

    Spark-first shape: TWO merge-style window passes over the same
    keyed union (the a03 composition — no range join, no row-pairing
    explosion), then a pure per-row projection. Shuffles on user_id
    only; at 100 TB the cost is two sorts of the keyed union, same as
    any as-of. Float discipline: micros deltas are exact in a double
    (|epoch µs| < 2^53), the interpolation expression is written in
    the identical operation order on both engines, and the result is
    rounded 6→2 dp with the 1e-9 boundary guard; events.value ≥ 0 so
    no -0.0 hazard."""
    e = load_table(spark, sf_dir, "events")
    clicks = (
        e.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    left = e.select("event_id", "user_id", "ts")
    b = asof_join(
        left, clicks, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=["value"],
    )
    f = asof_join(
        left, clicks, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=["value"], prefix="next_", direction="forward",
    )
    j = b.join(f.select("event_id", "next_ts", "next_value"), "event_id")
    dt = (F.unix_micros("ts") - F.unix_micros("prev_ts")).cast("double")
    span = (F.unix_micros("next_ts") - F.unix_micros("prev_ts")).cast(
        "double"
    )
    interp = F.col("prev_value") + (
        F.col("next_value") - F.col("prev_value")
    ) * (dt / span)
    v = (
        F.when(
            F.col("prev_ts").isNull() & F.col("next_ts").isNull(),
            F.lit(None).cast("double"),
        )
        .when(F.col("prev_ts").isNull(), F.col("next_value"))
        .when(F.col("next_ts").isNull(), F.col("prev_value"))
        .otherwise(interp)
    )
    return j.select(
        "event_id",
        "user_id",
        nudge(v, 2).alias("interp_value"),
    ).orderBy("event_id", "user_id", "interp_value")


ORACLE_SQL = {
    "a03_asof_nearest": """
        WITH c AS (SELECT user_id, ts, MAX(value) AS "value" FROM events
                   WHERE event_type = 'click' GROUP BY user_id, ts),
        b AS (SELECT e.event_id, e.user_id, e.ts, p.ts prev_ts, p.value prev_value
              FROM events e ASOF LEFT JOIN c p
                ON e.user_id = p.user_id AND e.ts > p.ts),
        f AS (SELECT e.event_id, n.ts next_ts, n.value next_value
              FROM events e ASOF LEFT JOIN c n
                ON e.user_id = n.user_id AND e.ts < n.ts)
        SELECT b.event_id, b.user_id,
               CASE WHEN prev_ts IS NOT NULL AND (next_ts IS NULL OR
                         epoch_us(b.ts) - epoch_us(prev_ts)
                         <= epoch_us(next_ts) - epoch_us(b.ts))
                    THEN prev_ts ELSE next_ts END near_ts,
               ROUND(CASE WHEN prev_ts IS NOT NULL AND (next_ts IS NULL OR
                          epoch_us(b.ts) - epoch_us(prev_ts)
                          <= epoch_us(next_ts) - epoch_us(b.ts))
                     THEN prev_value ELSE next_value END, 2) near_value
        FROM b JOIN f USING (event_id)
        ORDER BY event_id, user_id, near_ts, near_value""",
    "a01_asof_join": """
        SELECT e.event_id, e.user_id, b.ts prev_ts, ROUND(b.value, 2) prev_value
        FROM events e ASOF LEFT JOIN
             (SELECT user_id, ts, MAX(value) AS "value" FROM events
              WHERE event_type = 'click' GROUP BY user_id, ts) b
          ON e.user_id = b.user_id AND e.ts > b.ts
        ORDER BY event_id, e.user_id, prev_ts, prev_value""",
    "a02_asof_forward": """
        SELECT e.event_id, e.user_id, b.ts next_ts, ROUND(b.value, 2) next_value
        FROM events e ASOF LEFT JOIN
             (SELECT user_id, ts, MAX(value) AS "value" FROM events
              WHERE event_type = 'click' GROUP BY user_id, ts) b
          ON e.user_id = b.user_id AND e.ts < b.ts
        ORDER BY event_id, e.user_id, next_ts, next_value""",
    "a04_asof_interpolate": """
        WITH c AS (SELECT user_id, ts, MAX(value) AS "value" FROM events
                   WHERE event_type = 'click' GROUP BY user_id, ts),
        b AS (SELECT e.event_id, e.user_id, e.ts, p.ts prev_ts, p.value prev_value
              FROM events e ASOF LEFT JOIN c p
                ON e.user_id = p.user_id AND e.ts > p.ts),
        f AS (SELECT e.event_id, n.ts next_ts, n.value next_value
              FROM events e ASOF LEFT JOIN c n
                ON e.user_id = n.user_id AND e.ts < n.ts)
        SELECT b.event_id, b.user_id,
               ROUND(ROUND(CASE
                   WHEN prev_ts IS NULL AND next_ts IS NULL THEN NULL
                   WHEN prev_ts IS NULL THEN next_value
                   WHEN next_ts IS NULL THEN prev_value
                   ELSE prev_value + (next_value - prev_value) *
                        ((epoch_us(b.ts) - epoch_us(prev_ts))::DOUBLE /
                         (epoch_us(next_ts) - epoch_us(prev_ts))::DOUBLE)
               END, 6) + 1e-9, 2) interp_value
        FROM b JOIN f USING (event_id)
        ORDER BY event_id, user_id, interp_value""",
}
QUERIES = {
    "a01_asof_join": a01_asof_join,
    "a02_asof_forward": a02_asof_forward,
    "a03_asof_nearest": a03_asof_nearest,
    "a04_asof_interpolate": a04_asof_interpolate,
}


ASOF_TOLERANCE_S = 3600  # match window (seconds)


def a05_asof_tolerance(spark, sf_dir):
    """Toleranced as-of join — pandas ``merge_asof(...,
    tolerance=...)`` semantics, completing the family's API parity
    (a01 backward / a02 forward / a03 nearest / a04 interpolate):
    the backward match only holds if the matched click is within
    ``ASOF_TOLERANCE_S`` of the event; staler matches null out (a
    stale quote/sensor reading must not attach to a trade an hour
    later). Same merge-style single window pass as a01 — the
    tolerance is a pure per-row predicate AFTER the carry, so the
    scale shape is unchanged (one shuffle on user_id).

    Exact integer-microsecond comparison — no float in the
    predicate."""
    e = load_table(spark, sf_dir, "events")
    clicks = (
        e.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    joined = asof_join(
        e.select("event_id", "user_id", "ts"),
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        value_cols=["value"],
    )
    in_tol = (
        F.unix_micros("ts") - F.unix_micros("prev_ts")
    ) <= ASOF_TOLERANCE_S * 1_000_000
    return joined.select(
        "event_id",
        "user_id",
        F.when(in_tol, F.col("prev_ts")).alias("prev_ts"),
        F.round(F.when(in_tol, F.col("prev_value")), 2).alias("prev_value"),
    ).orderBy("event_id", "user_id", "prev_ts", "prev_value")


ORACLE_SQL["a05_asof_tolerance"] = f"""
        WITH c AS (SELECT user_id, ts, MAX(value) AS "value" FROM events
                   WHERE event_type = 'click' GROUP BY user_id, ts),
        b AS (SELECT e.event_id, e.user_id, e.ts, p.ts prev_ts, p.value prev_value
              FROM events e ASOF LEFT JOIN c p
                ON e.user_id = p.user_id AND e.ts > p.ts)
        SELECT event_id, user_id,
               CASE WHEN epoch_us(ts) - epoch_us(prev_ts)
                         <= {ASOF_TOLERANCE_S * 1_000_000}
                    THEN prev_ts END prev_ts,
               ROUND(CASE WHEN epoch_us(ts) - epoch_us(prev_ts)
                               <= {ASOF_TOLERANCE_S * 1_000_000}
                          THEN prev_value END, 2) prev_value
        FROM b
        ORDER BY event_id, user_id, prev_ts, prev_value"""

QUERIES["a05_asof_tolerance"] = a05_asof_tolerance
