"""Custom stateful streaming operator — the Spark form of the
reference's stateful unfold (``LazyIterators.java:164-194`` G2:
a generator threaded with explicit carried context).

``user_running_totals`` carries (count, sum) per user across
micro-batches via ``applyInPandasWithState``: state lives in the
state store (RocksDB/HDFS-backed on a cluster), partitioned by the
grouping key — millions of users shard across executors, and each
batch touches only the keys present in it.

Declared as st04 with a full oracle: over a bounded replay
(availableNow, update mode) the final emitted row per user equals the
batch per-user aggregate.

Env note (re-verified round 5): Spark 4's newer
``transformWithStateInPandas`` requires the Python ``google.protobuf``
runtime (its state-server protocol is protobuf-framed); this container
has no protobuf wheel on disk and no network (pip resolves no DNS), so
the tws variant cannot run here. The stateful surface therefore ships
on ``applyInPandasWithState`` — same state-store semantics, same
per-key sharding — and a tws-based st04 variant is a rename away once
the dependency exists.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from crossfire_spark.catalog import stab_signed

OUTPUT_SCHEMA = "user_id long, c long, s double"
STATE_SCHEMA = "c long, s double"


def user_running_totals(events: DataFrame) -> DataFrame:
    """Per-user running (count, sum(value)) maintained in stream state."""

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        c, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            c += len(pdf)
            s += float(pdf["value"].sum())
        state.update((c, s))
        yield pd.DataFrame({"user_id": [user_id], "c": [c], "s": [round(s, 2)]})

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# bucketed variant: state keyed by pmod(user_id, n_buckets) instead of
# the raw user — see user_running_totals_bucketed below
BUCKET_STATE_SCHEMA = (
    "users array<long>, cs array<long>, ss array<double>"
)


def user_running_totals_bucketed(
    events: DataFrame, n_buckets: int = 64
) -> DataFrame:
    """Per-user running totals with *bucketed* state keys.

    Identical output to :func:`user_running_totals`, but the state
    store is keyed by ``pmod(user_id, n_buckets)`` and each bucket's
    state holds the (user -> (count, sum)) map as parallel arrays.
    Why: ``applyInPandasWithState`` pays ~5-10 ms of Python dispatch +
    state (de)serialization *per group per batch* — at millions of
    distinct users that per-key overhead, not the arithmetic, is the
    bound.  Bucketing turns "one state entry per user" into "one per
    bucket" (the classic high-cardinality key-compaction trick for
    Python stateful ops); inside a bucket the per-user merge is a
    vectorized pandas groupby.  n_buckets trades dispatch overhead
    against per-bucket state size — size it so each bucket's array
    state stays ~KBs-MBs (users/n_buckets entries), and to >= the
    state-store partition count so all partitions carry load.
    """

    def update(key, pdfs, state: GroupState):
        # state: parallel arrays (user_ids, counts, sums)
        if state.exists:
            users, cs, ss = state.get
            acc = {u: (c, s) for u, c, s in zip(users, cs, ss)}
        else:
            acc = {}
        batch = pd.concat(list(pdfs), ignore_index=True)
        g = batch.groupby("user_id")["value"].agg(["count", "sum"])
        touched = []
        for user_id, row in g.iterrows():
            c0, s0 = acc.get(user_id, (0, 0.0))
            acc[user_id] = (c0 + int(row["count"]), s0 + float(row["sum"]))
            touched.append(user_id)
        users = list(acc)
        state.update(
            (users, [acc[u][0] for u in users], [acc[u][1] for u in users])
        )
        yield pd.DataFrame(
            {
                "user_id": touched,
                "c": [acc[u][0] for u in touched],
                "s": [round(acc[u][1], 2) for u in touched],
            }
        )

    bucketed = events.withColumn(
        "_bucket", F.pmod(F.col("user_id"), F.lit(n_buckets))
    )
    return (
        bucketed.groupBy("_bucket")
        .applyInPandasWithState(
            update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=BUCKET_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def st04_stateful_totals(spark, sf_dir):
    """Run the stateful operator over the bounded replay; the final
    update per user must equal the batch aggregate (oracle)."""
    from crossfire_spark.streaming.jobs import events_stream, run_stream_to_memory

    out = run_stream_to_memory(
        user_running_totals_bucketed(events_stream(spark, sf_dir)),
        mode="update",
    )
    # update mode emits one row per (user, batch); keep the final one
    from crossfire_spark.sources.io import newest_per_key

    return (
        newest_per_key(out, ["user_id"], ["c"])
        .select("user_id", "c", "s")
        .orderBy("user_id", "c", "s")
    )


ANOM_STATE_SCHEMA = "us array<long>, vs array<double>"
ANOM_OUTPUT_SCHEMA = "event_id long, user_id long, value double, z double"


def stream_anomalies(events: DataFrame, n_buckets: int = 64) -> DataFrame:
    """Streaming per-user rolling z-score anomalies — the continuous
    form of the batch ``h08_rolling_anomaly`` operator: state carries
    each user's trailing ANOM_LOOKBACK values across micro-batches;
    every arriving event is scored against its user's window BEFORE
    being appended (trailing-exclusive frame, identical to h08's
    ``rowsBetween(-K, -1)``), so a bounded in-order replay emits
    exactly the batch operator's rows — h08's DuckDB oracle checks
    the whole streaming loop.

    Scale notes: state keys are bucketed (``pmod(user_id, n)``, the
    st04 lesson — per-group Python dispatch, not arithmetic, bounds
    stateful ops at high key cardinality) and each bucket's state is
    flat parallel arrays of at most LOOKBACK entries per user. Within
    a batch the per-user scoring is a vectorized pandas rolling pass.
    Assumes per-user event-time-ordered arrival (the file replay here
    is ordered; production fronts this with a watermark + in-batch
    sort exactly as this kernel sorts its batch)."""
    from crossfire_spark.operators.extended import (
        ANOM_LOOKBACK,
        ANOM_MIN_N,
        ANOM_Z,
    )

    def update(key, pdfs, state: GroupState):
        hist: dict[int, list[float]] = {}
        if state.exists:
            us, vs = state.get
            for u, v in zip(us, vs):
                hist.setdefault(u, []).append(v)
        batch = pd.concat(list(pdfs), ignore_index=True).sort_values(
            ["user_id", "ts", "event_id"]
        )
        out: list[tuple] = []
        for u, g in batch.groupby("user_id", sort=False):
            h = hist.get(u, [])
            vals = [float(x) for x in g["value"]]
            s = pd.Series(h + vals, dtype=float)
            prev = s.shift(1).rolling(ANOM_LOOKBACK, min_periods=1)
            mu, sd, n = prev.mean(), prev.std(ddof=0), prev.count()
            k = len(h)
            for i, eid in enumerate(g["event_id"]):
                j = k + i
                if n.iloc[j] >= ANOM_MIN_N and sd.iloc[j] > 0:
                    z = (vals[i] - mu.iloc[j]) / sd.iloc[j]
                    if abs(z) >= ANOM_Z:
                        out.append(
                            (
                                int(eid),
                                int(u),
                                vals[i],
                                round(round(z, 9) + 1e-12, 4),
                            )
                        )
            hist[u] = (h + vals)[-ANOM_LOOKBACK:]
        flat_u: list[int] = []
        flat_v: list[float] = []
        for u, h in hist.items():
            flat_u.extend([u] * len(h))
            flat_v.extend(h)
        state.update((flat_u, flat_v))
        if out:
            yield pd.DataFrame(
                out, columns=["event_id", "user_id", "value", "z"]
            )
        else:
            yield pd.DataFrame(
                {
                    "event_id": pd.Series([], dtype="int64"),
                    "user_id": pd.Series([], dtype="int64"),
                    "value": pd.Series([], dtype="float64"),
                    "z": pd.Series([], dtype="float64"),
                }
            )

    bucketed = events.withColumn(
        "_bucket", F.pmod(F.col("user_id"), F.lit(n_buckets))
    )
    return bucketed.groupBy("_bucket").applyInPandasWithState(
        update,
        outputStructType=ANOM_OUTPUT_SCHEMA,
        stateStructType=ANOM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def st15_stream_anomaly(spark, sf_dir):
    """Bounded replay of the streaming anomaly detector; must emit
    exactly the batch h08 rows (same oracle)."""
    from crossfire_spark.streaming.jobs import events_stream, run_stream_to_memory

    out = run_stream_to_memory(
        stream_anomalies(events_stream(spark, sf_dir)), mode="append"
    )
    return out.orderBy("event_id", "user_id", "value", "z")


FUNNEL_STATE_SCHEMA = (
    "us array<long>, t1s array<long>, t2s array<long>, t3s array<long>"
)
FUNNEL_OUTPUT_SCHEMA = "user_id long, stage int"


def stream_funnel(events: DataFrame, n_buckets: int = 64) -> DataFrame:
    """Streaming strict-order funnel — the continuous form of batch
    h12: state carries each user's first-qualifying step timestamps
    (µs, -1 = not reached) across micro-batches; each batch advances
    the stages by scanning the user's new events in event-time order.
    Stages only ever advance, so over a bounded in-order replay the
    final per-user stage equals the batch computation and h12's
    DuckDB oracle checks the whole streaming loop (the st15 pattern).
    Same monotone-ingest assumption as st15; production fronts this
    with a watermark + in-batch sort exactly as the kernel sorts.

    State is bucketed (pmod(user_id, n)) per the st04 lesson, three
    parallel long arrays per bucket — 24 bytes per ever-seen user."""
    from crossfire_spark.operators.extended import FUNNEL_STEPS

    s_view, s_click, s_buy = FUNNEL_STEPS

    def update(key, pdfs, state: GroupState):
        acc: dict[int, list[int]] = {}
        if state.exists:
            us, t1s, t2s, t3s = state.get
            for u, a, b, c in zip(us, t1s, t2s, t3s):
                acc[u] = [a, b, c]
        batch = pd.concat(list(pdfs), ignore_index=True).sort_values(
            ["user_id", "ts", "event_id"]
        )
        touched: list[int] = []
        for u, g in batch.groupby("user_id", sort=False):
            t = acc.get(u, [-1, -1, -1])
            for ts, et in zip(
                g["ts"].astype("int64"), g["event_type"]
            ):
                if et == s_view and t[0] < 0:
                    t[0] = ts
                elif et == s_click and t[0] >= 0 and t[1] < 0 and ts > t[0]:
                    t[1] = ts
                elif et == s_buy and t[1] >= 0 and t[2] < 0 and ts > t[1]:
                    t[2] = ts
            acc[u] = t
            touched.append(u)
        us = list(acc)
        state.update(
            (
                us,
                [acc[u][0] for u in us],
                [acc[u][1] for u in us],
                [acc[u][2] for u in us],
            )
        )
        yield pd.DataFrame(
            {
                "user_id": touched,
                "stage": [sum(1 for x in acc[u] if x >= 0) for u in touched],
            }
        )

    bucketed = events.withColumn(
        "_bucket", F.pmod(F.col("user_id"), F.lit(n_buckets))
    )
    return bucketed.groupBy("_bucket").applyInPandasWithState(
        update,
        outputStructType=FUNNEL_OUTPUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def st17_stream_funnel(spark, sf_dir):
    """Bounded replay of the streaming funnel; the assembled report
    must equal batch h12 (same oracle)."""
    from crossfire_spark.operators.extended import FUNNEL_STEPS
    from crossfire_spark.streaming.jobs import events_stream, run_stream_to_memory

    out = run_stream_to_memory(
        stream_funnel(events_stream(spark, sf_dir)), mode="update"
    )
    final = out.groupBy("user_id").agg(F.max("stage").alias("stage"))
    counts = final.agg(
        *[
            F.sum(F.when(F.col("stage") >= i + 1, 1).otherwise(0)).alias(f"n{i}")
            for i in range(len(FUNNEL_STEPS))
        ]
    )
    rows = []
    for i, s in enumerate(FUNNEL_STEPS):
        prev = F.col(f"n{i - 1}") if i else F.col("n0")
        rows.append(
            F.struct(
                F.lit(i + 1).alias("step_no"),
                F.lit(s).alias("step"),
                F.col(f"n{i}").alias("n_users"),
                stab_signed(F.try_divide(F.col(f"n{i}"), prev), 4).alias(
                    "conv_from_prev"
                ),
                stab_signed(F.try_divide(F.col(f"n{i}"), F.col("n0")), 4).alias(
                    "conv_from_first"
                ),
            )
        )
    return (
        counts.select(F.explode(F.array(*rows)).alias("r"))
        .select("r.*")
        .orderBy(
            "step_no", "step", "n_users", "conv_from_prev", "conv_from_first"
        )
    )


ORACLE_SQL = {
    "st04_stateful_totals": """
        SELECT user_id, COUNT(*) c, ROUND(SUM(value),2) s
        FROM events GROUP BY user_id ORDER BY user_id, c, s""",
}
QUERIES = {"st04_stateful_totals": st04_stateful_totals}


def _register_st15() -> None:
    from crossfire_spark.operators.extended import (
        ORACLE_SQL as EXTENDED_ORACLE_SQL,
    )

    QUERIES["st15_stream_anomaly"] = st15_stream_anomaly
    ORACLE_SQL["st15_stream_anomaly"] = EXTENDED_ORACLE_SQL[
        "h08_rolling_anomaly"
    ]
    QUERIES["st17_stream_funnel"] = st17_stream_funnel
    ORACLE_SQL["st17_stream_funnel"] = EXTENDED_ORACLE_SQL[
        "h12_funnel"
    ]


_register_st15()


# streaming interval union (st18): one island row per state entry
IMERGE_STATE_SCHEMA = (
    "users array<long>, starts array<long>, ends array<long>,"
    " ns array<long>, vusers array<long>, vers array<long>"
)
IMERGE_OUTPUT_SCHEMA = (
    "user_id long, ver long, island long, start_us long, end_us long,"
    " n_events long"
)


def stream_interval_merge(events: DataFrame, n_buckets: int = 64) -> DataFrame:
    """Streaming interval union — the continuous twin of batch h15:
    state carries each user's MERGED islands (start, end, n_events)
    across micro-batches; each batch inserts the new intervals
    ``[ts, ts + value seconds)`` and re-merges. Interval union is
    COMMUTATIVE — the merged island set is independent of arrival
    order — so unlike st15/st17 this needs **no** monotone-ingest
    assumption: any replay order converges to the batch h15 result,
    and h15's DuckDB oracle checks the whole streaming loop.

    State is bucketed (pmod(user_id, n)) per the st04 lesson; each
    bucket holds one row per island as parallel long arrays, plus a
    per-user version counter so the sink can keep only each user's
    latest island list (earlier emissions go stale when a later batch
    merges their islands). Boundaries are exact integer microseconds
    with an explicit floor — identical to the batch operator."""
    import numpy as np

    def update(key, pdfs, state: GroupState):
        acc: dict[int, list[list[int]]] = {}
        ver: dict[int, int] = {}
        if state.exists:
            us, ss, es, nn, vu, vv = state.get
            for u, s, e, n in zip(us, ss, es, nn):
                acc.setdefault(u, []).append([s, e, n])
            ver = dict(zip(vu, vv))
        batch = pd.concat(list(pdfs), ignore_index=True)
        start_us = batch["ts"].astype("int64") // 1000
        end_us = start_us + np.floor(
            batch["value"].to_numpy() * 1_000_000
        ).astype("int64")
        batch = pd.DataFrame(
            {
                "user_id": batch["user_id"],
                "s": start_us,
                "e": end_us,
            }
        )
        touched: list[int] = []
        for u, g in batch.groupby("user_id", sort=False):
            items = acc.get(u, []) + [
                [int(s), int(e), 1] for s, e in zip(g["s"], g["e"])
            ]
            items.sort(key=lambda x: (x[0], x[1]))
            merged: list[list[int]] = []
            for s, e, n in items:
                # same boundary rule as batch h15: a new island starts
                # only when start > running max end (strict gap)
                if merged and s <= merged[-1][1]:
                    merged[-1][1] = max(merged[-1][1], e)
                    merged[-1][2] += n
                else:
                    merged.append([s, e, n])
            acc[u] = merged
            ver[u] = ver.get(u, 0) + 1
            touched.append(int(u))
        flat = [(u, s, e, n) for u, isl in acc.items() for s, e, n in isl]
        state.update(
            (
                [f[0] for f in flat],
                [f[1] for f in flat],
                [f[2] for f in flat],
                [f[3] for f in flat],
                list(ver),
                [ver[u] for u in ver],
            )
        )
        out: dict[str, list] = {
            "user_id": [], "ver": [], "island": [],
            "start_us": [], "end_us": [], "n_events": [],
        }
        for u in touched:
            for i, (s, e, n) in enumerate(acc[u]):
                out["user_id"].append(u)
                out["ver"].append(ver[u])
                out["island"].append(i + 1)
                out["start_us"].append(s)
                out["end_us"].append(e)
                out["n_events"].append(n)
        yield pd.DataFrame(out)

    bucketed = events.withColumn(
        "_bucket", F.pmod(F.col("user_id"), F.lit(n_buckets))
    )
    return bucketed.groupBy("_bucket").applyInPandasWithState(
        update,
        outputStructType=IMERGE_OUTPUT_SCHEMA,
        stateStructType=IMERGE_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def st18_stream_interval_merge(spark, sf_dir):
    """Bounded replay of the streaming interval union; the assembled
    final state (each user's max-version island list) must equal batch
    h15 exactly — columns, numbering, and timestamps — so h15's DuckDB
    oracle checks the streaming loop end-to-end."""
    from pyspark.sql import Window

    from crossfire_spark.streaming.jobs import (
        events_stream,
        run_stream_to_memory,
    )

    out = run_stream_to_memory(
        stream_interval_merge(events_stream(spark, sf_dir)), mode="update"
    )
    w = Window.partitionBy("user_id")
    final = out.withColumn("mv", F.max("ver").over(w)).where(
        F.col("ver") == F.col("mv")
    )
    return (
        final.select(
            "user_id",
            "island",
            F.timestamp_micros("start_us").alias("start_ts"),
            F.timestamp_micros("end_us").alias("end_ts"),
            "n_events",
        )
        .orderBy("user_id", "island", "start_ts", "end_ts", "n_events")
    )


def _register_st18() -> None:
    from crossfire_spark.operators.extended import (
        ORACLE_SQL as EXTENDED_ORACLE_SQL,
    )

    QUERIES["st18_stream_interval_merge"] = (
        st18_stream_interval_merge
    )
    ORACLE_SQL["st18_stream_interval_merge"] = EXTENDED_ORACLE_SQL[
        "h15_interval_merge"
    ]


_register_st18()
