"""Skew-handling primitives: salting for hot keys, prefix sums over
low-cardinality groups.

AQE's skew-join split (on by default in ``session.py``) handles most
runtime skew; these helpers are for the cases planners can't fix —
a groupBy where one key holds half the table, or a shuffle join
against a hot dimension key — the placement-time analog of the
reference's greedy anti-hotspot balancing
(``CrossAZBlockPlacementPolicy.java:641-656,688-705``).

- ``salted_agg``: two-phase aggregation. Phase 1 groups on
  (keys + salt) so a hot key's rows spread across ``n_salts``
  reducers; phase 2 re-combines partials per key. Supported partials
  (count/sum/min/max) compose associatively, so results are exactly
  the plain groupBy's.
- ``salted_join``: fact rows get a deterministic salt; the (small,
  skewed-key) build side is exploded ``n_salts`` times so every
  (key, salt) bucket finds its match. Row-multiplication happens only
  on the small side.
- ``prefix_sums``: exact per-group running totals (ranks, cumulative
  sums) without a window partitioned on the group key, which would
  sort a whole group in one task however few groups there are.

Salts are deterministic (hash of the row's own columns, not rand()),
so retried tasks produce identical output — a correctness requirement
under speculative execution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from crossfire_spark.catalog import materialize

_PARTIALS = {
    "count": (F.count, F.sum),
    "sum": (F.sum, F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
}


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase salted aggregation.

    ``aggs``: output_name -> (fn, column) with fn in
    count/sum/min/max. Equivalent to
    ``df.groupBy(keys).agg(fn(column))`` for any data, skewed or not.
    """
    salt = F.pmod(F.xxhash64(*df.columns), F.lit(n_salts)).alias("_salt")
    phase1 = df.withColumn("_salt", salt).groupBy(*keys, "_salt")
    partial_cols = []
    final_cols = []
    for name, (fn, col) in aggs.items():
        if fn not in _PARTIALS:
            raise ValueError(f"unsupported agg {fn!r}")
        pfn, ffn = _PARTIALS[fn]
        partial_cols.append(pfn(col).alias(f"_p_{name}"))
        final_cols.append(ffn(f"_p_{name}").alias(name))
    return phase1.agg(*partial_cols).groupBy(*keys).agg(*final_cols)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: fact salted, dim replicated per salt.
    Result columns = fact's then dim's (minus the dup key), exactly
    like ``fact.join(dim, on, how)``.

    Only fact-preserving join types are supported: the dim side is
    replicated ``n_salts`` times, so right/full/left_anti would emit
    unmatched dim rows once per salt (or break anti semantics).
    """
    if how not in ("inner", "left", "left_outer", "leftouter", "left_semi",
                   "leftsemi", "semi"):
        raise ValueError(
            f"salted_join supports inner/left/left_semi, not {how!r}: "
            "the dim side is replicated per salt, so unmatched dim rows "
            "would be duplicated"
        )
    f = fact.withColumn(
        "_salt", F.pmod(F.xxhash64(*fact.columns), F.lit(n_salts))
    )
    d = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return f.join(d, [on, "_salt"], how).drop("_salt")


def prefix_sums(
    df: DataFrame, by: list[str], order: list, sums: list[str]
) -> tuple[DataFrame, dict[tuple, dict[str, int]]]:
    """Exact per-group prefix sums of integer columns.

    For each column ``c`` in ``sums`` the result adds ``c_before``,
    the sum of ``c`` over the rows of the same ``by`` group that come
    earlier in ``order``, and ``c_total``, the group's sum (both
    BIGINT). The group totals also come back as a driver-side dict
    ``{(by values): {c: total}}``, empty for an empty input. A rank
    is ``one_before + 1`` over a literal-1 column ``one``; an
    inclusive running sum is ``c_before + c``.

    Scale shape: a window partitioned on a handful-valued group key
    sorts each group in one task at any cluster size. Instead,
    range-repartition on (by, order) into ``defaultParallelism``
    partitions, pin each row's partition id with ONE
    ``materialize``, collect the per-(pid, group) subtotals
    (P x G rows: the driver sees partition subtotals, never rows),
    prefix them on the driver in pid order, and add each partition's
    offset, joined from a broadcast of that table, to a running sum
    whose window is (pid, group)-scoped. Every sum is an exact
    integer, so the partition count cannot move a result.

    Preconditions: ``order`` is unique within a group (otherwise the
    "earlier rows" of a tie are arbitrary, as in a ROWS window), the
    ``by`` keys are non-null (the driver-side prefix keys on them),
    and every ``sums`` column is integral."""
    spark = df.sparkSession
    parts = spark.sparkContext.defaultParallelism
    pv = materialize(  # pin pids: the subtotals and the window reuse them
        df.repartitionByRange(parts, *by, *order)
        .withColumn("pid", F.spark_partition_id())
    )
    subtotals = pv.groupBy("pid", *by).agg(*[F.sum(c).alias(c) for c in sums])
    totals: dict[tuple, dict[str, int]] = {}
    offs = []
    for r in sorted(subtotals.collect(), key=lambda r: r.pid):
        key = tuple(r[b] for b in by)
        acc = totals.setdefault(key, dict.fromkeys(sums, 0))
        offs.append((r.pid, key, [acc[c] for c in sums]))
        for c in sums:
            acc[c] += r[c] or 0
    off_df = spark.createDataFrame(
        [(p, *key, *off, *totals[key].values()) for p, key, off in offs],
        StructType(
            [StructField("pid", IntegerType())]
            + [pv.schema[b] for b in by]
            + [StructField(f"{c}_off", LongType()) for c in sums]
            + [StructField(f"{c}_total", LongType()) for c in sums]
        ),
    )
    w = (
        Window.partitionBy("pid", *by)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    run = [
        F.coalesce(F.sum(c).over(w), F.lit(0)).alias(f"{c}_run") for c in sums
    ]
    out = pv.select("*", *run).join(F.broadcast(off_df), ["pid", *by])
    before = [
        (F.col(f"{c}_off") + F.col(f"{c}_run")).alias(f"{c}_before")
        for c in sums
    ]
    totals_cols = [f"{c}_total" for c in sums]
    return out.select(*df.columns, *before, *totals_cols), totals
