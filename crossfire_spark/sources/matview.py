"""Incrementally-maintained aggregate materialized views.

``create_aggregate_view`` materializes ``SELECT keys, COUNT(*),
SUM(measure)... GROUP BY keys`` over a snapshot table into its own
snapshot table; ``refresh_aggregate_view`` advances it using only the
**CDC feed** (``snapshot_changes``) since the last processed base
version — the classic incremental view-maintenance algebra for
distributive aggregates:

- inserts contribute ``(+1, +measure)``, deletes ``(-1, -measure)``;
- one pass applies the per-key delta aggregate to the view: the view
  files that may hold a touched key are rewritten as their rows full
  outer joined with the delta (stored + delta per touched key, stored
  values bit for bit elsewhere), and keys whose maintained count
  reaches zero are **dropped** from the rewritten rows. View keys match
  the way GROUP BY forms them, so a NULL key is one view row;
- the base version each refresh has consumed is stamped on the view
  commit's manifest ``properties``, so refresh is idempotent and
  restartable — rerunning after a crash re-reads the same change
  range and converges to the same view.

Scale shape: a refresh scans the CDC feed once — O(changed rows) of
the base, never a rescan — and the view files it rewrites once, in one
plan: an unpartitioned, unclustered view refreshes in three Spark jobs
(the delta's exchange, the join's exchange, the write). The file pick
is ``snapshot._rewrite_touched``, the copy-on-write core
``snapshot_merge`` also uses: a partitioned view rewrites only the
partitions holding touched keys and a clustered one (key stats, e.g.
after ``snapshot_cluster``) only the files whose key range meets them;
every other view file carries over by reference. Finding those files
reads the delta's keys once more. A 1-partition append to a 100 TB
base refreshes the view with one pass over the new files.
Copy-on-write file rewrites in the base stream survivor rows
as delete+insert pairs; their count deltas cancel exactly and their
sum deltas cancel to within float reduction-order noise, so the
refresh drops deltas under ``DELTA_TOLERANCE`` rather than
rewriting residue into the view.

COUNT and SUM are self-maintainable under insert+delete; MIN/MAX are
not (a deleted minimum forces a per-key rescan). Views created with
``minmax=[...]`` therefore refresh through ``_refresh_by_rescan``:
touched keys re-aggregate from the base head via one semi-joined scan
— the honest cost of the operation, paid only for the keys the change
range touched — and replace their rows through the same copy-on-write
core, while untouched view files carry over by reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crossfire_spark.sources.snapshot import (
    _current_version,
    _read_manifest,
    _rewrite_touched,
    snapshot_changes,
    snapshot_read,
    snapshot_write,
)

_CNT = "_cnt"


def _aggregate(
    df: DataFrame,
    keys: list[str],
    measures: list[str],
    minmax: list[str] | None = None,
) -> DataFrame:
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias(_CNT),
        *[F.sum(c).alias(f"sum_{c}") for c in measures],
        *[g for c in (minmax or []) for g in (
            F.min(c).alias(f"min_{c}"),
            F.max(c).alias(f"max_{c}"),
        )],
    )


def create_aggregate_view(
    spark: SparkSession,
    base_path: str,
    view_path: str,
    keys: list[str],
    measures: list[str],
    minmax: list[str] | None = None,
) -> int:
    """Full build: one aggregation pass over the base head, stamped
    with the base version it represents.

    ``minmax`` columns maintain MIN/MAX alongside COUNT/SUM. They are
    NOT self-maintainable under deletes (a deleted minimum forces a
    rescan), so refreshes of a view with ``minmax`` recompute the
    *touched keys* from the base head — O(touched keys' rows), not a
    base rescan; the other keys' files still carry over untouched
    (see ``refresh_aggregate_view``)."""
    base_v = _current_version(base_path)
    if base_v is None:
        raise FileNotFoundError(f"no snapshot log at {base_path}")
    minmax = list(minmax or [])
    full = _aggregate(snapshot_read(spark, base_path), keys, measures, minmax)
    return snapshot_write(
        full,
        view_path,
        mode="overwrite",
        properties={
            "base_version": base_v,
            "keys": keys,
            "measures": measures,
            "minmax": minmax,
        },
    )


def _view_spec(
    view_path: str, view_v: int
) -> tuple[object, list[str], list[str], list[str]]:
    """(last base version, keys, measures, minmax) for the view head.
    These come from the manifest property stamp when present, else are
    inferred from the view schema itself (every column is either a
    key, ``_cnt``, ``sum_<m>``, ``min_<c>`` or ``max_<c>``) — so a
    maintenance commit that failed to carry the stamp (or a
    hand-written view) degrades to a rebuild, never a KeyError."""
    import json

    m = _read_manifest(view_path, view_v)
    props = m.get("properties", {})
    keys, measures = props.get("keys"), props.get("measures")
    minmax = props.get("minmax")
    if keys is None or measures is None:
        fields = [f["name"] for f in json.loads(m["schema"])["fields"]]
        agg_prefixes = ("sum_", "min_", "max_")
        keys = [
            c
            for c in fields
            if c != _CNT and not c.startswith(agg_prefixes)
        ]
        measures = [c[len("sum_"):] for c in fields if c.startswith("sum_")]
        minmax = [c[len("min_"):] for c in fields if c.startswith("min_")]
    return props.get("base_version"), keys, measures, list(minmax or [])


# Copy-on-write survivor delete+insert pairs *almost* cancel: the ±v
# doubles are identical but F.sum adds them in an order the engine
# does not pin, so untouched keys can carry ±epsilon residue. Deltas
# at or below this magnitude are noise, not data — dropping them keeps
# the merge to genuinely changed keys and stops drift accumulating in
# view sums across refreshes.
DELTA_TOLERANCE = 1e-6


def refresh_aggregate_view(
    spark: SparkSession, base_path: str, view_path: str
) -> int:
    """Advance the view to the base head using the CDC feed only.
    Returns the new view version (or the current one if already
    caught up). Falls back to a **full rebuild** when incremental
    maintenance is impossible: the base-version stamp is missing
    (e.g. a maintenance commit dropped it) or the stamped version has
    been expired from the base log."""
    view_v = _current_version(view_path)
    if view_v is None:
        raise FileNotFoundError(f"no view at {view_path}; create first")
    last, keys, measures, minmax = _view_spec(view_path, view_v)
    base_v = _current_version(base_path)
    if base_v == last:
        return view_v
    if last is None:
        return create_aggregate_view(
            spark, base_path, view_path, keys, measures, minmax
        )
    try:
        ch = snapshot_changes(
            spark, base_path, from_version=last, to_version=base_v
        )
    except ValueError:
        # stamped version no longer in the base log (expired): the CDC
        # range is gone, so rebuild from the head instead of failing
        return create_aggregate_view(
            spark, base_path, view_path, keys, measures, minmax
        )
    if minmax:
        return _refresh_by_rescan(
            spark, base_path, view_path, ch, keys, measures, minmax, base_v
        )
    sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
        F.lit(-1)
    )
    delta = ch.groupBy(*keys).agg(
        F.sum(sign).alias("_d_cnt"),
        *[F.sum(sign * F.col(c)).alias(f"_d_{c}") for c in measures],
    )
    # survivor rows of copy-on-write file rewrites appear as
    # delete+insert pairs whose deltas cancel — to exactly 0 on the
    # count, to within float reduction-order noise on the sums. Drop
    # sub-tolerance deltas so the merge touches only genuinely changed
    # keys and residue never drifts into the view.
    nonzero = F.col("_d_cnt") != 0
    for c in measures:
        nonzero = nonzero | (F.abs(F.col(f"_d_{c}")) > DELTA_TOLERANCE)
    delta = delta.where(nonzero)
    return _rewrite_touched(
        spark,
        view_path,
        keys[0],
        [delta.select(*keys)],
        lambda current: _apply_delta(current, delta, keys, measures),
        {
            "base_version": base_v,
            "keys": keys,
            "measures": measures,
            "minmax": [],
        },
        null_safe=True,
    )


def _apply_delta(
    current: DataFrame, delta: DataFrame, keys: list[str], measures: list[str]
) -> DataFrame:
    """New contents of the rewritten view files: the full outer join of
    their rows with the per-key delta, planned as one GROUP BY over the
    union of both sides. Each key has at most one row per side, so
    ``max`` picks that side's value. Grouping (unlike ``=``) puts NULL
    keys together, and the delta is already hash-partitioned on
    ``keys``, so the join adds one exchange. Keys without a delta keep
    their stored values bit for bit; touched keys get stored + delta,
    and keys whose count reaches zero leave the view."""
    stored = [_CNT, *[f"sum_{c}" for c in measures]]
    deltas = ["_d_cnt", *[f"_d_{c}" for c in measures]]

    def pad(df: DataFrame, other: DataFrame, cols: list[str]) -> DataFrame:
        return df.select(
            *df.columns,
            *[F.lit(None).cast(other.schema[c].dataType).alias(c) for c in cols],
        )

    both = pad(current.select(*keys, *stored), delta, deltas).unionByName(
        pad(delta, current, stored)
    )
    g = both.groupBy(*keys).agg(*[F.max(c).alias(c) for c in stored + deltas])
    hit = F.col("_d_cnt").isNotNull()
    # SQL SUM semantics: a key whose contributing values are all NULL
    # has sum NULL, not 0 — only add when at least one side actually
    # carries a number.
    return g.select(
        *keys,
        F.when(hit, F.coalesce(F.col(_CNT), F.lit(0)) + F.col("_d_cnt"))
        .otherwise(F.col(_CNT))
        .alias(_CNT),
        *[
            F.when(
                hit & (F.col(f"sum_{c}").isNotNull() | F.col(f"_d_{c}").isNotNull()),
                F.coalesce(F.col(f"sum_{c}"), F.lit(0.0))
                + F.coalesce(F.col(f"_d_{c}"), F.lit(0.0)),
            )
            .otherwise(F.col(f"sum_{c}"))
            .alias(f"sum_{c}")
            for c in measures
        ],
    ).where(F.col(_CNT) > 0)


def _null_safe_join(
    left: DataFrame, right: DataFrame, keys: list[str], how: str
) -> DataFrame:
    """``left`` semi/anti-joined to ``right`` on ``keys`` with NULL
    matching NULL, the way GROUP BY forms view keys."""
    r = right.select(*[F.col(k).alias(f"_r_{k}") for k in keys])
    return left.join(
        r, [F.col(k).eqNullSafe(F.col(f"_r_{k}")) for k in keys], how
    )


def _refresh_by_rescan(
    spark: SparkSession,
    base_path: str,
    view_path: str,
    ch: DataFrame,
    keys: list[str],
    measures: list[str],
    minmax: list[str],
    base_v: int,
) -> int:
    """Refresh for views with non-self-maintainable aggregates
    (MIN/MAX): keys touched by the change range are re-aggregated from
    the base head (one semi-joined scan — O(touched keys' rows), the
    honest cost of a deleted minimum) and replace their rows in the
    rewritten view files; keys whose rows all vanished simply have no
    recomputed row. Untouched view files carry over by reference."""
    touched = ch.select(*keys).distinct()
    recomputed = _aggregate(
        _null_safe_join(
            snapshot_read(spark, base_path), touched, keys, "left_semi"
        ),
        keys,
        measures,
        minmax,
    )
    return _rewrite_touched(
        spark,
        view_path,
        keys[0],
        [touched],
        lambda current: recomputed.unionByName(
            _null_safe_join(current, touched, keys, "left_anti")
        ),
        {
            "base_version": base_v,
            "keys": keys,
            "measures": measures,
            "minmax": minmax,
        },
        null_safe=True,
    )
