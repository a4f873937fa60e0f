"""Inline pipeline observability: data-quality counters that ride the
job instead of re-scanning for them.

A 100 TB pipeline cannot afford "write the table, then run three
audit queries over what you just wrote" — that doubles the I/O. Spark's
``Observation`` API attaches aggregate metrics to a point in the plan;
they are computed by the tasks *during* the one pass the action was
already doing and collected to the driver as accumulators (no extra
scan, no extra shuffle, exactly-once per task re-execution semantics
for deterministic aggregates).

The reference's equivalent surface is its admin/JSON metrics rendering
(``CrossAZBlockPlacementPolicyPlugin.java:221-262`` exposes live
placement state over HTTP); here the counters are first-class engine
plumbing on any sink.
"""

from __future__ import annotations

import uuid

from pyspark.sql import Column, DataFrame, Observation


def observed_write(
    df: DataFrame,
    path: str,
    metrics: dict[str, Column],
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> dict:
    """Write ``df`` and return ``{metric_name: value}`` computed in the
    same pass. ``metrics`` maps output names to aggregate expressions
    (``F.count``, ``F.sum``, ``F.count_if`` …) evaluated over exactly
    the rows that were written."""
    obs = Observation(f"observed_write_{uuid.uuid4().hex[:8]}")
    named = [col.alias(name) for name, col in metrics.items()]
    df.observe(obs, *named).write.format(fmt).mode(mode).save(path)
    return obs.get
