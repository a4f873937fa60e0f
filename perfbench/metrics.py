"""Pure metric helpers for the benchmark: no Spark, no I/O, so the
rules are unit-tested in ``test_metrics.py``."""

from __future__ import annotations

import math
from collections.abc import Iterable

# A tail percentile must have at least this many samples beyond it.
TAIL_BEYOND = 10


def tail_percentile(samples: Iterable[float]) -> tuple[float, float, int]:
    """Return ``(percentile, value, n)`` for the highest whole-number
    percentile that has at least ``TAIL_BEYOND`` samples strictly
    beyond its rank.

    With ``n`` sorted samples, percentile ``p`` is read at rank
    ``ceil(p/100 * n)`` (1-based, nearest-rank), leaving ``n - rank``
    samples beyond it. With ``n <= TAIL_BEYOND`` no percentile
    qualifies; the maximum is returned as percentile 100 so the
    caller can report that the tail is not resolved."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n <= TAIL_BEYOND:
        return 100.0, xs[-1], n
    rank = n - TAIL_BEYOND
    p = math.floor(100 * rank / n)
    while p > 0 and math.ceil(p * n / 100) > rank:
        p -= 1
    return float(p), xs[max(1, math.ceil(p * n / 100)) - 1], n


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its
    interval covered by its direct children (overlapping children are
    merged, and a child running past its parent is clipped)."""
    children: dict[int | None, list[dict]] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out: dict[int, float] = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(lo, c["start"]), min(hi, c["end"])
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


STAGE_COUNTERS = (
    "tasks",
    "cpu_ms",
    "run_ms",
    "gc_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
)


def sum_stage_counters(
    stages: Iterable[dict], layer_of: dict[str, str]
) -> dict[str, dict[str, float]]:
    """Sum per-stage counters into per-layer totals.

    Each stage row carries ``query`` (the query whose job group ran
    it), ``stage_id`` and the ``STAGE_COUNTERS``; ``layer_of`` maps a
    query to its layer. A stage shared by two jobs of one query is
    counted once. ``offjvm_ms`` is derived as run minus CPU time: time
    a task spent outside the JVM's own computation (Python workers,
    I/O waits)."""
    seen: set[tuple[str, int]] = set()
    out: dict[str, dict[str, float]] = {}
    for st in stages:
        key = (st["query"], st["stage_id"])
        if key in seen:
            continue
        seen.add(key)
        acc = out.setdefault(
            layer_of[st["query"]], dict.fromkeys(STAGE_COUNTERS, 0.0)
        )
        for c in STAGE_COUNTERS:
            acc[c] += st[c]
    for acc in out.values():
        acc["offjvm_ms"] = acc["run_ms"] - acc["cpu_ms"]
    return out
