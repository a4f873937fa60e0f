"""Tracing for the benchmark's traced run.

Spans are recorded from the benchmark's own files only: around the
calls the benchmark makes (session start, registry import, each query's
build and execute phases) and, through wrappers installed on the
package's public functions, around the calls the queries make into
``catalog``, ``placement.api`` and ``sources``. The package itself is
not changed. Spans stay in memory and are written to a JSON file when
the run ends.
"""

from __future__ import annotations

import functools
import importlib
import json
import threading
import time
from contextlib import contextmanager

from metrics import self_times

# (module, function, span name). Installed before the registry import:
# some modules bind these names at import time (operators/relational.py
# does ``from crossfire_spark.catalog import load_table``).
WRAPPED = (
    ("crossfire_spark.catalog", "load_table", "catalog.load"),
    ("crossfire_spark.placement.api", "verify_placement", "placement.verify"),
    ("crossfire_spark.placement.api", "deletion_candidates", "placement.drain"),
    ("crossfire_spark.placement.api", "choose_targets", "placement.choose"),
    ("crossfire_spark.sources.snapshot", "snapshot_write", "sources.write"),
    ("crossfire_spark.sources.snapshot", "snapshot_merge", "sources.merge"),
    ("crossfire_spark.sources.io", "upsert_table", "sources.write"),
    ("crossfire_spark.sources.io", "upsert_table_bucketed", "sources.write"),
    ("crossfire_spark.sources.matview", "refresh_aggregate_view", "sources.refresh"),
)


class Tracer:
    """Collects spans while ``active``. A span's parent is the
    innermost open span of its thread; a span opened on another thread
    (a streaming ``foreachBatch`` callback) with nothing open there
    gets the innermost open span of the main thread as parent."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.active = False
        self.spans: list[dict] = []
        self._t0 = time.perf_counter()
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[dict] = []

    def _stack(self) -> list[dict]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        with self._lock:
            s = {
                "id": len(self.spans),
                "name": name,
                "start": time.perf_counter() - self._t0,
                "end": None,
                "parent": parent["id"] if parent else None,
                "run_id": self.run_id,
                **attrs,
            }
            self.spans.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter() - self._t0
            stack.pop()

    def in_span(self, name: str) -> bool:
        return any(s["name"] == name for s in self._stack())

    def durations(self, name: str, since: int = 0) -> list[float]:
        return [
            s["end"] - s["start"]
            for s in self.spans[since:]
            if s["name"] == name and s["end"] is not None
        ]

    def dump(self, path: str) -> None:
        """Write every closed span, with its self time, as JSON."""
        spans = [s for s in self.spans if s["end"] is not None]
        own = self_times(spans)
        for s in spans:
            s["self"] = own[s["id"]]
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": spans}, fh)


def install_wrappers(tracer: Tracer) -> None:
    """Replace each ``WRAPPED`` function on its module with a timing
    wrapper. A call made while a span of the same name is already
    open on the thread is not timed again (``upsert_table_bucketed``
    writing through ``upsert_table`` counts once)."""
    for mod_name, attr, span_name in WRAPPED:
        mod = importlib.import_module(mod_name)
        fn = getattr(mod, attr)

        def wrapper(*args, _fn=fn, _name=span_name, **kwargs):
            if tracer.in_span(_name):
                return _fn(*args, **kwargs)
            with tracer.span(_name):
                return _fn(*args, **kwargs)

        setattr(mod, attr, functools.wraps(fn)(wrapper))


class StreamCollector:
    """Maps each streaming query run to the benchmark query that
    started it and keeps its progress reports.

    ``onQueryStarted`` is delivered synchronously with
    ``DataStreamWriter.start()``, so ``current`` names the right query
    there; progress events arrive asynchronously and are matched by
    run id."""

    def __init__(self):
        self.current: str | None = None
        self.run_query: dict[str, str] = {}
        self.progress: dict[str, list[dict]] = {}
        self._lock = threading.Lock()

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        col = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with col._lock:
                    col.run_query[str(event.runId)] = col.current

            def onQueryProgress(self, event):
                p = event.progress
                with col._lock:
                    col.progress.setdefault(str(p.runId), []).append(
                        {
                            "durationMs": dict(p.durationMs),
                            "numInputRows": p.numInputRows,
                            "state_rows": sum(
                                s.numRowsTotal for s in p.stateOperators
                            ),
                            "state_memory_bytes": sum(
                                s.memoryUsedBytes for s in p.stateOperators
                            ),
                        }
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()

    def runs_of(self, query: str) -> list[str]:
        with self._lock:
            return [r for r, q in self.run_query.items() if q == query]


def stage_rows(sc, groups: dict[str, tuple[str, str]]) -> tuple[list, list]:
    """Read every job in ``groups`` (job group -> (query, phase)) and
    its stages from the status store. Called after a pass, never
    inside it. Returns ``(jobs, stages)``: jobs as ``(group, query,
    phase, job_id)``, stages as dicts with the ``metrics.STAGE_COUNTERS``."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs, stages = [], []
    for group, (query, phase) in groups.items():
        for job_id in tracker.getJobIdsForGroup(group):
            jobs.append((group, query, phase, job_id))
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                try:
                    sd = store.lastStageAttempt(stage_id)
                except Exception:  # noqa: BLE001 - evicted or never submitted
                    continue
                stages.append(
                    {
                        "query": query,
                        "phase": phase,
                        "stage_id": stage_id,
                        "tasks": sd.numCompleteTasks(),
                        "cpu_ms": sd.executorCpuTime() / 1e6,
                        "run_ms": sd.executorRunTime(),
                        "gc_ms": sd.jvmGcTime(),
                        "shuffle_read_bytes": sd.shuffleReadBytes(),
                        "shuffle_write_bytes": sd.shuffleWriteBytes(),
                        "spill_bytes": sd.diskBytesSpilled(),
                        "input_bytes": sd.inputBytes(),
                    }
                )
    return jobs, stages
