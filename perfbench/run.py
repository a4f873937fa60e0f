#!/usr/bin/env python3
"""crossfire-spark benchmark: one closed-loop client on local[nproc].

    python3 perfbench/run.py --workload placement_olap --seed 1 \\
        --seconds 30 --trace 0

Per run:
1. Generate the seed's inputs (cached; not timed, see ``gen.py``).
2. Set up once, cold, and report it as ``setup_s``: session start,
   which launches the JVM, the first import of the package and its
   registry, input registration and a warm-up query. Its spread is
   taken across seeds (README.md says why it is not a median of
   several set-ups in one run).
3. Check the outputs once, outside the timed passes: oracled queries
   against DuckDB, rows-only queries against digests recorded in
   ``digests.json`` for the seed's inputs (``unchecked`` when none is
   recorded).
4. ``PASSES`` timed passes: the workload's queries in an order drawn
   from the seed, each built and then executed into the ``noop`` sink,
   the next one starting only after the previous one finished. A
   warning is logged when the passes take longer than ``--seconds``.

With ``--trace 1`` one of the passes is traced (which one flips with
the seed); it sets a job group per query and phase, records spans and
reads per-stage counters from the status store after the pass. The
last stdout line is one JSON object: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1`` (names and units
from ``BENCHMARK.json``). Human-readable lines before it start with
``#``. ``record_digests.py`` records the rows-only digests.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import os
import random
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
DIGESTS = os.path.join(HERE, "digests.json")

sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics as M  # noqa: E402
from tracing import StreamCollector, Tracer, install_wrappers, stage_rows  # noqa: E402

# Each workload: its queries and the tables its set-up registers.
# Query lists are sized so one run, cold set-up and cold output check
# included, fits the run budget (README.md).
WORKLOADS = {
    "placement_olap": {
        "queries": [
            "q01", "q10",
            "p01_verify_placement", "p02_deletion_drain", "p03_choose_targets",
        ],
        "tables": ("lineitem", "orders", "customer"),
    },
    "dedup_stream": {
        "queries": [
            "d06_dup_clusters",
            "st01_stream_tumbling", "st07_stream_upsert", "st12_stream_matview",
        ],
        "tables": ("lineitem", "documents", "events"),
    },
}
# the warm-up query of every set-up: the same cheap scan for all
# workloads, so set-up times compare across them
WARMUP = "q01"
LAYERS = ("operators", "placement", "functions", "streaming")
# timed passes per run, all untraced with --trace 0; the end-to-end
# metrics come from the untraced ones
PASSES = 2
STREAM_PHASES = (
    "addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset", "getBatch",
)


def log(msg: str) -> None:
    print(f"# {msg}", flush=True)


def host_memory_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def configure_env(data_dir: str) -> dict[str, str]:
    """Size Spark to the host and keep every file it writes inside
    the checkout. Returns the session confs passed to ``get_spark``."""
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "spark-local")):
        os.makedirs(d, exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    # a quarter of RAM, 1-8 GiB: the local[N] JVM holds the whole engine
    mem = min(8192, max(1024, host_memory_mb() // 4))
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(nproc),
            "SPARK_DRIVER_MEMORY": f"{mem}m",
            "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
            "SPARK_GRAFT_WAREHOUSE": os.path.join(WORK, "warehouse"),
            "SPARK_GRAFT_FIXTURE_DIR": os.path.join(data_dir, "topology"),
            "TMPDIR": tmp,
        }
    )
    tempfile.tempdir = tmp
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        # a fixed heap and young generation: with adaptive sizing the
        # peak RSS of identical runs differed by a third
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{mem}m -Xmn512m",
    }


class RssSampler:
    """Samples the resident memory of the JVM plus all its descendant
    processes (the Python workers) from /proc and keeps the peak.

    Each process counts its proportional set size (``Pss`` in
    ``smaps_rollup``): Python workers are forked from one daemon and
    share its pages copy-on-write, which plain RSS would count once per
    worker."""

    def __init__(self, pid: int, interval: float = 0.2):
        self.pid, self.interval = pid, interval
        self.peak_kb = 0
        self.peak_jvm_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _field_kb(path: str, field: str) -> int:
        try:
            with open(path) as fh:
                for line in fh:
                    if line.startswith(field):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
        out, todo = [], [self.pid]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, ()))
        return out

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            pss = [self._field_kb(f"/proc/{p}/smaps_rollup", "Pss:") for p in self._tree()]
            self.peak_kb = max(self.peak_kb, sum(pss))
            self.peak_jvm_kb = max(self.peak_jvm_kb, pss[0])

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_kb / 1024.0


def canon(v) -> str:
    """Canonical text of one cell for digests: floats to 12 significant
    digits, so a different summation order cannot flip a digest."""
    if isinstance(v, (float, np.floating)):
        return "nan" if v != v else format(float(v), ".12g")
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    return repr(v)


def digest(pdf) -> str:
    rows = sorted("\x1f".join(canon(v) for v in r) for r in pdf.itertuples(index=False))
    head = "\x1f".join(f"{c}:{t}" for c, t in zip(pdf.columns, pdf.dtypes))
    return hashlib.sha256("\n".join([head, *rows]).encode()).hexdigest()


class Bench:
    """One run: set-ups, output check, timed passes, per-layer reads."""

    def __init__(self, args, data_dir: str):
        self.args = args
        self.data_dir = data_dir
        self.wl = WORKLOADS[args.workload]
        self.rng = random.Random(args.seed)
        self.tracer = Tracer(run_id=f"{args.workload}-seed{args.seed}-{os.getpid()}")
        self.streams = StreamCollector()
        self.spark = None
        self.qs = None
        self.session_start_s = 0.0
        self.registry_import_s = 0.0
        self.rss = None

    # -- set-up ---------------------------------------------------------
    def setup(self, conf: dict[str, str]) -> float:
        """The cold set-up: nothing of the package is imported and no
        JVM runs before it."""
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("setup"):
            with tr.span("session.start"):
                from crossfire_spark import session

                spark = session.get_spark(app_name="crossfire-perfbench", extra_conf=conf)
            self.session_start_s = time.perf_counter() - t0
            spark.sparkContext.setLogLevel("ERROR")
            if self.args.trace:
                spark.streams.addListener(self.streams.listener())
            t1 = time.perf_counter()
            with tr.span("registry.import"):
                if self.args.trace:
                    install_wrappers(tr)
                from crossfire_spark import catalog, registry

                self.qs = registry.all_queries()
            self.registry_import_s = time.perf_counter() - t1
            with tr.span("register"):
                catalog.register_tables(spark, self.data_dir, self.wl["tables"])
            with tr.span("warmup"):
                self.qs[WARMUP](spark, self.data_dir).write.format(
                    "noop"
                ).mode("overwrite").save()
        self.spark = spark
        took = time.perf_counter() - t0
        self.rss = RssSampler(spark.sparkContext._gateway.proc.pid)
        self.rss.start()
        return took

    # -- output check ---------------------------------------------------
    def check(self) -> dict[str, list[str]]:
        """Run each query once, collect and compare. Returns the keys by
        verdict: passed / failed / unchecked."""
        oracle = load_oracle_sweep()
        from crossfire_spark import registry

        oracles = registry.all_oracle_sql()
        con = oracle.duck_con(self.data_dir)
        known = load_digests().get(gen.input_key(self.args.seed), {})
        verdict = {"passed": [], "failed": [], "unchecked": []}
        self.streams.current = None
        for name in self.order():
            try:
                got = oracle.norm(self.qs[name](self.spark, self.data_dir).toPandas())
                if name in oracles:
                    probs = oracle.cmp_frames(got, oracle.norm(con.sql(oracles[name]).df()))
                elif name in known:  # rows-only: the package declares no oracle
                    probs = [] if known[name] == digest(got) else ["digest mismatch"]
                else:
                    verdict["unchecked"].append(name)
                    continue
            except Exception as exc:  # noqa: BLE001 - a failing query is a result
                traceback.print_exc(file=sys.stderr)
                probs = [f"{type(exc).__name__}: {exc}"]
            verdict["failed" if probs else "passed"].append(name)
            for p in probs:
                log(f"check {name}: {p}")
        con.close()
        return verdict

    # -- timed passes ---------------------------------------------------
    def order(self) -> list[str]:
        qs = list(self.wl["queries"])
        self.rng.shuffle(qs)
        return qs

    def run_query(self, name: str, tag: str | None) -> dict:
        sc, tr = self.spark.sparkContext, self.tracer
        rec = {"query": name, "ok": False}
        with tr.span("query", query=name):
            try:
                self.streams.current = f"{tag}:{name}" if tag else None
                if tag:
                    sc.setJobGroup(f"{tag}:{name}:build", name)
                t0 = time.perf_counter()
                with tr.span("build"):
                    df = self.qs[name](self.spark, self.data_dir)
                t1 = time.perf_counter()
                if tag:
                    sc.setJobGroup(f"{tag}:{name}:exec", name)
                with tr.span("exec"):
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                rec.update(ok=True, build_s=t1 - t0, exec_s=t2 - t1, latency_s=t2 - t0)
            except Exception:  # noqa: BLE001 - counted in failed
                traceback.print_exc(file=sys.stderr)
        return rec

    def run_pass(self, idx: int, traced: bool) -> dict:
        tag = f"p{idx}" if traced else None
        self.tracer.active = traced
        first_span = len(self.tracer.spans)
        t0 = time.perf_counter()
        with self.tracer.span("pass", index=idx):
            recs = [self.run_query(q, tag) for q in self.order()]
        wall = time.perf_counter() - t0
        if tag:
            self.spark.sparkContext.setJobGroup("idle", "between passes")
        self.tracer.active = False
        return {"wall_s": wall, "queries": recs, "tag": tag, "first_span": first_span}

    def measure(self) -> list[dict]:
        """Run ``PASSES`` passes. A fixed count gives every run with
        ``--trace 0`` the same number of latency samples, so its tail
        percentile means the same from run to run; ``--seconds`` is the
        time the passes should fit."""
        t0 = time.perf_counter()
        passes = [
            # with --trace 1 one pass is traced; which one flips with the
            # seed, so the warming of a young JVM does not bias the
            # tracing overhead the same way on every run
            self.run_pass(i, bool(self.args.trace) and (i + self.args.seed) % 2 == 1)
            for i in range(PASSES)
        ]
        took = time.perf_counter() - t0
        if took > self.args.seconds:
            log(f"warning: the passes took {took:.1f} s, more than --seconds {self.args.seconds:g}")
        return passes

    # -- per-layer metrics of one traced pass ---------------------------
    def layer_metrics(self, p: dict) -> dict[str, float]:
        """Per-layer metrics of one traced pass, read after it ended."""
        sc, tr = self.spark.sparkContext, self.tracer
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        tag = p["tag"]
        layer_of = {r["query"]: self.qs[r["query"]].__module__.split(".")[1] for r in p["queries"]}
        groups, batch_runs = {}, []
        for q in layer_of:
            groups[f"{tag}:{q}:build"] = (q, "build")
            groups[f"{tag}:{q}:exec"] = (q, "exec")
            for run in self.streams.runs_of(f"{tag}:{q}"):
                groups[run] = (q, "build")
                batch_runs.append(run)
        jobs, stages = stage_rows(sc, groups)
        out: dict[str, float] = {}
        sums = M.sum_stage_counters(stages, layer_of)
        for layer in LAYERS:
            acc = sums.get(layer, {})
            for c in (*M.STAGE_COUNTERS, "offjvm_ms"):
                out[f"{layer}.{c}"] = acc.get(c, 0.0)
            for phase in ("build", "exec"):
                out[f"{layer}.{phase}_s"] = sum(
                    r.get(f"{phase}_s", 0.0) for r in p["queries"] if layer_of[r["query"]] == layer
                )
                out[f"{layer}.{phase}_jobs"] = sum(
                    1 for _, q, ph, _ in jobs if ph == phase and layer_of[q] == layer
                )
        since = p["first_span"]
        for name in ("placement.verify", "placement.drain", "placement.choose",
                     "sources.write", "sources.merge", "sources.refresh", "catalog.load"):
            out[f"{name}_s"] = sum(tr.durations(name, since))
        out["sources.write_calls"] = len(tr.durations("sources.write", since))
        out["catalog.load_calls"] = len(tr.durations("catalog.load", since))
        runs = set(batch_runs)
        out["streaming.batch_jobs"] = sum(1 for g, _, _, _ in jobs if g in runs)
        batches = [b for run in batch_runs for b in self.streams.progress.get(run, [])]
        out["streaming.batches"] = len(batches)
        trig = [b["durationMs"].get("triggerExecution", 0) for b in batches]
        out["streaming.batch_p50_ms"] = statistics.median(trig) if trig else 0.0
        out["streaming.batch_tail_ms"] = M.tail_percentile(trig)[1] if trig else 0.0
        for ph in STREAM_PHASES:
            out[f"streaming.{ph}_ms"] = sum(b["durationMs"].get(ph, 0) for b in batches)
        out["streaming.input_rows"] = sum(b["numInputRows"] for b in batches)
        for k in ("state_rows", "state_memory_bytes"):
            out[f"streaming.{k}"] = sum(
                max((b[k] for b in self.streams.progress.get(run, [])), default=0)
                for run in batch_runs
            )
        return out

    def stop(self) -> None:
        if self.spark is not None:
            stop_spark(self.spark)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def load_oracle_sweep():
    spec = importlib.util.spec_from_file_location(
        "oracle_sweep", os.path.join(ROOT, "tools", "oracle_sweep.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def load_digests() -> dict:
    if not os.path.exists(DIGESTS):
        return {}
    with open(DIGESTS) as fh:
        return json.load(fh)


def save_digests(key: str, recorded: dict[str, str]) -> None:
    data = load_digests()
    data.setdefault(key, {}).update(recorded)
    with open(DIGESTS, "w") as fh:
        json.dump(data, fh, indent=1, sort_keys=True)
        fh.write("\n")


def spec_metrics(kind: str) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)[kind]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in ("crossfire_spark/registry.py", "tools/oracle_sweep.py", "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"error: {need} not found under {ROOT}", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    wanted = spec_metrics("per_layer" if args.trace else "end_to_end")

    os.makedirs(WORK, exist_ok=True)
    bench = Bench(args, gen.ensure(args.seed, os.path.join(WORK, "data")))
    conf = configure_env(bench.data_dir)
    bench.tracer.active = bool(args.trace)
    try:
        setup_s = bench.setup(conf)
        t_check = time.perf_counter()
        with bench.tracer.span("check"):
            verdict = bench.check()
        t_measure = time.perf_counter()
        log(f"check {args.workload}: " + json.dumps({k: sorted(v) for k, v in verdict.items()}))
        passes = bench.measure()
        peak_rss_mb = bench.rss.stop()
        log(
            f"timings: check_s={t_measure - t_check:.2f} "
            f"measure_s={time.perf_counter() - t_measure:.2f} "
            f"jvm_peak_rss_mb={bench.rss.peak_jvm_kb / 1024:.0f}"
        )
        layer = [bench.layer_metrics(p) for p in passes if p["tag"]]
        import pyspark

        host = {
            "nproc": int(os.environ["SPARK_GRAFT_CPUS"]),
            "loadavg": os.getloadavg(),
            "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
            "pyspark": pyspark.__version__,
            "java": bench.spark.sparkContext._jvm.System.getProperty("java.version"),
        }
    finally:
        if args.trace:
            bench.tracer.dump(os.path.join(WORK, f"spans-{args.workload}-seed{args.seed}.json"))
        bench.stop()

    plain = [p for p in passes if not p["tag"]]
    recs = [r for p in plain for r in p["queries"]]
    lat = [r["latency_s"] for r in recs if r["ok"]]
    attempted = len(recs) + sum(len(v) for v in verdict.values()) - len(verdict["unchecked"])
    failed = sum(1 for r in recs if not r["ok"]) + len(verdict["failed"])
    tail_p, tail, n = M.tail_percentile(lat) if lat else (0.0, 0.0, 0)
    e2e = {
        "setup_s": setup_s,
        "wall_s": statistics.median(p["wall_s"] for p in plain),
        "query_p50_s": statistics.median(lat) if lat else 0.0,
        "query_tail_s": tail,
        "peak_rss_mb": peak_rss_mb,
    }
    log("host " + json.dumps(host))
    log(
        f"{args.workload} seed={args.seed}: passes_s={[round(p['wall_s'], 2) for p in plain]} samples={n} "
        f"tail=p{tail_p:g} failed_frac={failed / attempted:.4f} (ratio) "
        + " ".join(f"{k}={v:.4f}" for k, v in e2e.items())
    )
    per_query = {}
    for r in recs:
        if r["ok"]:
            per_query.setdefault(r["query"], []).append(r["latency_s"])
    log("per-query median s " + json.dumps(
        {q: round(statistics.median(v), 3) for q, v in sorted(per_query.items())}
    ))
    if args.trace:
        values = layer[0]
        values["session.start_s"] = bench.session_start_s
        values["registry.import_s"] = bench.registry_import_s
        values["trace.overhead_s"] = next(p for p in passes if p["tag"])["wall_s"] - e2e["wall_s"]
        log(f"tracing overhead {args.workload}: {values['trace.overhead_s']:+.4f} s per pass")
    else:
        values = e2e
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
