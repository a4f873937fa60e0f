"""Paired placement benchmark — the engine analog of the reference's
JMH harness (`BenchmarkPlacementPolicy.java:157-316`), which pairs
CrossAZBlockPlacementPolicy against Hadoop's BlockPlacementPolicyDefault
on the same three workloads:

- **choose**  : target selection for under-replicated blocks
                (`:157-205` chooseTarget vs default)
- **verify**  : placement verification over replica layouts
                (`:207-290` verifyBlockPlacement vs default)
- **delete**  : excess-replica deletion choice, keep=3
                (`:292-316` chooseReplicasToDelete vs default)

The "default policy" side mirrors what BlockPlacementPolicyDefault
actually provides on each axis: count-only verification (no AZ/rack
spread checks), first-fit healthy-node selection (no DC/rack/load
balancing), and drop-highest-id deletion (no AZ-awareness, no
least-useful ordering). Both sides run on the same fixture topology
(254 datanodes, 2 DCs x 10 racks — FIXTURES.md mirrors the JMH
fixture) through the same Spark session, so the pairing isolates
policy cost, not engine overhead.

Usage: python tools/placement_bench.py  [--reps 5]
Prints ONE JSON line:
  {"workloads": {"choose": {"crossfire_s": ..., "default_s": ...,
                            "ratio": ...}, ...}, "reps": N}

Like the JMH harness (0 warmup iterations committed in the reference's
config), the first timed rep is cold; we do one untimed warm-up pass
per side instead so JIT/scan caching doesn't skew the pairing.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import Window
from pyspark.sql import functions as F


def _default_choose(blocks, replicas, datanodes, storages):
    """BlockPlacementPolicyDefault analog: first `additional` healthy
    nodes by id that don't already hold the block — no DC/rack
    balancing, no load awareness, first NORMAL storage by id."""
    healthy = datanodes.where(
        F.col("is_alive") & ~F.col("is_decommissioned") & ~F.col("is_stale")
    ).select("datanode_id")
    st = (
        storages.where(F.col("state") == "NORMAL")
        .groupBy("datanode_id")
        .agg(F.min("storage_id").alias("storage_id"))
    )
    held = replicas.select("block_id", "datanode_id").distinct()
    cand = (
        blocks.crossJoin(F.broadcast(healthy.join(st, "datanode_id")))
        .join(held, ["block_id", "datanode_id"], "left_anti")
    )
    w = Window.partitionBy("block_id").orderBy("datanode_id")
    return (
        cand.withColumn("slot", F.row_number().over(w))
        .where(F.col("slot") <= F.col("additional"))
        .select("block_id", "slot", "datanode_id", "storage_id")
    )


def _default_verify(replicas, required):
    """Count-only check — replica count >= required, nothing else."""
    cnt = replicas.groupBy("block_id").agg(
        F.count(F.lit(1)).alias("replica_cnt")
    )
    return required.join(cnt, "block_id", "left").select(
        "block_id",
        F.coalesce("replica_cnt", F.lit(0)).alias("replica_cnt"),
        (
            F.coalesce("replica_cnt", F.lit(0)) >= F.col("required_replicas")
        ).alias("satisfied"),
    )


def _default_delete(replicas, keep=3):
    """Drop the highest-id replicas beyond keep — no AZ-awareness."""
    w = Window.partitionBy("block_id").orderBy(
        F.col("datanode_id").desc(), F.col("storage_id").desc()
    )
    return (
        replicas.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "total", F.count(F.lit(1)).over(Window.partitionBy("block_id"))
        )
        .where(F.col("rn") <= F.col("total") - keep)
        .select("block_id", "datanode_id", "storage_id")
    )


def _timed(fn, reps):
    fn().count()  # warm-up pass (JIT, scan caching) — untimed
    t0 = time.time()
    for _ in range(reps):
        fn().count()
    return (time.time() - t0) / reps


def main() -> None:
    reps = 5
    if "--reps" in sys.argv:
        reps = int(sys.argv[sys.argv.index("--reps") + 1])

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from crossfire_spark.placement.api import (
        choose_targets,
        deletion_candidates,
        verify_placement,
    )
    from crossfire_spark.placement.queries import load_fixture
    from crossfire_spark.session import get_spark

    spark = get_spark(app_name="placement_bench")
    replicas = load_fixture(spark, "replicas").cache()
    datanodes = load_fixture(spark, "datanodes").cache()
    storages = load_fixture(spark, "storages").cache()
    cases = load_fixture(spark, "placement_cases").cache()
    for df in (replicas, datanodes, storages, cases):
        df.count()
    required = cases.select("block_id", "required_replicas")
    current = replicas.groupBy("block_id").count()
    blocks = (
        cases.join(current, "block_id", "left")
        .na.fill({"count": 0})
        .where(F.col("required_replicas") > F.col("count"))
        .select(
            "block_id",
            (F.col("required_replicas") - F.col("count"))
            .cast("int")
            .alias("additional"),
        )
        .cache()
    )
    blocks.count()

    pairs = {
        "choose": (
            lambda: choose_targets(blocks, replicas, datanodes, storages),
            lambda: _default_choose(blocks, replicas, datanodes, storages),
        ),
        "verify": (
            lambda: verify_placement(replicas, datanodes, required),
            lambda: _default_verify(replicas, required),
        ),
        "delete": (
            lambda: deletion_candidates(replicas, datanodes, storages, keep=3),
            lambda: _default_delete(replicas, keep=3),
        ),
    }
    out = {}
    for name, (cross, default) in pairs.items():
        cs = _timed(cross, reps)
        ds = _timed(default, reps)
        out[name] = {
            "crossfire_s": round(cs, 4),
            "default_s": round(ds, 4),
            "ratio": round(cs / ds, 2) if ds > 0 else None,
        }
    print(json.dumps({"workloads": out, "reps": reps}))


if __name__ == "__main__":
    main()
