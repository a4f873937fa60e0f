"""The placement greedy kernels and the jobs their builders launch.

- The indexed ``choose_block`` of ``placement/api.py`` against the
  scan-based greedy it replaced, kept here as the oracle: per slot it
  scans the whole candidate pool for the least-loaded datacenter, then
  the least-loaded rack, then the best node by the W3 preference.
  Compared row-for-row on seeded random topologies.
- Building p01/p02 launches no Spark job and building p03 launches only
  its candidate ``collect``; the deletion drain and the greedy choose
  return an empty frame with their declared schema when no block needs
  work.
"""

from __future__ import annotations

import random
import uuid

from pyspark.sql import functions as F

from crossfire_spark.placement.api import (
    _CHOOSE_SCHEMA,
    _DELETE_SCHEMA,
    _choose_kernel,
    choose_targets,
    deletion_candidates,
)
from crossfire_spark.placement.queries import PLACEMENT_QUERIES, load_fixture


def _scan_choose_block(
    candidates, exclude_nodes, favored_nodes, block_id, additional, existing_rows
):
    """Oracle: the scan-based greedy, one pass over the pool per slot.
    candidates: (datanode_id, datacenter, rack, xceiver, storage_id,
    remaining); existing_rows: (datanode_id, datacenter, rack)."""
    excluded = set(exclude_nodes or [])
    favored = [n for n in (favored_nodes or []) if n not in excluded]
    candidates = [c for c in candidates if c[0] not in excluded]
    by_id = {c[0]: c for c in candidates}
    favored_cands = [by_id[n] for n in favored if n in by_id]

    used_nodes = {r[0] for r in existing_rows}
    dc_load: dict[str, int] = {}
    rack_load: dict[tuple[str, str], int] = {}
    for r in existing_rows:
        dc_load[r[1]] = dc_load.get(r[1], 0) + 1
        rack_load[(r[1], r[2])] = rack_load.get((r[1], r[2]), 0) + 1
    pool = [c for c in candidates if c[0] not in used_nodes]
    out = []
    queue = [c for c in favored_cands if c[0] not in used_nodes]
    for slot in range(additional):
        if queue:
            pick = queue.pop(0)
            out.append((block_id, slot, pick[0], pick[4]))
            dc_load[pick[1]] = dc_load.get(pick[1], 0) + 1
            rack_load[(pick[1], pick[2])] = rack_load.get((pick[1], pick[2]), 0) + 1
            pool = [c for c in pool if c[0] != pick[0]]
            continue
        if not pool:
            break
        dcs = {c[1] for c in pool}
        dc = min(dcs, key=lambda d: (dc_load.get(d, 0), d))
        in_dc = [c for c in pool if c[1] == dc]
        racks = {c[2] for c in in_dc}
        rack = min(racks, key=lambda rk: (rack_load.get((dc, rk), 0), rk))
        in_rack = [c for c in in_dc if c[2] == rack]
        # W3 preference: most remaining, then fewest xceivers, then id
        pick = min(in_rack, key=lambda c: (-c[5], c[3], c[0]))
        out.append((block_id, slot, pick[0], pick[4]))
        dc_load[dc] = dc_load.get(dc, 0) + 1
        rack_load[(dc, rack)] = rack_load.get((dc, rack), 0) + 1
        pool = [c for c in pool if c[0] != pick[0]]
    return out


def _random_topology(rng: random.Random):
    """Nodes as (id, dc, rack); small value ranges so remaining and
    xceiver ties reach the id tiebreak. About a fifth of the nodes are
    unhealthy: they hold replicas but are no candidates."""
    n_dcs = rng.randint(1, 3)
    nodes = []
    for i in range(1, rng.randint(1, 30) + 1):
        dc = f"dc{rng.randrange(n_dcs)}"
        nodes.append((i, dc, f"rack{rng.randrange(rng.randint(1, 4))}"))
    candidates = [
        (i, dc, rack, rng.randint(0, 3), f"st-{i:04d}", rng.randint(0, 4))
        for i, dc, rack in nodes
        if rng.random() > 0.2
    ]
    rng.shuffle(candidates)
    return nodes, candidates


def test_indexed_choose_matches_scan_oracle():
    rng = random.Random(20260)
    seen = {"excluded": 0, "favored": 0, "no_replicas": 0, "short": 0}
    for _ in range(600):
        nodes, candidates = _random_topology(rng)
        ids = [n[0] for n in nodes]
        exclude = rng.sample(ids, rng.randint(0, len(ids) // 3)) + [999]
        favored = rng.sample(ids + [998], rng.randint(0, min(3, len(ids) + 1)))
        if favored and rng.random() < 0.2:
            favored.append(favored[0])  # a repeated favored node
        kernel = _choose_kernel(candidates, exclude, favored)
        for block_id in range(4):
            existing = [n for n in nodes if rng.random() < 4 / len(nodes)]
            if existing and rng.random() < 0.2:
                existing.append(existing[0])  # two replicas on one node
            additional = rng.randint(0, len(nodes) + 3)
            want = _scan_choose_block(
                candidates, exclude, favored, block_id, additional, existing
            )
            assert kernel(block_id, additional, existing) == want, (
                candidates, exclude, favored, existing, additional,
            )
            free = {c[0] for c in candidates} - set(exclude) - {r[0] for r in existing}
            seen["excluded"] += bool(set(exclude) & {c[0] for c in candidates})
            seen["favored"] += any(r[2] in favored for r in want)
            seen["no_replicas"] += not existing and bool(want)
            seen["short"] += additional > len(free) > 0
    assert all(seen.values()), seen


def _build_jobs(spark, build) -> list[int]:
    """Ids of the Spark jobs ``build()`` launches."""
    sc = spark.sparkContext
    group = f"build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "builder-time jobs")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def test_placement_builders_launch_no_jobs_but_the_candidate_collect(spark, sf_dir):
    for name in ("p01_verify_placement", "p02_deletion_drain"):
        assert _build_jobs(spark, lambda: PLACEMENT_QUERIES[name](spark, sf_dir)) == []
    tracker = spark.sparkContext.statusTracker()
    jobs = _build_jobs(
        spark, lambda: PLACEMENT_QUERIES["p03_choose_targets"](spark, sf_dir)
    )
    assert jobs
    stages = [s for j in jobs for s in tracker.getJobInfo(j).stageIds]
    names = {tracker.getStageInfo(s).name for s in stages}
    assert all(n.startswith("collect at ") and "placement/api.py" in n for n in names), names


def test_drain_with_every_block_at_target_is_empty(spark):
    replicas = load_fixture(spark, "replicas")
    at_target = replicas.join(
        replicas.groupBy("block_id").count().where(F.col("count") <= 3),
        "block_id",
        "left_semi",
    )
    out = deletion_candidates(
        at_target, load_fixture(spark, "datanodes"), load_fixture(spark, "storages"), keep=3
    )
    assert out.schema == _DELETE_SCHEMA
    assert out.collect() == []


def test_choose_with_no_under_replicated_block_is_empty(spark):
    blocks = load_fixture(spark, "placement_cases").select(
        "block_id", F.lit(0).alias("additional")
    )
    out = choose_targets(
        blocks,
        load_fixture(spark, "replicas"),
        load_fixture(spark, "datanodes"),
        load_fixture(spark, "storages"),
    )
    assert out.schema == _CHOOSE_SCHEMA
    assert out.collect() == []
