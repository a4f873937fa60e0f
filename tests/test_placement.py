"""Placement domain tests: Q28–Q31 vs DuckDB oracle, scenario golden
labels (the reference's ASCII-topology cases re-encoded as data), and
the metamorphic invariants carried over from the reference
(``TestCrossAZBlockPlacementPolicy.java:377-398,245-265``):
``verify(choose(k)) == satisfied`` and
``verify(remaining after delete) == satisfied``."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crossfire_spark.placement.api import (
    choose_targets,
    deletion_candidates,
    verify_placement,
)
from crossfire_spark.placement.queries import QUERIES, load_fixture
from test_differential import oracle_test

test_placement_query_matches_oracle = oracle_test("crossfire_spark.placement.queries")


@pytest.mark.parametrize("name", ["p02_deletion_drain", "p03_choose_targets"])
def test_iterative_queries_run_and_are_deterministic(name, spark, sf_dir):
    """No SQL oracle (iterative); assert non-empty + stable output."""
    first = [tuple(r) for r in QUERIES[name](spark, sf_dir).collect()]
    second = [tuple(r) for r in QUERIES[name](spark, sf_dir).collect()]
    assert first and first == second


@pytest.fixture(scope="module")
def topo(spark):
    return {
        n: load_fixture(spark, n)
        for n in ("datanodes", "storages", "replicas", "placement_cases")
    }


def test_verify_matches_scenario_labels(spark, topo):
    """verify_placement must reproduce every golden expect_satisfied
    label across all 2000 scenario blocks."""
    res = verify_placement(
        topo["replicas"],
        topo["datanodes"],
        topo["placement_cases"].select("block_id", "required_replicas"),
    )
    joined = res.join(topo["placement_cases"], "block_id")
    bad = joined.where(F.col("satisfied") != F.col("expect_satisfied"))
    rows = bad.limit(10).collect()
    assert not rows, f"{bad.count()} mismatches, e.g. {rows}"


def test_choose_then_verify(spark, topo):
    """Metamorphic: topping up under-replicated blocks to the required
    count must make verification pass."""
    cases = topo["placement_cases"].where(
        F.col("scenario").isin("under_replicated", "empty")
    )
    current = topo["replicas"].groupBy("block_id").count()
    blocks = (
        cases.join(current, "block_id", "left")
        .na.fill({"count": 0})
        .select(
            "block_id",
            (F.col("required_replicas") - F.col("count"))
            .cast("int")
            .alias("additional"),
        )
    )
    chosen = choose_targets(
        blocks, topo["replicas"], topo["datanodes"], topo["storages"]
    )
    merged = topo["replicas"].select("block_id", "datanode_id", "storage_id").union(
        chosen.select("block_id", "datanode_id", "storage_id")
    )
    res = verify_placement(
        merged.join(cases.select("block_id"), "block_id", "left_semi"),
        topo["datanodes"],
        cases.select("block_id", "required_replicas"),
    )
    unsat = res.where(~F.col("satisfied"))
    rows = unsat.limit(5).collect()
    assert not rows, f"choose did not satisfy: {rows}"


def test_delete_then_verify(spark, topo):
    """Metamorphic: draining over-replicated blocks back to the
    required count must leave a still-satisfied placement."""
    cases = topo["placement_cases"].where(F.col("scenario") == "over_replicated_ok")
    reps = topo["replicas"].join(cases.select("block_id"), "block_id", "left_semi")
    deleted = deletion_candidates(
        reps, topo["datanodes"], topo["storages"], keep=3
    )
    remaining = reps.join(
        deleted.select("block_id", "storage_id"),
        ["block_id", "storage_id"],
        "left_anti",
    )
    res = verify_placement(
        remaining, topo["datanodes"], cases.select("block_id", "required_replicas")
    )
    unsat = res.where(~F.col("satisfied"))
    rows = unsat.limit(5).collect()
    assert not rows, f"delete broke placement: {rows}"
    # drained to exactly keep=3
    counts = remaining.groupBy("block_id").count().where(F.col("count") != 3)
    assert counts.limit(1).collect() == []


def test_fast_verify_is_intentionally_weak(spark, topo):
    """The fast path passes layouts the full path rejects — e.g.
    single-DC spread with enough replicas (:373-383, §4.3): this
    asymmetry is the reference's documented intent, so pin it."""
    from crossfire_spark.placement.api import verify, verify_placement_fast

    cases = topo["placement_cases"].where(F.col("scenario") == "single_dc_spread")
    reps = topo["replicas"].join(cases.select("block_id"), "block_id", "left_semi")
    req = cases.select("block_id", "required_replicas")
    fast = verify_placement_fast(reps, req)
    assert fast.where(~F.col("satisfied")).limit(1).collect() == []
    full = verify(reps, topo["datanodes"], req, fast_verify=False)
    assert full.where(F.col("satisfied")).limit(1).collect() == []
    # placement-only short-circuit: constant OK
    po = verify(reps, topo["datanodes"], req, do_placement_only=True)
    assert po.where(~F.col("satisfied")).limit(1).collect() == []


def test_choose_with_excludes_and_favored(spark, topo):
    """Mirrors the reference's with-excludes / favored-nodes scenarios
    (TestCrossAZBlockPlacementPolicy.java:401-424): excluded nodes
    never appear; healthy favored nodes are consumed first, in order;
    the result still verifies."""
    cases = topo["placement_cases"].where(F.col("scenario") == "empty").limit(50)
    blocks = cases.select("block_id", F.lit(3).cast("int").alias("additional"))
    excludes = [2, 4, 6, 8, 10]
    favored = [13, 21, 23]  # 13 is decommissioned -> must be skipped
    chosen = choose_targets(
        blocks,
        topo["replicas"],
        topo["datanodes"],
        topo["storages"],
        exclude_nodes=excludes,
        favored_nodes=favored,
    )
    rows = chosen.collect()
    picked = {r.datanode_id for r in rows}
    assert picked.isdisjoint(excludes)
    assert 13 not in picked  # unhealthy favored node skipped
    by_block: dict[int, list] = {}
    for r in rows:
        by_block.setdefault(r.block_id, []).append(r)
    for rs in by_block.values():
        rs = sorted(rs, key=lambda r: r.slot)
        assert [r.datanode_id for r in rs[:2]] == [21, 23]  # favored first
    res = verify_placement(
        chosen.select("block_id", "datanode_id", "storage_id"),
        topo["datanodes"],
        cases.select("block_id", "required_replicas"),
    )
    # favored picks override the balance greedy, so only the count
    # check is guaranteed — mirroring the reference, which also lets
    # favored nodes produce non-optimal (but counted) placements.
    assert res.where(F.col("replica_cnt") < 3).limit(1).collect() == []


def test_two_dc_deletion_clamp(spark, topo):
    """Reference 2-datacenter special case (:302-306): with exactly
    two DCs, keep at most min(4, keep)."""
    cases = topo["placement_cases"].where(F.col("scenario") == "over_replicated_ok")
    reps = topo["replicas"].join(cases.select("block_id"), "block_id", "left_semi")
    deleted = deletion_candidates(
        reps, topo["datanodes"], topo["storages"], keep=5, two_dc_clamp=True
    )
    remaining = reps.join(
        deleted.select("block_id", "storage_id"),
        ["block_id", "storage_id"],
        "left_anti",
    )
    counts = remaining.groupBy("block_id").count().select("count").distinct().collect()
    assert [r["count"] for r in counts] == [4]  # clamped to min(4, 5)


def test_deletion_all_failed_safety(spark, topo):
    """Reference safety rule (:356-362): if every replica of a block
    sits on FAILED storage, delete nothing."""
    s = topo["storages"]
    failed = s.where(F.col("state") == "FAILED").limit(5)
    reps = failed.select(
        F.lit(999999).cast("long").alias("block_id"),
        F.monotonically_increasing_id().cast("int").alias("replica_idx"),
        "datanode_id",
        "storage_id",
    )
    deleted = deletion_candidates(reps, topo["datanodes"], s, keep=3)
    assert deleted.count() == 0


def test_verify_surfaces_orphan_replicas(spark):
    """Replicas pointing at a datanode missing from the topology must
    not be silently dropped (ADVICE r1): they count toward
    replica_cnt and fail the block with reason='orphan_replica'."""
    datanodes = spark.createDataFrame(
        [
            (1, "h1", "/dc1/r1", ["/", "/dc1", "/dc1/r1"]),
            (2, "h2", "/dc1/r1", ["/", "/dc1", "/dc1/r1"]),
        ],
        "datanode_id long, hostname string, location string, ancestors array<string>",
    )
    replicas = spark.createDataFrame(
        [(1, 1), (1, 2), (1, 99), (2, 1), (2, 2)],
        "block_id long, datanode_id long",
    )
    res = {
        r.block_id: r
        for r in verify_placement(replicas, datanodes, required=2).collect()
    }
    # block 1: two placed + one orphan => counted, but unverifiable
    assert res[1].replica_cnt == 3
    assert not res[1].satisfied
    assert res[1].reason == "orphan_replica"
    # block 2 untouched by the orphan logic
    assert res[2].replica_cnt == 2
    assert res[2].satisfied
    assert res[2].reason == "ok"


def test_rebalance_plan_balances_racks(spark):
    """Applying the p05 move plan brings every rack to its allotment:
    per datacenter max-min rack count <= 1 afterwards, and total
    replica count is conserved."""
    from collections import Counter

    from crossfire_spark.placement.queries import (
        load_fixture,
        p05_rebalance_plan,
    )

    r = load_fixture(spark, "replicas")
    d = load_fixture(spark, "datanodes")
    before = Counter()
    for row in (
        r.join(d, "datanode_id").groupBy("datacenter", "rack").count().collect()
    ):
        before[(row["datacenter"], row["rack"])] = row["count"]
    # racks with zero replicas participate too
    for row in d.select("datacenter", "rack").distinct().collect():
        before.setdefault((row["datacenter"], row["rack"]), 0)
    total_before = sum(before.values())
    after = dict(before)
    for mv in p05_rebalance_plan(spark, None).collect():
        after[(mv["datacenter"], mv["from_rack"])] -= 1
        after[(mv["datacenter"], mv["to_rack"])] += 1
    assert sum(after.values()) == total_before
    bydc = {}
    for (dc, _rack), c in after.items():
        bydc.setdefault(dc, []).append(c)
    for dc, cs in bydc.items():
        assert max(cs) - min(cs) <= 1, (dc, cs)
    assert all(c >= 0 for c in after.values())
