"""Declared crossfire-domain queries Q28–Q31 (SURVEY §2.12).

These re-express the reference's placement computations as declarative
queries over the topology fixture tables (FIXTURES.md §2, generated by
``crossfire_spark.placement.fixtures`` into ``fixtures/topology/``):

- Q28/Q29: the two-level hierarchical balance aggregation of
  ``verifyBlockPlacementBalancedOptimal``
  (``CrossAZBlockPlacementPolicy.java:385-516``, A2/A3) at datacenter
  and rack level.
- Q30: the deletion-priority ranking of ``selectForDeletion``
  (``:518-585``, W4) — FAILED-first, then less-remaining, with
  storage_id as the deterministic tiebreak (§4.3: the reference's
  "round to 100GB" comparator bug is not replicated).
- Q31: the greedy least-loaded-rack step of ``selectInNode``
  (``:688-705``), deterministic variant.

The fixture tables are small dimensions; the ``replicas`` fact is the
one that grows at scale, and every query groups/joins on its keys —
``datanodes`` is always broadcast.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from crossfire_spark.placement.fixtures import DEFAULT_FIXTURE_DIR, SCHEMAS

FIXTURE_DIR = os.environ.get("SPARK_GRAFT_FIXTURE_DIR", DEFAULT_FIXTURE_DIR)


def load_fixture(spark: SparkSession, name: str) -> DataFrame:
    """Read one topology table with its declared schema: no
    schema-inference job at build time."""
    return spark.read.schema(from_arrow_schema(SCHEMAS[name])).parquet(
        os.path.join(FIXTURE_DIR, f"{name}.parquet")
    )


def q28(spark, sf_dir):
    """DC-level balance verification (sf_dir unused: fixture tables)."""
    r = load_fixture(spark, "replicas")
    d = load_fixture(spark, "datanodes")
    per_dc = (
        r.join(F.broadcast(d), "datanode_id")
        .groupBy("block_id", "datacenter")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        per_dc.groupBy("block_id")
        .agg(
            F.count(F.lit(1)).alias("dc_cnt"),
            F.sum("c").alias("replica_cnt"),
            (F.max("c") - F.min("c")).alias("imbalance"),
            ((F.max("c") - F.min("c")) <= 1).alias("balanced"),
        )
        .orderBy("block_id")
    )


def q29(spark, sf_dir):
    """Rack-level balance verification within each datacenter."""
    r = load_fixture(spark, "replicas")
    d = load_fixture(spark, "datanodes")
    per_rack = (
        r.join(F.broadcast(d), "datanode_id")
        .groupBy("block_id", "datacenter", "rack")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        per_rack.groupBy("block_id", "datacenter")
        .agg(
            F.count(F.lit(1)).alias("rack_cnt"),
            F.sum("c").alias("replica_cnt"),
            ((F.max("c") - F.min("c")) <= 1).alias("balanced"),
        )
        .orderBy("block_id", "datacenter")
    )


def q30(spark, sf_dir):
    """Deletion-candidate ranking per block (single round of W4)."""
    r = load_fixture(spark, "replicas")
    s = load_fixture(spark, "storages")
    w = Window.partitionBy("block_id").orderBy(
        F.when(F.col("state") == "FAILED", 0).otherwise(1),
        F.col("remaining"),
        F.col("storage_id"),
    )
    return (
        r.join(F.broadcast(s), "storage_id")
        .select("block_id", "storage_id", F.row_number().over(w).alias("priority"))
        .orderBy("block_id", "priority")
    )


def q31(spark, sf_dir):
    """Least-loaded rack per datacenter (greedy selection step)."""
    s = load_fixture(spark, "storages")
    d = load_fixture(spark, "datanodes")
    rack_load = (
        s.join(F.broadcast(d), "datanode_id")
        .groupBy("datacenter", "rack")
        .agg(F.sum("used").alias("rack_used"))
    )
    w = Window.partitionBy("datacenter").orderBy("rack_used", "rack")
    return (
        rack_load.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("datacenter", "rack")
        .orderBy("datacenter")
    )


def p01_verify_placement(spark, sf_dir):
    """Full placement verification (entry point 3.2) over the fixture
    scenarios — the library function behind Q28/Q29 plus the root
    count and spread checks."""
    from crossfire_spark.placement.api import verify_placement

    return verify_placement(
        load_fixture(spark, "replicas"),
        load_fixture(spark, "datanodes"),
        load_fixture(spark, "placement_cases").select("block_id", "required_replicas"),
    ).orderBy("block_id", "replica_cnt", "satisfied", "reason")


def p02_deletion_drain(spark, sf_dir):
    """Iterative deletion drain (entry point 3.3, W2) over every
    fixture block, keep=3. Deterministic (total-order tiebreaks) but
    not single-statement SQL → rows-only driver check; semantics are
    pinned by the metamorphic tests. The rows come out ordered by
    (block_id, round, storage_id, datanode_id) without a global sort
    (``api._per_block``), so the Python drain runs once."""
    from crossfire_spark.placement.api import deletion_candidates

    return deletion_candidates(
        load_fixture(spark, "replicas"),
        load_fixture(spark, "datanodes"),
        load_fixture(spark, "storages"),
        keep=3,
    )


def p03_choose_targets(spark, sf_dir):
    """Greedy target selection (entry point 3.1) topping up every
    under-replicated fixture block to its required count.
    Deterministic; rows-only check. ``choose_targets`` counts the
    current replicas in the same pass that collects them, and the rows
    come out ordered by (block_id, slot, datanode_id, storage_id)
    without a global sort."""
    from crossfire_spark.placement.api import choose_targets

    return choose_targets(
        load_fixture(spark, "placement_cases").select("block_id", "required_replicas"),
        load_fixture(spark, "replicas"),
        load_fixture(spark, "datanodes"),
        load_fixture(spark, "storages"),
    )


def p04_verify_fast(spark, sf_dir):
    """Fast (count-only) verification — the reference's O(1) downgrade
    (``verifyBlockPlacementFast``, ``:373-383``)."""
    from crossfire_spark.placement.api import verify_placement_fast

    return verify_placement_fast(
        load_fixture(spark, "replicas"),
        load_fixture(spark, "placement_cases").select("block_id", "required_replicas"),
    ).orderBy("block_id", "replica_cnt", "satisfied", "reason")


def p05_rebalance_plan(spark, sf_dir):
    """Cluster rebalance planner — the move plan the reference's
    balancing policy implies (`CrossAZBlockPlacementPolicy.java`'s
    balance criterion, applied as a remediation): per datacenter,
    compute each rack's balanced replica allotment (floor share +1
    for the remainder racks, assigned to the currently-fullest racks
    so moves are minimal), explode each rack's surplus into unit
    rows, pair surplus unit i with deficit unit i, and emit
    (datacenter, from_rack, to_rack, unit) — applying the plan makes
    every rack hit its allotment exactly.

    Fully relational: two aggregates on rack keys, two window ranks,
    a sequence-explode of the ± unit counts, one equi-join on
    (datacenter, unit index). Everything after the first aggregate is
    rack-cardinality — metadata-sized at any cluster scale."""
    r = load_fixture(spark, "replicas")
    d = load_fixture(spark, "datanodes")
    cnt = (
        r.join(F.broadcast(d), "datanode_id")
        .groupBy("datacenter", "rack")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # every rack of the DC participates, including empty ones
    racks = d.select("datacenter", "rack").distinct()
    cnt = racks.join(cnt, ["datacenter", "rack"], "left").na.fill({"c": 0})
    tot = cnt.groupBy("datacenter").agg(
        F.sum("c").alias("total"), F.count(F.lit(1)).alias("n_racks")
    )
    wfull = Window.partitionBy("datacenter").orderBy(
        F.col("c").desc(), F.col("rack")
    )
    alloc = (
        cnt.join(tot, "datacenter")
        .withColumn("rk", F.row_number().over(wfull))
        .withColumn(
            "target",
            (F.col("total") / F.col("n_racks")).cast("long")
            + (
                F.col("rk") <= F.col("total") % F.col("n_racks")
            ).cast("long"),
        )
        .withColumn("surplus", F.col("c") - F.col("target"))
    )
    over = alloc.where(F.col("surplus") > 0).select(
        "datacenter",
        F.col("rack").alias("from_rack"),
        F.explode(F.sequence(F.lit(1), F.col("surplus"))).alias("u"),
    )
    under = alloc.where(F.col("surplus") < 0).select(
        "datacenter",
        F.col("rack").alias("to_rack"),
        F.explode(F.sequence(F.lit(1), -F.col("surplus"))).alias("u"),
    )
    wo = Window.partitionBy("datacenter").orderBy("from_rack", "u")
    wu = Window.partitionBy("datacenter").orderBy("to_rack", "u")
    return (
        over.withColumn("unit", F.row_number().over(wo).cast("long"))
        .drop("u")
        .join(
            under.withColumn("unit", F.row_number().over(wu).cast("long")).drop("u"),
            ["datacenter", "unit"],
        )
        .select("datacenter", "unit", "from_rack", "to_rack")
        .orderBy("datacenter", "unit", "from_rack", "to_rack")
    )


def _p(name: str) -> str:
    return os.path.join(FIXTURE_DIR, f"{name}.parquet")


ORACLE_SQL: dict[str, str] = {
    "q28": f"""WITH per_dc AS (SELECT r.block_id, d.datacenter, COUNT(*) c FROM read_parquet('{_p("replicas")}') r JOIN read_parquet('{_p("datanodes")}') d ON r.datanode_id = d.datanode_id GROUP BY r.block_id, d.datacenter) SELECT block_id, COUNT(*) dc_cnt, CAST(SUM(c) AS BIGINT) replica_cnt, MAX(c) - MIN(c) imbalance, (MAX(c) - MIN(c) <= 1) balanced FROM per_dc GROUP BY block_id ORDER BY block_id""",
    "q29": f"""WITH per_rack AS (SELECT r.block_id, d.datacenter, d.rack, COUNT(*) c FROM read_parquet('{_p("replicas")}') r JOIN read_parquet('{_p("datanodes")}') d ON r.datanode_id = d.datanode_id GROUP BY r.block_id, d.datacenter, d.rack) SELECT block_id, datacenter, COUNT(*) rack_cnt, CAST(SUM(c) AS BIGINT) replica_cnt, (MAX(c) - MIN(c) <= 1) balanced FROM per_rack GROUP BY block_id, datacenter ORDER BY block_id, datacenter""",
    "q30": f"""SELECT r.block_id, r.storage_id, ROW_NUMBER() OVER (PARTITION BY r.block_id ORDER BY CASE WHEN s.state = 'FAILED' THEN 0 ELSE 1 END, s.remaining, r.storage_id) priority FROM read_parquet('{_p("replicas")}') r JOIN read_parquet('{_p("storages")}') s ON r.storage_id = s.storage_id ORDER BY r.block_id, priority""",
    "q31": f"""WITH rack_load AS (SELECT d.datacenter, d.rack, SUM(s.used) rack_used FROM read_parquet('{_p("storages")}') s JOIN read_parquet('{_p("datanodes")}') d ON s.datanode_id = d.datanode_id GROUP BY d.datacenter, d.rack) SELECT datacenter, rack FROM (SELECT datacenter, rack, ROW_NUMBER() OVER (PARTITION BY datacenter ORDER BY rack_used, rack) rn FROM rack_load) t WHERE rn = 1 ORDER BY datacenter""",
    "p01_verify_placement": f"""
WITH dn AS (SELECT datanode_id, list_append(ancestors, location || '/' || hostname) AS chain
            FROM read_parquet('{_p("datanodes")}')),
edges AS (SELECT datanode_id, chain[i] parent, chain[i + 1] child
          FROM dn, unnest(range(1, len(chain))) t(i)),
avail AS (SELECT parent, COUNT(DISTINCT child) available FROM edges GROUP BY parent),
placed AS (SELECT r.block_id, e.parent, e.child
           FROM read_parquet('{_p("replicas")}') r JOIN edges e USING (datanode_id)),
per_child AS (SELECT block_id, parent, child, COUNT(*) cnt
              FROM placed GROUP BY block_id, parent, child),
per_parent AS (SELECT block_id, parent, COUNT(*) used, SUM(cnt) under,
                      MAX(cnt) - MIN(cnt) imbalance
               FROM per_child GROUP BY block_id, parent),
checked AS (SELECT p.block_id, p.parent,
                   (p.used = LEAST(p.under, a.available) AND p.imbalance <= 1) parent_ok,
                   CASE WHEN p.parent = '/' THEN p.under END root_under
            FROM per_parent p JOIN avail a USING (parent)),
per_block AS (SELECT block_id, CAST(MAX(root_under) AS BIGINT) replica_cnt, BOOL_AND(parent_ok) spread_ok
              FROM checked GROUP BY block_id)
SELECT c.block_id,
       COALESCE(b.replica_cnt, 0) replica_cnt,
       (COALESCE(b.replica_cnt, 0) >= c.required_replicas AND COALESCE(b.spread_ok, false)) satisfied,
       CASE WHEN COALESCE(b.replica_cnt, 0) < c.required_replicas THEN 'under_replicated'
            WHEN NOT COALESCE(b.spread_ok, false) THEN 'not_spread_or_imbalanced'
            ELSE 'ok' END reason
FROM read_parquet('{_p("placement_cases")}') c LEFT JOIN per_block b USING (block_id)
ORDER BY block_id, replica_cnt, satisfied, reason""",
    "p04_verify_fast": f"""
WITH counts AS (SELECT block_id, COUNT(*) replica_cnt
                FROM read_parquet('{_p("replicas")}') GROUP BY block_id)
SELECT c.block_id,
       COALESCE(n.replica_cnt, 0) replica_cnt,
       (COALESCE(n.replica_cnt, 0) >= c.required_replicas) satisfied,
       CASE WHEN COALESCE(n.replica_cnt, 0) >= c.required_replicas
            THEN 'ok' ELSE 'under_replicated' END reason
FROM read_parquet('{_p("placement_cases")}') c LEFT JOIN counts n USING (block_id)
ORDER BY block_id, replica_cnt, satisfied, reason""",
    # p02/p03: iterative drain / greedy selection — deterministic but
    # not single-statement SQL; driver records rows-only checks and
    # tests/test_placement.py pins semantics metamorphically.
    "p05_rebalance_plan": f"""
WITH cnt0 AS (SELECT d.datacenter, d.rack, COUNT(*) c
              FROM read_parquet('{_p("replicas")}') r
              JOIN read_parquet('{_p("datanodes")}') d USING (datanode_id)
              GROUP BY d.datacenter, d.rack),
racks AS (SELECT DISTINCT datacenter, rack FROM read_parquet('{_p("datanodes")}')),
cnt AS (SELECT rk.datacenter, rk.rack, COALESCE(c0.c, 0) c
        FROM racks rk LEFT JOIN cnt0 c0 USING (datacenter, rack)),
tot AS (SELECT datacenter, SUM(c) total, COUNT(*) n_racks FROM cnt GROUP BY datacenter),
alloc AS (SELECT cnt.datacenter, cnt.rack, cnt.c,
                 CAST(t.total // t.n_racks AS BIGINT)
                 + CASE WHEN ROW_NUMBER() OVER (PARTITION BY cnt.datacenter
                            ORDER BY cnt.c DESC, cnt.rack) <= t.total % t.n_racks
                        THEN 1 ELSE 0 END target
          FROM cnt JOIN tot t USING (datacenter)),
surplus AS (SELECT datacenter, rack, c - target s FROM alloc),
over_u AS (SELECT datacenter, rack from_rack,
                  ROW_NUMBER() OVER (PARTITION BY datacenter ORDER BY rack, u) unit
           FROM surplus, unnest(range(1, s + 1)) t(u) WHERE s > 0),
under_u AS (SELECT datacenter, rack to_rack,
                   ROW_NUMBER() OVER (PARTITION BY datacenter ORDER BY rack, u) unit
            FROM surplus, unnest(range(1, -s + 1)) t(u) WHERE s < 0)
SELECT datacenter, CAST(unit AS BIGINT) unit, from_rack, to_rack
FROM over_u JOIN under_u USING (datacenter, unit)
ORDER BY datacenter, unit, from_rack, to_rack""",
}

QUERIES = {
    "q28": q28,
    "q29": q29,
    "q30": q30,
    "q31": q31,
    "p01_verify_placement": p01_verify_placement,
    "p02_deletion_drain": p02_deletion_drain,
    "p03_choose_targets": p03_choose_targets,
    "p04_verify_fast": p04_verify_fast,
    "p05_rebalance_plan": p05_rebalance_plan,
}
