"""Placement library functions: the reference's three NameNode entry
points (SURVEY §3) as DataFrame-returning functions.

Design for scale: the topology (``datanodes``/``storages``) is a
broadcast-sized dimension (thousands of rows even for huge clusters);
``replicas`` is the fact table that grows to billions of rows. Every
function below keeps per-block work distributed — either pure
DataFrame aggregation (verify) or, for the iterative greedy
algorithms whose rounds touch only one block's handful of replicas at
a time (SURVEY §7.3), a ``groupBy`` on the block keys that collects
each block into one row, then ``mapInArrow`` running the per-block
loop once per Arrow batch of whole blocks (``_per_block``).
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Callable

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def _edges(chain: str) -> F.Column:
    """The (parent, child) edges of an ancestor chain, as an array of
    structs.

    Replaces the reference's recursive tree walk
    (``CrossAZBlockPlacementPolicy.java:388-399``, J4) with a bounded
    array transform: ``["/", "/dc", "/dc/rack", leaf]`` yields
    ``(/, /dc), (/dc, /dc/rack), (/dc/rack, leaf)``. A NULL chain gives
    NULL, so ``inline_outer`` keeps its row with NULL edge columns.
    """
    return F.expr(
        f"transform(slice({chain}, 2, size({chain})),"
        f" (c, i) -> struct({chain}[i] AS parent, c AS child))"
    )


def verify_placement(
    replicas: DataFrame,
    datanodes: DataFrame,
    required: DataFrame | int,
) -> DataFrame:
    """Re-implements ``verifyBlockPlacementBalancedOptimal``
    (``CrossAZBlockPlacementPolicy.java:385-516``) as one declarative
    plan per the A2 two-level aggregation:

    For every block and every topology parent (root, each DC, each
    rack): the children actually used must equal
    ``min(replicas under parent, children available)`` (spread check,
    ``:436-497``) and the per-child replica counts must satisfy
    ``max - min <= 1`` (balance check); plus the root count check
    ``replica_cnt >= required`` (``:417-434``).

    ``required`` is an int applied to all blocks or a DataFrame
    ``(block_id, required_replicas)`` — the latter also surfaces blocks
    with zero replicas (the reference's empty-input case,
    ``TestCrossAZBlockPlacementPolicy.java:129``).

    Distributed shape: ``replicas`` is read once and shuffled once, by
    a hash exchange on ``block_id`` placed before the edge explode; the
    per-child, per-parent and per-block aggregates all group on keys
    that start with ``block_id``, so that one exchange serves all
    three. Each replica meets its topology chain through a left
    broadcast join. A replica on a datanode absent from the topology
    (an orphan) keeps its row with a NULL chain, one NULL edge: the
    reference counts every non-null datanode handed to it, so an
    orphan counts toward ``replica_cnt`` and fails its block with
    reason ``orphan_replica`` (its spread is unverifiable). The
    children available per parent come from the broadcast-size
    topology.

    Returns ``(block_id, replica_cnt, satisfied, reason)``.
    """
    topo = datanodes.select(
        "datanode_id",
        F.concat(
            "ancestors", F.array(F.concat_ws("/", "location", "hostname"))
        ).alias("chain"),
    )
    avail = (
        topo.select(F.inline(_edges("chain")))
        .groupBy("parent")
        .agg(F.size(F.collect_set("child")).alias("available"))
    )
    edges = (
        replicas.join(F.broadcast(topo), "datanode_id", "left")
        .repartition("block_id")
        .select("block_id", F.inline_outer(_edges("chain")))
    )
    per_parent = (
        edges.groupBy("block_id", "parent", "child")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("block_id", "parent")
        .agg(
            F.count(F.lit(1)).alias("used"),
            F.sum("cnt").alias("under"),
            (F.max("cnt") - F.min("cnt")).alias("imbalance"),
        )
    )
    under, parent = F.col("under"), F.col("parent")
    per_block = (
        per_parent.join(F.broadcast(avail), "parent", "left")
        .groupBy("block_id")
        .agg(
            # every placed replica has one edge under the root; an
            # orphan has the one NULL edge
            F.sum(F.when((parent == "/") | parent.isNull(), under)).alias(
                "replica_cnt"
            ),
            F.sum(F.when(parent.isNull(), under)).alias("orphan_cnt"),
            F.bool_and(
                (F.col("used") == F.least(under, F.col("available")))
                & (F.col("imbalance") <= 1)
            ).alias("spread_ok"),
        )
    )

    if isinstance(required, int):
        out = per_block.withColumn("required_replicas", F.lit(required))
    else:
        out = required.select("block_id", "required_replicas").join(
            per_block, "block_id", "left"
        )
    cnt = F.coalesce("replica_cnt", F.lit(0))
    orphan = F.coalesce("orphan_cnt", F.lit(0)) > 0
    count_ok = cnt >= F.col("required_replicas")
    spread_ok = F.coalesce("spread_ok", F.lit(False))
    return out.select(
        "block_id",
        cnt.alias("replica_cnt"),
        (count_ok & spread_ok & ~orphan).alias("satisfied"),
        F.when(orphan, F.lit("orphan_replica"))
        .when(~count_ok, F.lit("under_replicated"))
        .when(~spread_ok, F.lit("not_spread_or_imbalanced"))
        .otherwise(F.lit("ok"))
        .alias("reason"),
    )


def verify_placement_fast(
    replicas: DataFrame, required: DataFrame | int
) -> DataFrame:
    """The O(1)-per-block downgrade of verification
    (``verifyBlockPlacementFast``, ``CrossAZBlockPlacementPolicy.java:373-383``):
    satisfied iff replica count >= required — intentionally weak, it
    passes even when every replica sits on one rack (§4.3). Same
    output schema as ``verify_placement`` so callers can switch.
    """
    counts = replicas.groupBy("block_id").agg(F.count(F.lit(1)).alias("replica_cnt"))
    if isinstance(required, int):
        req = counts.select("block_id").withColumn(
            "required_replicas", F.lit(required)
        )
    else:
        req = required.select("block_id", "required_replicas")
    return (
        req.join(counts, "block_id", "left")
        .na.fill({"replica_cnt": 0})
        .withColumn("satisfied", F.col("replica_cnt") >= F.col("required_replicas"))
        .withColumn(
            "reason",
            F.when(F.col("satisfied"), F.lit("ok")).otherwise(
                F.lit("under_replicated")
            ),
        )
        .select("block_id", "replica_cnt", "satisfied", "reason")
    )


def verify(
    replicas: DataFrame,
    datanodes: DataFrame,
    required: DataFrame | int,
    fast_verify: bool = False,
    do_placement_only: bool = False,
) -> DataFrame:
    """Config-switched dispatcher mirroring the reference's hot flags
    (``use_fast_verify`` / ``do_placement_only``,
    ``CrossAZBlockPlacementPolicy.java:283-291``, toggled over HTTP in
    ``Plugin.java:198-213``): placement-only short-circuits to
    constant OK, fast does the count check, full runs the hierarchy
    aggregation."""
    if do_placement_only:
        base = required if not isinstance(required, int) else (
            replicas.select("block_id").distinct().withColumn(
                "required_replicas", F.lit(required)
            )
        )
        counts = replicas.groupBy("block_id").agg(
            F.count(F.lit(1)).alias("replica_cnt")
        )
        return (
            base.select("block_id")
            .join(counts, "block_id", "left")
            .na.fill({"replica_cnt": 0})
            .select(
                "block_id",
                "replica_cnt",
                F.lit(True).alias("satisfied"),
                F.lit("placement_only").alias("reason"),
            )
        )
    if fast_verify:
        return verify_placement_fast(replicas, required)
    return verify_placement(replicas, datanodes, required)


def _per_block(
    grouped: DataFrame,
    kernel: Callable[..., list[tuple]],
    schema: T.StructType,
) -> DataFrame:
    """Run ``kernel(*keys, rows)`` once per block, with one Python call
    per Arrow batch of whole blocks.

    ``grouped`` holds one row per block: its key columns, then a last
    column with the block's ``collect_list(struct(...))``. The kernel
    gets the keys and the struct rows as plain tuples and returns
    output tuples in ``schema``'s column order, ``block_id`` first. No
    pandas frame is built on either side; a column without nulls
    converts through NumPy, an order of magnitude faster than
    ``to_pylist``.

    Input-order contract: ``grouped`` is range-partitioned on
    ``block_id`` (``repartitionByRange`` before its ``groupBy``, so one
    exchange serves both). The output is sorted within each partition
    by ``schema``'s columns; since partition ``i`` holds lower block ids
    than partition ``i + 1``, the rows come out in that order overall
    with no global sort after the kernel. A global ``orderBy`` would
    sample its range bounds by running the Python stage a second time.
    """
    arrow_schema = to_arrow_schema(schema)

    def pylist(col: pa.Array) -> list:
        if col.null_count:
            return col.to_pylist()
        return col.to_numpy(zero_copy_only=False).tolist()

    def run(batches):
        for batch in batches:
            *key_cols, lists = batch.columns
            keys = zip(*(pylist(c) for c in key_cols))
            # the batch's rows as one struct array, split into its fields
            rows = list(zip(*(pylist(f) for f in lists.flatten().flatten())))
            offsets = pylist(lists.offsets)
            out: list[tuple] = []
            for key, lo, hi in zip(keys, offsets, offsets[1:]):
                out.extend(kernel(*key, rows[lo:hi]))
            columns = list(zip(*out)) or [()] * len(arrow_schema)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, f.type) for c, f in zip(columns, arrow_schema)],
                schema=arrow_schema,
            )

    return grouped.mapInArrow(run, schema).sortWithinPartitions(*schema.names)


_DELETE_SCHEMA = T.StructType(
    [
        T.StructField("block_id", T.LongType()),
        T.StructField("round", T.IntegerType()),
        T.StructField("storage_id", T.StringType()),
        T.StructField("datanode_id", T.LongType()),
    ]
)


def deletion_candidates(
    replicas: DataFrame,
    datanodes: DataFrame,
    storages: DataFrame,
    keep: int,
    two_dc_clamp: bool = True,
) -> DataFrame:
    """Re-implements ``chooseReplicasToDelete``
    (``CrossAZBlockPlacementPolicy.java:294-362``, W2 iterative drain):
    repeatedly delete the lowest-priority replica until ``keep``
    remain, re-ranking after every removal (crowding counts change).

    Priority (deterministic form of ``selectForDeletion`` ``:518-585``,
    quirk §4.3 dropped): FAILED storage first, then most-crowded rack,
    then most-crowded datacenter, then least remaining space, then
    storage_id. The 2-DC clamp ``min(4, keep)`` (``:302-306``) is kept
    behind a flag. Hints/excess_types are ignored exactly as the
    reference ignores them (``:295-300``).

    Distributed shape: the topology joins happen before one range
    exchange on ``block_id`` that also serves the ``groupBy`` collecting
    each block's replicas into one row; the drain loop then runs per
    block over Arrow batches of whole blocks (``_per_block``), and the
    rows come out ordered by ``(block_id, round)``. The clamp is a
    one-row, single-exchange aggregate of ``datanodes``, broadcast and
    carried to the kernel as column ``keep``, so building the plan runs
    no job.
    """
    eff_keep = datanodes.agg(
        F.when(
            F.lit(two_dc_clamp) & (F.size(F.collect_set("datacenter")) == 2),
            min(4, keep),
        )
        .otherwise(keep)
        .alias("keep")
    )
    per_block = (
        replicas.join(
            F.broadcast(datanodes.select("datanode_id", "datacenter", "rack")),
            "datanode_id",
        )
        .join(
            F.broadcast(storages.select("storage_id", "state", "remaining")),
            "storage_id",
        )
        .repartitionByRange("block_id")
        .groupBy("block_id")
        .agg(
            F.collect_list(
                F.struct(
                    "storage_id", "datanode_id", "state", "remaining",
                    "datacenter", "rack",
                )
            ).alias("rows")
        )
        .crossJoin(F.broadcast(eff_keep))
        # Only blocks over the target enter the Python drain: at a
        # billion blocks, most are already at target.
        .where(F.size("rows") > F.col("keep"))
        .select("block_id", "keep", "rows")
    )

    def drain_block(block_id: int, keep: int, rows: list[tuple]) -> list[tuple]:
        # rows: (storage_id, datanode_id, state, remaining, datacenter,
        # rack) — a handful per block, so plain tuples.
        out = []
        rnd = 0
        while len(rows) > keep:
            if all(r[2] == "FAILED" for r in rows):
                break  # all-FAILED safety: delete nothing (:356-362)
            rack_cnt = Counter((r[4], r[5]) for r in rows)
            dc_cnt = Counter(r[4] for r in rows)
            victim = min(
                rows,
                key=lambda r: (
                    0 if r[2] == "FAILED" else 1,  # FAILED first
                    -rack_cnt[(r[4], r[5])],  # most-crowded rack
                    -dc_cnt[r[4]],  # most-crowded datacenter
                    r[3],  # least remaining
                    r[0],  # storage_id tiebreak
                ),
            )
            out.append((block_id, rnd, victim[0], victim[1]))
            rows.remove(victim)
            rnd += 1
        return out

    return _per_block(per_block, drain_block, _DELETE_SCHEMA)


_CHOOSE_SCHEMA = T.StructType(
    [
        T.StructField("block_id", T.LongType()),
        T.StructField("slot", T.IntegerType()),
        T.StructField("datanode_id", T.LongType()),
        T.StructField("storage_id", T.StringType()),
    ]
)


def _choose_kernel(
    candidates: list[tuple],
    exclude_nodes: list[int] | None,
    favored_nodes: list[int] | None,
) -> Callable[[int, int, list[tuple]], list[tuple]]:
    """Build ``choose_block(block_id, additional, existing)``, the
    per-block greedy of ``choose_targets``.

    ``candidates`` are ``(datanode_id, datacenter, rack, xceiver,
    storage_id, remaining)``; ``existing`` are the block's current
    replicas as ``(datanode_id, datacenter, rack)``. The candidates are
    indexed once: datacenter -> rack -> candidates presorted by the W3
    preference (most remaining, then fewest xceivers, then id). A slot
    walks datacenters by (load, name), their racks likewise, and takes
    the first candidate the block does not hold yet, so it visits
    datacenters and racks, not every node. The kernel is a closure, so
    it ships to the workers by value.
    """
    excluded = set(exclude_nodes or [])
    by_id = {c[0]: c for c in candidates if c[0] not in excluded}
    index: dict[str, dict[str, list[tuple]]] = {}
    for c in sorted(by_id.values(), key=lambda c: (-c[5], c[3], c[0])):
        index.setdefault(c[1], {}).setdefault(c[2], []).append(c)
    favored = [by_id[n] for n in (favored_nodes or []) if n in by_id]

    def choose_block(
        block_id: int, additional: int, existing: list[tuple]
    ) -> list[tuple]:
        taken = {r[0] for r in existing}
        dc_load = Counter(r[1] for r in existing)
        rack_load = Counter((r[1], r[2]) for r in existing)
        # favored nodes first, in the given order, then the greedy
        queue = [c for c in favored if c[0] not in taken]
        out = []
        for slot in range(additional):
            if queue:
                pick = queue.pop(0)
            else:
                pick = next(
                    (
                        c
                        for dc in sorted(index, key=lambda d: (dc_load[d], d))
                        for rk in sorted(
                            index[dc], key=lambda rk: (rack_load[dc, rk], rk)
                        )
                        for c in index[dc][rk]
                        if c[0] not in taken
                    ),
                    None,
                )
                if pick is None:
                    break
            out.append((block_id, slot, pick[0], pick[4]))
            taken.add(pick[0])
            dc_load[pick[1]] += 1
            rack_load[pick[1], pick[2]] += 1
        return out

    return choose_block


def choose_targets(
    blocks: DataFrame,
    replicas: DataFrame,
    datanodes: DataFrame,
    storages: DataFrame,
    storage_type: str = "SSD",
    exclude_nodes: list[int] | None = None,
    favored_nodes: list[int] | None = None,
) -> DataFrame:
    """Re-implements ``chooseTarget``
    (``CrossAZBlockPlacementPolicy.java:103-219,587-721``) as a
    distributed greedy selection.

    ``blocks`` has one row per block: ``(block_id, additional)``, the
    number of new replicas, or ``(block_id, required_replicas)``, the
    target count, of which the block's current replicas are subtracted
    (what the NameNode's redundancy monitor asks for). For each block,
    each new replica goes to the datacenter with the least speculative
    load (current + already planned, A6 ``:675-685``), then the
    least-loaded rack within it (``:688-705``), then an unused healthy
    node, on its best storage by the W3 preference (demanded type, most
    remaining, lowest xceiver — ``:150-156``; deterministic tiebreak:
    node id). Health predicate P3 (``:365-371``) and storage predicate
    P4 (``:166-188``) are applied as filters before selection.

    The topology candidate list is collected once (broadcast-sized
    dimension; its two scans are the only jobs of the build) and
    shipped in the kernel's closure. ``blocks`` and ``replicas`` meet
    in one range exchange on ``block_id``: their rows are unioned, so
    ``replicas`` is read and shuffled once, and one ``groupBy`` gives
    each block its target, its replica count and its current replicas
    as one row. The greedy runs per block over Arrow batches of whole
    blocks (``_per_block``), and the rows come out ordered by
    ``(block_id, slot)``.

    ``exclude_nodes`` are dropped from the candidate pool (the
    reference's exclusion predicate P5, ``:162-165``); ``favored_nodes``
    are consumed first, in the given order, when healthy and unused
    (the favored-nodes overload exercised at
    ``TestCrossAZBlockPlacementPolicy.java:375,401-424``) — remaining
    slots fall back to the greedy least-loaded selection, exactly as
    the reference falls back to normal placement.
    """
    # The pool is broadcast-sized: two plain scans, joined and reduced
    # on the driver (a Spark join plus max_by launched three jobs).
    # Each node offers its storage with the most remaining space, then
    # the lowest storage_id.
    best: dict[int, tuple[str, int]] = {}
    for node, sid, remaining in sorted(
        storages.where(
            (F.col("state") == "NORMAL")
            & (F.col("type") == storage_type)
            & F.col("remaining").isNotNull()
        )
        .select("datanode_id", "storage_id", "remaining")
        .collect(),
        key=lambda r: (-r[2], r[1]),
    ):
        best.setdefault(node, (sid, remaining))
    healthy = datanodes.where(
        F.col("is_alive") & ~F.col("is_decommissioned") & ~F.col("is_stale")
    ).select("datanode_id", "datacenter", "rack", "xceiver_count")
    candidates = [
        (node, dc, rack, xceivers, *best[node])
        for node, dc, rack, xceivers in healthy.collect()
        if node in best
    ]
    choose_block = _choose_kernel(candidates, exclude_nodes, favored_nodes)

    target = "additional" if "additional" in blocks.columns else "required_replicas"
    # an orphan replica (datanode outside the topology) counts toward
    # the block's replicas with a NULL row, which collect_list skips
    nodes = datanodes.select(
        "datanode_id", F.struct("datanode_id", "datacenter", "rack").alias("row")
    )
    held = replicas.join(F.broadcast(nodes), "datanode_id", "left").select(
        "block_id",
        F.lit(None).cast("int").alias("want"),
        F.lit(1).alias("held"),
        "row",
    )
    wanted = blocks.select(
        "block_id",
        F.col(target).cast("int").alias("want"),
        F.lit(None).cast("int").alias("held"),
        F.lit(None).cast(nodes.schema["row"].dataType).alias("row"),
    )
    additional = F.col("want")
    if target == "required_replicas":
        additional -= F.col("held")
    existing = (
        wanted.unionByName(held)
        .repartitionByRange("block_id")
        .groupBy("block_id")
        .agg(
            F.max("want").alias("want"),
            F.count("held").alias("held"),
            # a block with no replica keeps an empty list
            F.collect_list("row").alias("rows"),
        )
        .select("block_id", additional.cast("int").alias("additional"), "rows")
        .where(F.col("additional") > 0)
    )
    return _per_block(existing, choose_block, _CHOOSE_SCHEMA)
