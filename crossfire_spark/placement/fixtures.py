"""Deterministic crossfire-domain fixtures (FIXTURES.md §2, seed=42).

Mirrors the reference's synthetic cluster fixture
(``TestCrossAZBlockPlacementPolicy.java:36-92``): 254 datanodes,
datacenter by parity (even/odd), rack = ``rack_{i%10}``, one storage
per (state x type) combination per node (12/node, 3048 total). The
reference's unseeded ``ThreadLocalRandom``/``UUID.randomUUID()``
(``:45,:63-72``) are pinned to numpy RandomState(42) / zero-padded
counters so declared queries can use ids as deterministic tiebreaks.

``replicas`` + ``placement_cases`` re-encode the reference's
ASCII-topology verification scenarios
(``TestCrossAZBlockPlacementPolicy.java:111-218``) as data: each block
belongs to one scenario class with a golden ``expect_satisfied`` label.

Run as a module to (re)generate ``fixtures/topology/*.parquet``:
    python -m crossfire_spark.placement.fixtures [out_dir]
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
N_NODES = 254
STATES = ("NORMAL", "READ_ONLY_SHARED", "FAILED")
TYPES = ("DISK", "SSD", "ARCHIVE", "RAM_DISK")
TIB2 = 2 * 1024**4

DECOMMISSIONED = {13, 77, 200}
STALE = {42, 111}

DEFAULT_FIXTURE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "fixtures",
    "topology",
)

# The four tables' Arrow schemas: the generator writes them and
# ``queries.load_fixture`` reads with them, so no read infers a schema.
SCHEMAS: dict[str, pa.Schema] = {
    "datanodes": pa.schema(
        [
            ("datanode_id", pa.int64()),
            ("uuid", pa.string()),
            ("ip", pa.string()),
            ("hostname", pa.string()),
            ("datacenter", pa.string()),
            ("rack", pa.string()),
            ("location", pa.string()),
            ("ancestors", pa.list_(pa.string())),
            ("is_alive", pa.bool_()),
            ("is_decommissioned", pa.bool_()),
            ("is_stale", pa.bool_()),
            ("xceiver_count", pa.int32()),
        ]
    ),
    "storages": pa.schema(
        [
            ("storage_id", pa.string()),
            ("datanode_id", pa.int64()),
            ("state", pa.string()),
            ("type", pa.string()),
            ("capacity", pa.int64()),
            ("used", pa.int64()),
            ("remaining", pa.int64()),
        ]
    ),
    "replicas": pa.schema(
        [
            ("block_id", pa.int64()),
            ("replica_idx", pa.int32()),
            ("datanode_id", pa.int64()),
            ("storage_id", pa.string()),
        ]
    ),
    "placement_cases": pa.schema(
        [
            ("block_id", pa.int64()),
            ("scenario", pa.string()),
            ("required_replicas", pa.int32()),
            ("expect_satisfied", pa.bool_()),
        ]
    ),
}

# scenario -> (replica layout builder, required_replicas, expect_satisfied)
# layouts are expressed as (datacenter, rack_slot, node_slot) triples;
# concrete healthy nodes are resolved deterministically per block.
SCENARIOS = (
    "under_replicated",
    "same_datanode",
    "single_dc_spread",
    "multi_dc_ok",
    "under_required",
    "fully_distributed",
    "imbalanced",
    "over_replicated_ok",
    "empty",
)


def _datanodes() -> pa.Table:
    rng = np.random.RandomState(SEED)
    rows = []
    for i in range(1, N_NODES + 1):
        dc = "even" if i % 2 == 0 else "odd"
        rack = f"rack_{i % 10}"
        location = f"/{dc}/{rack}"
        rows.append(
            {
                "datanode_id": i,
                "uuid": f"uuid-{i:04d}",
                "ip": f"10.202.77.{i}",
                "hostname": f"datanode_{i}",
                "datacenter": dc,
                "rack": rack,
                "location": location,
                "ancestors": ["/", f"/{dc}", location],
                "is_alive": True,
                "is_decommissioned": i in DECOMMISSIONED,
                "is_stale": i in STALE,
                "xceiver_count": int(rng.randint(0, 40)),
            }
        )
    return pa.Table.from_pylist(rows, schema=SCHEMAS["datanodes"])


def _storages() -> pa.Table:
    rng = np.random.RandomState(SEED + 1)
    rows = []
    k = 0
    for i in range(1, N_NODES + 1):
        for state in STATES:
            for typ in TYPES:
                capacity = int(rng.randint(1, TIB2, dtype=np.int64))
                used = int(rng.randint(0, capacity, dtype=np.int64))
                rows.append(
                    {
                        "storage_id": f"st-{k:06d}",
                        "datanode_id": i,
                        "state": state,
                        "type": typ,
                        "capacity": capacity,
                        "used": used,
                        "remaining": capacity - used,
                    }
                )
                k += 1
    return pa.Table.from_pylist(rows, schema=SCHEMAS["storages"])


def _replicas_and_cases(n_blocks: int = 2000) -> tuple[pa.Table, pa.Table]:
    rng = np.random.RandomState(SEED + 2)

    # healthy nodes indexed by (dc, rack) for deterministic slot lookup
    by_dc_rack: dict[str, dict[str, list[int]]] = {"even": {}, "odd": {}}
    for i in range(1, N_NODES + 1):
        if i in DECOMMISSIONED or i in STALE:
            continue
        dc = "even" if i % 2 == 0 else "odd"
        by_dc_rack[dc].setdefault(f"rack_{i % 10}", []).append(i)

    def pick(dc: str, rack_slot: int, node_slot: int) -> int:
        racks = sorted(by_dc_rack[dc])
        rack = racks[rack_slot % len(racks)]
        nodes = by_dc_rack[dc][rack]
        return nodes[node_slot % len(nodes)]

    # storage lookup: (datanode_id, state, type) -> storage_id (generation
    # order of _storages is deterministic: 12 per node, state-major)
    def storage_of(node: int, state: str, typ: str) -> str:
        k = (node - 1) * 12 + STATES.index(state) * 4 + TYPES.index(typ)
        return f"st-{k:06d}"

    rep_rows, case_rows = [], []
    for b in range(1, n_blocks + 1):
        scenario = SCENARIOS[(b - 1) % len(SCENARIOS)]
        r = int(rng.randint(0, 1_000_000))  # per-block jitter for slots
        placements: list[int] = []  # datanode ids
        if scenario == "under_replicated":
            required, expect = 3, False
            placements = [pick("even", r, r)]
        elif scenario == "same_datanode":
            required, expect = 3, False
            placements = [pick("odd", r, r)] * 3
        elif scenario == "single_dc_spread":
            required, expect = 3, False
            placements = [pick("even", r + j, r) for j in range(3)]
        elif scenario == "multi_dc_ok":
            required, expect = 3, True
            placements = [
                pick("even", r, r),
                pick("even", r + 1, r),
                pick("odd", r, r),
            ]
        elif scenario == "under_required":
            required, expect = 5, False
            placements = [
                pick("even", r, r),
                pick("even", r + 1, r),
                pick("odd", r, r),
            ]
        elif scenario == "fully_distributed":
            required, expect = 4, True
            placements = [
                pick("even", r, r),
                pick("even", r + 1, r),
                pick("odd", r, r),
                pick("odd", r + 1, r),
            ]
        elif scenario == "imbalanced":
            required, expect = 5, False
            placements = [pick("even", r + j, r) for j in range(4)] + [
                pick("odd", r, r)
            ]
        elif scenario == "over_replicated_ok":
            required, expect = 3, True
            placements = [pick("even", r + j, r) for j in range(3)] + [
                pick("odd", r + j, r) for j in range(3)
            ]
        else:  # empty
            required, expect = 3, False
            placements = []

        for idx, node in enumerate(placements):
            if scenario == "same_datanode":
                # distinct volumes on one node (reference case :138-140)
                typ = TYPES[idx % len(TYPES)]
                state = "NORMAL"
            else:
                # mostly NORMAL/SSD (the tests' buildSet filter, :220-233);
                # ~10% FAILED to exercise deletion ranking (Q30)
                failed = rng.rand() < 0.10
                state = "FAILED" if failed else "NORMAL"
                typ = "SSD"
            rep_rows.append(
                {
                    "block_id": b,
                    "replica_idx": idx,
                    "datanode_id": node,
                    "storage_id": storage_of(node, state, typ),
                }
            )
        case_rows.append(
            {
                "block_id": b,
                "scenario": scenario,
                "required_replicas": required,
                "expect_satisfied": expect,
            }
        )

    replicas = pa.Table.from_pylist(rep_rows, schema=SCHEMAS["replicas"])
    cases = pa.Table.from_pylist(case_rows, schema=SCHEMAS["placement_cases"])
    return replicas, cases


def generate(out_dir: str = DEFAULT_FIXTURE_DIR) -> None:
    os.makedirs(out_dir, exist_ok=True)
    replicas, cases = _replicas_and_cases()
    for name, table in (
        ("datanodes", _datanodes()),
        ("storages", _storages()),
        ("replicas", replicas),
        ("placement_cases", cases),
    ):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    generate(sys.argv[1] if len(sys.argv) > 1 else DEFAULT_FIXTURE_DIR)
    print(f"wrote fixtures to {sys.argv[1] if len(sys.argv) > 1 else DEFAULT_FIXTURE_DIR}")
