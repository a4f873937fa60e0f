"""Seeded input generator for the benchmark.

One seed yields one complete input set: the TPC-H-style star schema,
``events``, ``documents`` and ``embeddings`` (same schemas as the
driver test data, see FIXTURES.md) plus a crossfire topology
(``datanodes``, ``storages``, ``replicas``, ``placement_cases``, the
``placement.fixtures`` schema). Same seed, same bytes of data.

Output is cached by seed under ``<cache>/seed-<n>-v<GEN_VERSION>/`` and
written atomically (temp dir + rename), so a crashed run never leaves
a half-written input set behind.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated data changes: recorded digests are keyed by
# it, so stale digests turn into "unchecked" instead of false failures.
GEN_VERSION = 2

# Row counts: the sf0.01 shape of the driver data for the star schema
# (fixed per-job cost, not data volume, dominates at this size, see
# README.md); a 254-node topology as in the reference test fixture,
# with 10,000 blocks so the placement dataflows carry data, not only
# per-job cost (the run budget rules out the ~200,000 of a full-size
# cluster, see README.md).
SIZES = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "users": 150,
    "documents": 400,
    "embeddings": 500,
    "blocks": 10_000,
}

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("red", "small", "hot", "old", "large", "blue", "cold", "new")
PART_NOUN = ("plate", "widget", "ring", "rod", "bolt", "gear", "pipe", "valve")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)

N_NODES = 254
STATES = ("NORMAL", "READ_ONLY_SHARED", "FAILED")
STORAGE_TYPES = ("DISK", "SSD", "ARCHIVE", "RAM_DISK")
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

TPCH_EPOCH = np.datetime64("1995-01-01", "us")
EVENTS_EPOCH = np.datetime64("2024-01-01", "us")
US_PER_DAY = 86_400_000_000


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, span: int, n: int, offset: int = 0) -> np.ndarray:
    d = rng.integers(0, span, n) + offset
    return TPCH_EPOCH + d.astype("timedelta64[D]").astype("timedelta64[us]")


def star_schema(rng) -> dict[str, pa.Table]:
    n = SIZES
    i32, i64 = pa.int32(), pa.int64()
    out = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), i32),
                "r_name": list(REGIONS),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(rng.integers(0, 5, 25), i32),
            }
        ),
    }
    c = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(c), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, c),
            "c_mktsegment": rng.choice(SEGMENTS, c),
        }
    )
    s = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(s), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": pa.array(rng.integers(0, 25, s), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, s),
        }
    )
    p = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(p), i64),
            "p_name": rng.choice(names, p),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
            "p_type": rng.choice(PART_TYPES, p),
            "p_size": pa.array(rng.integers(1, 51, p), i32),
            "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 2),
        }
    )
    o = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(o), i64),
            "o_custkey": pa.array(rng.integers(0, c, o), i64),
            "o_orderstatus": rng.choice(("F", "O", "P"), o),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, o),
            "o_orderdate": _days(rng, 2400, o),
            "o_orderpriority": rng.choice(PRIORITIES, o),
        }
    )
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype("float64")
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, o, li), i64),
            "l_partkey": pa.array(rng.integers(0, p, li), i64),
            "l_suppkey": pa.array(rng.integers(0, s, li), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, li), i32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, li), 2),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": rng.choice(("A", "N", "R"), li),
            "l_linestatus": rng.choice(("F", "O"), li),
            "l_shipdate": _days(rng, 2500, li, offset=1),
        }
    )
    return out


def events(rng) -> pa.Table:
    n = SIZES["events"]
    offs = np.sort(rng.integers(0, 30 * US_PER_DAY, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(EVENTS_EPOCH + offs.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, SIZES["users"], n), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.round(np.clip(rng.exponential(60.0, n), 0.01, 490.0), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def documents(rng) -> pa.Table:
    """Random word documents; 5% are near-duplicates of an earlier
    document (one word changed, ``dup`` appended) and a few of those
    are exact copies, which the dedup queries must find."""
    n = SIZES["documents"]
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            if rng.random() < 0.8:
                words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
            texts.append(" ".join(words + ["dup"]))
        elif i >= 20 and rng.random() < 0.005:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(WORDS, k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(rng) -> pa.Table:
    n = SIZES["embeddings"]
    v = rng.standard_normal((n, 64)).astype("float32")
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def topology(rng) -> dict[str, pa.Table]:
    """Seeded crossfire cluster: 254 datanodes in two datacenters by
    parity, ten racks by ``i % 10``, twelve storages per node (state x
    type), and blocks cycling through the reference's verification
    scenarios with seeded node choice and ~10% FAILED replicas."""
    ids = np.arange(1, N_NODES + 1)
    unhealthy = rng.choice(ids, 5, replace=False)
    decommissioned, stale = set(unhealthy[:3].tolist()), set(unhealthy[3:].tolist())
    dc = np.where(ids % 2 == 0, "even", "odd")
    rack = np.array([f"rack_{i % 10}" for i in ids])
    loc = np.array([f"/{d}/{r}" for d, r in zip(dc, rack)])
    datanodes = pa.table(
        {
            "datanode_id": pa.array(ids, pa.int64()),
            "uuid": [f"uuid-{i:04d}" for i in ids],
            "ip": [f"10.202.77.{i}" for i in ids],
            "hostname": [f"datanode_{i}" for i in ids],
            "datacenter": dc,
            "rack": rack,
            "location": loc,
            "ancestors": pa.array(
                [["/", f"/{d}", l] for d, l in zip(dc, loc)], pa.list_(pa.string())
            ),
            "is_alive": np.ones(N_NODES, bool),
            "is_decommissioned": np.isin(ids, list(decommissioned)),
            "is_stale": np.isin(ids, list(stale)),
            "xceiver_count": pa.array(rng.integers(0, 40, N_NODES), pa.int32()),
        }
    )

    n_st = N_NODES * 12
    capacity = rng.integers(1, 2 * 1024**4, n_st, dtype=np.int64)
    used = (rng.random(n_st) * capacity).astype(np.int64)
    storages = pa.table(
        {
            "storage_id": [f"st-{k:06d}" for k in range(n_st)],
            "datanode_id": pa.array(np.repeat(ids, 12), pa.int64()),
            "state": np.tile(np.repeat(STATES, 4), N_NODES),
            "type": np.tile(STORAGE_TYPES, 3 * N_NODES),
            "capacity": capacity,
            "used": used,
            "remaining": capacity - used,
        }
    )

    healthy: dict[str, list[list[int]]] = {}
    for d in ("even", "odd"):
        racks = {}
        for i in ids.tolist():
            if (i % 2 == 0) == (d == "even") and i not in decommissioned | stale:
                racks.setdefault(f"rack_{i % 10}", []).append(i)
        healthy[d] = [racks[r] for r in sorted(racks)]

    def pick(d: str, rack_slot: int, node_slot: int) -> int:
        nodes = healthy[d][rack_slot % len(healthy[d])]
        return nodes[node_slot % len(nodes)]

    layouts = {
        "under_replicated": (3, False, [("even", 0)]),
        "same_datanode": (3, False, [("odd", 0)] * 3),
        "single_dc_spread": (3, False, [("even", j) for j in range(3)]),
        "multi_dc_ok": (3, True, [("even", 0), ("even", 1), ("odd", 0)]),
        "under_required": (5, False, [("even", 0), ("even", 1), ("odd", 0)]),
        "fully_distributed": (
            4,
            True,
            [("even", 0), ("even", 1), ("odd", 0), ("odd", 1)],
        ),
        "imbalanced": (5, False, [("even", j) for j in range(4)] + [("odd", 0)]),
        "over_replicated_ok": (
            3,
            True,
            [("even", j) for j in range(3)] + [("odd", j) for j in range(3)],
        ),
        "empty": (3, False, []),
    }
    rep = {"block_id": [], "replica_idx": [], "datanode_id": [], "storage_id": []}
    case = {"block_id": [], "scenario": [], "required_replicas": [], "expect_satisfied": []}
    for b in range(1, SIZES["blocks"] + 1):
        scenario = SCENARIOS[(b - 1) % len(SCENARIOS)]
        required, expect, layout = layouts[scenario]
        r = int(rng.integers(0, 1_000_000))
        for idx, (d, rack_off) in enumerate(layout):
            node = pick(d, r + rack_off, r)
            if scenario == "same_datanode":
                state, typ = "NORMAL", STORAGE_TYPES[idx % 4]
            else:
                state = "FAILED" if rng.random() < 0.10 else "NORMAL"
                typ = "SSD"
            k = (node - 1) * 12 + STATES.index(state) * 4 + STORAGE_TYPES.index(typ)
            rep["block_id"].append(b)
            rep["replica_idx"].append(idx)
            rep["datanode_id"].append(node)
            rep["storage_id"].append(f"st-{k:06d}")
        case["block_id"].append(b)
        case["scenario"].append(scenario)
        case["required_replicas"].append(required)
        case["expect_satisfied"].append(expect)
    replicas = pa.table(
        {
            "block_id": pa.array(rep["block_id"], pa.int64()),
            "replica_idx": pa.array(rep["replica_idx"], pa.int32()),
            "datanode_id": pa.array(rep["datanode_id"], pa.int64()),
            "storage_id": rep["storage_id"],
        }
    )
    cases = pa.table(
        {
            "block_id": pa.array(case["block_id"], pa.int64()),
            "scenario": case["scenario"],
            "required_replicas": pa.array(case["required_replicas"], pa.int32()),
            "expect_satisfied": case["expect_satisfied"],
        }
    )
    return {
        "datanodes": datanodes,
        "storages": storages,
        "replicas": replicas,
        "placement_cases": cases,
    }


def input_key(seed: int) -> str:
    return f"seed-{seed}-v{GEN_VERSION}"


def ensure(seed: int, cache_dir: str) -> str:
    """Return the directory holding the input set for ``seed``,
    generating it first if it is not cached. Tables sit at
    ``<dir>/<name>.parquet``, the topology at ``<dir>/topology/``."""
    out = os.path.join(cache_dir, input_key(seed))
    if os.path.isdir(out):
        return out
    os.makedirs(cache_dir, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=".gen-", dir=cache_dir)
    try:
        rng = np.random.default_rng(seed)
        tables = star_schema(rng)
        tables["events"] = events(rng)
        tables["documents"] = documents(rng)
        tables["embeddings"] = embeddings(rng)
        for name, t in tables.items():
            pq.write_table(t, os.path.join(tmp, f"{name}.parquet"))
        os.makedirs(os.path.join(tmp, "topology"))
        for name, t in topology(rng).items():
            pq.write_table(t, os.path.join(tmp, "topology", f"{name}.parquet"))
        os.rename(tmp, out)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    return out
