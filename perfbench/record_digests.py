#!/usr/bin/env python3
"""Record the digests of the rows-only queries for a range of seeds.

    python3 perfbench/record_digests.py 0 49

Rows-only queries have no oracle; ``run.py`` checks them against the
digest recorded here for the seed's inputs and reports them
``unchecked`` for any seed without one. One Spark session serves every
seed: the placement queries read the topology directory from
``placement.queries.FIXTURE_DIR``, which is pointed at each seed's
inputs in turn. Record only from a tree whose outputs are trusted.
"""

from __future__ import annotations

import os
import sys

import run


def main(first: int, last: int) -> None:
    sys.path.insert(0, run.ROOT)
    data = os.path.join(run.WORK, "data")
    conf = run.configure_env(run.gen.ensure(first, data))
    from crossfire_spark import session
    from crossfire_spark.placement import queries as placement_queries
    from crossfire_spark.registry import all_oracle_sql, all_queries

    oracle = run.load_oracle_sweep()
    spark = session.get_spark(app_name="crossfire-perfbench-digests", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    oracles = all_oracle_sql()
    names = [q for wl in run.WORKLOADS.values() for q in wl["queries"] if q not in oracles]
    try:
        for seed in range(first, last + 1):
            data_dir = run.gen.ensure(seed, data)
            placement_queries.FIXTURE_DIR = os.path.join(data_dir, "topology")
            got = {q: run.digest(oracle.norm(qs[q](spark, data_dir).toPandas())) for q in names}
            run.save_digests(run.gen.input_key(seed), got)
            print(f"seed {seed}: {got}", flush=True)
    finally:
        run.stop_spark(spark)


if __name__ == "__main__":
    main(int(sys.argv[1]), int(sys.argv[2]))
