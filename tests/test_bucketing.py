"""Bucketed-table co-located join: pre-bucketing both sides of a
recurring join key eliminates the shuffle entirely — the biggest
single lever for repeated fact-fact joins at 100 TB."""

from __future__ import annotations

from pyspark.sql import functions as F

from crossfire_spark.catalog import load_table


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    (
        o.write.mode("overwrite")
        .bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .saveAsTable("orders_bucketed")
    )
    (
        c.write.mode("overwrite")
        .bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .saveAsTable("customer_bucketed")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force a sort-merge join so the bucketing (not a broadcast)
        # is what avoids the exchange
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        ob = spark.table("orders_bucketed")
        cb = spark.table("customer_bucketed")
        joined = ob.join(cb, ob.o_custkey == cb.c_custkey).groupBy(
            "c_mktsegment"
        ).agg(F.count(F.lit(1)).alias("c"))
        plan = joined._sc._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "formatted"
        )
        assert "SortMergeJoin" in plan
        # both scans read bucketed layouts...
        assert plan.count("Bucketed: true") == 2, plan[:1500]
        # ...and the ONLY exchange is the post-join groupBy — nothing
        # shuffles into the join itself (tree prints root-first, so
        # count exchanges rather than slicing the tree).
        tree = plan.split("\n\n")[0]
        assert tree.count("Exchange") == 1, (
            "bucketed join must not shuffle either side:\n" + tree
        )
        # and it still returns the right answer
        expect = (
            o.join(c, o.o_custkey == c.c_custkey)
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        assert sorted(map(tuple, joined.collect())) == sorted(
            map(tuple, expect.collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS orders_bucketed")
        spark.sql("DROP TABLE IF EXISTS customer_bucketed")


def test_aqe_splits_skewed_join(spark):
    """Skew discipline at scale: one hot key must not serialize a
    join. With AQE skew handling on, the runtime splits the oversized
    partition into subpartitions (plan says ``skew=true``) instead of
    one straggler task processing the whole hot key."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # 90% of fact rows share key 0; dim is uniform
        fact = spark.range(0, 300_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("v"),
        )
        dim = spark.range(0, 300_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        joined = fact.join(dim, "k")
        # execute joined's own query execution (count() would build a
        # separate one and leave this plan un-finalized)
        assert len(joined.collect()) == 300_000
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final, final[:2000]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_observed_write_metrics_ride_the_job(spark, sf_dir, tmp_path):
    """Data-quality counters computed in the write pass itself —
    no second scan of what was just written."""
    from crossfire_spark.catalog import materialize
    from crossfire_spark.plans.observe import observed_write

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "obs")
    got = observed_write(
        docs,
        out,
        {
            "rows": F.count(F.lit(1)),
            "null_text": F.count_if(F.col("text").isNull()),
            "max_doc": F.max("doc_id"),
        },
    )
    n = docs.count()
    assert got["rows"] == n
    assert got["null_text"] == 0
    assert got["max_doc"] == docs.agg(F.max("doc_id")).first()[0]
    assert spark.read.parquet(out).count() == n

    # DISTINCT aggregates are disallowed in observed metrics (they
    # would need a shuffle); the HLL sketch is the rideable counter
    _, m = materialize(
        docs, {"rows": F.count(F.lit(1)), "langs": F.approx_count_distinct("lang")}
    )
    assert m["rows"] == n
    assert m["langs"] == docs.select("lang").distinct().count()  # exact at 3 langs


def test_range_sorted_layout_gives_disjoint_zone_maps(spark, sf_dir, tmp_path):
    """Layout discipline for time-series at scale: range-partition +
    sort-within-partitions on the clustering key gives every file a
    narrow, pairwise-disjoint [min, max] key range, so parquet footer
    stats (zone maps) let a key-range scan skip whole files. An
    unsorted write spreads every file across the full key range —
    nothing can be skipped."""
    import pyarrow.parquet as pq

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")

    def file_ranges(path):
        out = []
        for root, _d, names in __import__("os").walk(path):
            for n in names:
                if not n.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(f"{root}/{n}").metadata
                idx = md.schema.to_arrow_schema().get_field_index("event_id")
                lo = min(
                    md.row_group(g).column(idx).statistics.min
                    for g in range(md.num_row_groups)
                )
                hi = max(
                    md.row_group(g).column(idx).statistics.max
                    for g in range(md.num_row_groups)
                )
                out.append((lo, hi))
        return sorted(out)

    sorted_path = str(tmp_path / "sorted")
    (
        ev.repartitionByRange(8, "event_id")
        .sortWithinPartitions("event_id")
        .write.parquet(sorted_path)
    )
    unsorted_path = str(tmp_path / "unsorted")
    ev.repartition(8).write.parquet(unsorted_path)

    rs = file_ranges(sorted_path)
    assert len(rs) >= 2
    # pairwise disjoint: each file's min exceeds the previous file's max
    assert all(rs[i][0] > rs[i - 1][1] for i in range(1, len(rs)))

    ru = file_ranges(unsorted_path)
    n_total = ev.count()
    # every unsorted file spans (almost) the whole key range: a
    # point/range predicate can never skip it
    assert all(hi - lo > n_total // 2 for lo, hi in ru)
