"""Materialized-view robustness: maintenance commits must not break
incremental refresh, expired CDC ranges degrade to a rebuild, SUM
NULL semantics survive maintenance, a NULL group key stays one view
row, and a refresh keeps its job count, file pruning and stale-head
failure."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from crossfire_spark.catalog import load_table
from crossfire_spark.sources.matview import (
    create_aggregate_view,
    refresh_aggregate_view,
)
from crossfire_spark.sources import snapshot
from crossfire_spark.sources.snapshot import (
    _current_version,
    _metadata_commit,
    _read_manifest,
    snapshot_cluster,
    snapshot_compact,
    snapshot_expire,
    snapshot_merge,
    snapshot_read,
    snapshot_write,
)


@pytest.fixture()
def based(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = str(tmp_path / "base")
    view = str(tmp_path / "view")
    snapshot_write(orders.where(F.col("o_orderkey") % 2 == 0), base)
    create_aggregate_view(
        spark, base, view, keys=["o_orderstatus"], measures=["o_totalprice"]
    )
    return orders, base, view


def _check(spark, base, view):
    got = {
        r.o_orderstatus: (r._cnt, r.sum_o_totalprice)
        for r in snapshot_read(spark, view).collect()
    }
    want = {
        r.o_orderstatus: (r.c, r.s)
        for r in snapshot_read(spark, base)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("c"), F.sum("o_totalprice").alias("s"))
        .collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert got[k][0] == want[k][0]
        if want[k][1] is None:
            assert got[k][1] is None, (k, got[k])
        else:
            assert abs(got[k][1] - want[k][1]) < 1e-6, (k, got[k], want[k])


def test_compact_preserves_refresh(spark, based):
    """snapshot_compact on the VIEW must carry the base-version stamp:
    refresh afterwards proceeds incrementally, no KeyError, right
    answer."""
    orders, base, view = based
    snapshot_compact(spark, view)
    props = _read_manifest(view, _current_version(view)).get("properties", {})
    assert "base_version" in props and "keys" in props
    snapshot_write(orders.where(F.col("o_orderkey") % 2 == 1), base)
    refresh_aggregate_view(spark, base, view)
    _check(spark, base, view)


def test_cluster_preserves_refresh(spark, based):
    orders, base, view = based
    snapshot_cluster(spark, view, cols=["_cnt"], bits=2)
    snapshot_write(orders.where(F.col("o_orderkey") % 2 == 1), base)
    refresh_aggregate_view(spark, base, view)
    _check(spark, base, view)


def test_missing_stamp_falls_back_to_rebuild(spark, based):
    """A view head with no property stamp (simulating a legacy or
    hand-maintained commit) infers keys/measures from the schema and
    rebuilds instead of raising KeyError."""
    orders, base, view = based
    snapshot_write(snapshot_read(spark, view), view, mode="overwrite")
    assert (
        _read_manifest(view, _current_version(view)).get("properties", {}) == {}
    )
    snapshot_write(orders.where(F.col("o_orderkey") % 2 == 1), base)
    refresh_aggregate_view(spark, base, view)
    _check(spark, base, view)


def test_expired_base_version_falls_back_to_rebuild(spark, based):
    """When the stamped base version is expired out of the base log,
    refresh rebuilds from the head instead of raising ValueError."""
    orders, base, view = based
    snapshot_write(orders.where(F.col("o_orderkey") % 4 == 1), base)
    snapshot_write(orders.where(F.col("o_orderkey") % 4 == 3), base)
    snapshot_expire(base, keep_last=1)
    refresh_aggregate_view(spark, base, view)
    _check(spark, base, view)


def test_all_null_measure_stays_null(spark, tmp_path):
    """A key whose measure values are all NULL must show sum NULL (SQL
    SUM semantics), not 0.0 — at create AND through refresh."""
    base = str(tmp_path / "b")
    view = str(tmp_path / "v")
    df = spark.createDataFrame(
        [(1, "a", None), (2, "a", None), (3, "b", 5.0)],
        "id long, k string, m double",
    )
    snapshot_write(df, base)
    create_aggregate_view(spark, base, view, keys=["k"], measures=["m"])
    snapshot_write(
        spark.createDataFrame([(4, "a", None)], "id long, k string, m double"),
        base,
    )
    refresh_aggregate_view(spark, base, view)
    rows = {r.k: (r._cnt, r.sum_m) for r in snapshot_read(spark, view).collect()}
    assert rows["a"] == (3, None)
    assert rows["b"] == (1, 5.0)


def test_minmax_view_survives_deleted_minimum(spark, tmp_path):
    """MIN/MAX views refresh by touched-key rescan: deleting the
    minimum row must surface the next-smallest value — the case plain
    IVM cannot maintain."""
    from crossfire_spark.sources.snapshot import snapshot_merge

    base = str(tmp_path / "b")
    view = str(tmp_path / "v")
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 5.0), (3, "a", 9.0), (4, "b", 2.0)],
        "id long, k string, m double",
    )
    snapshot_write(df, base)
    create_aggregate_view(
        spark, base, view, keys=["k"], measures=["m"], minmax=["m"]
    )
    rows = {r.k: r for r in snapshot_read(spark, view).collect()}
    assert (rows["a"].min_m, rows["a"].max_m) == (1.0, 9.0)
    # delete the key-a minimum via merge (delete_keys)
    snapshot_merge(
        spark,
        df.limit(0),
        base,
        keys=["id"],
        delete_keys=spark.createDataFrame([(1,)], "id long"),
    )
    refresh_aggregate_view(spark, base, view)
    rows = {r.k: r for r in snapshot_read(spark, view).collect()}
    assert (rows["a"]._cnt, rows["a"].min_m, rows["a"].max_m) == (2, 5.0, 9.0)
    assert (rows["b"].min_m, rows["b"].max_m) == (2.0, 2.0)  # untouched
    # delete ALL remaining key-a rows -> key leaves the view
    snapshot_merge(
        spark,
        df.limit(0),
        base,
        keys=["id"],
        delete_keys=spark.createDataFrame([(2,), (3,)], "id long"),
    )
    refresh_aggregate_view(spark, base, view)
    assert {r.k for r in snapshot_read(spark, view).collect()} == {"b"}


def test_minmax_view_append_refresh(spark, tmp_path):
    base = str(tmp_path / "b")
    view = str(tmp_path / "v")
    snapshot_write(
        spark.createDataFrame([(1, "a", 3.0)], "id long, k string, m double"),
        base,
    )
    create_aggregate_view(
        spark, base, view, keys=["k"], measures=["m"], minmax=["m"]
    )
    snapshot_write(
        spark.createDataFrame(
            [(2, "a", 1.0), (3, "c", 7.0)], "id long, k string, m double"
        ),
        base,
    )
    refresh_aggregate_view(spark, base, view)
    rows = {r.k: r for r in snapshot_read(spark, view).collect()}
    assert (rows["a"]._cnt, rows["a"].min_m, rows["a"].max_m, rows["a"].sum_m) == (
        2, 1.0, 3.0, 4.0,
    )
    assert (rows["c"]._cnt, rows["c"].min_m) == (1, 7.0)


def test_cluster_validates_column_types(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    path = str(tmp_path / "c")
    snapshot_write(docs.withColumn("arr", F.array("doc_id")), path)
    with pytest.raises(ValueError, match="numeric, string, date"):
        snapshot_cluster(spark, path, cols=["arr"])
    with pytest.raises(ValueError, match="no such column"):
        snapshot_cluster(spark, path, cols=["nope"])


def test_cluster_zorder_on_string_column(spark, sf_dir, tmp_path):
    """String Z-order: distinct-rank boundaries, no SQL literal
    interpolation; data survives, per-file min/max stats on the
    string column enable zone-map pruning."""
    from crossfire_spark.sources.snapshot import _current_version, _read_manifest

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source"
    )
    path = str(tmp_path / "cz")
    snapshot_write(docs, path)
    v = snapshot_cluster(spark, path, cols=["source", "doc_id"], bits=3)
    out = snapshot_read(spark, path)
    assert out.count() == docs.count()
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in docs.collect()
    )
    m = _read_manifest(path, _current_version(path))
    assert v == m["version"]
    assert "source" in m["stats_cols"]
    assert any(st.get("source") for st in m["file_stats"].values())


def _rows(df):
    """Rows as dicts (column order aside), NULL key first."""
    return sorted(
        (r.asDict() for r in df.collect()),
        key=lambda r: (r["k"] is not None, str(r["k"])),
    )


def _group_by(spark, base, minmax):
    """The view a from-scratch GROUP BY over the base head gives."""
    aggs = [F.count(F.lit(1)).alias("_cnt"), F.sum("m").alias("sum_m")]
    if minmax:
        aggs += [F.min("m").alias("min_m"), F.max("m").alias("max_m")]
    return _rows(snapshot_read(spark, base).groupBy("k").agg(*aggs))


@pytest.mark.parametrize("layout", ["plain", "partitioned", "clustered"])
@pytest.mark.parametrize("minmax", [False, True])
def test_null_group_key_is_one_view_row(spark, tmp_path, minmax, layout):
    """GROUP BY puts every NULL key in one group, so the view must keep
    one NULL-key row through an insert into it and deletes from it, on
    the COUNT/SUM path and the MIN/MAX path, with the view unpartitioned,
    partitioned on the key, or clustered on it (key stats never cover
    NULLs, so they must not prune the file holding the NULL key)."""
    schema = "id long, k string, m double"
    base = str(tmp_path / "b")
    view = str(tmp_path / "v")
    snapshot_write(
        spark.createDataFrame(
            [(1, None, 1.0)]
            + [(10 + i, k, 2.0) for i, k in enumerate("abcdefgh")],
            schema,
        ),
        base,
    )
    create_aggregate_view(
        spark, base, view, keys=["k"], measures=["m"],
        minmax=["m"] if minmax else None,
    )
    if layout == "partitioned":
        props = _read_manifest(view, _current_version(view))["properties"]
        snapshot_write(
            snapshot_read(spark, view), view, mode="overwrite",
            partition_by=["k"], properties=props,
        )
    elif layout == "clustered":
        snapshot_cluster(spark, view, cols=["k"], bits=3, n_files=4)

    def check():
        assert _rows(snapshot_read(spark, view)) == _group_by(
            spark, base, minmax
        )

    snapshot_write(
        spark.createDataFrame([(3, None, 4.0), (4, "h", 8.0)], schema), base
    )
    refresh_aggregate_view(spark, base, view)
    check()
    nulls = snapshot_read(spark, view).where(F.col("k").isNull()).collect()
    assert [(r._cnt, r.sum_m) for r in nulls] == [(2, 5.0)]
    for ids in ([(1,)], [(3,)]):  # delete the minimum, then the last row
        snapshot_merge(
            spark,
            spark.createDataFrame([], schema),
            base,
            keys=["id"],
            delete_keys=spark.createDataFrame(ids, "id long"),
        )
        refresh_aggregate_view(spark, base, view)
        check()
    assert snapshot_read(spark, view).where(F.col("k").isNull()).count() == 0


def test_refresh_launches_at_most_three_jobs(spark, tmp_path):
    """A COUNT/SUM refresh of an unpartitioned view scans the CDC feed
    and the view once each in one plan: the delta's exchange, the
    join's exchange and the write — 3 Spark jobs, where planning the
    upsert, delete and key frames separately took 9."""
    schema = "id long, k string, m double"
    base = str(tmp_path / "b")
    view = str(tmp_path / "v")
    snapshot_write(
        spark.createDataFrame(
            [(i, f"k{i % 5}", float(i)) for i in range(50)], schema
        ),
        base,
    )
    create_aggregate_view(spark, base, view, keys=["k"], measures=["m"])
    snapshot_write(
        spark.createDataFrame(
            [(100 + i, f"k{i % 7}", float(i)) for i in range(10)], schema
        ),
        base,
    )
    sc = spark.sparkContext
    group = f"refresh-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "one matview refresh")
    try:
        refresh_aggregate_view(spark, base, view)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 3
    assert _rows(snapshot_read(spark, view)) == _group_by(
        spark, base, minmax=False
    )


@pytest.fixture()
def clustered(spark, tmp_path):
    """A 40-key view clustered on its key into files with disjoint
    recorded key ranges."""
    schema = "id long, k long, m double"
    base = str(tmp_path / "b")
    view = str(tmp_path / "v")
    snapshot_write(
        spark.createDataFrame(
            [(i, i % 40, float(i)) for i in range(80)], schema
        ),
        base,
    )
    create_aggregate_view(spark, base, view, keys=["k"], measures=["m"])
    snapshot_cluster(spark, view, cols=["k"], bits=3, n_files=4)
    m = _read_manifest(view, _current_version(view))
    assert len(m["files"]) >= 3
    assert all("k" in st for st in m["file_stats"].values())
    snapshot_write(
        spark.createDataFrame([(1000, 0, 5.0), (1001, 0, 7.0)], schema), base
    )
    return base, view, m


def test_clustered_refresh_rewrites_only_touched_files(spark, clustered):
    """Key stats prune the refresh: touching key 0 rewrites the file
    whose key range holds it, and every other file carries over into
    the new manifest by reference."""
    base, view, m0 = clustered
    v = refresh_aggregate_view(spark, base, view)
    m1 = _read_manifest(view, v)
    far = {f for f, st in m0["file_stats"].items() if st["k"][0] > 0}
    assert far and far == set(m0["files"]) & set(m1["files"])
    assert all("k" in m1["file_stats"][f] for f in m1["files"])
    assert _rows(snapshot_read(spark, view)) == _group_by(
        spark, base, minmax=False
    )


def test_refresh_against_moved_head_raises(spark, clustered, monkeypatch):
    """A refresh whose view head moves between picking its files and
    committing raises instead of committing over the newer head."""
    base, view, m0 = clustered
    before = _rows(snapshot_read(spark, view))
    list_files = snapshot._list_data_files

    def commit_first(*args):
        monkeypatch.setattr(snapshot, "_list_data_files", list_files)
        _metadata_commit(view, "concurrent")
        return list_files(*args)

    monkeypatch.setattr(snapshot, "_list_data_files", commit_first)
    with pytest.raises(RuntimeError, match="stale head"):
        refresh_aggregate_view(spark, base, view)
    head = _current_version(view)
    assert _read_manifest(view, head)["operation"] == "concurrent"
    assert _read_manifest(view, head)["files"] == m0["files"]
    assert _rows(snapshot_read(spark, view)) == before
