"""Differential test over the registry: every query with oracle SQL
must match DuckDB on the same parquet. Also pins that the registry
fails loudly on a broken family module or a duplicated key.

``oracle_test`` is the one check. Families that have always had their
own test file collect it there, so their test ids stay the same
(``FAMILY_TEST_FILES``); every other family is collected here, and
``test_every_oracle_key_is_collected_once`` pins that the split covers
``all_oracle_sql()`` exactly."""

from __future__ import annotations

import importlib
import sys

import pytest

from crossfire_spark.plans import results_match
from crossfire_spark.registry import FAMILIES, all_oracle_sql, all_queries
from crossfire_spark.streaming import joins

BUILDERS = all_queries()
ORACLES = all_oracle_sql()

FAMILY_TEST_FILES = {
    "crossfire_spark.operators.relational": "test_relational",
    "crossfire_spark.operators.asof": "test_ordered_and_skew",
    "crossfire_spark.operators.extended": "test_extended",
    "crossfire_spark.placement.queries": "test_placement",
    "crossfire_spark.functions.dedup": "test_extensions",
    "crossfire_spark.functions.text": "test_extensions",
    "crossfire_spark.functions.similarity": "test_extensions",
    "crossfire_spark.functions.multimodal": "test_extensions",
    "crossfire_spark.functions.graph": "test_extensions",
    "crossfire_spark.streaming.jobs": "test_streaming",
}


def oracle_test(*families: str):
    """The differential test, parametrized over the oracled keys of
    ``families`` (module paths from ``FAMILIES``)."""
    keys = sorted(k for f in families for k in importlib.import_module(f).ORACLE_SQL)

    @pytest.mark.parametrize("name", keys)
    def test(name, spark, duck, sf_dir):
        sdf = BUILDERS[name](spark, sf_dir)
        s_rows = [tuple(r) for r in sdf.collect()]
        s_cols = sdf.columns

        cur = duck.execute(ORACLES[name])
        o_cols = [d[0] for d in cur.description]
        o_rows = cur.fetchall()

        ok, reason = results_match(s_cols, s_rows, o_cols, o_rows)
        assert ok, f"{name}: {reason}"

    test.oracle_keys = keys
    return test


test_query_matches_oracle = oracle_test(
    *(f for f in FAMILIES if f not in FAMILY_TEST_FILES)
)


def test_every_oracle_key_is_collected_once():
    collected = list(test_query_matches_oracle.oracle_keys)
    for name in sorted(set(FAMILY_TEST_FILES.values())):
        module = importlib.import_module(name)
        for obj in vars(module).values():
            collected += getattr(obj, "oracle_keys", [])
    assert sorted(collected) == sorted(ORACLES)


def test_broken_family_import_raises(monkeypatch):
    # a None entry makes the next import of the module fail
    monkeypatch.setitem(sys.modules, "crossfire_spark.streaming.joins", None)
    with pytest.raises(ImportError):
        all_queries()
    with pytest.raises(ImportError):
        all_oracle_sql()


def test_key_defined_by_two_families_raises(monkeypatch):
    monkeypatch.setitem(joins.QUERIES, "q01", BUILDERS["q01"])
    with pytest.raises(KeyError, match="defined twice"):
        all_queries()
    monkeypatch.setitem(joins.ORACLE_SQL, "q01", ORACLES["q01"])
    with pytest.raises(KeyError, match="defined twice"):
        all_oracle_sql()


def test_oracle_without_builder_raises(monkeypatch):
    monkeypatch.setitem(joins.ORACLE_SQL, "zz_no_builder", "SELECT 1")
    with pytest.raises(KeyError, match="without a builder"):
        all_oracle_sql()
