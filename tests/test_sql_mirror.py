"""The engine has two faces — DataFrame builders and Spark SQL — and
they must agree: for every declared relational query, running the
canonical SQL through Spark SQL returns exactly what the DataFrame
builder returns (SURVEY §7.1 M1: 'Q01–Q23 via Spark SQL, plus a
mirrored DataFrame-API builder')."""

from __future__ import annotations

import pytest

from crossfire_spark.operators.relational import (
    ORACLE_SQL,
    QUERIES,
    SPARK_SQL_OVERRIDES,
)
from crossfire_spark.plans import results_match
from crossfire_spark.sql import sql


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_sql_equals_dataframe_builder(name, spark, sf_dir):
    via_sql = sql(spark, SPARK_SQL_OVERRIDES.get(name, ORACLE_SQL[name]), sf_dir)
    via_df = QUERIES[name](spark, sf_dir)
    ok, reason = results_match(
        via_sql.columns,
        [tuple(r) for r in via_sql.collect()],
        via_df.columns,
        [tuple(r) for r in via_df.collect()],
    )
    assert ok, f"{name}: SQL face != DataFrame face: {reason}"
