"""Differential tests: every declared relational query (SURVEY §2.12
Q01–Q27) must match the DuckDB oracle on the same parquet."""

from __future__ import annotations

from test_differential import oracle_test

test_query_matches_oracle = oracle_test("crossfire_spark.operators.relational")
