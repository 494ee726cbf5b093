"""Driver-style DuckDB-oracle parity for every registry query at
sf0.001 (fast) — the driver repeats this at sf0.01. Every registered
query carries an oracle, so each one is a case here."""

from __future__ import annotations

import pytest

from roblox_vector_search_datagen_spark.plans.registry import QUERIES

from .oracle_utils import compare_spark_duckdb

@pytest.mark.parametrize("name", list(QUERIES))
def test_oracle_parity(spark, sf_dir, name):
    q = QUERIES[name]
    df = q.builder(spark, sf_dir)
    compare_spark_duckdb(df, q.oracle, sf_dir)

@pytest.mark.slow
def test_all_queries_return_rows(spark, sf_dir):
    for name, q in QUERIES.items():
        n = q.builder(spark, sf_dir).count()
        assert n >= 0, name
