"""A slice of the dialect fuzzer (``tests/dialect_fuzz.py``) in tier-1:
generated DuckDB expressions and queries, composed of rewritten
functions, must give the same values on DuckDB and, through the
rewriter, on Spark."""

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.dialect_fuzz import run, sql_as_data_cases  # noqa: E402


def test_sixty_cases_at_seed_11_match_duckdb(spark):
    checked, mismatches = run(spark, duckdb.connect(), 60, 11)
    assert mismatches == []
    assert checked > 0


def test_twenty_sql_as_data_cases_at_seed_11_match_duckdb(spark):
    checked, mismatches = run(spark, duckdb.connect(), 20, 11, sql_as_data_cases)
    assert mismatches == []
    assert checked == 20
