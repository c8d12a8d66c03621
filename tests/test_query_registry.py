"""The query contract is one registry: every query in
``__spark_entry__.queries()`` has a DuckDB oracle in ``oracle_sql()``,
and no oracle SQL outlives its query. No Spark session needed."""

import __spark_entry__ as entry


def test_oracle_sql_keys_match_queries():
    assert set(entry.oracle_sql()) == set(entry.queries())
