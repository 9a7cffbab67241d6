"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

All queries live in ``clickhouse_mysql_data_reader_spark/queries/``;
importing the modules below populates the registry.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Importing these modules registers every query + oracle pair.
# Order matters: registration order is the registry's dict order.
from clickhouse_mysql_data_reader_spark.queries import analytics  # noqa: F401
from clickhouse_mysql_data_reader_spark.queries import pipeline  # noqa: F401
from clickhouse_mysql_data_reader_spark.queries import llmops  # noqa: F401
from clickhouse_mysql_data_reader_spark.queries import advanced  # noqa: F401
from clickhouse_mysql_data_reader_spark.queries import multimodal  # noqa: F401
from clickhouse_mysql_data_reader_spark.queries.registry import (
    oracle_sql_map,
    query_map,
)

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H-Q1-style pricing summary) on sf0.001."""
    from clickhouse_mysql_data_reader_spark.queries.analytics import q1_pricing_summary

    return q1_pricing_summary(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return query_map()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle for each SQL-expressible query."""
    return oracle_sql_map()
