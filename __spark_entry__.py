"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The engine lives in ``dataprofiler_spark/``; this module just re-exports
its query registry (dataprofiler_spark/queries.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from dataprofiler_spark.operators import numeric as _num
from dataprofiler_spark.queries import ORACLE_SQL, SPARK_QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: exact numeric profile of sf0.001 lineitem."""
    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    return _num.numeric_profile_exact(
        df, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(SPARK_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLE_SQL)
