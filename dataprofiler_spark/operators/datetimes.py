"""Datetime column statistics.

Reference semantics: dataprofiler/profilers/datetime_column_profile.py —
per-format strptime matching (:196-243), min/max as datetimes, union of
matched formats (:245-345, merge :79-120).

Spark design: for string columns, format matching is a battery of
``try_to_timestamp`` expressions folded into the type-inference pass (see
functions/types.py). For natively-typed timestamp columns (the fast path
at scale) the profile is a plain aggregate. Timestamps are reported as
ISO strings so results are engine-portable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataprofiler_spark.operators.numeric import SCALE, scaled

ISO = "yyyy-MM-dd HH:mm:ss"


def datetime_profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """(column, sample_size, null_count, match_count, min_ts, max_ts,
    distinct_count, min_year, max_year) — one wide agg, melted."""
    exprs = []
    for c in cols:
        col = F.col(c)
        exprs.extend([
            F.count(F.lit(1)).alias(f"{c}__sample_size"),
            F.sum(F.when(col.isNull(), 1).otherwise(0)).alias(f"{c}__null_count"),
            F.count(col).alias(f"{c}__match_count"),
            F.date_format(F.min(col), ISO).alias(f"{c}__min_ts"),
            F.date_format(F.max(col), ISO).alias(f"{c}__max_ts"),
            F.count_distinct(col).alias(f"{c}__distinct_count"),
            F.min(F.year(col)).alias(f"{c}__min_year"),
            F.max(F.year(col)).alias(f"{c}__max_year"),
        ])
    row = df.agg(*exprs)
    fields = ["sample_size", "null_count", "match_count", "min_ts", "max_ts",
              "distinct_count", "min_year", "max_year"]
    structs = [
        F.struct(F.lit(c).alias("column"),
                 *[F.col(f"{c}__{f}").alias(f) for f in fields])
        for c in cols
    ]
    return row.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def oracle_datetime_profile_sql(table: str, cols: list[str]) -> str:
    selects = [
        f"""
SELECT '{c}' AS "column", COUNT(*) AS sample_size,
       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count,
       COUNT({c}) AS match_count,
       strftime(MIN({c}), '%Y-%m-%d %H:%M:%S') AS min_ts,
       strftime(MAX({c}), '%Y-%m-%d %H:%M:%S') AS max_ts,
       COUNT(DISTINCT {c}) AS distinct_count,
       MIN(EXTRACT(year FROM {c})) AS min_year,
       MAX(EXTRACT(year FROM {c})) AS max_year
FROM {table}"""
        for c in cols
    ]
    return "\nUNION ALL\n".join(selects)


def time_bucket_rollup(df: DataFrame, ts_col: str, value_col: str,
                       granularity: str = "hour") -> DataFrame:
    """Hypertable-style rollup: (bucket_ts, n, sum_value, avg_value).
    The aggregation shuffles once on the bucket key; at 100 TB this is the
    canonical pre-aggregation pattern for event streams (and the same
    query shape runs under Structured Streaming with a watermark)."""
    b = F.date_trunc(granularity, F.col(ts_col))
    xi = scaled(value_col)
    return (
        df.groupBy(F.date_format(b, ISO).alias("bucket_ts"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(xi.cast("decimal(38,0)")).cast("double") / SCALE, 6)
             .alias("sum_value"),
            F.round(
                F.sum(xi.cast("decimal(38,0)")).cast("double")
                / F.count(F.lit(1)) / SCALE, 6
            ).alias("avg_value"),
        )
    )


def oracle_time_bucket_sql(table: str, ts_col: str, value_col: str,
                           granularity: str = "hour") -> str:
    xi = f"CAST(ROUND(CAST({value_col} AS DOUBLE) * 1000, 0) AS DECIMAL(19,0))"
    return f"""
SELECT strftime(date_trunc('{granularity}', {ts_col}), '%Y-%m-%d %H:%M:%S') AS bucket_ts,
       COUNT(*) AS n,
       ROUND(CAST(SUM(CAST({xi} AS DECIMAL(38,0))) AS DOUBLE) / 1000, 6) AS sum_value,
       ROUND(CAST(SUM(CAST({xi} AS DECIMAL(38,0))) AS DOUBLE) / COUNT(*) / 1000, 6) AS avg_value
FROM {table}
GROUP BY 1
"""
