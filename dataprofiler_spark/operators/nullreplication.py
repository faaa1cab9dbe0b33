"""Null-replication metrics.

Reference: profile_builder.py:2589-2787 (_update_null_replication_metrics
+ merge) — for every column containing nulls: the class prior
P(null)/P(not null) and, for every OTHER numeric column, the sum and mean
partitioned by that nullness (consumed by synthetic-data LDA null
replication). Default OFF (profiler_options.py:1485).

Spark design: per null-bearing column this is a two-group aggregation —
NOT a join: ``groupBy(isnull(c))`` would shuffle, but a conditional-sum
formulation (sum(when(isnull, x)) / sum(when(!isnull, x))) computes every
(target × other) pair in the SAME single wide agg as everything else.
O(k²) expressions, one pass, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataprofiler_spark.operators.numeric import SCALE, scaled


def null_replication_metrics(df: DataFrame, target_cols: list[str],
                             numeric_cols: list[str],
                             round_digits: int = 6) -> DataFrame:
    """(target_column, other_column, null_count, not_null_count,
    sum_when_null, mean_when_null, sum_when_not_null, mean_when_not_null).

    Uses the scaled-integer sums so results are engine-reproducible.
    """
    exprs = []
    for t in target_cols:
        is_null = F.col(t).isNull()
        exprs.append(F.sum(F.when(is_null, 1).otherwise(0)).alias(f"{t}__nn"))
        exprs.append(F.sum(F.when(~is_null, 1).otherwise(0)).alias(f"{t}__nnn"))
        for o in numeric_cols:
            if o == t:
                continue
            xi = scaled(o).cast("decimal(38,0)")
            exprs.append(F.sum(F.when(is_null, xi)).alias(f"{t}__{o}__sn"))
            exprs.append(F.sum(F.when(~is_null, xi)).alias(f"{t}__{o}__snn"))
    row = df.agg(*exprs)

    structs = []
    for t in target_cols:
        nn = F.col(f"{t}__nn")
        nnn = F.col(f"{t}__nnn")
        for o in numeric_cols:
            if o == t:
                continue
            sn = F.col(f"{t}__{o}__sn").cast("double") / F.lit(float(SCALE))
            snn = F.col(f"{t}__{o}__snn").cast("double") / F.lit(float(SCALE))
            structs.append(F.struct(
                F.lit(t).alias("target_column"), F.lit(o).alias("other_column"),
                nn.alias("null_count"), nnn.alias("not_null_count"),
                F.round(sn, round_digits).alias("sum_when_null"),
                F.round(sn / nn, round_digits).alias("mean_when_null"),
                F.round(snn, round_digits).alias("sum_when_not_null"),
                F.round(snn / nnn, round_digits).alias("mean_when_not_null"),
            ))
    return row.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def oracle_null_replication_sql(table: str, target_cols: list[str],
                                numeric_cols: list[str],
                                round_digits: int = 6) -> str:
    S = 1000.0
    selects = []
    for t in target_cols:
        for o in numeric_cols:
            if o == t:
                continue
            xi = f"CAST(CAST(ROUND(CAST({o} AS DOUBLE) * {S}, 0) AS DECIMAL(19,0)) AS DECIMAL(38,0))"
            selects.append(f"""
SELECT '{t}' AS target_column, '{o}' AS other_column,
  CAST(SUM(CASE WHEN {t} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count,
  CAST(SUM(CASE WHEN {t} IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS not_null_count,
  ROUND(CAST(SUM(CASE WHEN {t} IS NULL THEN {xi} END) AS DOUBLE) / {S}, {round_digits}) AS sum_when_null,
  ROUND(CAST(SUM(CASE WHEN {t} IS NULL THEN {xi} END) AS DOUBLE) / {S}
        / SUM(CASE WHEN {t} IS NULL THEN 1 ELSE 0 END), {round_digits}) AS mean_when_null,
  ROUND(CAST(SUM(CASE WHEN {t} IS NOT NULL THEN {xi} END) AS DOUBLE) / {S}, {round_digits}) AS sum_when_not_null,
  ROUND(CAST(SUM(CASE WHEN {t} IS NOT NULL THEN {xi} END) AS DOUBLE) / {S}
        / SUM(CASE WHEN {t} IS NOT NULL THEN 1 ELSE 0 END), {round_digits}) AS mean_when_not_null
FROM {table}""")
    return "\nUNION ALL\n".join(selects)
