"""Column type inference over stringified cells.

Reference semantics (column_profile_compilers.py:260-317): every column is
tested against all four primitive types; ``data_type_representation`` is
the per-type match ratio; the selected type is the FIRST of
[datetime, int, float, text] with ratio == 1.0. Cell tests follow
numerical_column_stats.py:2004-2044 (is_int: float(x) == int(float(x)),
is_float: float(x) parses).

Spark design: all ratios for all columns in ONE wide agg over stringified
cells — sum(when(predicate,1)) per (column, type). Datetime here uses the
ISO shapes (portable across engines); the full strptime-format battery is
functions/types.py:DATETIME_FORMATS, matched inline by the profile plan
(plans/profile_plan.py), where the engine — not an external oracle —
defines parse semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ISO_DT_REGEX = r"^\d{4}-\d{2}-\d{2}([ T]\d{2}:\d{2}:\d{2}(\.\d+)?)?$"


def _s(c: str) -> Column:
    return F.col(c).cast("string")


def is_float_s(c: str) -> Column:
    return _s(c).try_cast("double").isNotNull()


def is_int_s(c: str) -> Column:
    d = _s(c).try_cast("double")
    return d.isNotNull() & (d == F.floor(d))


def is_datetime_s(c: str) -> Column:
    return _s(c).rlike(ISO_DT_REGEX)


def type_inference(df: DataFrame, cols: list[str],
                   round_digits: int = 6) -> DataFrame:
    """(column, n, datetime_ratio, int_ratio, float_ratio, text_ratio,
    inferred_type) — text always matches (ratio 1.0)."""
    exprs = []
    for c in cols:
        nn = F.sum(F.when(F.col(c).isNotNull(), 1).otherwise(0))
        exprs.extend([
            nn.alias(f"{c}__n"),
            F.sum(F.when(is_datetime_s(c), 1).otherwise(0)).alias(f"{c}__dt"),
            F.sum(F.when(is_int_s(c), 1).otherwise(0)).alias(f"{c}__int"),
            F.sum(F.when(is_float_s(c), 1).otherwise(0)).alias(f"{c}__flt"),
        ])
    row = df.agg(*exprs)
    structs = []
    for c in cols:
        n = F.col(f"{c}__n")
        rdt = F.col(f"{c}__dt") / n
        rint = F.col(f"{c}__int") / n
        rflt = F.col(f"{c}__flt") / n
        inferred = (
            F.when(rdt == 1.0, "datetime")
            .when(rint == 1.0, "int")
            .when(rflt == 1.0, "float")
            .otherwise("text")
        )
        structs.append(F.struct(
            F.lit(c).alias("column"), n.alias("n"),
            F.round(rdt, round_digits).alias("datetime_ratio"),
            F.round(rint, round_digits).alias("int_ratio"),
            F.round(rflt, round_digits).alias("float_ratio"),
            F.lit(1.0).alias("text_ratio"),
            inferred.alias("inferred_type"),
        ))
    return row.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def oracle_type_inference_sql(table: str, cols: list[str],
                              round_digits: int = 6) -> str:
    selects = []
    for c in cols:
        s = f"CAST({c} AS VARCHAR)"
        isdt = f"regexp_matches({s}, '{ISO_DT_REGEX}')"
        isint = (f"(TRY_CAST({s} AS DOUBLE) IS NOT NULL"
                 f" AND TRY_CAST({s} AS DOUBLE) = FLOOR(TRY_CAST({s} AS DOUBLE)))")
        isflt = f"TRY_CAST({s} AS DOUBLE) IS NOT NULL"
        selects.append(f"""
SELECT '{c}' AS "column", CAST(n AS BIGINT) AS n,
  ROUND(dt / n, {round_digits}) AS datetime_ratio,
  ROUND(i / n, {round_digits}) AS int_ratio,
  ROUND(f / n, {round_digits}) AS float_ratio,
  1.0 AS text_ratio,
  CASE WHEN dt / n = 1.0 THEN 'datetime'
       WHEN i / n = 1.0 THEN 'int'
       WHEN f / n = 1.0 THEN 'float'
       ELSE 'text' END AS inferred_type
FROM (
  SELECT SUM(CASE WHEN {c} IS NOT NULL THEN 1 ELSE 0 END) AS n,
         CAST(SUM(CASE WHEN {isdt} THEN 1 ELSE 0 END) AS DOUBLE) AS dt,
         CAST(SUM(CASE WHEN {isint} THEN 1 ELSE 0 END) AS DOUBLE) AS i,
         CAST(SUM(CASE WHEN {isflt} THEN 1 ELSE 0 END) AS DOUBLE) AS f
  FROM {table}
)""")
    return "\nUNION ALL\n".join(selects)
