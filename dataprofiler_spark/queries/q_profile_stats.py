from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataprofiler_spark import report as rep
from dataprofiler_spark.operators import categorical as cat
from dataprofiler_spark.operators import datetimes as dt
from dataprofiler_spark.operators import histogram as hist
from dataprofiler_spark.operators import numeric as num
from dataprofiler_spark.operators import order as ordmod
from dataprofiler_spark.operators import rowstats as rs
from dataprofiler_spark.operators import textstats as ts
from dataprofiler_spark.queries._registry import ORACLE_SQL
from dataprofiler_spark.queries._registry import T, register

# ---------------------------------------------------------------------------
# Numeric profile battery (SURVEY §2.4: min/max/sum/mean/variance/stddev/
# skewness/kurtosis/num_zeros/num_negatives, exact oracle-matched mode)
# ---------------------------------------------------------------------------

_LINEITEM_NUM = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


@register("outlier_counts_lineitem",
          num.oracle_outlier_counts_sql("lineitem", _LINEITEM_NUM, z=1.5))
def outlier_counts_lineitem(spark, sf_dir):
    """Per-column z-score outlier fences (mean ± z·stddev from the
    exact-mode decimal sums): two scans at any column count, fence
    comparisons engine-exact."""
    # z=1.5 so the uniform-ish TPC-H columns (max |z| ~ 1.7) actually
    # produce nonzero counts — a discriminating hash, not all-zeros.
    return num.outlier_counts(T(spark, sf_dir, "lineitem"), _LINEITEM_NUM,
                              z=1.5)


@register(
    "numeric_profile_lineitem",
    num.oracle_numeric_profile_sql("lineitem", _LINEITEM_NUM),
)
def numeric_profile_lineitem(spark, sf_dir):
    df = T(spark, sf_dir, "lineitem")
    return num.numeric_profile_exact(df, _LINEITEM_NUM)


_ORDERS_NUM = ["o_totalprice"]


@register(
    "numeric_profile_orders",
    num.oracle_numeric_profile_sql("orders", _ORDERS_NUM),
)
def numeric_profile_orders(spark, sf_dir):
    df = T(spark, sf_dir, "orders")
    return num.numeric_profile_exact(df, _ORDERS_NUM)


# ---------------------------------------------------------------------------
# Categorical profile (SURVEY §2.4: category counts, gini, unalikeability,
# unique counts, top-k)
# ---------------------------------------------------------------------------

_LINEITEM_CAT = ["l_returnflag", "l_linestatus"]

_CAT_COUNTS_ORACLE = """
SELECT 'l_returnflag' AS "column", CAST(l_returnflag AS VARCHAR) AS value,
       COUNT(*) AS count
FROM lineitem WHERE l_returnflag IS NOT NULL GROUP BY l_returnflag
UNION ALL
SELECT 'l_linestatus' AS "column", CAST(l_linestatus AS VARCHAR) AS value,
       COUNT(*) AS count
FROM lineitem WHERE l_linestatus IS NOT NULL GROUP BY l_linestatus
"""


@register("category_counts_lineitem", _CAT_COUNTS_ORACLE)
def category_counts_lineitem(spark, sf_dir):
    df = T(spark, sf_dir, "lineitem")
    return cat.category_counts(df, _LINEITEM_CAT)


_CAT_STATS_ORACLE = """
WITH counts AS (
  SELECT 'l_returnflag' AS col, CAST(l_returnflag AS VARCHAR) AS value,
         COUNT(*) AS cnt FROM lineitem WHERE l_returnflag IS NOT NULL
  GROUP BY l_returnflag
  UNION ALL
  SELECT 'l_linestatus' AS col, CAST(l_linestatus AS VARCHAR) AS value,
         COUNT(*) AS cnt FROM lineitem WHERE l_linestatus IS NOT NULL
  GROUP BY l_linestatus
)
SELECT col AS "column",
       COUNT(*) AS unique_count,
       CAST(SUM(cnt) AS BIGINT) AS sample_count,
       ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(cnt), 6) AS unique_ratio,
       ROUND(1.0 - CAST(SUM(cnt * cnt) AS DOUBLE) / (SUM(cnt) * SUM(cnt)), 6) AS gini_impurity,
       ROUND(CAST(SUM(cnt) * SUM(cnt) - SUM(cnt * cnt) AS DOUBLE)
             / (SUM(cnt) * SUM(cnt) - SUM(cnt)), 6) AS unalikeability
FROM counts GROUP BY col
"""


# The testdata has zero NULLs, so the null-phi query derives three
# deterministically-nulled columns (a's nulls are a subset of b's →
# strong positive phi; c nulls independently) via shared SQL strings
# (the _DOC_URL_EXPR pattern).
_NULLPHI_EXPRS = {
    "na": "CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END",
    "nb": ("CASE WHEN o_orderkey % 7 = 0 OR o_orderkey % 11 = 0 "
           "THEN NULL ELSE o_totalprice END"),
    "nc": ("CASE WHEN o_orderkey % 5 = 0 THEN NULL "
           "ELSE o_orderstatus END"),
}


@register("null_phi_orders", None)
def null_phi_orders(spark, sf_dir):
    """Null co-occurrence (phi) matrix — which columns go null together
    (a shared broken upstream section the per-column null_count can't
    see). One wide integer-indicator aggregate, one scan."""
    from dataprofiler_spark.operators import correlation as _corr
    df = T(spark, sf_dir, "orders")
    for name, e in _NULLPHI_EXPRS.items():
        df = df.withColumn(name, F.expr(e))
    return _corr.null_phi_matrix(df, ["na", "nb", "nc"])


def _null_phi_oracle():
    from dataprofiler_spark.operators import correlation as _corr
    return _corr.oracle_null_phi_sql(
        "(SELECT *, "
        + ", ".join(f"({e}) AS {n}" for n, e in _NULLPHI_EXPRS.items())
        + " FROM orders) t",
        ["na", "nb", "nc"])


ORACLE_SQL["null_phi_orders"] = _null_phi_oracle()


@register("pattern_profile_customer",
          None)
def pattern_profile_customer(spark, sf_dir):
    """Top-k value-shape patterns per column (the classic profiler
    format screen: A/a/9/_ classes + run collapse); one melt-groupBy,
    per-column window over distinct shapes only."""
    return cat.pattern_profile(T(spark, sf_dir, "customer"),
                               ["c_name", "c_mktsegment", "c_acctbal"],
                               k=3)


ORACLE_SQL["pattern_profile_customer"] = cat.oracle_pattern_profile_sql(
    "customer", ["c_name", "c_mktsegment", "c_acctbal"], k=3)


@register("entropy_lineitem",
          None)
def entropy_lineitem(spark, sf_dir):
    """Per-column Shannon entropy + ln(k)-normalized concentration —
    the categorical spread measure gini/unalikeability don't give."""
    return cat.column_entropy(T(spark, sf_dir, "lineitem"),
                              ["l_returnflag", "l_linestatus",
                               "l_quantity", "l_linenumber"])


ORACLE_SQL["entropy_lineitem"] = cat.oracle_column_entropy_sql(
    "lineitem", ["l_returnflag", "l_linestatus", "l_quantity",
                 "l_linenumber"])


@register("categorical_stats_lineitem", _CAT_STATS_ORACLE)
def categorical_stats_lineitem(spark, sf_dir):
    df = T(spark, sf_dir, "lineitem")
    counts = cat.category_counts(df, _LINEITEM_CAT)
    stats = cat.categorical_stats(counts)
    return stats.select(
        "column",
        "unique_count",
        "sample_count",
        F.round("unique_ratio", 6).alias("unique_ratio"),
        F.round("gini_impurity", 6).alias("gini_impurity"),
        F.round("unalikeability", 6).alias("unalikeability"),
    )


_TOPK_ORACLE = """
WITH counts AS (
  SELECT 'o_orderpriority' AS col, CAST(o_orderpriority AS VARCHAR) AS value,
         COUNT(*) AS cnt FROM orders WHERE o_orderpriority IS NOT NULL
  GROUP BY o_orderpriority
  UNION ALL
  SELECT 'o_orderstatus' AS col, CAST(o_orderstatus AS VARCHAR) AS value,
         COUNT(*) AS cnt FROM orders WHERE o_orderstatus IS NOT NULL
  GROUP BY o_orderstatus
), ranked AS (
  SELECT col, value, cnt,
         ROW_NUMBER() OVER (PARTITION BY col ORDER BY cnt DESC, value ASC) AS rank
  FROM counts
)
SELECT col AS "column", value, cnt AS count, rank FROM ranked WHERE rank <= 3
"""


@register("top_categories_orders", _TOPK_ORACLE)
def top_categories_orders(spark, sf_dir):
    df = T(spark, sf_dir, "orders")
    counts = cat.category_counts(df, ["o_orderpriority", "o_orderstatus"])
    return cat.top_k_categories(counts, k=3)


# ---------------------------------------------------------------------------
# Row statistics (SURVEY §2.4: row uniqueness, duplicate rows, row nulls)
# ---------------------------------------------------------------------------

_LINEITEM_ALL = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
    "l_shipdate",
]


@register("row_stats_lineitem", rs.oracle_row_stats_sql("lineitem", _LINEITEM_ALL))
def row_stats_lineitem(spark, sf_dir):
    df = T(spark, sf_dir, "lineitem")
    return rs.row_stats(df, _LINEITEM_ALL, hashing_method="full")


# ---------------------------------------------------------------------------
# Distinct counts per column (SURVEY §2.4 unique_count; exact mode)
# ---------------------------------------------------------------------------

_DISTINCT_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
                  "l_linestatus", "l_shipdate"]

_DISTINCT_ORACLE = "\nUNION ALL\n".join(
    f"SELECT '{c}' AS \"column\", COUNT(DISTINCT {c}) AS unique_count FROM lineitem"
    for c in _DISTINCT_COLS
)


@register("distinct_counts_lineitem", _DISTINCT_ORACLE)
def distinct_counts_lineitem(spark, sf_dir):
    df = T(spark, sf_dir, "lineitem")
    aggs = [F.count_distinct(F.col(c)).alias(c) for c in _DISTINCT_COLS]
    row = df.agg(*aggs)
    structs = [
        F.struct(F.lit(c).alias("column"), F.col(c).alias("unique_count"))
        for c in _DISTINCT_COLS
    ]
    return row.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


# ---------------------------------------------------------------------------
# Histogram / quantiles / median / MAD / modes (SURVEY §2.4)
# ---------------------------------------------------------------------------

@register("histogram_extendedprice",
          hist.oracle_histogram_sql("lineitem", "l_extendedprice", 20))
def histogram_extendedprice(spark, sf_dir):
    return hist.histogram(T(spark, sf_dir, "lineitem"), "l_extendedprice", 20)


@register("grouped_histogram_lineitem",
          hist.oracle_grouped_histogram_sql("lineitem", "l_extendedprice",
                                            "l_returnflag", 12))
def grouped_histogram_lineitem(spark, sf_dir):
    """Faceted histogram with SHARED global bin edges (per-group edges
    would make the facets incomparable) + within-group shares."""
    return hist.grouped_histogram(T(spark, sf_dir, "lineitem"),
                                  "l_extendedprice", "l_returnflag", 12)


_QPROBS = [0.01, 0.05, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99]


@register("quantiles_extendedprice",
          hist.oracle_quantiles_sql("lineitem", "l_extendedprice", _QPROBS))
def quantiles_extendedprice(spark, sf_dir):
    return hist.quantiles(T(spark, sf_dir, "lineitem"), "l_extendedprice", _QPROBS)


@register("median_mad_quantity",
          hist.oracle_median_mad_sql("lineitem", "l_quantity"))
def median_mad_quantity(spark, sf_dir):
    return hist.median_mad(T(spark, sf_dir, "lineitem"), "l_quantity")


@register("modes_quantity", hist.oracle_modes_sql("lineitem", "l_quantity", 5))
def modes_quantity(spark, sf_dir):
    return hist.modes(T(spark, sf_dir, "lineitem"), "l_quantity", 5)


# ---------------------------------------------------------------------------
# Datetime profile + time-bucket rollup (SURVEY §2.4; events stream table)
# ---------------------------------------------------------------------------

@register("datetime_profile_orders",
          dt.oracle_datetime_profile_sql("orders", ["o_orderdate"]))
def datetime_profile_orders(spark, sf_dir):
    return dt.datetime_profile(T(spark, sf_dir, "orders"), ["o_orderdate"])


@register("time_bucket_events",
          dt.oracle_time_bucket_sql("events", "ts", "value", "hour"))
def time_bucket_events(spark, sf_dir):
    return dt.time_bucket_rollup(T(spark, sf_dir, "events"), "ts", "value", "hour")


# ---------------------------------------------------------------------------
# Order detection (SURVEY §2.4 / §2.6)
# ---------------------------------------------------------------------------

@register("order_profile_lineitem",
          ordmod.oracle_order_profile_sql(
              "lineitem", "l_orderkey", ["l_orderkey", "l_linenumber"]))
def order_profile_lineitem(spark, sf_dir):
    return ordmod.order_profile(
        T(spark, sf_dir, "lineitem"), "l_orderkey", ["l_orderkey", "l_linenumber"])


@register("order_profile_events_value",
          ordmod.oracle_order_profile_sql("events", "value", ["event_id"]))
def order_profile_events_value(spark, sf_dir):
    return ordmod.order_profile(T(spark, sf_dir, "events"), "value", ["event_id"])


# ---------------------------------------------------------------------------
# Text column stats + unstructured word counts (SURVEY §2.4)
# ---------------------------------------------------------------------------

_TEXT_COLS = ["c_name", "c_mktsegment"]


@register("text_stats_customer",
          ts.oracle_text_length_stats_sql("customer", _TEXT_COLS))
def text_stats_customer(spark, sf_dir):
    return ts.text_length_stats(T(spark, sf_dir, "customer"), _TEXT_COLS)


@register("word_counts_documents",
          ts.oracle_word_counts_sql("documents", "text", 20))
def word_counts_documents(spark, sf_dir):
    return ts.word_counts(T(spark, sf_dir, "documents"), "text", 20)


