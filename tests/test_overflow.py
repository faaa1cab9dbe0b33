"""Decimal-overflow safety of the exact-mode statistics (ADVICE r1).

Spark's non-ANSI decimal arithmetic silently returns NULL when a
decimal(38,0) product overflows, so at large row counts × large cell
magnitudes the naive n·s2 − s1² formulation would emit NULL variance /
correlation / t-stat while the DuckDB oracle (HUGEINT) keeps working.
These tests drive the magnitudes into the overflow regime on purpose and
assert the operators still produce correct (non-NULL) values via their
centered-m2 / min-pivot / double fallbacks. The operators with no such
fallback (outlier_counts, numeric_profile_by_group) must raise instead of
returning a NULL variance.
"""

from __future__ import annotations

import math
import statistics

import pytest
from pyspark.sql import functions as F


def _big_df(spark, n=2000, base=3.0e14):
    # xi = round(x·1000) ≈ 3e17 fits decimal(19,0); s1 ≈ 6e20 →
    # s1² ≈ 3.6e41 overflows decimal(38,0): the naive css is NULL.
    return spark.range(n).select(
        (F.lit(base) + F.col("id").cast("double")).alias("x"),
        (F.lit(base) + (F.col("id") * 2).cast("double")).alias("y"),
    )


def test_naive_css_overflows_to_null(spark):
    """Precondition check: the un-pivoted product really does overflow —
    otherwise these tests test nothing. (Spark 4 runs ANSI by default, so
    the plain operators would *throw*; the operators use try_* which
    yields NULL instead — asserted here.)"""
    df = _big_df(spark, n=900)  # s1,s2 fit decimal(38,0); products do not
    xi = F.round(F.col("x") * 1000, 0).cast("decimal(19,0)")
    row = df.agg(
        F.count("x").alias("n"),
        F.try_sum(xi.cast("decimal(38,0)")).alias("s1"),
        F.try_sum((xi * xi).cast("decimal(38,0)")).alias("s2"),
    ).select(
        F.col("s1"), F.col("s2"),
        F.try_subtract(
            F.try_multiply(F.col("n").cast("decimal(38,0)"), F.col("s2")),
            F.try_multiply(F.col("s1"), F.col("s1"))).alias("css"),
    ).first()
    assert row["s1"] is not None and row["s2"] is not None
    assert row["css"] is None


def test_numeric_exact_variance_survives_overflow(spark):
    from dataprofiler_spark.operators.numeric import numeric_profile_exact

    n = 2000
    df = _big_df(spark, n=n)
    out = {r["column"]: r for r in numeric_profile_exact(df, ["x"]).collect()}
    expected_var = statistics.variance(3.0e14 + i for i in range(n))
    assert out["x"]["variance"] == pytest.approx(expected_var, rel=1e-6)
    assert out["x"]["stddev"] == pytest.approx(math.sqrt(expected_var), rel=1e-6)
    assert out["x"]["mean"] == pytest.approx(3.0e14 + (n - 1) / 2, rel=1e-12)


def test_outlier_counts_raises_on_overflow(spark):
    """NULL fences would report 0 outliers and ratio 0.0 as if the column
    were clean; the plan fails instead and names the column."""
    from dataprofiler_spark.operators.numeric import outlier_counts

    with pytest.raises(Exception, match="'x'.*numeric_profile_exact"):
        outlier_counts(_big_df(spark), ["x"]).collect()


def test_grouped_profile_raises_on_overflow(spark):
    from dataprofiler_spark.operators.numeric import numeric_profile_by_group

    df = _big_df(spark).withColumn("g", F.lit("a"))
    with pytest.raises(Exception, match="'x'.*numeric_profile_exact"):
        numeric_profile_by_group(df, "g", "x").collect()


def test_correlation_survives_overflow(spark):
    from dataprofiler_spark.operators.correlation import correlation_matrix

    df = _big_df(spark)
    row = correlation_matrix(df, ["x", "y"]).first()
    # y = 2x − base: exactly linear → corr 1 (min-pivot keeps it exact)
    assert row["corr"] == pytest.approx(1.0, abs=1e-9)


def test_welch_t_survives_overflow(spark):
    from dataprofiler_spark.operators.drift import welch_t

    n = 2000
    a = _big_df(spark, n=n)
    b = spark.range(n).select(
        (F.lit(3.0e14) + F.lit(500.0) + F.col("id").cast("double")).alias("x"))
    row = welch_t(a, b, "x").first()
    var = statistics.variance(float(i) for i in range(n))  # shift-invariant
    t_expected = -500.0 / math.sqrt(2 * var / n)
    assert row["t_stat"] is not None
    assert row["t_stat"] == pytest.approx(t_expected, rel=1e-6)
    assert row["welch_dof"] == pytest.approx(2 * n - 2, rel=1e-3)


def test_correlation_unchanged_on_normal_data(spark, duck, sf_dir):
    """Min-pivot must be a pure plan change: sf0.001 lineitem results stay
    hash-identical to the unshifted DuckDB oracle."""
    from dataprofiler_spark.operators.correlation import (
        correlation_matrix, oracle_correlation_sql)
    import os

    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    got = {(r["col1"], r["col2"]): r["corr"]
           for r in correlation_matrix(li, cols).collect()}
    want = {(r[0], r[1]): r[2]
            for r in duck.sql(oracle_correlation_sql("lineitem", cols)).fetchall()}
    assert got == want
