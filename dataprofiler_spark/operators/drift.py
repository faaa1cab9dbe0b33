"""Drift / profile-diff statistics: PSI, chi², Welch t-test.

Reference semantics: profile.diff(other) — numeric t-test (conservative +
Welch, numerical_column_stats.py:604-665), PSI over re-binned histograms
(:667-816) and categorical distributions (categorical_column_profile.py:
245-333), chi² homogeneity between categorical distributions
(profiler_utils.perform_chi_squared_test_for_homogeneity:723-788).

Spark design: the two "profiles" being diffed are two relations (or two
predicates over one relation — e.g. time split). Category alignment is
the reference's add_nested_dictionaries (profiler_utils.py:291-321) →
here a full_outer join of two (value, count) aggregates with zero-fill.
Everything is one aggregation per side plus a tiny join; statistics are
computed in closed form (p-values need scipy — driver-side, see
``p_value_chi2``/``p_value_welch`` — the distributed part ends at the
statistic).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataprofiler_spark.operators.numeric import SCALE, exact_css, scaled
from dataprofiler_spark.session import register_persisted


def _aligned_counts(df_a: DataFrame, df_b: DataFrame, col: str) -> DataFrame:
    """Per-category (value, cnt_a, cnt_b), zero-filled. NULL is not a
    category: the reference splits nulls out before column profiling
    (clean_data_and_get_base_stats, profile_builder.py:536-676), and
    null-rate drift is the diff's null stats. streaming/drift.py
    applies the same rule."""
    a = (df_a.where(F.col(col).isNotNull())
         .groupBy(F.col(col).cast("string").alias("value"))
         .agg(F.count(F.lit(1)).alias("cnt_a")))
    b = (df_b.where(F.col(col).isNotNull())
         .groupBy(F.col(col).cast("string").alias("value"))
         .agg(F.count(F.lit(1)).alias("cnt_b")))
    return (
        a.join(b, "value", "full_outer")
        .select(
            "value",
            F.coalesce("cnt_a", F.lit(0)).alias("cnt_a"),
            F.coalesce("cnt_b", F.lit(0)).alias("cnt_b"),
        )
    )


def categorical_psi(df_a: DataFrame, df_b: DataFrame, col: str,
                    round_digits: int = 6) -> DataFrame:
    """One-row (psi, n_categories). Zero counts get the reference's
    epsilon-free treatment via Laplace-style smoothing: perc = (c + 1) /
    (n + k) with k = category count (categorical_column_profile.py:
    245-333 smooths the same way to avoid log(0))."""
    counts = _aligned_counts(df_a, df_b, col)
    counts = counts.crossJoin(
        F.broadcast(
            counts.agg(
                F.sum("cnt_a").alias("na"), F.sum("cnt_b").alias("nb"),
                F.count(F.lit(1)).alias("k"))
        )
    )
    pa = (F.col("cnt_a") + 1).cast("double") / (F.col("na") + F.col("k"))
    pb = (F.col("cnt_b") + 1).cast("double") / (F.col("nb") + F.col("k"))
    term = (pb - pa) * F.log(pb / pa)
    return counts.agg(
        F.round(F.sum(term), round_digits).alias("psi"),
        F.max("k").alias("n_categories"),
    )


def oracle_categorical_psi_sql(table_a: str, table_b: str, col: str,
                               round_digits: int = 6) -> str:
    return f"""
WITH a AS (SELECT CAST({col} AS VARCHAR) AS value, COUNT(*) AS cnt_a
           FROM {table_a} WHERE {col} IS NOT NULL GROUP BY 1),
b AS (SELECT CAST({col} AS VARCHAR) AS value, COUNT(*) AS cnt_b
      FROM {table_b} WHERE {col} IS NOT NULL GROUP BY 1),
j AS (SELECT COALESCE(a.value, b.value) AS value,
             COALESCE(cnt_a, 0) AS cnt_a, COALESCE(cnt_b, 0) AS cnt_b
      FROM a FULL OUTER JOIN b ON a.value = b.value),
tot AS (SELECT SUM(cnt_a) AS na, SUM(cnt_b) AS nb, COUNT(*) AS k FROM j)
SELECT ROUND(SUM(
         ((CAST(cnt_b + 1 AS DOUBLE) / (nb + k)) - (CAST(cnt_a + 1 AS DOUBLE) / (na + k)))
         * LN((CAST(cnt_b + 1 AS DOUBLE) / (nb + k)) / (CAST(cnt_a + 1 AS DOUBLE) / (na + k)))
       ), {round_digits}) AS psi,
       MAX(k) AS n_categories
FROM j, tot
"""


def chi2_homogeneity(df_a: DataFrame, df_b: DataFrame, col: str,
                     round_digits: int = 6) -> DataFrame:
    """One-row (chi2, dof): 2×k homogeneity statistic
    (profiler_utils.py:723-788); p-value via ``p_value_chi2`` on the
    driver."""
    counts = _aligned_counts(df_a, df_b, col)
    counts = counts.crossJoin(
        F.broadcast(counts.agg(
            F.sum("cnt_a").alias("na"), F.sum("cnt_b").alias("nb"),
            F.count(F.lit(1)).alias("k")))
    )
    total = (F.col("na") + F.col("nb")).cast("double")
    col_tot = (F.col("cnt_a") + F.col("cnt_b")).cast("double")
    ea = F.col("na") * col_tot / total
    eb = F.col("nb") * col_tot / total
    term = ((F.col("cnt_a") - ea) * (F.col("cnt_a") - ea) / ea
            + (F.col("cnt_b") - eb) * (F.col("cnt_b") - eb) / eb)
    # round-then-decimal fold + DuckDB-procedure rounding (r7): same
    # chi²-family discipline as correlation.chi2_matrix_pair.
    from dataprofiler_spark.functions.rounding import duckdb_round
    tsum = F.sum(F.round(term, 9).cast("decimal(38,9)"))
    return counts.agg(
        duckdb_round(tsum.cast("double"), round_digits).alias("chi2"),
        (F.max("k") - 1).alias("dof"),
    )


def oracle_chi2_sql(table_a: str, table_b: str, col: str,
                    round_digits: int = 6) -> str:
    return f"""
WITH a AS (SELECT CAST({col} AS VARCHAR) AS value, COUNT(*) AS cnt_a
           FROM {table_a} WHERE {col} IS NOT NULL GROUP BY 1),
b AS (SELECT CAST({col} AS VARCHAR) AS value, COUNT(*) AS cnt_b
      FROM {table_b} WHERE {col} IS NOT NULL GROUP BY 1),
j AS (SELECT COALESCE(a.value, b.value) AS value,
             COALESCE(cnt_a, 0) AS cnt_a, COALESCE(cnt_b, 0) AS cnt_b
      FROM a FULL OUTER JOIN b ON a.value = b.value),
tot AS (SELECT SUM(cnt_a) AS na, SUM(cnt_b) AS nb, COUNT(*) AS k FROM j)
SELECT ROUND(CAST(SUM(CAST(ROUND(
         (cnt_a - (na * CAST(cnt_a + cnt_b AS DOUBLE) / (na + nb)))
         * (cnt_a - (na * CAST(cnt_a + cnt_b AS DOUBLE) / (na + nb)))
         / (na * CAST(cnt_a + cnt_b AS DOUBLE) / (na + nb))
         + (cnt_b - (nb * CAST(cnt_a + cnt_b AS DOUBLE) / (na + nb)))
         * (cnt_b - (nb * CAST(cnt_a + cnt_b AS DOUBLE) / (na + nb)))
         / (nb * CAST(cnt_a + cnt_b AS DOUBLE) / (na + nb))
       , 9) AS DECIMAL(38,9))) AS DOUBLE), {round_digits}) AS chi2,
       MAX(k) - 1 AS dof
FROM j, tot
"""


def welch_t(df_a: DataFrame, df_b: DataFrame, col: str,
            round_digits: int = 6) -> DataFrame:
    """One-row (t_stat, welch_dof): Welch's t statistic + degrees of
    freedom (numerical_column_stats.py:604-665). Uses the exact-mode
    integer power sums so the statistic is engine-reproducible."""
    S = float(SCALE)

    def side(df, tag):
        xi = scaled(col)
        # min-pivot the squared sums (css is shift-invariant in exact
        # integer arithmetic → bit-identical to the unshifted oracle, but
        # products bounded by range²·S²·n² instead of mean²·S²·n², so the
        # decimal(38,0) path survives any realistic scale; see
        # correlation_matrix). Nulls are skipped by both the sum and the
        # pivoted sum over the same row-set (count(col)), so the shift
        # cancels exactly even on null-bearing columns. s1 stays unshifted
        # (a plain sum, safe to 1e38) so the mean's IEEE division sequence
        # matches the oracle verbatim.
        mn = df.agg(F.min(xi).alias("mn")).first()["mn"]
        y = xi - F.lit(int(mn) if mn is not None else 0).cast("decimal(19,0)")
        yd = y.cast("double")
        return df.agg(
            F.count(F.col(col)).alias(f"n_{tag}"),
            F.sum(xi.cast("decimal(38,0)")).alias(f"s1_{tag}"),
            F.try_sum(y.cast("decimal(38,0)")).alias(f"sy_{tag}"),
            F.try_sum((y * y).cast("decimal(38,0)")).alias(f"syy_{tag}"),
            F.sum(yd).alias(f"syd_{tag}"),
            F.sum(yd * yd).alias(f"syyd_{tag}"),
        )

    j = side(df_a, "a").crossJoin(side(df_b, "b"))

    def stats(tag):
        n = F.col(f"n_{tag}")
        s1 = F.col(f"s1_{tag}")
        sy = F.col(f"sy_{tag}")
        syy = F.col(f"syy_{tag}")
        mean = s1.cast("double") / n / S
        css = exact_css(
            n, syy, sy, sy,
            fallback=n.cast("double") * F.col(f"syyd_{tag}")
            - F.col(f"syd_{tag}") * F.col(f"syd_{tag}"))
        var = css / n / (n - 1) / (S * S)
        return n, mean, var

    na, ma, va = stats("a")
    nb, mb, vb = stats("b")
    se2 = va / na + vb / nb
    t = (ma - mb) / F.sqrt(se2)
    dof = (se2 * se2) / ((va / na) * (va / na) / (na - 1)
                         + (vb / nb) * (vb / nb) / (nb - 1))
    return j.select(
        F.round(t, round_digits).alias("t_stat"),
        F.round(dof, round_digits).alias("welch_dof"),
    )


def oracle_welch_t_sql(table_a: str, table_b: str, col: str,
                       round_digits: int = 6) -> str:
    S = 1000.0
    xi = f"CAST(ROUND(CAST({col} AS DOUBLE) * {S}, 0) AS DECIMAL(19,0))"

    def side(table):
        return (f"SELECT COUNT({col}) AS n,"
                f" SUM(CAST({xi} AS DECIMAL(38,0))) AS s1,"
                f" SUM(CAST({xi} * {xi} AS DECIMAL(38,0))) AS s2 FROM {table}")

    mean = "(CAST({p}.s1 AS DOUBLE) / {p}.n / %s)" % S
    var = ("(CAST(CAST({p}.n AS HUGEINT) * CAST({p}.s2 AS HUGEINT)"
           " - CAST({p}.s1 AS HUGEINT) * CAST({p}.s1 AS HUGEINT) AS DOUBLE)"
           " / {p}.n / ({p}.n - 1) / (%s * %s))" % (S, S))
    ma, va = mean.format(p="a"), var.format(p="a")
    mb, vb = mean.format(p="b"), var.format(p="b")
    se2 = f"({va} / a.n + {vb} / b.n)"
    return f"""
SELECT ROUND(({ma} - {mb}) / SQRT({se2}), {round_digits}) AS t_stat,
       ROUND(({se2} * {se2}) / (({va} / a.n) * ({va} / a.n) / (a.n - 1)
             + ({vb} / b.n) * ({vb} / b.n) / (b.n - 1)), {round_digits}) AS welch_dof
FROM ({side(table_a)}) a CROSS JOIN ({side(table_b)}) b
"""


def numeric_psi(df_a: DataFrame, df_b: DataFrame, col: str, bins: int = 10,
                round_digits: int = 6) -> DataFrame:
    """One-row (psi, bins): numeric PSI over equal-width bins spanning the
    combined range (numerical_column_stats.py:667-816 re-bins both
    histograms onto common edges; here both sides bucket directly onto
    the shared edges — same math, one aggregation per side)."""
    mm = df_a.select(F.col(col).alias("x")).unionAll(
        df_b.select(F.col(col).alias("x"))).agg(
        F.min("x").cast("double").alias("lo"),
        F.max("x").cast("double").alias("hi"))

    def bucket_counts(df, tag):
        j = df.crossJoin(F.broadcast(mm))
        w = (F.col("hi") - F.col("lo")) / F.lit(float(bins))
        b = F.least(F.greatest(
            F.floor((F.col(col).cast("double") - F.col("lo")) / w).cast("int"),
            F.lit(0)), F.lit(bins - 1))
        return (j.where(F.col(col).isNotNull())
                .groupBy(b.alias("bucket"))
                .agg(F.count(F.lit(1)).alias(f"cnt_{tag}")))

    a = bucket_counts(df_a, "a")
    b = bucket_counts(df_b, "b")
    joined = (a.join(b, "bucket", "full_outer")
              .select(F.coalesce("cnt_a", F.lit(0)).alias("cnt_a"),
                      F.coalesce("cnt_b", F.lit(0)).alias("cnt_b")))
    tot = joined.agg(F.sum("cnt_a").alias("na"), F.sum("cnt_b").alias("nb"))
    j2 = joined.crossJoin(F.broadcast(tot))
    pa = (F.col("cnt_a") + 1).cast("double") / (F.col("na") + bins)
    pb = (F.col("cnt_b") + 1).cast("double") / (F.col("nb") + bins)
    return j2.agg(
        F.round(F.sum((pb - pa) * F.log(pb / pa)), round_digits).alias("psi"),
        F.lit(bins).alias("bins"),
    )


def oracle_numeric_psi_sql(table_a: str, table_b: str, col: str,
                           bins: int = 10, round_digits: int = 6) -> str:
    bucket = (f"LEAST(GREATEST(CAST(FLOOR((CAST({col} AS DOUBLE) - mm.lo)"
              f" / ((mm.hi - mm.lo) / {float(bins)})) AS INT), 0), {bins - 1})")
    return f"""
WITH mm AS (
  SELECT CAST(MIN(x) AS DOUBLE) AS lo, CAST(MAX(x) AS DOUBLE) AS hi
  FROM (SELECT {col} AS x FROM {table_a} UNION ALL SELECT {col} FROM {table_b})
),
a AS (SELECT {bucket} AS bucket, COUNT(*) AS cnt_a
      FROM {table_a}, mm WHERE {col} IS NOT NULL GROUP BY 1),
b AS (SELECT {bucket} AS bucket, COUNT(*) AS cnt_b
      FROM {table_b}, mm WHERE {col} IS NOT NULL GROUP BY 1),
j AS (SELECT COALESCE(cnt_a, 0) AS cnt_a, COALESCE(cnt_b, 0) AS cnt_b
      FROM a FULL OUTER JOIN b USING (bucket)),
tot AS (SELECT SUM(cnt_a) AS na, SUM(cnt_b) AS nb FROM j)
SELECT ROUND(SUM(
         ((CAST(cnt_b + 1 AS DOUBLE) / (nb + {bins})) - (CAST(cnt_a + 1 AS DOUBLE) / (na + {bins})))
         * LN((CAST(cnt_b + 1 AS DOUBLE) / (nb + {bins})) / (CAST(cnt_a + 1 AS DOUBLE) / (na + {bins})))
       ), {round_digits}) AS psi,
       {bins} AS bins
FROM j, tot
"""


# -- driver-side p-values (scipy optional) ----------------------------------

def p_value_chi2(chi2: float, dof: int) -> float | None:
    """scipy when present, else the in-repo incomplete-gamma
    implementation (functions/special.py) — p-values never go missing."""
    try:
        from scipy import stats
        return float(stats.chi2.sf(chi2, dof))
    except ImportError:
        from dataprofiler_spark.functions.special import chi2_sf
        return float(chi2_sf(chi2, dof))


def smoothed_psi(ca: list[int], cb: list[int]) -> float:
    """Driver-side PSI over two count lists aligned bin by bin (or
    category by category), +1-smoothed on both sides: p = (c + 1) /
    (n + k), k = len(ca) — the same smoothing as categorical_psi and
    numeric_psi. Callers decide when there is no PSI (no bins, an empty
    side) and how to round."""
    k = len(ca)
    na, nb = sum(ca), sum(cb)
    psi = 0.0
    for a, b in zip(ca, cb):
        pa = (a + 1) / (na + k)
        pb = (b + 1) / (nb + k)
        psi += (pb - pa) * math.log(pb / pa)
    return psi


def p_value_welch(t_stat: float, dof: float) -> float | None:
    try:
        from scipy import stats
        return float(2 * stats.t.sf(abs(t_stat), dof))
    except ImportError:
        from dataprofiler_spark.functions.special import t_sf
        return float(2 * t_sf(abs(t_stat), dof))


def temporal_psi(df: DataFrame, ts_col: str, cat_col: str,
                 round_digits: int = 6) -> DataFrame:
    """Day-over-day drift: per calendar day, the PSI of ``cat_col``'s
    distribution vs the PREVIOUS day — the monitoring query a profiler
    deployment runs over an event stream (the reference diffs two
    explicit profiles; this chains the diff along time in one plan).

    Output: (day, psi, n_categories) for every day with a previous day
    present; same Laplace smoothing as :func:`categorical_psi`.

    Scale shape: one groupBy((day, value)) over the scan, a self-join
    shifted by one day (co-partitioned on the same keys), and a per-day
    rollup — key cardinality is days × categories, never rows. No
    windows; at 100 TB the scan dominates, exactly as it should."""
    day = F.date_trunc("DAY", F.col(ts_col))
    counts = (df.groupBy(day.alias("bucket"),
                         F.col(cat_col).cast("string").alias("value"))
              .agg(F.count(F.lit(1)).alias("cnt")))
    prev = counts.select(
        (F.col("bucket") + F.expr("INTERVAL 1 DAY")).alias("bucket"),
        "value", F.col("cnt").alias("cnt_a"))
    cur = counts.select("bucket", "value", F.col("cnt").alias("cnt_b"))
    j = (cur.join(prev, ["bucket", "value"], "full_outer")
         .select("bucket", "value",
                 F.coalesce("cnt_a", F.lit(0)).alias("cnt_a"),
                 F.coalesce("cnt_b", F.lit(0)).alias("cnt_b")))
    tot = j.groupBy("bucket").agg(
        F.sum("cnt_a").alias("na"), F.sum("cnt_b").alias("nb"),
        F.count(F.lit(1)).alias("k"))
    jt = j.join(tot, "bucket").where((F.col("na") > 0) & (F.col("nb") > 0))
    pa = (F.col("cnt_a") + 1).cast("double") / (F.col("na") + F.col("k"))
    pb = (F.col("cnt_b") + 1).cast("double") / (F.col("nb") + F.col("k"))
    return (jt.groupBy("bucket")
            .agg(F.round(F.sum((pb - pa) * F.log(pb / pa)), round_digits)
                 .alias("psi"),
                 F.max("k").alias("n_categories"))
            .select(F.date_format("bucket", "yyyy-MM-dd").alias("day"),
                    "psi", "n_categories")
            .orderBy("day"))


def oracle_temporal_psi_sql(table: str, ts_col: str, cat_col: str,
                            round_digits: int = 6) -> str:
    return f"""
WITH counts AS (
  SELECT date_trunc('day', {ts_col}) AS bucket,
         CAST({cat_col} AS VARCHAR) AS value, COUNT(*) AS cnt
  FROM {table} GROUP BY 1, 2
),
a AS (SELECT bucket + INTERVAL 1 DAY AS bucket, value, cnt AS cnt_a
      FROM counts),
b AS (SELECT bucket, value, cnt AS cnt_b FROM counts),
j AS (SELECT COALESCE(a.bucket, b.bucket) AS bucket,
             COALESCE(a.value, b.value) AS value,
             COALESCE(cnt_a, 0) AS cnt_a, COALESCE(cnt_b, 0) AS cnt_b
      FROM a FULL OUTER JOIN b ON a.bucket = b.bucket AND a.value = b.value),
tot AS (SELECT bucket, SUM(cnt_a) AS na, SUM(cnt_b) AS nb,
               COUNT(*) AS k
        FROM j GROUP BY bucket)
SELECT strftime(j.bucket, '%Y-%m-%d') AS day,
       ROUND(SUM(
         ((CAST(cnt_b + 1 AS DOUBLE) / (nb + k)) - (CAST(cnt_a + 1 AS DOUBLE) / (na + k)))
         * LN((CAST(cnt_b + 1 AS DOUBLE) / (nb + k)) / (CAST(cnt_a + 1 AS DOUBLE) / (na + k)))
       ), {round_digits}) AS psi,
       MAX(k) AS n_categories
FROM j JOIN tot USING (bucket)
WHERE na > 0 AND nb > 0
GROUP BY 1 ORDER BY day
"""


def numeric_ks_js(df_a: DataFrame, df_b: DataFrame, col: str,
                  bins: int = 10, round_digits: int = 6) -> DataFrame:
    """One-row (ks, js, bins): two more two-sample drift tests over the
    SAME shared-bin machinery as ``numeric_psi`` —

    * ``ks``: the Kolmogorov–Smirnov statistic, max CDF gap over the
      shared equal-width bins (binned approximation of the classic
      order-statistic KS; exact as bins → distinct values);
    * ``js``: Jensen–Shannon divergence (natural log, so ∈ [0, ln 2]),
      the symmetric bounded alternative to PSI when a bucket is empty
      on one side (PSI needs +1 smoothing; JS's 0·log 0 = 0 handles it
      natively).

    Cumulative counts are INTEGER sums over ≤ ``bins`` ordered rows, so
    the CDF is engine-exact; only the final per-bucket divisions are
    floats. The rank window rides the same non-foldable constant
    partition trick as operators/topk.ranked_topk — the frame is bins
    rows by construction, never data-sized."""
    from pyspark.sql.window import Window

    mm = df_a.select(F.col(col).alias("x")).unionAll(
        df_b.select(F.col(col).alias("x"))).agg(
        F.min("x").cast("double").alias("lo"),
        F.max("x").cast("double").alias("hi"))

    def bucket_counts(df, tag):
        j = df.crossJoin(F.broadcast(mm))
        w = (F.col("hi") - F.col("lo")) / F.lit(float(bins))
        b = F.least(F.greatest(
            F.floor((F.col(col).cast("double") - F.col("lo")) / w).cast("int"),
            F.lit(0)), F.lit(bins - 1))
        return (j.where(F.col(col).isNotNull())
                .groupBy(b.alias("bucket"))
                .agg(F.count(F.lit(1)).alias(f"cnt_{tag}")))

    joined = (bucket_counts(df_a, "a")
              .join(bucket_counts(df_b, "b"), "bucket", "full_outer")
              .select("bucket",
                      F.coalesce("cnt_a", F.lit(0)).alias("cnt_a"),
                      F.coalesce("cnt_b", F.lit(0)).alias("cnt_b")))
    tot = joined.agg(F.sum("cnt_a").alias("na"), F.sum("cnt_b").alias("nb"))
    j2 = joined.crossJoin(F.broadcast(tot))
    w = (Window.partitionBy(F.floor(F.rand(42) * F.lit(0.0)))
         .orderBy("bucket").rowsBetween(Window.unboundedPreceding,
                                        Window.currentRow))
    cum = j2.select(
        "cnt_a", "cnt_b", "na", "nb",
        F.sum("cnt_a").over(w).alias("ca"),
        F.sum("cnt_b").over(w).alias("cb"))
    pa = F.col("cnt_a").cast("double") / F.col("na")
    pb = F.col("cnt_b").cast("double") / F.col("nb")
    m = (pa + pb) / 2
    js_term = (F.when(F.col("cnt_a") > 0, pa * F.log(pa / m))
               .otherwise(F.lit(0.0))
               + F.when(F.col("cnt_b") > 0, pb * F.log(pb / m))
               .otherwise(F.lit(0.0))) / 2
    gap = F.abs(F.col("ca").cast("double") / F.col("na")
                - F.col("cb").cast("double") / F.col("nb"))
    return cum.agg(
        F.round(F.max(gap), round_digits).alias("ks"),
        F.round(F.sum(js_term), round_digits).alias("js"),
        F.lit(bins).alias("bins"))


def oracle_numeric_ks_js_sql(table_a: str, table_b: str, col: str,
                             bins: int = 10, round_digits: int = 6) -> str:
    bucket = (f"LEAST(GREATEST(CAST(FLOOR((CAST({col} AS DOUBLE) - mm.lo)"
              f" / ((mm.hi - mm.lo) / {float(bins)})) AS INT), 0), {bins - 1})")
    return f"""
WITH mm AS (
  SELECT CAST(MIN(x) AS DOUBLE) AS lo, CAST(MAX(x) AS DOUBLE) AS hi
  FROM (SELECT {col} AS x FROM {table_a} UNION ALL SELECT {col} FROM {table_b})
),
a AS (SELECT {bucket} AS bucket, COUNT(*) AS cnt_a
      FROM {table_a}, mm WHERE {col} IS NOT NULL GROUP BY 1),
b AS (SELECT {bucket} AS bucket, COUNT(*) AS cnt_b
      FROM {table_b}, mm WHERE {col} IS NOT NULL GROUP BY 1),
j AS (SELECT bucket, COALESCE(cnt_a, 0) AS cnt_a, COALESCE(cnt_b, 0) AS cnt_b
      FROM a FULL OUTER JOIN b USING (bucket)),
tot AS (SELECT SUM(cnt_a) AS na, SUM(cnt_b) AS nb FROM j),
cum AS (
  SELECT cnt_a, cnt_b, na, nb,
         SUM(cnt_a) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS ca,
         SUM(cnt_b) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cb
  FROM j, tot
)
SELECT ROUND(MAX(ABS(CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)),
             {round_digits}) AS ks,
       ROUND(SUM(
         (CASE WHEN cnt_a > 0 THEN (CAST(cnt_a AS DOUBLE) / na)
               * LN((CAST(cnt_a AS DOUBLE) / na)
                    / (((CAST(cnt_a AS DOUBLE) / na)
                        + (CAST(cnt_b AS DOUBLE) / nb)) / 2)) ELSE 0.0 END
          + CASE WHEN cnt_b > 0 THEN (CAST(cnt_b AS DOUBLE) / nb)
               * LN((CAST(cnt_b AS DOUBLE) / nb)
                    / (((CAST(cnt_a AS DOUBLE) / na)
                        + (CAST(cnt_b AS DOUBLE) / nb)) / 2)) ELSE 0.0 END) / 2
       ), {round_digits}) AS js,
       {bins} AS bins
FROM cum
"""


def quantile_shift(df_a: DataFrame, df_b: DataFrame, col: str,
                   probs: list[float] | None = None,
                   round_digits: int = 6) -> DataFrame:
    """(prob, q_a, q_b, shift, rel_shift): per-quantile drift between
    two snapshots of a numeric column — the ORDER-STATISTICS view of
    distribution change that PSI's binned view blurs (a pure tail shift
    moves q99 and nothing else; PSI over 10 bins barely ticks).
    rel_shift = shift / |q_a| (NULL when q_a = 0). Empty sides yield
    NULL quantiles.

    Plan: two counts-CDF quantile passes (histogram.cdf_quantiles — no
    native percentile, bounded state, identical interpolation both
    engines) + a 1-row cross join."""
    from dataprofiler_spark.functions.rounding import duckdb_round
    from dataprofiler_spark.operators.histogram import cdf_quantiles

    probs = probs or [0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99]
    ca, cb = cdf_quantiles(df_a, col, probs), cdf_quantiles(df_b, col, probs)
    qa = ca.select(*[F.col(f"q{i}").alias(f"qa{i}")
                     for i in range(len(probs))])
    qb = cb.select(*[F.col(f"q{i}").alias(f"qb{i}")
                     for i in range(len(probs))])
    row = qa.crossJoin(F.broadcast(qb))
    structs = []
    for i, p in enumerate(probs):
        a, b = F.col(f"qa{i}"), F.col(f"qb{i}")
        structs.append(F.struct(
            F.lit(float(p)).alias("prob"),
            duckdb_round(a, round_digits).alias("q_a"),
            duckdb_round(b, round_digits).alias("q_b"),
            duckdb_round(b - a, round_digits).alias("shift"),
            duckdb_round(F.when(F.abs(a) > 0, (b - a) / F.abs(a)),
                         round_digits).alias("rel_shift")))
    return register_persisted(
        row.select(F.explode(F.array(*structs)).alias("s")).select("s.*"),
        *ca._dps_persisted, *cb._dps_persisted)


def oracle_quantile_shift_sql(table_a: str, table_b: str, col: str,
                              probs: list[float] | None = None,
                              round_digits: int = 6) -> str:
    from dataprofiler_spark.operators.histogram import \
        oracle_cdf_quantiles_cte

    probs = probs or [0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99]
    cte_a = oracle_cdf_quantiles_cte(table_a, col, probs)
    # second CTE chain needs distinct names
    cte_b = (oracle_cdf_quantiles_cte(table_b, col, probs)
             .replace("vc_0", "vc_b").replace("cdfq", "cdfq_b")
             .replace("qpick", "qpick_b")
             .replace("qs AS", "qs_b AS"))
    outs = "\nUNION ALL\n".join(
        f"SELECT {float(p)!r} AS prob,"
        f" ROUND(a.q{i}, {round_digits}) AS q_a,"
        f" ROUND(b.q{i}, {round_digits}) AS q_b,"
        f" ROUND(b.q{i} - a.q{i}, {round_digits}) AS shift,"
        f" ROUND(CASE WHEN ABS(a.q{i}) > 0"
        f" THEN (b.q{i} - a.q{i}) / ABS(a.q{i}) END, {round_digits})"
        f" AS rel_shift"
        f" FROM qs a CROSS JOIN qs_b b"
        for i, p in enumerate(probs))
    return f"WITH {cte_a},\n{cte_b}\n{outs}"
