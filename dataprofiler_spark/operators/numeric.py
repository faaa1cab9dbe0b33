"""Numeric column statistics — the core aggregation battery.

Reference semantics: dataprofiler/profilers/numerical_column_stats.py —
min/max (:1766-1787), sum (:1788-1809), mean (:539-543), bias-corrected
variance via Chan/Welford parallel merge (:843-897), corrected skewness
(:899-982) and kurtosis (:984-1080), num_zeros/num_negatives (:1949-1992).

Spark design: ALL columns × ALL stats are computed in one (or two) wide
``df.agg()`` jobs — never one job per column (the reference's
multiprocessing-per-column model is an anti-pattern under Catalyst; a
single wide aggregate is partially aggregated map-side, shuffles one row
per partition, and whole-stage-codegens the entire expression battery).

One implementation, ``numeric_profile_exact``: decimal-typed power sums
for count/sum/mean/variance (exact, associative, engine-independent)
plus mean-centered double sums for skewness/kurtosis (catastrophic-
cancellation-free, deterministic to ~1e-13 relative). It is the oracle-
matched path: the same formulas in ANSI SQL produce hash-identical
results on DuckDB. (The Profiler's whole-table battery is its own wide
agg in plans/profile_plan.py.)

It melts to one row per column:
(column, sample_size, null_count, match_count, min, max, sum, mean,
 variance, stddev, skewness, kurtosis, num_zeros, num_negatives)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType

STAT_FIELDS = [
    "sample_size", "null_count", "match_count", "min", "max", "sum", "mean",
    "variance", "stddev", "skewness", "kurtosis", "num_zeros", "num_negatives",
]

# Exact sums work on scaled integers (x * 10^EXACT_SCALE rounded to an
# integer held in scale-0 decimals). Scale-0 decimal → double is a SINGLE
# correctly-rounded conversion in both Spark (BigDecimal) and DuckDB
# (int128), whereas scaled decimals double-round in DuckDB (int128 →
# double, then ÷10^scale) which costs ~1 ulp of cross-engine drift.
EXACT_SCALE = 3
SCALE = 10 ** EXACT_SCALE


def scaled(col: str | Column) -> Column:
    """round(x · SCALE) as a decimal(19,0): the scaled integer every
    exact sum in the package is taken over. Per-row products of two
    such values always fit decimal(38,0) (|xi| < 1e19 ⇒ xi² < 1e38)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c.cast("double") * SCALE, 0).cast("decimal(19,0)")


def exact_css(n: Column, sab: Column, sa: Column, sb: Column,
              fallback: Column) -> Column:
    """n·Σab − Σa·Σb as ONE double: exact decimal(38,0) arithmetic, then
    a single correctly-rounded conversion (mirrored by the oracles'
    HUGEINT form). Past decimal(38,0) the try_* chain yields NULL instead
    of an ANSI abort, and ``fallback`` — the caller's own overflow
    policy — takes over."""
    return F.coalesce(
        F.try_subtract(F.try_multiply(n.cast("decimal(38,0)"), sab),
                       F.try_multiply(sa, sb)).cast("double"),
        fallback)


def _overflow_error(n: Column, op: str, col: str) -> Column:
    """Fallback for the operators with no centered second moment: a
    variance that overflows decimal(38,0) fails the plan instead of
    coming back NULL."""
    return F.when(n > 1, F.raise_error(F.lit(
        f"{op}: the exact variance of column {col!r} overflows "
        "decimal(38,0); numeric_profile_exact covers this range with its "
        "centered fallback")))


def numeric_columns(df: DataFrame) -> list[str]:
    return [f.name for f in df.schema.fields if isinstance(f.dataType, NumericType)]


def _corrected_skew(n: Column, g1: Column) -> Column:
    """Bias correction sqrt(n(n-1))/(n-2) (numerical_column_stats.py:899-982)."""
    return F.when(n > 2, g1 * F.sqrt(n * (n - 1)) / (n - 2)).otherwise(F.lit(None))


def _corrected_kurt(n: Column, g2: Column) -> Column:
    """Excess-kurtosis bias correction (numerical_column_stats.py:1055-1080)."""
    return F.when(
        n > 3, ((n + 1) * g2 + 6) * (n - 1) / ((n - 2) * (n - 3))
    ).otherwise(F.lit(None))


def _melt_stats(stats_row: DataFrame, cols: list[str]) -> DataFrame:
    """Single 1-row wide aggregate → one row per column, no extra shuffle."""
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            *[F.col(f"{c}__{f}").alias(f) for f in STAT_FIELDS],
        )
        for c in cols
    ]
    return stats_row.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


# ---------------------------------------------------------------------------
# decimal power sums + centered higher moments (the oracle-checked battery)
# ---------------------------------------------------------------------------

def numeric_profile_exact(
    df: DataFrame,
    cols: list[str] | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """Deterministic, engine-independent numeric profile.

    Pass 1 (one agg): counts + decimal sum / sum-of-squares + min/max +
    zeros/negatives. Pass 2 (one agg over a broadcast of the 1-row pass-1
    result): mean-centered double cubes/quads for skew/kurt. Two scans
    total regardless of column count.
    """
    cols = cols or numeric_columns(df)
    r = round_digits

    p1_exprs: list[Column] = []
    for c in cols:
        col = F.col(c)
        xi = scaled(col)
        p1_exprs.extend([
            F.count(F.lit(1)).alias(f"{c}__ss"),
            F.sum(F.when(col.isNull(), 1).otherwise(0)).alias(f"{c}__nulls"),
            F.count(col).alias(f"{c}__n"),
            F.min(col).cast("double").alias(f"{c}__min"),
            F.max(col).cast("double").alias(f"{c}__max"),
            F.sum(xi.cast("decimal(38,0)")).alias(f"{c}__s1"),
            # try_sum: NULL (not an ANSI error) past 1e38, so the centered
            # fallback below can take over. Per-row xi² always fits:
            # |xi| < 1e19 ⇒ xi² < 1e38.
            F.try_sum((xi * xi).cast("decimal(38,0)")).alias(f"{c}__s2"),
            F.sum(F.when(col == 0, 1).otherwise(0)).alias(f"{c}__zeros"),
            F.sum(F.when(col < 0, 1).otherwise(0)).alias(f"{c}__negs"),
        ])
    p1 = df.agg(*p1_exprs)

    # Exact means for the centering pass: integer-decimal → double is one
    # correctly-rounded conversion, then two double divisions — identical
    # IEEE sequence in the SQL oracle.
    mean_cols = [
        (F.col(f"{c}__s1").cast("double") / F.col(f"{c}__n") / F.lit(float(SCALE)))
        .alias(f"{c}__mu")
        for c in cols
    ]
    means = p1.select(*mean_cols)

    p2_exprs: list[Column] = []
    for c in cols:
        dev = F.col(c).cast("double") - F.col(f"{c}__mu")
        p2_exprs.extend([
            F.sum(dev * dev).alias(f"{c}__m2"),
            F.sum(dev * dev * dev).alias(f"{c}__m3"),
            F.sum(dev * dev * dev * dev).alias(f"{c}__m4"),
        ])
    p2 = df.crossJoin(F.broadcast(means)).agg(*p2_exprs)

    joined = p1.crossJoin(F.broadcast(p2))

    out_cols: list[Column] = []
    s2lit = F.lit(float(SCALE))
    for c in cols:
        n = F.col(f"{c}__n")
        s1 = F.col(f"{c}__s1")   # decimal(38,0) scaled integers
        s2 = F.col(f"{c}__s2")
        m3 = F.col(f"{c}__m3")
        m4 = F.col(f"{c}__m4")
        mean = s1.cast("double") / n / s2lit
        # n·s2 − s1² is exact integer arithmetic; ONE decimal→double cast,
        # then a fixed division sequence mirrored verbatim in the oracle.
        # Decimal(38,0) products overflow past ~1e38 — reachable at
        # ~1e12 rows × |x|~1e7. Under ANSI (Spark 4 default) that would
        # abort the job, so the product chain uses try_* (NULL on
        # overflow) and falls back to the centered second moment from
        # pass 2 (n·m2·S² == css, cancellation-free; double summation
        # order costs ≤1e-15 relative, below the 6-digit rounding). The
        # decimal path wins whenever it fits, keeping small-scale results
        # bit-identical to the oracle. s1 (plain sum, safe while
        # |mean|·S·n < 1e38) is the remaining hard domain limit: past it
        # the mean — and the centering pass with it — fails loudly.
        css = exact_css(
            n, s2, s1, s1,
            fallback=F.col(f"{c}__m2") * n.cast("double") * (s2lit * s2lit))
        var = F.when(n > 1, css / n / (n - 1) / (s2lit * s2lit)).otherwise(F.lit(None))
        b2 = css / n / n / (s2lit * s2lit)  # biased variance for moment ratios
        # b2 == 0 (constant column) → moments undefined, not NaN/Inf
        g1 = F.when((n > 0) & (b2 > 0),
                    (m3 / n) / F.pow(b2, F.lit(1.5))).otherwise(F.lit(None))
        g2 = F.when((n > 0) & (b2 > 0),
                    (m4 / n) / (b2 * b2) - 3).otherwise(F.lit(None))
        out_cols.extend([
            F.col(f"{c}__ss").alias(f"{c}__sample_size"),
            F.col(f"{c}__nulls").alias(f"{c}__null_count"),
            n.alias(f"{c}__match_count"),
            F.round(F.col(f"{c}__min"), r).alias(f"{c}__min"),
            F.round(F.col(f"{c}__max"), r).alias(f"{c}__max"),
            F.round(s1.cast("double") / s2lit, r).alias(f"{c}__sum"),
            F.round(mean, r).alias(f"{c}__mean"),
            F.round(var, r).alias(f"{c}__variance"),
            F.round(F.sqrt(var), r).alias(f"{c}__stddev"),
            F.round(_corrected_skew(n, g1), r).alias(f"{c}__skewness"),
            F.round(_corrected_kurt(n, g2), r).alias(f"{c}__kurtosis"),
            F.col(f"{c}__zeros").alias(f"{c}__num_zeros"),
            F.col(f"{c}__negs").alias(f"{c}__num_negatives"),
        ])
    return _melt_stats(joined.select(*out_cols), cols)


def numeric_profile_by_group(df: DataFrame, group_col: str, value_col: str,
                             round_digits: int = 6) -> DataFrame:
    """Segmented numeric battery: the exact-mode stats per group value —
    (group, sample_size, null_count, match_count, min, max, sum, mean,
    variance, stddev, num_zeros, num_negatives).

    ONE groupBy (map-side partial aggregation; shuffle = one row per
    group per partition). Skew/kurt are omitted: their cancellation-free
    formulation needs a per-group centering pass — for segment-level
    drill-downs the second-moment battery is the standard ask, and the
    full battery remains available per segment via a filter +
    :func:`numeric_profile_exact`. Decimal power sums keep results
    engine-exact (same formulation as numeric_profile_exact); a group
    whose variance overflows decimal(38,0) fails the plan rather than
    reporting a NULL variance."""
    r = round_digits
    col = F.col(value_col)
    xi = scaled(col)
    s2lit = F.lit(float(SCALE))
    g = df.groupBy(F.col(group_col).cast("string").alias("grp")).agg(
        F.count(F.lit(1)).alias("ss"),
        F.sum(F.when(col.isNull(), 1).otherwise(0)).alias("nulls"),
        F.count(col).alias("n"),
        F.min(col).cast("double").alias("mn"),
        F.max(col).cast("double").alias("mx"),
        F.sum(xi.cast("decimal(38,0)")).alias("s1"),
        F.try_sum((xi * xi).cast("decimal(38,0)")).alias("s2"),
        F.sum(F.when(col == 0, 1).otherwise(0)).alias("zeros"),
        F.sum(F.when(col < 0, 1).otherwise(0)).alias("negs"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    css = exact_css(n, s2, s1, s1, fallback=_overflow_error(
        n, "numeric_profile_by_group", value_col))
    var = F.when(n > 1, css / n / (n - 1) / (s2lit * s2lit)).otherwise(
        F.lit(None))
    return g.select(
        F.col("grp").alias(group_col),
        F.col("ss").alias("sample_size"),
        F.col("nulls").cast("long").alias("null_count"),
        n.alias("match_count"),
        F.round(F.col("mn"), r).alias("min"),
        F.round(F.col("mx"), r).alias("max"),
        F.round(s1.cast("double") / s2lit, r).alias("sum"),
        F.round(s1.cast("double") / n / s2lit, r).alias("mean"),
        F.round(var, r).alias("variance"),
        F.round(F.sqrt(var), r).alias("stddev"),
        F.col("zeros").cast("long").alias("num_zeros"),
        F.col("negs").cast("long").alias("num_negatives"),
    )


def oracle_numeric_profile_by_group_sql(table: str, group_col: str,
                                        value_col: str,
                                        round_digits: int = 6) -> str:
    r = round_digits
    S = float(SCALE)
    c = value_col
    x = f"CAST(ROUND(CAST({c} AS DOUBLE) * {S}, 0) AS DECIMAL(19,0))"
    css = ("CAST(CAST(n AS HUGEINT) * CAST(s2 AS HUGEINT)"
           " - CAST(s1 AS HUGEINT) * CAST(s1 AS HUGEINT) AS DOUBLE)")
    var = f"CASE WHEN n > 1 THEN {css} / n / (n - 1) / ({S} * {S}) END"
    return f"""
SELECT grp AS {group_col}, ss AS sample_size,
  CAST(nulls AS BIGINT) AS null_count, n AS match_count,
  ROUND(mn, {r}) AS min, ROUND(mx, {r}) AS max,
  ROUND(CAST(s1 AS DOUBLE) / {S}, {r}) AS sum,
  ROUND(CAST(s1 AS DOUBLE) / n / {S}, {r}) AS mean,
  ROUND({var}, {r}) AS variance,
  ROUND(SQRT({var}), {r}) AS stddev,
  CAST(zeros AS BIGINT) AS num_zeros, CAST(negs AS BIGINT) AS num_negatives
FROM (
  SELECT CAST({group_col} AS VARCHAR) AS grp,
         COUNT(*) AS ss,
         SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS nulls,
         COUNT({c}) AS n,
         CAST(MIN({c}) AS DOUBLE) AS mn, CAST(MAX({c}) AS DOUBLE) AS mx,
         SUM(CAST({x} AS DECIMAL(38,0))) AS s1,
         SUM(CAST({x} * {x} AS DECIMAL(38,0))) AS s2,
         SUM(CASE WHEN {c} = 0 THEN 1 ELSE 0 END) AS zeros,
         SUM(CASE WHEN {c} < 0 THEN 1 ELSE 0 END) AS negs
  FROM {table} GROUP BY 1
)
"""


def oracle_numeric_profile_sql(table: str, cols: list[str], round_digits: int = 6) -> str:
    """ANSI SQL (DuckDB dialect) mirroring ``numeric_profile_exact``.

    The formulas and association order match the Spark expressions exactly
    so double-precision results are bit-identical.
    """
    r = round_digits
    S = float(SCALE)
    xi = "CAST(ROUND(CAST({c} AS DOUBLE) * {S}, 0) AS DECIMAL(19,0))"
    selects = []
    for c in cols:
        x = xi.format(c=c, S=S)
        css = ("CAST(CAST(p.n AS HUGEINT) * CAST(p.s2 AS HUGEINT)"
               " - CAST(p.s1 AS HUGEINT) * CAST(p.s1 AS HUGEINT) AS DOUBLE)")
        var = f"{css} / p.n / (p.n - 1) / ({S} * {S})"
        b2 = f"{css} / p.n / p.n / ({S} * {S})"
        selects.append(f"""
SELECT '{c}' AS "column",
  p.ss AS sample_size, CAST(p.nulls AS BIGINT) AS null_count, p.n AS match_count,
  ROUND(p.mn, {r}) AS min, ROUND(p.mx, {r}) AS max,
  ROUND(CAST(p.s1 AS DOUBLE) / {S}, {r}) AS sum,
  ROUND(CAST(p.s1 AS DOUBLE) / p.n / {S}, {r}) AS mean,
  ROUND({var}, {r}) AS variance,
  ROUND(SQRT({var}), {r}) AS stddev,
  ROUND(CASE WHEN p.n > 2 AND {b2} > 0
             THEN ((q.m3 / p.n) / POW({b2}, 1.5)) * SQRT(p.n * (p.n - 1)) / (p.n - 2)
        END, {r}) AS skewness,
  ROUND(CASE WHEN p.n > 3 AND {b2} > 0
             THEN ((p.n + 1) * ((q.m4 / p.n) / (({b2}) * ({b2})) - 3) + 6)
                  * (p.n - 1) / ((p.n - 2) * (p.n - 3))
        END, {r}) AS kurtosis,
  CAST(p.zeros AS BIGINT) AS num_zeros, CAST(p.negs AS BIGINT) AS num_negatives
FROM (
  SELECT COUNT(*) AS ss,
         SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS nulls,
         COUNT({c}) AS n,
         CAST(MIN({c}) AS DOUBLE) AS mn, CAST(MAX({c}) AS DOUBLE) AS mx,
         SUM(CAST({x} AS DECIMAL(38,0))) AS s1,
         SUM(CAST({x} * {x} AS DECIMAL(38,0))) AS s2,
         SUM(CASE WHEN {c} = 0 THEN 1 ELSE 0 END) AS zeros,
         SUM(CASE WHEN {c} < 0 THEN 1 ELSE 0 END) AS negs
  FROM {table}
) p CROSS JOIN (
  SELECT SUM((CAST({c} AS DOUBLE) - mu.mu) * (CAST({c} AS DOUBLE) - mu.mu) * (CAST({c} AS DOUBLE) - mu.mu)) AS m3,
         SUM((CAST({c} AS DOUBLE) - mu.mu) * (CAST({c} AS DOUBLE) - mu.mu) * (CAST({c} AS DOUBLE) - mu.mu) * (CAST({c} AS DOUBLE) - mu.mu)) AS m4
  FROM {table} CROSS JOIN (
    SELECT CAST(SUM(CAST({x} AS DECIMAL(38,0))) AS DOUBLE) / COUNT({c}) / {S} AS mu FROM {table}
  ) mu
) q""")
    return "\nUNION ALL\n".join(selects)


# ---------------------------------------------------------------------------
# z-score outlier fences (beyond the reference: a profiler staple —
# per-column counts outside mean ± z·stddev)
# ---------------------------------------------------------------------------

def outlier_counts(df: DataFrame, cols: list[str] | None = None,
                   z: float = 3.0, round_digits: int = 6) -> DataFrame:
    """Per numeric column: (column, match_count, mean, stddev, fence_lo,
    fence_hi, n_low, n_high, outlier_ratio) where the fences are
    mean ± z·stddev (sample stddev).

    Two scans at any column count: pass 1 is the fused exact-mode
    count/sum/sum-of-squares agg (decimal power sums — see
    ``numeric_profile_exact``); pass 2 counts fence violations against a
    broadcast 1-row fence frame. The fence doubles derive from integer
    sums through a fixed IEEE division sequence, so the per-row
    comparisons are engine-exact (a row precisely ON a fence is kept on
    every engine, not a coin flip). A variance that overflows
    decimal(38,0) fails the plan: NULL fences would report 0 outliers."""
    cols = cols or numeric_columns(df)
    r = round_digits
    s2lit = F.lit(float(SCALE))

    p1_exprs: list[Column] = []
    for c in cols:
        col = F.col(c)
        xi = scaled(col)
        p1_exprs.extend([
            F.count(col).alias(f"{c}__n"),
            F.sum(xi.cast("decimal(38,0)")).alias(f"{c}__s1"),
            F.try_sum((xi * xi).cast("decimal(38,0)")).alias(f"{c}__s2"),
        ])
    p1 = df.agg(*p1_exprs)

    fence_cols: list[Column] = []
    for c in cols:
        n = F.col(f"{c}__n")
        s1, s2 = F.col(f"{c}__s1"), F.col(f"{c}__s2")
        mu = s1.cast("double") / n / s2lit
        css = exact_css(n, s2, s1, s1,
                        fallback=_overflow_error(n, "outlier_counts", c))
        var = F.when(n > 1, css / n / (n - 1) / (s2lit * s2lit)) \
               .otherwise(F.lit(None))
        sd = F.sqrt(var)
        fence_cols.extend([
            n.alias(f"{c}__n"),
            mu.alias(f"{c}__mu"), sd.alias(f"{c}__sd"),
            (mu - F.lit(z) * sd).alias(f"{c}__lo"),
            (mu + F.lit(z) * sd).alias(f"{c}__hi"),
        ])
    fences = p1.select(*fence_cols)

    p2_exprs: list[Column] = []
    for c in cols:
        x = F.col(c).cast("double")
        p2_exprs.extend([
            F.sum(F.when(x < F.col(f"{c}__lo"), 1).otherwise(0))
             .alias(f"{c}__nlo"),
            F.sum(F.when(x > F.col(f"{c}__hi"), 1).otherwise(0))
             .alias(f"{c}__nhi"),
        ])
    p2 = df.crossJoin(F.broadcast(fences)).agg(*p2_exprs)

    joined = fences.crossJoin(F.broadcast(p2))
    structs = []
    for c in cols:
        n = F.col(f"{c}__n")
        nlo = F.coalesce(F.col(f"{c}__nlo"), F.lit(0)).cast("long")
        nhi = F.coalesce(F.col(f"{c}__nhi"), F.lit(0)).cast("long")
        structs.append(F.struct(
            F.lit(c).alias("column"),
            n.alias("match_count"),
            F.round(F.col(f"{c}__mu"), r).alias("mean"),
            F.round(F.col(f"{c}__sd"), r).alias("stddev"),
            F.round(F.col(f"{c}__lo"), r).alias("fence_lo"),
            F.round(F.col(f"{c}__hi"), r).alias("fence_hi"),
            nlo.alias("n_low"), nhi.alias("n_high"),
            F.round(F.when(n > 0, (nlo + nhi).cast("double") / n)
                     .otherwise(F.lit(0.0)), r).alias("outlier_ratio"),
        ))
    return joined.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def oracle_outlier_counts_sql(table: str, cols: list[str], z: float = 3.0,
                              round_digits: int = 6) -> str:
    """Mirror of ``outlier_counts`` — identical division sequence, so the
    fence doubles (and therefore every comparison) are bit-identical."""
    r = round_digits
    S = float(SCALE)
    xi = "CAST(ROUND(CAST({c} AS DOUBLE) * {S}, 0) AS DECIMAL(19,0))"
    selects = []
    for c in cols:
        x = xi.format(c=c, S=S)
        css = ("CAST(CAST(f.n AS HUGEINT) * CAST(f.s2 AS HUGEINT)"
               " - CAST(f.s1 AS HUGEINT) * CAST(f.s1 AS HUGEINT) AS DOUBLE)")
        mu = f"(CAST(f.s1 AS DOUBLE) / f.n / {S})"
        var = f"(CASE WHEN f.n > 1 THEN {css} / f.n / (f.n - 1) / ({S} * {S}) END)"
        sd = f"SQRT({var})"
        lo = f"({mu} - {z} * {sd})"
        hi = f"({mu} + {z} * {sd})"
        selects.append(f"""
SELECT '{c}' AS "column", f.n AS match_count,
  ROUND({mu}, {r}) AS mean, ROUND({sd}, {r}) AS stddev,
  ROUND({lo}, {r}) AS fence_lo, ROUND({hi}, {r}) AS fence_hi,
  o.nlo AS n_low, o.nhi AS n_high,
  ROUND(CASE WHEN f.n > 0
        THEN CAST(o.nlo + o.nhi AS DOUBLE) / f.n ELSE 0.0 END, {r})
    AS outlier_ratio
FROM (
  SELECT COUNT({c}) AS n,
         SUM(CAST({x} AS DECIMAL(38,0))) AS s1,
         SUM(CAST({x} * {x} AS DECIMAL(38,0))) AS s2
  FROM {table}
) f CROSS JOIN (
  SELECT CAST(COALESCE(SUM(CASE WHEN CAST(t.{c} AS DOUBLE) < ff.lo
                           THEN 1 ELSE 0 END), 0) AS BIGINT) AS nlo,
         CAST(COALESCE(SUM(CASE WHEN CAST(t.{c} AS DOUBLE) > ff.hi
                           THEN 1 ELSE 0 END), 0) AS BIGINT) AS nhi
  FROM {table} t CROSS JOIN (
    SELECT (CAST(p.s1 AS DOUBLE) / p.n / {S})
           - {z} * SQRT(CASE WHEN p.n > 1 THEN
               CAST(CAST(p.n AS HUGEINT) * CAST(p.s2 AS HUGEINT)
                    - CAST(p.s1 AS HUGEINT) * CAST(p.s1 AS HUGEINT) AS DOUBLE)
               / p.n / (p.n - 1) / ({S} * {S}) END) AS lo,
           (CAST(p.s1 AS DOUBLE) / p.n / {S})
           + {z} * SQRT(CASE WHEN p.n > 1 THEN
               CAST(CAST(p.n AS HUGEINT) * CAST(p.s2 AS HUGEINT)
                    - CAST(p.s1 AS HUGEINT) * CAST(p.s1 AS HUGEINT) AS DOUBLE)
               / p.n / (p.n - 1) / ({S} * {S}) END) AS hi
    FROM (SELECT COUNT({c}) AS n,
                 SUM(CAST({x} AS DECIMAL(38,0))) AS s1,
                 SUM(CAST({x} * {x} AS DECIMAL(38,0))) AS s2
          FROM {table}) p
  ) ff
) o""")
    return "\nUNION ALL\n".join(selects)


def robust_stats(df: DataFrame, cols: list[str],
                 trim: float = 0.05,
                 round_digits: int = 6) -> DataFrame:
    """(column, n, q1, q3, iqr, n_low_outliers, n_high_outliers,
    trimmed_mean, winsorized_mean): the Tukey-fence + trimmed-estimator
    battery — the robust complement to the z-score fences of
    ``outlier_counts`` (a z fence moves toward the very outliers it
    hunts; quartiles don't).

    * Tukey fences: [q1 − 1.5·IQR, q3 + 1.5·IQR]; counts outside each.
    * trimmed_mean: classic two-sided RANK trim (scipy.stats.trim_mean
      semantics): drop the lowest/highest ⌊n·trim⌋ order statistics,
      mean the rest.
    * winsorized_mean: the dropped tails are REPLACED by the boundary
      order statistics (ranks ⌊n·trim⌋+1 and n−⌊n·trim⌋) instead.

    ENGINE-EXACTNESS DESIGN (the r6 driver-red lesson): the r6 version
    compared raw doubles against engine-native interpolated quantiles
    (Spark ``percentile`` vs DuckDB ``quantile_cont``) — a 1-ulp
    interpolation difference flips every tied boundary row on
    low-cardinality columns. This version calls NO native quantile at
    all. Everything derives from a counts-CDF: group by (column, value),
    running-count window, then (a) trim/winsor membership is pure
    integer rank-interval overlap, (b) q1/q3 are interpolated by the
    SAME explicit IEEE expression in both engines
    (pos = (n−1)·p; q = v[⌊pos⌋] + frac·(v[⌊pos⌋+1] − v[⌊pos⌋])),
    (c) Tukey fences derive from those identical doubles. No
    cross-engine float comparison is left against a value either engine
    interpolated privately.

    Plan/scale: 2 scans — melt → groupBy(column, value) (map-side
    combined) feeds both a rank-window pass and a fence-count pass. The
    per-column window is a SPILLABLE sort + streaming running sum
    (bounded memory), unlike ``F.percentile`` whose value→count map
    state is O(distinct) per aggregate and OOMs on continuous 100 TB
    columns. Sums are DECIMAL-scaled (order-independent); all-NULL
    columns yield NULL quantiles/means and zero outlier counts on both
    engines."""
    from dataprofiler_spark.operators.histogram import counts_cdf_pair

    melt = [F.struct(F.lit(c).alias("column"),
                     F.col(c).cast("double").alias("v")) for c in cols]
    vals = (df.select(F.explode(F.array(*melt)).alias("s"))
            .select("s.column", "s.v").where(F.col("v").isNotNull()))
    vc = vals.groupBy("column", "v").agg(F.count(F.lit(1)).alias("cnt"))
    # parallel prefix-sum CDF (r12, guide §2.5): the per-column ordered
    # window serialized each column's whole distinct-value set onto one
    # task (and AQE coalesced the 4 columns onto ONE) — counts_cdf
    # spreads the running sum over range partitions instead. r13: the
    # fence pass below reads the MATERIALIZED counts frame the CDF
    # checkpointed, so the melt+agg runs once, not twice.
    cdf, vc = counts_cdf_pair(vc, keys=["column"])
    handles = cdf._dps_persisted
    cdf = cdf.drop("n")

    # per-column totals from the base frame so all-NULL columns keep a row
    trow = df.agg(*[F.count(F.col(c).cast("double")).alias(f"__n_{c}")
                    for c in cols])
    tot = (trow.select(F.explode(F.array(*[
        F.struct(F.lit(c).alias("column"),
                 F.col(f"__n_{c}").alias("n")) for c in cols])).alias("s"))
        .select("s.*"))

    j = cdf.join(F.broadcast(tot), "column")
    n = F.col("n")
    nd = (n - 1).cast("double")
    k1 = F.floor(nd * F.lit(0.25)).cast("long")
    g1 = nd * F.lit(0.25) - k1.cast("double")
    k3 = F.floor(nd * F.lit(0.75)).cast("long")
    g3 = nd * F.lit(0.75) - k3.cast("double")
    lcut = F.floor(n.cast("double") * F.lit(float(trim))).cast("long")
    lo_r, hi_r = lcut + 1, n - lcut

    def at(r):
        # value at 1-based rank r: exactly one CDF interval contains it
        return F.min(F.when((F.col("c_end") >= r)
                            & (F.col("c_start") < r), F.col("v")))

    dv = F.round(F.col("v"), 6).cast("decimal(38,6)")
    take = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("c_end"), hi_r)
        - F.greatest(F.col("c_start") + 1, lo_r) + F.lit(1))
    s1 = j.groupBy("column").agg(
        at(k1 + 1).alias("vq1a"), at(k1 + 2).alias("vq1b"),
        at(k3 + 1).alias("vq3a"), at(k3 + 2).alias("vq3b"),
        at(lo_r).alias("vlo"), at(hi_r).alias("vhi"),
        F.max(g1).alias("g1"), F.max(g3).alias("g3"),
        F.max(lcut).alias("lcut"),
        F.sum(dv * take).alias("t_sum"),
        F.sum(take).alias("t_cnt"))

    def interp(va, vb, g):
        return F.when(g == 0.0, va).otherwise(va + g * (vb - va))

    q = (tot.join(F.broadcast(s1), "column", "left")
         .select("column", "n",
                 interp(F.col("vq1a"), F.col("vq1b"),
                        F.col("g1")).alias("q1d"),
                 interp(F.col("vq3a"), F.col("vq3b"),
                        F.col("g3")).alias("q3d"),
                 "vlo", "vhi", "lcut", "t_sum", "t_cnt"))

    iqr = F.col("q3d") - F.col("q1d")
    qf = q.select("column", (F.col("q1d") - 1.5 * iqr).alias("lo_f"),
                  (F.col("q3d") + 1.5 * iqr).alias("hi_f"))
    # fence counts only need (column, v, cnt): read the pre-window
    # aggregate, not the CDF — the r11 shape joined against ``cdf``
    # and so ran the whole ordered-window pass a second time for
    # columns it never used (r12; probe showed two ~2 s single-task
    # window stages per run)
    fc = (vc.join(F.broadcast(qf), "column")
          .groupBy("column")
          .agg(F.sum(F.when(F.col("v") < F.col("lo_f"), F.col("cnt"))
                     .otherwise(0)).alias("nlo"),
               F.sum(F.when(F.col("v") > F.col("hi_f"), F.col("cnt"))
                     .otherwise(0)).alias("nhi")))

    from dataprofiler_spark.functions.rounding import duckdb_round
    from dataprofiler_spark.session import register_persisted

    dlo = F.round(F.col("vlo"), 6).cast("decimal(38,6)")
    dhi = F.round(F.col("vhi"), 6).cast("decimal(38,6)")
    w_sum = F.col("t_sum") + dlo * F.col("lcut") + dhi * F.col("lcut")
    # duckdb_round, not F.round: a 6-dp decimal sum over an integer
    # count lands EXACTLY on 7th-digit halves (this operator's r6
    # driver-red was literally 53055.8184745) — see functions/rounding.
    out = (q.join(F.broadcast(fc), "column", "left")
           .select(
                "column", F.col("n").alias("n"),
                duckdb_round(F.col("q1d"), round_digits).alias("q1"),
                duckdb_round(F.col("q3d"), round_digits).alias("q3"),
                duckdb_round(iqr, round_digits).alias("iqr"),
                F.coalesce(F.col("nlo"), F.lit(0)).cast("long")
                 .alias("n_low_outliers"),
                F.coalesce(F.col("nhi"), F.lit(0)).cast("long")
                 .alias("n_high_outliers"),
                duckdb_round(F.col("t_sum").cast("double")
                             / F.nullif(F.col("t_cnt"), F.lit(0)),
                             round_digits).alias("trimmed_mean"),
                duckdb_round(w_sum.cast("double")
                             / F.nullif(F.col("n"), F.lit(0)),
                             round_digits).alias("winsorized_mean")))
    return register_persisted(out, *handles)


def oracle_robust_stats_sql(table: str, cols: list[str],
                            trim: float = 0.05,
                            round_digits: int = 6) -> str:
    """Mirror of ``robust_stats``: the same counts-CDF / integer-rank /
    explicit-interpolation formulation — deliberately NOT
    ``quantile_cont`` (see the operator docstring: native-quantile
    interpolation is the cross-engine seam this design removes)."""
    vals = "\nUNION ALL\n".join(
        f"SELECT '{c}' AS \"column\", CAST({c} AS DOUBLE) AS v"
        f" FROM {table} WHERE {c} IS NOT NULL" for c in cols)
    tots = "\nUNION ALL\n".join(
        f"SELECT '{c}' AS \"column\", COUNT({c}) AS n FROM {table}"
        for c in cols)
    take = ("GREATEST(0, LEAST(c_end, n - lcut)"
            " - GREATEST(c_start + 1, lcut + 1) + 1)")

    def at(r):
        return f"MIN(CASE WHEN c_end >= {r} AND c_start < {r} THEN v END)"

    return f"""
WITH vals AS ({vals}),
vc AS (SELECT "column", v, COUNT(*) AS cnt FROM vals GROUP BY 1, 2),
cdf AS (
  SELECT "column", v, cnt,
         SUM(cnt) OVER (PARTITION BY "column" ORDER BY v) AS c_end,
         SUM(cnt) OVER (PARTITION BY "column" ORDER BY v) - cnt AS c_start
  FROM vc
),
tot AS ({tots}),
j AS (
  SELECT cdf.*, tot.n,
         CAST(FLOOR(CAST(tot.n - 1 AS DOUBLE) * 0.25) AS BIGINT) AS k1,
         CAST(tot.n - 1 AS DOUBLE) * 0.25
           - FLOOR(CAST(tot.n - 1 AS DOUBLE) * 0.25) AS g1,
         CAST(FLOOR(CAST(tot.n - 1 AS DOUBLE) * 0.75) AS BIGINT) AS k3,
         CAST(tot.n - 1 AS DOUBLE) * 0.75
           - FLOOR(CAST(tot.n - 1 AS DOUBLE) * 0.75) AS g3,
         CAST(FLOOR(CAST(tot.n AS DOUBLE) * {trim!r}) AS BIGINT) AS lcut
  FROM cdf JOIN tot USING ("column")
),
s1 AS (
  SELECT "column",
         {at('k1 + 1')} AS vq1a, {at('k1 + 2')} AS vq1b,
         {at('k3 + 1')} AS vq3a, {at('k3 + 2')} AS vq3b,
         {at('lcut + 1')} AS vlo, {at('n - lcut')} AS vhi,
         MAX(g1) AS g1, MAX(g3) AS g3, MAX(lcut) AS lcut,
         SUM(CAST(ROUND(v, 6) AS DECIMAL(38,6)) * {take}) AS t_sum,
         SUM({take}) AS t_cnt
  FROM j GROUP BY 1
),
q AS (
  SELECT tot."column", tot.n,
         CASE WHEN g1 = 0 THEN vq1a
              ELSE vq1a + g1 * (vq1b - vq1a) END AS q1d,
         CASE WHEN g3 = 0 THEN vq3a
              ELSE vq3a + g3 * (vq3b - vq3a) END AS q3d,
         vlo, vhi, lcut, t_sum, t_cnt
  FROM tot LEFT JOIN s1 USING ("column")
),
fc AS (
  SELECT cdf."column",
         SUM(CASE WHEN v < q1d - 1.5 * (q3d - q1d) THEN cnt ELSE 0 END)
           AS nlo,
         SUM(CASE WHEN v > q3d + 1.5 * (q3d - q1d) THEN cnt ELSE 0 END)
           AS nhi
  FROM cdf JOIN q USING ("column") GROUP BY 1
)
SELECT q."column", CAST(q.n AS BIGINT) AS n,
       ROUND(q1d, {round_digits}) AS q1,
       ROUND(q3d, {round_digits}) AS q3,
       ROUND(q3d - q1d, {round_digits}) AS iqr,
       CAST(COALESCE(nlo, 0) AS BIGINT) AS n_low_outliers,
       CAST(COALESCE(nhi, 0) AS BIGINT) AS n_high_outliers,
       ROUND(CAST(t_sum AS DOUBLE) / NULLIF(t_cnt, 0), {round_digits})
         AS trimmed_mean,
       ROUND(CAST(t_sum + CAST(ROUND(vlo, 6) AS DECIMAL(38,6)) * lcut
                  + CAST(ROUND(vhi, 6) AS DECIMAL(38,6)) * lcut
                  AS DOUBLE) / NULLIF(q.n, 0), {round_digits})
         AS winsorized_mean
FROM q LEFT JOIN fc USING ("column")
"""


def _benford_digit_counts(df: DataFrame, cols: list[str]) -> DataFrame:
    """(column, digit, o): first-significant-digit counts per column —
    the scan stage of :func:`benford_test`, exposed for the adversarial
    digit-parity test."""
    melt = []
    for c in cols:
        x = F.abs(F.col(c).cast("double"))
        # first significant digit: strip sign/zeros/dot from a
        # plain-notation rendering at 10 fractional digits. Fast path:
        # double→decimal(38,10)→string (a plain JVM cast, no
        # DecimalFormat) — measured 1.45× faster than format_number on
        # sf0.1. Guarded to 1e-4 ≤ |x| < 9e5, the window where the
        # decimal cast is engine-portable: DuckDB converts via
        # x·10¹⁰ in doubles, exact only below 2⁵³ (x < 9.0e5 —
        # measured: 1e13 renders 9999999999999.99… there), and its
        # rounding at the 10⁻¹⁰ place is flaky near half-boundaries
        # (4.999999999999e-11 → 1e-10), harmless once the first digit
        # sits at ≥ the 1e-5 place. Outside the window fall back to
        # format_number's exact binary expansion (the formulation
        # hash-proven since r1). A pure log10/pow formulation is
        # WRONG, not just unportable: floor(0.3/0.1) = 2 in IEEE
        # doubles.
        s_fast = F.regexp_replace(
            x.cast("decimal(38,10)").cast("string"), r"[^1-9]", "")
        s_slow = F.regexp_replace(F.format_number(x, 10), r"[^1-9]", "")
        # try_cast: a positive value below 1e-10 renders as all zeros →
        # '' after the strip, which ANSI-mode cast would throw on (the
        # oracle's TRY_CAST already tolerated it)
        s = F.when((x >= F.lit(1e-4)) & (x < F.lit(9e5)), s_fast) \
             .otherwise(s_slow)
        d = F.when(x > 0, F.substring(s, 1, 1).try_cast("int"))
        melt.append(
            df.select(F.lit(c).alias("column"), d.alias("digit"))
            .where(F.col("digit").isNotNull()))
    # unionAll of per-column NARROW projections, deliberately NOT an
    # explode-melt: on columnar parquet each branch reads exactly its
    # one column (total IO identical to a single 4-column scan) with no
    # per-row struct-array materialization — A/B measured 2.8 s union
    # vs 5.0 s melt on sf0.1 ×4 cols. Melt only pays off when the
    # downstream needs all columns per row anyway (robust_stats' CDF).
    u = melt[0]
    for r in melt[1:]:
        u = u.unionAll(r)
    return u.groupBy("column", "digit").agg(F.count(F.lit(1)).alias("o"))


def benford_test(df: DataFrame, cols: list[str],
                 round_digits: int = 6) -> DataFrame:
    """(column, n, chi2, max_abs_dev, top_digit, top_digit_freq):
    Benford's-law first-significant-digit test per numeric column — the
    classic fabricated/synthetic-data screen (naturally occurring
    multi-magnitude quantities follow P(d) = log10(1 + 1/d); uniform
    generators, capped fields and hand-typed values don't).

    * chi2: Pearson statistic of the observed digit distribution
      against Benford (dof = 8, > ~20 is a strong rejection).
    * max_abs_dev: worst |observed − expected| digit share.
    * top_digit/top_digit_freq: the most frequent first digit
      (tie → lowest digit) and its share.

    Zeros/NULLs carry no first digit and are excluded (n counts used
    rows). NOTE: a column failing Benford is not "wrong" — bounded
    quantities (percent, ages, TPC-H uniform prices) legitimately fail;
    the test is a SCREEN whose reject is a prompt to look, which is
    exactly how reference-class profilers ship it.

    Plan: first digit is a map-side string expression on |x|; one
    groupBy (column, digit) over ≤ 9·k groups, folded per column —
    scan-bound at any scale."""
    import math

    exp = {d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)}
    counts = _benford_digit_counts(df, cols)
    n_tab = counts.groupBy("column").agg(F.sum("o").alias("n"))
    # DENSE digit grid: a digit with zero observations still contributes
    # its full expectation e to chi2 ((0-e)^2/e = e) and e/n to the
    # deviation — summing only observed digits understates both (the
    # chi2 dense-contingency rule; found by the independent Python
    # reference test, invisible to the DuckDB mirror which shared the
    # formulation).
    grid = (n_tab.select("column")
            .select("column", F.explode(F.sequence(F.lit(1), F.lit(9)))
                    .alias("digit")))
    dense = (grid.join(counts, ["column", "digit"], "left")
             .select("column", "digit",
                     F.coalesce("o", F.lit(0)).alias("o")))
    j = dense.join(n_tab, "column")
    e = F.element_at(
        F.array(*[F.lit(exp[d]) for d in range(1, 10)]), F.col("digit")
    ) * F.col("n")
    term = (F.col("o") - e) * (F.col("o") - e) / e
    dev = F.abs(F.col("o").cast("double") / F.col("n")
                - e / F.col("n"))
    # deterministic argmax with tie -> lowest digit, as ONE bigint key:
    # o*16 - digit (keys are distinct across digits mod 16, so the
    # comparison is total on both engines — no struct-comparator
    # portability issues)
    key = F.col("o") * 16 - F.col("digit")
    # round-then-decimal term fold (theils_u/chi2 discipline): the 9
    # digit terms sum as DECIMAL so partition/merge order can't move
    # the double sum — the seam class behind the r6 driver-red chi²
    # rows.
    tsum = F.sum(F.round(term, 9).cast("decimal(38,9)"))
    from dataprofiler_spark.functions.rounding import duckdb_round
    return (j.groupBy("column")
            .agg(F.max("n").alias("n"),
                 duckdb_round(tsum.cast("double"),
                              round_digits).alias("chi2"),
                 duckdb_round(F.max(dev),
                              round_digits).alias("max_abs_dev"),
                 F.max_by(F.col("digit"), key).alias("top_digit"),
                 F.max_by(F.col("o"), key).alias("__to"))
            .select("column", "n", "chi2", "max_abs_dev", "top_digit",
                    duckdb_round(F.col("__to").cast("double")
                                 / F.col("n"),
                                 round_digits).alias("top_digit_freq"))
            )


def oracle_benford_sql(table: str, cols: list[str],
                       round_digits: int = 6) -> str:
    import math

    exp_case = " ".join(
        f"WHEN {d} THEN {math.log10(1.0 + 1.0 / d)!r}"
        for d in range(1, 10))
    selects = []
    for c in cols:
        x = f"ABS(CAST({c} AS DOUBLE))"
        # mirror of the engine's two-path rendering (see benford_test):
        # decimal(38,10) cast in [1e-4, 9e5), exact .10f expansion
        # outside the portable window
        s = (f"regexp_replace(CASE WHEN {x} >= 1e-4 AND {x} < 9e5 THEN "
             f"CAST(CAST({x} AS DECIMAL(38,10)) AS VARCHAR) "
             f"ELSE format('{{:.10f}}', {x}) END, '[^1-9]', '', 'g')")
        selects.append(f"""
SELECT '{c}' AS "column", CAST({x} > 0 AS INT) AS used,
       CASE WHEN {x} > 0 THEN TRY_CAST(substr({s}, 1, 1) AS INT) END AS digit
FROM {table}
WHERE {c} IS NOT NULL""")
    base = "\nUNION ALL\n".join(selects)
    return f"""
WITH raw AS ({base}),
cnt AS (
  SELECT "column", digit, COUNT(*) AS o
  FROM raw WHERE digit IS NOT NULL GROUP BY 1, 2
),
n_tab AS (SELECT "column", SUM(o) AS n FROM cnt GROUP BY 1),
-- dense 1..9 grid: zero-count digits contribute their full expectation
dense AS (
  SELECT n_tab."column", CAST(g.d AS INT) AS digit,
         COALESCE(cnt.o, 0) AS o
  FROM n_tab CROSS JOIN (SELECT UNNEST(range(1, 10)) AS d) g
  LEFT JOIN cnt ON cnt."column" = n_tab."column" AND cnt.digit = g.d
),
j AS (
  SELECT c."column", c.digit, c.o, n_tab.n,
         CAST(CASE c.digit {exp_case} END AS DOUBLE)
           * CAST(n_tab.n AS DOUBLE) AS e
  FROM dense c JOIN n_tab USING ("column")
)
SELECT "column", CAST(MAX(n) AS BIGINT) AS n,
       ROUND(CAST(SUM(CAST(ROUND(
                 (CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e,
             9) AS DECIMAL(38,9))) AS DOUBLE), {round_digits}) AS chi2,
       ROUND(MAX(ABS(CAST(o AS DOUBLE) / n - e / n)), {round_digits})
         AS max_abs_dev,
       CAST(arg_max(digit, o * 16 - digit) AS INT) AS top_digit,
       ROUND(CAST(arg_max(o, o * 16 - digit) AS DOUBLE) / MAX(n),
             {round_digits}) AS top_digit_freq
FROM j GROUP BY "column"
"""
