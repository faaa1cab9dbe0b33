"""Histograms, quantiles, median, MAD, modes.

Reference semantics: dataprofiler/profilers/numerical_column_stats.py —
equal-width histogram with bin-count chosen by looping numpy bin-width
estimators capped [1000, 100000] (_get_histogram:1267-1320,
_select_method_for_histogram:1197-1240, estimators in
histogram_utils.py:85-315), streaming merge by pseudo-data expansion
(_merge_histogram:1322-1367, _assimilate_histogram:1399-1484), quantiles
(1000) interpolated from the histogram CDF (_get_percentile:1553-1590),
modes = top-5 histogram-bin midpoints (_estimate_mode_from_histogram:
1082-1114), median absolute deviation via folded histogram
(_fold_histogram:1592-1649, median_abs_deviation:1650-1721).

Spark design: two-pass — pass 1 is the numeric battery (gives n, min,
max, std, IQR for bin-count selection, driver-side math only); pass 2
buckets every numeric column in ONE melted groupBy job. Quantiles/median/
MAD are offered both reference-style (histogram interpolation, driver-side
on the bucket counts) and exact (built-in ``percentile`` — a sort-free
two-stage aggregate). Exact mode mirrors DuckDB ``quantile_cont``
bit-for-bit (same (n−1)·p linear interpolation on doubles).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataprofiler_spark.session import _checkpoint_tracking, register_persisted

# Reference bin-count clamp (numerical_column_stats.py:1267-1320 via
# profiler_options bin_count_or_method="auto").
MIN_AUTO_BINS = 1000
MAX_AUTO_BINS = 100_000


# -- bin-count estimators (driver-side math; histogram_utils.py:85-315) ----

def suggest_bin_counts(n: int, std: float, iqr: float, vmin: float, vmax: float
                       ) -> dict[str, int]:
    """Numpy-equivalent bin-count estimators from aggregate stats alone.

    sqrt/sturges/rice need n only; scott/fd need std/iqr; doane needs
    skewness (approximated here by the sturges fallback when unavailable).
    All derivable from pass-1 aggregates — no extra data scan.
    """
    rng = max(vmax - vmin, 0.0)
    out = {
        "sqrt": math.ceil(math.sqrt(n)) if n else 1,
        "sturges": math.ceil(math.log2(n) + 1) if n else 1,
        "rice": math.ceil(2 * n ** (1 / 3)) if n else 1,
    }
    if rng > 0:
        if std and std > 0:
            h = 3.5 * std / n ** (1 / 3)
            out["scott"] = max(1, math.ceil(rng / h))
        if iqr and iqr > 0:
            h = 2 * iqr / n ** (1 / 3)
            out["fd"] = max(1, math.ceil(rng / h))
    return out


def auto_bin_count(n: int, std: float, iqr: float, vmin: float, vmax: float,
                   clamp: tuple[int, int] = (MIN_AUTO_BINS, MAX_AUTO_BINS)) -> int:
    """numpy 'auto' = max(sturges, fd), clamped to the reference's bounds."""
    s = suggest_bin_counts(n, std, iqr, vmin, vmax)
    best = max(s.get("sturges", 1), s.get("fd", 1))
    return max(clamp[0], min(clamp[1], best))


# -- "follow the best expert" method selection ------------------------------
# Reference: _select_method_for_histogram / _histogram_loss
# (numerical_column_stats.py:1176-1240): per update, every estimator's
# histogram is scored (|exact var − histogram var| and the histogram var
# itself, each normalized against the across-method average; plus a
# runtime penalty) and the losses ACCUMULATE across merges — the method
# with the lowest total loss wins, ties going to the higher bin count.
#
# Spark adaptation: the fused counts pass materializes ONE fine histogram
# per column (≥1000 bins); each method's coarser histogram is derived by
# proportional re-binning of that one — no extra scan per method. The
# runtime term is omitted (all methods re-bin from the same pass, so
# their cost is identical by construction — documented deviation,
# COVERAGE §2.4).

def hist_variance(bin_counts: list[int], bin_edges: list[float]) -> float:
    """Population variance of midpoint pseudo-data (the reference scores
    estimators against _histogram_to_array's variance)."""
    n = sum(bin_counts)
    if n == 0:
        return 0.0
    mids = [(bin_edges[i] + bin_edges[i + 1]) / 2
            for i in range(len(bin_counts))]
    mu = sum(c * m for c, m in zip(bin_counts, mids)) / n
    return sum(c * (m - mu) ** 2 for c, m in zip(bin_counts, mids)) / n


def rebin_counts(bin_counts: list[int], bin_edges: list[float],
                 k: int) -> tuple[list[int], list[float]]:
    """Proportionally re-bin an equal-width histogram to k equal-width
    bins over the same range (exact when k divides the source count)."""
    src = len(bin_counts)
    lo, hi = bin_edges[0], bin_edges[-1]
    if k >= src or hi <= lo:
        return list(bin_counts), list(bin_edges)
    out = [0.0] * k
    for i, c in enumerate(bin_counts):
        if not c:
            continue
        a = i * k / src          # fractional target span [a, b)
        b = (i + 1) * k / src
        j0, j1 = int(a), min(int(b), k - 1)
        if j0 == j1 or b - a <= 0:
            out[j0] += c
        else:
            for j in range(j0, j1 + 1):
                overlap = min(b, j + 1) - max(a, j)
                if overlap > 0:
                    out[j] += c * overlap / (b - a)
    edges = [lo + (hi - lo) * i / k for i in range(k)] + [hi]
    return [x for x in out], edges


def method_losses(suggestions: dict[str, int], bin_counts: list[int],
                  bin_edges: list[float], exact_var: float) -> dict[str, float]:
    """One update's per-method loss (diff-var + total-var terms of
    _histogram_loss, each normalized against the across-method mean)."""
    if not suggestions:
        return {}
    est = {}
    for m, k in suggestions.items():
        cs, es = rebin_counts(bin_counts, bin_edges, max(1, k))
        est[m] = hist_variance(cs, es)
    diff = {m: abs(exact_var - v) for m, v in est.items()}
    avg_diff = sum(diff.values()) / len(diff)
    avg_tot = sum(est.values()) / len(est)
    out = {}
    for m in suggestions:
        loss = 0.0
        if avg_diff > 0:
            loss += (diff[m] - avg_diff) / avg_diff
        if avg_tot > 0:
            loss += (est[m] - avg_tot) / avg_tot
        out[m] = loss
    return out


def select_histogram_method(total_losses: dict[str, float],
                            suggestions: dict[str, int]) -> str | None:
    """Lowest accumulated loss; ties prefer the higher suggested bin
    count (reference tie rule: keep the higher resolution)."""
    best = None
    for m in total_losses:
        if best is None:
            best = m
            continue
        lm, lb = total_losses[m], total_losses[best]
        if lm < lb or (lm == lb and
                       suggestions.get(m, 0) > suggestions.get(best, 0)):
            best = m
    return best


# -- bucketing --------------------------------------------------------------

def bucket_expr(col: Column, vmin: Column | float, vmax: Column | float,
                n_bins: int) -> Column:
    """Equal-width bucket id in [0, n_bins-1]; max value clamps into the
    last bucket (numpy.histogram edge semantics). Written as explicit
    floor arithmetic (not width_bucket) so the identical expression is
    valid ANSI SQL for the DuckDB oracle."""
    lo = F.lit(vmin) if isinstance(vmin, (int, float)) else vmin
    hi = F.lit(vmax) if isinstance(vmax, (int, float)) else vmax
    w = (hi - lo) / F.lit(float(n_bins))
    raw = F.floor((col.cast("double") - lo) / w).cast("int")
    return F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1))


def histogram(df: DataFrame, col: str, n_bins: int,
              vmin: float | None = None, vmax: float | None = None) -> DataFrame:
    """(bucket, bin_lo, bin_hi, count) — one groupBy job; min/max from the
    numeric battery when provided, else a cheap extra agg."""
    if vmin is None or vmax is None:
        row = df.agg(F.min(col).cast("double"), F.max(col).cast("double")).collect()[0]
        if row[0] is None:
            # empty / all-NULL column: zero buckets (both engines — the
            # oracle's bucket CTE is empty too), not a float(None) crash
            # (empty-tables audit, r7)
            return (df.sparkSession.createDataFrame(
                [], "bucket int, bin_lo double, bin_hi double,"
                    " count long"))
        vmin, vmax = float(row[0]), float(row[1])
    if vmax == vmin:
        vmax = vmin + 1.0
    w = (vmax - vmin) / n_bins
    b = bucket_expr(F.col(col), vmin, vmax, n_bins)
    return (
        df.where(F.col(col).isNotNull())
        .groupBy(b.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("count"))
        .select(
            "bucket",
            (F.lit(vmin) + F.col("bucket") * F.lit(w)).alias("bin_lo"),
            (F.lit(vmin) + (F.col("bucket") + 1) * F.lit(w)).alias("bin_hi"),
            "count",
        )
    )


def oracle_histogram_sql(table: str, col: str, n_bins: int) -> str:
    """DuckDB mirror of ``histogram`` with min/max from a scalar subquery."""
    return f"""
WITH mm AS (
  SELECT CAST(MIN({col}) AS DOUBLE) AS lo,
         CASE WHEN MAX({col}) = MIN({col})
              THEN CAST(MIN({col}) AS DOUBLE) + 1.0
              ELSE CAST(MAX({col}) AS DOUBLE) END AS hi
  FROM {table}
), b AS (
  SELECT LEAST(GREATEST(CAST(FLOOR((CAST({col} AS DOUBLE) - mm.lo)
           / ((mm.hi - mm.lo) / {float(n_bins)})) AS INT), 0), {n_bins - 1}) AS bucket
  FROM {table}, mm
  WHERE {col} IS NOT NULL
)
SELECT b.bucket,
       mm.lo + b.bucket * ((mm.hi - mm.lo) / {n_bins}) AS bin_lo,
       mm.lo + (b.bucket + 1) * ((mm.hi - mm.lo) / {n_bins}) AS bin_hi,
       COUNT(*) AS count
FROM b, mm
GROUP BY b.bucket, mm.lo, mm.hi
"""


# -- exact quantiles / median / MAD / mode ---------------------------------
#
# ENGINE-EXACTNESS + SCALE (r7, after the r6 robust_stats driver-red):
# exact quantiles everywhere in this engine now run on a counts-CDF —
# groupBy(value) → running-count window → rank lookups → explicit
# (n−1)·p linear interpolation written as the SAME IEEE expression in
# Spark and in the DuckDB oracle. Two independent wins:
#  * correctness: Spark `percentile` vs DuckDB `quantile_cont` can
#    differ by 1 ulp in their private interpolation arithmetic — the
#    exact class of the r6 driver-red rows. Here neither engine's
#    native quantile is ever called.
#  * scale: Spark's exact `percentile` holds an O(distinct-values)
#    value→count hash map per aggregation state — unbounded (OOM-class)
#    on a continuous 100 TB column. The CDF path is a map-side-combined
#    groupBy plus a SPILLABLE sorted window: bounded memory at any
#    cardinality (VERDICT r6 item 3).


# Distinct-row threshold at or below which the CDF runs as ONE ordered
# window over the materialized counts frame: a single task sorting
# ≤ 64k narrow cached rows is milliseconds, while the range-chunked
# machinery pays ~3 extra stages (range exchange + offsets broadcast +
# join) — pure fixed latency when the distinct set is tiny (r12 bench:
# roc_auc +56%, grouped_quantiles +13% at sf0.1 for columns with ≤ 50
# distinct values). Large inputs take the parallel path unchanged.
CDF_SMALL_MAX_ROWS = 65_536


def counts_cdf(vc: DataFrame, keys: tuple[str, ...] | list[str] = (),
               val_col: str = "v", cnt_col: str = "cnt") -> DataFrame:
    """See :func:`counts_cdf_pair`; returns only the CDF frame."""
    return counts_cdf_pair(vc, keys, val_col, cnt_col)[0]


def counts_cdf_pair(vc: DataFrame, keys: tuple[str, ...] | list[str] = (),
                    val_col: str = "v", cnt_col: str = "cnt"
                    ) -> tuple[DataFrame, DataFrame]:
    """Parallel counts-CDF (r12, guide §2.5; hardened + adaptive r13):
    given a per-(keys, value) count frame, add ``c_start``/``c_end``
    running-count columns and the per-key total ``n`` — WITHOUT the
    single-task global ordered window the r11 shape used
    (``Window.orderBy(v)`` plans as a one-partition exchange: the whole
    distinct-value set of a 100 TB column sorts and folds on ONE core).

    r13 shape. The counts frame is range-partitioned ONCE
    (``repartitionByRange`` into defaultParallelism chunks —
    scale-adaptive, not a local constant), the chunk id captured with
    ``spark_partition_id()``, and THAT frame materialized with a lazy
    ``localCheckpoint`` (one narrow row per distinct (keys, value)).
    The snapshot's RDD id is registered on both returned frames
    (``session.register_persisted``): an operator built on the CDF
    carries it to its result, and ``session.unpersist_plan(result)``
    frees it after the last action. A single ``count()`` probe — which
    doubles as the materializing job, so the upstream aggregation runs
    exactly once — then picks the arm:

    * ≤ ``CDF_SMALL_MAX_ROWS`` distinct rows: the classic ordered
      window over the stored blocks — a single task over a tiny
      materialized input (milliseconds; the r12 always-chunked shape
      cost roc_auc +56% / grouped_quantiles +13% of pure fixed stage
      latency at sf0.1, where the columns have ≤ 50 distinct values).
    * otherwise: per-chunk totals become per-chunk offsets via a
      window over the TINY (keys × chunks) frame, broadcast back;
      c_end = local running sum + own chunk's offset — identical LONG
      arithmetic to the global window (integer sums are
      order-independent). Chunk-boundary QUALITY only affects balance,
      never values: offsets come from the actual per-chunk sums, and
      the chunked rows are DISTINCT values, so count skew across
      duplicates of a hot value cannot skew a chunk.

    Structural safety (r12 VERDICT item 4 / ADVICE r12 high+medium):
    ``__pid`` is frozen in the checkpointed blocks, so the offsets
    branch and the join branch read the SAME pid assignment by
    construction — correctness no longer depends on Spark reusing two
    semantically-equal range exchanges (an optimization, never a
    guarantee — and provably broken by rider columns, whose pruning
    gave the r12 branches different subtrees and therefore independent
    boundary samples). The checkpoint also kills the double-execution
    of the upstream aggregate that range partitioning's
    boundary-sampling pass used to cause. Parity (values AND
    ``spark.sql.exchange.reuse=false``) is pinned by
    test_counts_cdf_parallel_matches_global_window.

    Returns ``(cdf, vc_c)``: the CDF frame AND the materialized counts
    frame — callers with a second pass over the raw counts (e.g.
    robust_stats' fence-count aggregation) must read ``vc_c``, not the
    original ``vc``, or they recompute the whole upstream aggregation
    from scratch."""
    from pyspark.sql.window import Window

    ks = list(keys)
    spark = vc.sparkSession
    cols = list(vc.columns)
    n_parts = max(2, spark.sparkContext.defaultParallelism)
    # LAZY checkpoint AFTER the range exchange + pid capture: the
    # count() probe below is the materializing action, so one job does
    # scan → agg → range exchange → pid → store. (An eager checkpoint,
    # or a separate percentile-sketch boundary pass, each added ~1 s of
    # fixed latency per call at sf0.1 — measured on robust/decile.)
    vcp, ids = _checkpoint_tracking(
        vc.repartitionByRange(n_parts, *ks, val_col)
        .withColumn("__pid", F.spark_partition_id()), eager=False)
    nr = vcp.count()
    vc_c = register_persisted(vcp.drop("__pid"), *ids)
    if nr <= CDF_SMALL_MAX_ROWS:
        wk = (Window.partitionBy(*ks) if ks else
              Window.partitionBy(F.lit(1)))
        out = (vc_c.withColumn("c_end",
                               F.sum(cnt_col).over(wk.orderBy(val_col)))
               .withColumn("c_start", F.col("c_end") - F.col(cnt_col))
               .withColumn("n", F.sum(cnt_col).over(wk)))
        return (register_persisted(out.select(*cols, "n", "c_end", "c_start"),
                                   *ids), vc_c)
    pt = vcp.groupBy(*ks, "__pid").agg(F.sum(cnt_col).alias("__t"))
    woff = (Window.partitionBy(*ks) if ks else
            Window.partitionBy(F.lit(1))).orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1)
    wall = Window.partitionBy(*ks) if ks else Window.partitionBy(F.lit(1))
    offsets = pt.select(
        *ks, "__pid",
        F.coalesce(F.sum("__t").over(woff), F.lit(0)).alias("__off"),
        F.sum("__t").over(wall).alias("n"))
    wloc = Window.partitionBy(*(ks + ["__pid"])).orderBy(val_col)
    out = (vcp.join(F.broadcast(offsets), ks + ["__pid"])
           .withColumn("c_end",
                       F.sum(cnt_col).over(wloc) + F.col("__off"))
           .withColumn("c_start", F.col("c_end") - F.col(cnt_col))
           .select(*cols, "n", "c_end", "c_start"))
    return register_persisted(out, *ids), vc_c


def cdf_quantiles(df: DataFrame, col, probs: list[float]) -> DataFrame:
    """ONE-row frame (q0..q{k-1} double, n long): exact Type-7
    (percentile_cont) quantiles of ``col`` (a name or Column) via the
    counts-CDF. Empty/all-NULL input yields NULL quantiles and n NULL.
    The CDF snapshot is registered on the result (see counts_cdf_pair)."""
    x = (F.col(col) if isinstance(col, str) else col).cast("double")
    vc = (df.where(x.isNotNull()).groupBy(x.alias("v"))
          .agg(F.count(F.lit(1)).alias("cnt")))
    # parallel prefix-sum CDF (r12) — the previous Window.orderBy("v")
    # serialized the whole distinct-value set onto one task; ``n`` now
    # rides the offsets frame for free
    cdf = counts_cdf(vc)
    aggs = [F.max("n").alias("__n")]
    for i, p in enumerate(probs):
        nd = (F.col("n") - 1).cast("double")
        k = F.floor(nd * F.lit(float(p))).cast("long")
        g = nd * F.lit(float(p)) - k.cast("double")
        aggs += [
            F.min(F.when((F.col("c_end") >= k + 1)
                         & (F.col("c_start") < k + 1),
                         F.col("v"))).alias(f"__a{i}"),
            F.min(F.when((F.col("c_end") >= k + 2)
                         & (F.col("c_start") < k + 2),
                         F.col("v"))).alias(f"__b{i}"),
            F.max(g).alias(f"__g{i}"),
        ]
    row = cdf.agg(*aggs)
    sel = []
    for i, _ in enumerate(probs):
        a, b, g = (F.col(f"__a{i}"), F.col(f"__b{i}"), F.col(f"__g{i}"))
        sel.append(F.when(g == 0.0, a).otherwise(a + g * (b - a))
                   .alias(f"q{i}"))
    return register_persisted(row.select(*sel, F.col("__n").alias("n")),
                              *cdf._dps_persisted)


def oracle_cdf_quantiles_cte(table: str, col_expr: str,
                             probs: list[float],
                             where: str = "") -> str:
    """DuckDB CTE chain mirroring ``cdf_quantiles``; final CTE ``qs``
    has columns q0..q{k-1}, n. ``col_expr`` is any SQL expression;
    ``where`` an optional extra predicate."""
    w = f"AND ({where})" if where else ""
    picks = []
    for i, p in enumerate(probs):
        k = (f"CAST(FLOOR(CAST(n - 1 AS DOUBLE) * {float(p)!r})"
             f" AS BIGINT)")
        g = (f"(CAST(n - 1 AS DOUBLE) * {float(p)!r}"
             f" - FLOOR(CAST(n - 1 AS DOUBLE) * {float(p)!r}))")
        picks.append(
            f"MIN(CASE WHEN c_end >= {k} + 1 AND c_start < {k} + 1"
            f" THEN v END) AS a{i},\n"
            f"         MIN(CASE WHEN c_end >= {k} + 2 AND c_start < {k} + 2"
            f" THEN v END) AS b{i},\n"
            f"         MAX({g}) AS g{i}")
    outs = ",\n       ".join(
        f"CASE WHEN g{i} = 0 THEN a{i} ELSE a{i} + g{i} * (b{i} - a{i})"
        f" END AS q{i}" for i in range(len(probs)))
    picks_sql = ",\n         ".join(picks)
    return f"""vc_0 AS (
  SELECT CAST({col_expr} AS DOUBLE) AS v, COUNT(*) AS cnt
  FROM {table} WHERE ({col_expr}) IS NOT NULL {w} GROUP BY 1
),
cdfq AS (
  SELECT v, cnt,
         SUM(cnt) OVER (ORDER BY v) AS c_end,
         SUM(cnt) OVER (ORDER BY v) - cnt AS c_start,
         SUM(cnt) OVER () AS n
  FROM vc_0
),
qpick AS (
  SELECT MAX(n) AS n,
         {picks_sql}
  FROM cdfq
),
qs AS (
  SELECT n,
       {outs}
  FROM qpick
)"""


def quantiles(df: DataFrame, col: str, probs: list[float],
              round_digits: int = 6) -> DataFrame:
    """Exact interpolated quantiles: (prob, value) — counts-CDF
    formulation (see module note: no native quantile call, bounded
    state, identical interpolation arithmetic in both engines)."""
    from dataprofiler_spark.functions.rounding import duckdb_round

    row = cdf_quantiles(df, col, probs)
    pairs = [
        F.struct(F.lit(p).alias("prob"),
                 duckdb_round(F.col(f"q{i}"), round_digits).alias("value"))
        for i, p in enumerate(probs)
    ]
    return register_persisted(
        row.select(F.explode(F.array(*pairs)).alias("s")).select("s.*"),
        *row._dps_persisted)


def oracle_quantiles_sql(table: str, col: str, probs: list[float],
                         round_digits: int = 6) -> str:
    cte = oracle_cdf_quantiles_cte(table, col, probs)
    sel = "\nUNION ALL\n".join(
        f"SELECT {p} AS prob, ROUND(q{i}, {round_digits}) AS value FROM qs"
        for i, p in enumerate(probs))
    return f"WITH {cte}\n{sel}"


def median_mad(df: DataFrame, col: str, round_digits: int = 6) -> DataFrame:
    """(median, mad): exact median + exact median-absolute-deviation.
    Reference computes MAD by folding the histogram (numerical_column_
    stats.py:1592-1721); the exact equivalent is the median of
    |x − median| — two counts-CDF passes (the second over the absolute
    deviations against the broadcast median scalar)."""
    from dataprofiler_spark.functions.rounding import duckdb_round

    mq = cdf_quantiles(df, col, [0.5])
    med = mq.select(F.col("q0").alias("m"))
    j = df.crossJoin(F.broadcast(med))
    dev = F.abs(F.col(col).cast("double") - F.col("m"))
    dq = cdf_quantiles(j, dev, [0.5])
    mad = dq.select(F.col("q0").alias("d"))
    return register_persisted(
        med.crossJoin(F.broadcast(mad))
        .select(duckdb_round(F.col("m"), round_digits).alias("median"),
                duckdb_round(F.col("d"), round_digits).alias("mad")),
        *mq._dps_persisted, *dq._dps_persisted)


def oracle_median_mad_sql(table: str, col: str, round_digits: int = 6) -> str:
    med_cte = oracle_cdf_quantiles_cte(table, col, [0.5])
    return f"""
WITH {med_cte},
med AS (SELECT q0 AS m FROM qs),
vc_d AS (
  SELECT ABS(CAST({col} AS DOUBLE) - med.m) AS v, COUNT(*) AS cnt
  FROM {table} CROSS JOIN med
  WHERE ABS(CAST({col} AS DOUBLE) - med.m) IS NOT NULL GROUP BY 1
),
cdfd AS (
  SELECT v, cnt,
         SUM(cnt) OVER (ORDER BY v) AS c_end,
         SUM(cnt) OVER (ORDER BY v) - cnt AS c_start,
         SUM(cnt) OVER () AS n
  FROM vc_d
),
dpick AS (
  SELECT MAX(n) AS n,
         MIN(CASE WHEN c_end >= CAST(FLOOR(CAST(n - 1 AS DOUBLE) * 0.5)
                    AS BIGINT) + 1
                  AND c_start < CAST(FLOOR(CAST(n - 1 AS DOUBLE) * 0.5)
                    AS BIGINT) + 1 THEN v END) AS a0,
         MIN(CASE WHEN c_end >= CAST(FLOOR(CAST(n - 1 AS DOUBLE) * 0.5)
                    AS BIGINT) + 2
                  AND c_start < CAST(FLOOR(CAST(n - 1 AS DOUBLE) * 0.5)
                    AS BIGINT) + 2 THEN v END) AS b0,
         MAX(CAST(n - 1 AS DOUBLE) * 0.5
             - FLOOR(CAST(n - 1 AS DOUBLE) * 0.5)) AS g0
  FROM cdfd
)
SELECT ROUND(med.m, {round_digits}) AS median,
       ROUND(CASE WHEN g0 = 0 THEN a0 ELSE a0 + g0 * (b0 - a0) END,
             {round_digits}) AS mad
FROM med CROSS JOIN dpick
"""


def modes(df: DataFrame, col: str, k: int = 5) -> DataFrame:
    """Top-k exact modes, deterministic tie-break (count desc, value asc)
    — reference reports up to top_k_modes=5 (numerical_column_stats.py:61,
    _estimate_mode_from_histogram:1082-1114 uses bin midpoints; exact mode
    here, histogram-midpoint variant available via ``histogram``). Top-k
    via distributed TakeOrderedAndProject (operators/topk.ranked_topk)."""
    from dataprofiler_spark.operators.topk import ranked_topk

    counts = (
        df.where(F.col(col).isNotNull())
        .groupBy(F.col(col).cast("double").alias("value"))
        .agg(F.count(F.lit(1)).alias("count"))
    )
    return ranked_topk(
        counts, [F.desc("count"), F.asc("value")], k
    ).select("rank", "value", "count")


def oracle_modes_sql(table: str, col: str, k: int = 5) -> str:
    return f"""
SELECT rank, value, count FROM (
  SELECT CAST({col} AS DOUBLE) AS value, COUNT(*) AS count,
         ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, CAST({col} AS DOUBLE) ASC) AS rank
  FROM {table} WHERE {col} IS NOT NULL GROUP BY {col}
) WHERE rank <= {k}
"""


def grouped_histogram(df: DataFrame, col: str, group_col: str,
                      n_bins: int, round_digits: int = 6) -> DataFrame:
    """(group, bucket, bin_lo, bin_hi, count, share): per-group
    equal-width histogram over SHARED GLOBAL bin edges — the faceted
    drift/comparison view (per-group edges would make the facets
    incomparable, which is the usual mistake). share is within-group,
    so groups of different sizes compare by shape. NULL group values
    report as '(null)'; NULL measures drop (the histogram contract).

    Plan: one 1-row global min/max agg broadcast-crossJoined into one
    groupBy (group, bucket) — two scans, output ≤ groups × n_bins rows,
    and the bucket arithmetic is the same floor expression the
    single-group histogram (and its oracle) uses."""
    mm = df.agg(
        F.min(F.col(col).cast("double")).alias("__lo"),
        F.when(F.max(F.col(col).cast("double"))
               == F.min(F.col(col).cast("double")),
               F.min(F.col(col).cast("double")) + 1.0)
        .otherwise(F.max(F.col(col).cast("double"))).alias("__hi"))
    j = df.where(F.col(col).isNotNull()).crossJoin(F.broadcast(mm))
    lo, hi = F.col("__lo"), F.col("__hi")
    b = bucket_expr(F.col(col), lo, hi, n_bins)
    grp = F.coalesce(F.col(group_col).cast("string"), F.lit("(null)"))
    counts = (j.groupBy(grp.alias("group"), b.alias("bucket"))
              .agg(F.count(F.lit(1)).alias("count"),
                   F.min(lo).alias("__lo"), F.min(hi).alias("__hi")))
    w = (F.col("__hi") - F.col("__lo")) / F.lit(float(n_bins))
    from pyspark.sql.window import Window
    gtot = F.sum("count").over(Window.partitionBy("group"))
    return counts.select(
        "group", "bucket",
        (F.col("__lo") + F.col("bucket") * w).alias("bin_lo"),
        (F.col("__lo") + (F.col("bucket") + 1) * w).alias("bin_hi"),
        "count",
        F.round(F.col("count").cast("double") / gtot,
                round_digits).alias("share"))


def oracle_grouped_histogram_sql(table: str, col: str, group_col: str,
                                 n_bins: int,
                                 round_digits: int = 6) -> str:
    return f"""
WITH mm AS (
  SELECT CAST(MIN({col}) AS DOUBLE) AS lo,
         CASE WHEN MAX({col}) = MIN({col})
              THEN CAST(MIN({col}) AS DOUBLE) + 1.0
              ELSE CAST(MAX({col}) AS DOUBLE) END AS hi
  FROM {table}
), b AS (
  SELECT COALESCE(CAST({group_col} AS VARCHAR), '(null)') AS "group",
         LEAST(GREATEST(CAST(FLOOR((CAST({col} AS DOUBLE) - mm.lo)
           / ((mm.hi - mm.lo) / {float(n_bins)})) AS INT), 0),
           {n_bins - 1}) AS bucket,
         mm.lo, mm.hi
  FROM {table}, mm
  WHERE {col} IS NOT NULL
), c AS (
  SELECT "group", bucket, MIN(lo) AS lo, MIN(hi) AS hi,
         COUNT(*) AS count
  FROM b GROUP BY 1, 2
)
SELECT "group", bucket,
       lo + bucket * ((hi - lo) / {n_bins}) AS bin_lo,
       lo + (bucket + 1) * ((hi - lo) / {n_bins}) AS bin_hi,
       count,
       ROUND(CAST(count AS DOUBLE)
             / SUM(count) OVER (PARTITION BY "group"),
             {round_digits}) AS share
FROM c
"""


def decile_stats(df: DataFrame, col: str, n_buckets: int = 10,
                 round_digits: int = 6) -> DataFrame:
    """(bucket, n, lo, hi, mean): equal-FREQUENCY binning (deciles by
    default) with per-bucket stats — the feature-binning / monotonicity
    screen an ML pipeline runs before WoE encoding or calibration
    curves. Bucket d holds ranks ((d−1)·n div nb, d·n div nb] of the
    sorted non-NULL values — pure integer rank arithmetic on the
    counts-CDF, so ties never split nondeterministically the way
    ``ntile`` splits them (ntile breaks ties by physical row order —
    unreproducible across engines AND across runs). lo/hi are the
    boundary ORDER STATISTICS of each bucket; mean is the exact
    rank-interval mean (decimal sums of 6-dp-rounded values).

    Plan: the counts-CDF shape (see the r7 module note): one
    groupBy(value) + one spillable ordered window + one wide agg.
    Empty/all-NULL input yields n=0 buckets with NULL stats."""
    x = F.col(col).cast("double")
    vc = (df.where(x.isNotNull()).groupBy(x.alias("v"))
          .agg(F.count(F.lit(1)).alias("cnt")))
    # parallel prefix-sum CDF (r12) — see counts_cdf; the single-task
    # ordered window was this row's dominant stage (probe: 1.8 s of a
    # 2.5 s job on one core at sf0.1)
    cdf = counts_cdf(vc)
    dv = F.round(F.col("v"), 6).cast("decimal(38,6)")
    aggs = [F.max("n").alias("__n")]
    for dd in range(1, n_buckets + 1):
        lo_r = F.expr(f"(n * {dd - 1}) div {n_buckets}")
        hi_r = F.expr(f"(n * {dd}) div {n_buckets}")
        take = F.greatest(
            F.lit(0).cast("long"),
            F.least(F.col("c_end"), hi_r)
            - F.greatest(F.col("c_start") + 1, lo_r + 1) + F.lit(1))
        aggs += [
            F.min(F.when((F.col("c_end") >= lo_r + 1)
                         & (F.col("c_start") < lo_r + 1),
                         F.col("v"))).alias(f"__lo{dd}"),
            F.min(F.when((F.col("c_end") >= hi_r)
                         & (F.col("c_start") < hi_r),
                         F.col("v"))).alias(f"__hi{dd}"),
            F.sum(dv * take).alias(f"__s{dd}"),
            F.sum(take).alias(f"__c{dd}"),
        ]
    row = cdf.agg(*aggs)
    from dataprofiler_spark.functions.rounding import duckdb_round
    structs = []
    for dd in range(1, n_buckets + 1):
        cnt = F.coalesce(F.col(f"__c{dd}"), F.lit(0)).cast("long")
        structs.append(F.struct(
            F.lit(dd).alias("bucket"),
            cnt.alias("n"),
            duckdb_round(F.col(f"__lo{dd}"), round_digits).alias("lo"),
            duckdb_round(F.col(f"__hi{dd}"), round_digits).alias("hi"),
            duckdb_round(F.col(f"__s{dd}").cast("double")
                         / F.nullif(cnt, F.lit(0)),
                         round_digits).alias("mean")))
    return register_persisted(
        row.select(F.explode(F.array(*structs)).alias("s")).select("s.*"),
        *cdf._dps_persisted)


def oracle_decile_stats_sql(table: str, col: str, n_buckets: int = 10,
                            round_digits: int = 6) -> str:
    picks = []
    for dd in range(1, n_buckets + 1):
        lo_r = f"((n * {dd - 1}) // {n_buckets})"
        hi_r = f"((n * {dd}) // {n_buckets})"
        take = (f"GREATEST(0, LEAST(c_end, {hi_r})"
                f" - GREATEST(c_start + 1, {lo_r} + 1) + 1)")
        picks.append(
            f"MIN(CASE WHEN c_end >= {lo_r} + 1 AND c_start < {lo_r} + 1"
            f" THEN v END) AS lo{dd},\n"
            f"         MIN(CASE WHEN c_end >= {hi_r} AND c_start < {hi_r}"
            f" THEN v END) AS hi{dd},\n"
            f"         SUM(CAST(ROUND(v, 6) AS DECIMAL(38,6)) * {take})"
            f" AS s{dd},\n"
            f"         SUM({take}) AS c{dd}")
    picks_sql = ",\n         ".join(picks)
    outs = "\nUNION ALL\n".join(
        f"SELECT {dd} AS bucket,"
        f" CAST(COALESCE(c{dd}, 0) AS BIGINT) AS n,"
        f" ROUND(lo{dd}, {round_digits}) AS lo,"
        f" ROUND(hi{dd}, {round_digits}) AS hi,"
        f" ROUND(CAST(s{dd} AS DOUBLE) / NULLIF(c{dd}, 0),"
        f" {round_digits}) AS mean FROM pick"
        for dd in range(1, n_buckets + 1))
    return f"""
WITH vc AS (
  SELECT CAST({col} AS DOUBLE) AS v, COUNT(*) AS cnt
  FROM {table} WHERE {col} IS NOT NULL GROUP BY 1
),
cdf AS (
  SELECT v, cnt,
         SUM(cnt) OVER (ORDER BY v) AS c_end,
         SUM(cnt) OVER (ORDER BY v) - cnt AS c_start,
         SUM(cnt) OVER () AS n
  FROM vc
),
pick AS (
  SELECT MAX(n) AS n,
         {picks_sql}
  FROM cdf
)
{outs}
"""


def grouped_quantiles(df: DataFrame, group_col: str, col: str,
                      probs: list[float],
                      round_digits: int = 6) -> DataFrame:
    """(group, prob, value): exact Type-7 quantiles PER GROUP — the
    segmented complement of ``quantiles`` (and of ``grouped_histogram``,
    which gives shape but not exact order statistics). NULL group values
    are their own '(null)' segment; a group's all-NULL values yield no
    rows for it (no non-NULL data, no quantile).

    Plan: the counts-CDF partitioned by group — groupBy(group, value)
    (map-side combined) → per-group running/total sums in ONE
    WindowExec keyed on the group (groups sort in parallel, each
    spillable) → ONE groupBy(group) of rank-conditional aggregates.
    Same engine-exactness contract as cdf_quantiles: explicit (n−1)·p
    interpolation mirrored verbatim in the oracle, no native quantile."""
    g = F.coalesce(F.col(group_col).cast("string"), F.lit("(null)"))
    x = F.col(col).cast("double")
    vc = (df.where(x.isNotNull())
          .groupBy(g.alias("g"), x.alias("v"))
          .agg(F.count(F.lit(1)).alias("cnt")))
    # parallel prefix-sum CDF (r12): the per-group window capped
    # parallelism at the number of groups (3 for a returnflag split —
    # and one giant group still serialized); counts_cdf range-splits
    # WITHIN groups too
    cdf = counts_cdf(vc, keys=["g"])
    aggs = []
    for i, p in enumerate(probs):
        nd = (F.col("n") - 1).cast("double")
        k = F.floor(nd * F.lit(float(p))).cast("long")
        gg = nd * F.lit(float(p)) - k.cast("double")
        aggs += [
            F.min(F.when((F.col("c_end") >= k + 1)
                         & (F.col("c_start") < k + 1),
                         F.col("v"))).alias(f"__a{i}"),
            F.min(F.when((F.col("c_end") >= k + 2)
                         & (F.col("c_start") < k + 2),
                         F.col("v"))).alias(f"__b{i}"),
            F.max(gg).alias(f"__g{i}"),
        ]
    row = cdf.groupBy("g").agg(*aggs)
    from dataprofiler_spark.functions.rounding import duckdb_round
    structs = []
    for i, p in enumerate(probs):
        a, b, gg = (F.col(f"__a{i}"), F.col(f"__b{i}"), F.col(f"__g{i}"))
        q = F.when(gg == 0.0, a).otherwise(a + gg * (b - a))
        structs.append(F.struct(
            F.lit(float(p)).alias("prob"),
            duckdb_round(q, round_digits).alias("value")))
    return register_persisted(
        row.select(F.col("g").alias("group"),
                   F.explode(F.array(*structs)).alias("s"))
        .select("group", "s.prob", "s.value"),
        *cdf._dps_persisted)


def oracle_grouped_quantiles_sql(table: str, group_col: str, col: str,
                                 probs: list[float],
                                 round_digits: int = 6) -> str:
    picks = []
    for i, p in enumerate(probs):
        k = (f"CAST(FLOOR(CAST(n - 1 AS DOUBLE) * {float(p)!r})"
             f" AS BIGINT)")
        gg = (f"(CAST(n - 1 AS DOUBLE) * {float(p)!r}"
              f" - FLOOR(CAST(n - 1 AS DOUBLE) * {float(p)!r}))")
        picks.append(
            f"MIN(CASE WHEN c_end >= {k} + 1 AND c_start < {k} + 1"
            f" THEN v END) AS a{i},\n"
            f"         MIN(CASE WHEN c_end >= {k} + 2 AND c_start < {k} + 2"
            f" THEN v END) AS b{i},\n"
            f"         MAX({gg}) AS g{i}")
    picks_sql = ",\n         ".join(picks)
    outs = "\nUNION ALL\n".join(
        f"SELECT g AS \"group\", {float(p)!r} AS prob,"
        f" ROUND(CASE WHEN g{i} = 0 THEN a{i}"
        f" ELSE a{i} + g{i} * (b{i} - a{i}) END, {round_digits}) AS value"
        f" FROM pick"
        for i, p in enumerate(probs))
    return f"""
WITH vc AS (
  SELECT COALESCE(CAST({group_col} AS VARCHAR), '(null)') AS g,
         CAST({col} AS DOUBLE) AS v, COUNT(*) AS cnt
  FROM {table} WHERE {col} IS NOT NULL GROUP BY 1, 2
),
cdf AS (
  SELECT g, v, cnt,
         SUM(cnt) OVER (PARTITION BY g ORDER BY v) AS c_end,
         SUM(cnt) OVER (PARTITION BY g ORDER BY v) - cnt AS c_start,
         SUM(cnt) OVER (PARTITION BY g) AS n
  FROM vc
),
pick AS (
  SELECT g,
         {picks_sql}
  FROM cdf GROUP BY g
)
{outs}
"""
