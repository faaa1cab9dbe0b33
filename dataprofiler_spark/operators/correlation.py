"""Correlation matrix + pairwise chi² homogeneity matrix.

Reference: Pearson correlation over numeric columns with null→mean
imputation, incremental merge via mean/std/count algebra
(profile_builder.py:2299-2551, default OFF profiler_options.py:1039);
chi² matrix between categorical column pairs (:2552-2587, kernel
profiler_utils.py:723-788, default ON).

Spark design: all k(k−1)/2 correlation pairs in ONE wide agg of scaled-
integer power/cross sums — corr = (n·Sxy − Sx·Sy) /
√((n·Sxx − Sx²)(n·Syy − Sy²)), exact integer arithmetic until a single
double conversion, so the matrix is engine-reproducible. The scaled-
integer encoding and the exact n·Sxy − Sx·Sy are numeric.scaled and
numeric.exact_css, shared with numeric_profile_exact. Spearman is the
same Pearson sums over doubled ranks, and the ranks come from
histogram.counts_cdf. Chi² contingency tables are one groupBy per pair
(tiny output); the statistic is closed-form from the counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataprofiler_spark.operators.numeric import SCALE, exact_css, scaled
from dataprofiler_spark.session import register_persisted


def correlation_matrix(df: DataFrame, cols: list[str],
                       round_digits: int = 6) -> DataFrame:
    """(col1, col2, corr) for all unordered pairs, exact-deterministic.

    NOTE reference semantics impute nulls with the column mean; with no
    nulls (the common parquet case) plain pairwise sums are identical and
    one pass. The imputation variant adds a first pass for means and
    fills — same plan shape as numeric.numeric_profile_exact.

    Overflow safety: Pearson sums are shift-invariant, so every scaled
    integer is pivoted by its column's min (one tiny pre-agg, embedded
    as literals). That drops the decimal(38,0) products from mean²·S²·n²
    (overflows ~1e38 near 1e12 rows) to range²·S²·n² — the exact-integer
    path survives any realistic scale, and the integer results (hence the
    oracle SQL, which needs no pivot) are bit-identical. A double-
    arithmetic fallback of the *shifted* sums backstops pathological
    ranges; shifting keeps it well-conditioned (cancellation scales with
    (mean−min)²/var, not mean²/var).
    """
    pre = df.agg(
        F.count(F.lit(1)).alias("nn"),
        *[F.min(scaled(c)).alias(f"mn_{c}") for c in cols],
        *[F.count(F.col(c)).alias(f"cnt_{c}") for c in cols],
    ).first()
    # Shift-invariance needs every row to carry the pivot; with nulls the
    # sum row-set ≠ count(*), so null-bearing columns stay on the legacy
    # unshifted sums (still exact to ~1e38, then the double fallback).
    no_nulls = all(pre[f"cnt_{c}"] == pre["nn"] for c in cols)

    def yi(c):  # shifted scaled integer: xi − min(xi) ≥ 0, range-bounded
        if no_nulls and pre[f"mn_{c}"] is not None:
            return scaled(c) - F.lit(int(pre[f"mn_{c}"])).cast("decimal(19,0)")
        return scaled(c)

    def yd(c):  # the same shifted value in double, for the backstop sums
        return yi(c).cast("double")

    exprs = [F.count(F.lit(1)).alias("n")]
    for c in cols:
        # try_sum: NULL past 1e38 (instead of an ANSI abort) so the
        # double backstop can take over; per-row products of two
        # decimal(19,0) always fit in decimal(38,0).
        exprs.append(F.try_sum(yi(c).cast("decimal(38,0)")).alias(f"s_{c}"))
        exprs.append(F.try_sum((yi(c) * yi(c)).cast("decimal(38,0)"))
                     .alias(f"ss_{c}"))
        exprs.append(F.sum(yd(c)).alias(f"sd_{c}"))
        exprs.append(F.sum(yd(c) * yd(c)).alias(f"ssd_{c}"))
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            exprs.append(F.try_sum((yi(a) * yi(b)).cast("decimal(38,0)"))
                         .alias(f"sp_{a}__{b}"))
            exprs.append(F.sum(yd(a) * yd(b)).alias(f"spd_{a}__{b}"))
    row = df.agg(*exprs)

    structs = []
    n = F.col("n")

    def css(sab, sa, sb, sabd, sad, sbd):
        return exact_css(n, sab, sa, sb,
                         fallback=n.cast("double") * sabd - sad * sbd)

    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            sa, sb = F.col(f"s_{a}"), F.col(f"s_{b}")
            sad, sbd = F.col(f"sd_{a}"), F.col(f"sd_{b}")
            num = css(F.col(f"sp_{a}__{b}"), sa, sb,
                      F.col(f"spd_{a}__{b}"), sad, sbd)
            da = css(F.col(f"ss_{a}"), sa, sa, F.col(f"ssd_{a}"), sad, sad)
            db = css(F.col(f"ss_{b}"), sb, sb, F.col(f"ssd_{b}"), sbd, sbd)
            den = da * db
            structs.append(F.struct(
                F.lit(a).alias("col1"), F.lit(b).alias("col2"),
                # constant column -> zero variance -> Pearson undefined:
                # NULL on both engines (ANSI division would throw here)
                F.round(F.when(den > 0, num / F.sqrt(den)),
                        round_digits).alias("corr"),
            ))
    return row.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def oracle_correlation_sql(table: str, cols: list[str],
                           round_digits: int = 6) -> str:
    S = float(SCALE)
    xi = f"CAST(ROUND(CAST({{c}} AS DOUBLE) * {S}, 0) AS DECIMAL(19,0))"
    selects = []
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            xa, xb = xi.format(c=a), xi.format(c=b)
            h = "CAST({x} AS HUGEINT)"
            num = (f"CAST({h.format(x='p.n')} * {h.format(x='p.sp')}"
                   f" - {h.format(x='p.sa')} * {h.format(x='p.sb')} AS DOUBLE)")
            da = (f"CAST({h.format(x='p.n')} * {h.format(x='p.ssa')}"
                  f" - {h.format(x='p.sa')} * {h.format(x='p.sa')} AS DOUBLE)")
            db = (f"CAST({h.format(x='p.n')} * {h.format(x='p.ssb')}"
                  f" - {h.format(x='p.sb')} * {h.format(x='p.sb')} AS DOUBLE)")
            selects.append(f"""
SELECT '{a}' AS col1, '{b}' AS col2,
       ROUND(CASE WHEN ({da}) * ({db}) > 0
             THEN {num} / SQRT(({da}) * ({db})) END,
             {round_digits}) AS corr
FROM (
  SELECT COUNT(*) AS n,
         SUM(CAST({xa} AS DECIMAL(38,0))) AS sa,
         SUM(CAST({xb} AS DECIMAL(38,0))) AS sb,
         SUM(CAST({xa} * {xa} AS DECIMAL(38,0))) AS ssa,
         SUM(CAST({xb} * {xb} AS DECIMAL(38,0))) AS ssb,
         SUM(CAST({xa} * {xb} AS DECIMAL(38,0))) AS sp
  FROM {table}
) p""")
    return "\nUNION ALL\n".join(selects)


def _dense_contingency(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """(a, b, o, ra, cb, n, ka, kb) over the DENSE k_a × k_b grid —
    zero observed cells included. chi² over only the observed cells
    understates the statistic (a zero cell contributes its full
    expectation e, since (0−e)²/e = e); the reference's scipy
    chi2_contingency runs on the dense crosstab. Rows where EITHER
    column is NULL are dropped first — pandas.crosstab/scipy semantics
    (the reference's path) — so ka/kb, dof and Cramér's m all count the
    same non-NULL categories the grid enumerates. (Previously NULL rode
    along as a grid category while count_distinct skipped it, so chi²
    summed over (ka+1)×(kb+1) cells against dof=(ka−1)(kb−1); a
    {NULL,'x'} column produced m=0 → V=NULL despite a real 2×k table.)
    The grid assembles from the two marginal tables (each one tiny
    groupBy) cross-joined — k_a·k_b rows, trivially small — left-joined
    to observed counts."""
    ct = (df.where(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
          .groupBy(
              F.col(col_a).cast("string").alias("a"),
              F.col(col_b).cast("string").alias("b"),
          ).agg(F.count(F.lit(1)).alias("o")))
    ma = ct.groupBy("a").agg(F.sum("o").alias("ra"))
    mb = ct.groupBy("b").agg(F.sum("o").alias("cb"))
    obs = ct.select(F.col("a").alias("__oa"), F.col("b").alias("__ob"), "o")
    grid = (ma.crossJoin(mb)
            .join(obs, (F.col("a") == F.col("__oa"))
                  & (F.col("b") == F.col("__ob")), "left")
            .select("a", "b", "ra", "cb",
                    F.coalesce("o", F.lit(0)).alias("o")))
    return grid.crossJoin(F.broadcast(ct.agg(
        F.sum("o").alias("n"),
        F.count_distinct("a").alias("ka"),
        F.count_distinct("b").alias("kb"))))


def chi2_matrix_pair(df: DataFrame, col_a: str, col_b: str,
                     round_digits: int = 6) -> DataFrame:
    """(col1, col2, chi2, dof) for one categorical pair from its DENSE
    contingency table (zero cells included — scipy/reference semantics;
    one groupBy job + two tiny marginal joins; the full matrix loops
    pairs — grids are k_a × k_b rows, trivially small)."""
    ct = _dense_contingency(df, col_a, col_b)
    e = F.col("ra").cast("double") * F.col("cb") / F.col("n")
    term = (F.col("o") - e) * (F.col("o") - e) / e
    # round-then-decimal fold (the theils_u discipline): each cell term
    # is rounded to 9 digits and summed as DECIMAL, so the sum is
    # partition-order-independent and bit-identical across engines — a
    # plain double F.sum over the grid was the one order seam left in
    # the chi² family (r6 driver-red cramers_v_orders).
    tsum = F.sum(F.round(term, 9).cast("decimal(38,9)"))
    from dataprofiler_spark.functions.rounding import duckdb_round
    return ct.agg(
        F.lit(col_a).alias("col1"), F.lit(col_b).alias("col2"),
        duckdb_round(tsum.cast("double"), round_digits).alias("chi2"),
        ((F.max("ka") - 1) * (F.max("kb") - 1)).alias("dof"),
    )


_DENSE_CT_CTES = """ct AS (
  SELECT CAST({col_a} AS VARCHAR) AS a, CAST({col_b} AS VARCHAR) AS b,
         COUNT(*) AS o
  FROM {table}
  WHERE {col_a} IS NOT NULL AND {col_b} IS NOT NULL
  GROUP BY 1, 2
), ma AS (SELECT a, SUM(o) AS ra FROM ct GROUP BY a),
mb AS (SELECT b, SUM(o) AS cb FROM ct GROUP BY b),
w AS (
  SELECT ma.a, mb.b, COALESCE(ct.o, 0) AS o, ma.ra, mb.cb
  FROM ma CROSS JOIN mb
  LEFT JOIN ct ON ct.a = ma.a AND ct.b = mb.b
), tot AS (
  SELECT SUM(o) AS n, COUNT(DISTINCT a) AS ka, COUNT(DISTINCT b) AS kb FROM ct
)"""


def oracle_chi2_pair_sql(table: str, col_a: str, col_b: str,
                         round_digits: int = 6) -> str:
    ctes = _DENSE_CT_CTES.format(table=table, col_a=col_a, col_b=col_b)
    term = ("(o - (CAST(ra AS DOUBLE) * cb / n))"
            " * (o - (CAST(ra AS DOUBLE) * cb / n))"
            " / (CAST(ra AS DOUBLE) * cb / n)")
    return f"""
WITH {ctes}
SELECT '{col_a}' AS col1, '{col_b}' AS col2,
       ROUND(CAST(SUM(CAST(ROUND({term}, 9) AS DECIMAL(38,9)))
                  AS DOUBLE), {round_digits}) AS chi2,
       (MAX(ka) - 1) * (MAX(kb) - 1) AS dof
FROM w, tot
"""


def mutual_info_pair(df: DataFrame, col_a: str, col_b: str,
                     round_digits: int = 6) -> DataFrame:
    """(col1, col2, mi, nmi) for one categorical pair: mutual
    information in nats from the contingency table, plus the
    min-entropy-normalized variant (nmi in [0, 1]) — the dependence
    measure a mixture/feature-selection pipeline reads where chi² only
    answers "independent or not".

    Plan: the same one-groupBy contingency shape as ``chi2_matrix_pair``
    plus two marginal aggregations (each ≤ distinct-count rows); the
    tiny 1-row results cross-join. NULLs participate as their own
    category — they must be COALESCEd to a sentinel BEFORE the marginal
    joins (NULL join keys silently drop their joint cells on every
    engine). All inputs to every log are single integer-ratio
    divisions, so both engines compute the same doubles; sums are over
    vocabulary-sized frames, rounded."""
    ct = df.groupBy(
        F.coalesce(F.col(col_a).cast("string"), F.lit("(null)")).alias("a"),
        F.coalesce(F.col(col_b).cast("string"), F.lit("(null)")).alias("b"),
    ).agg(F.count(F.lit(1)).alias("o"))
    n_row = ct.agg(F.sum("o").alias("n"))
    ra = ct.groupBy("a").agg(F.sum("o").alias("ra"))
    cb = ct.groupBy("b").agg(F.sum("o").alias("cb"))
    joint = (ct.join(F.broadcast(ra), "a").join(F.broadcast(cb), "b")
             .crossJoin(F.broadcast(n_row)))
    # round-then-decimal fold (theils_u discipline, r7): the grid is
    # vocabulary-sized — a plain double sum over it is partition-order
    # dependent, the exact seam class of the r6 chi²-family reds.
    d12 = "decimal(38,12)"
    p = F.col("o").cast("double") / F.col("n")
    mi_term = p * F.log(F.col("o").cast("double") * F.col("n")
                        / (F.col("ra").cast("double") * F.col("cb")))
    mi_row = joint.agg(
        F.sum(F.round(mi_term, 12).cast(d12)).cast("double").alias("mi"))

    def entropy(marg, cnt):
        q = F.col(cnt).cast("double") / F.col("n")
        return (marg.crossJoin(F.broadcast(n_row))
                .agg((-F.sum(F.round(q * F.log(q), 12).cast(d12))
                      .cast("double")).alias(f"h_{cnt}")))

    out = (mi_row.crossJoin(F.broadcast(entropy(ra, "ra")))
           .crossJoin(F.broadcast(entropy(cb, "cb"))))
    hmin = F.least(F.col("h_ra"), F.col("h_cb"))
    return out.select(
        F.lit(col_a).alias("col1"), F.lit(col_b).alias("col2"),
        F.round(F.col("mi"), round_digits).alias("mi"),
        F.round(F.when(hmin > 0, F.col("mi") / hmin).otherwise(F.lit(0.0)),
                round_digits).alias("nmi"))


def oracle_mutual_info_pair_sql(table: str, col_a: str, col_b: str,
                                round_digits: int = 6) -> str:
    return f"""
WITH ct AS (
  SELECT COALESCE(CAST({col_a} AS VARCHAR), '(null)') AS a,
         COALESCE(CAST({col_b} AS VARCHAR), '(null)') AS b,
         COUNT(*) AS o
  FROM {table} GROUP BY 1, 2
),
tot AS (SELECT SUM(o) AS n FROM ct),
ra AS (SELECT a, SUM(o) AS ra FROM ct GROUP BY a),
cb AS (SELECT b, SUM(o) AS cb FROM ct GROUP BY b),
mi AS (
  SELECT CAST(SUM(CAST(ROUND((CAST(o AS DOUBLE) / n)
             * LN(CAST(o AS DOUBLE) * n
                  / (CAST(ra.ra AS DOUBLE) * cb.cb)), 12)
             AS DECIMAL(38,12))) AS DOUBLE) AS mi
  FROM ct JOIN ra USING (a) JOIN cb USING (b) CROSS JOIN tot
),
ha AS (SELECT -CAST(SUM(CAST(ROUND((CAST(ra AS DOUBLE) / n)
         * LN(CAST(ra AS DOUBLE) / n), 12) AS DECIMAL(38,12))) AS DOUBLE)
         AS h_ra FROM ra CROSS JOIN tot),
hb AS (SELECT -CAST(SUM(CAST(ROUND((CAST(cb AS DOUBLE) / n)
         * LN(CAST(cb AS DOUBLE) / n), 12) AS DECIMAL(38,12))) AS DOUBLE)
         AS h_cb FROM cb CROSS JOIN tot)
SELECT '{col_a}' AS col1, '{col_b}' AS col2,
       ROUND(mi, {round_digits}) AS mi,
       ROUND(CASE WHEN LEAST(h_ra, h_cb) > 0
                  THEN mi / LEAST(h_ra, h_cb) ELSE 0.0 END,
             {round_digits}) AS nmi
FROM mi, ha, hb
"""


def spearman_matrix(df: DataFrame, cols: list[str],
                    round_digits: int = 6) -> DataFrame:
    """(col1, col2, rho) Spearman rank correlation for all unordered
    pairs — the monotone-dependence complement to the Pearson matrix
    (robust to outliers and nonlinearity). Complete-case: rows with a
    NULL or NaN in ANY of ``cols`` are dropped, so every column ranks
    over the same row set (ties get average ranks, the standard
    treatment).

    rho = Pearson on the integer doubled ranks: every sum is exact
    decimal (rank2 ≤ 2n+1, so Σr² ≤ 4n³ — inside decimal(38,0) to
    ~3·10¹¹ rows), making results independent of partitioning and
    bit-identical to the oracle. Ranks join back on value (rank is a
    function of the value), so no row ids are needed.

    Ranks come from the counts-CDF (histogram.counts_cdf) over each
    column's per-value counts: rank2 = 2·c_start + cnt + 1, i.e.
    2·avg_rank, an exact INTEGER (avg ranks are half-integers under
    ties; Pearson is affine-invariant, so doubled ranks give the same
    rho). No window sorts the full table in one partition. Each CDF's
    snapshot is registered on the result: release them with
    ``session.unpersist_plan(result)`` after the last action."""
    from dataprofiler_spark.operators.histogram import counts_cdf

    dbl = [F.col(c).cast("double").alias(c) for c in cols]
    keep = None
    for c in cols:
        cond = F.col(c).isNotNull() & ~F.isnan(F.col(c))
        keep = cond if keep is None else (keep & cond)
    base = df.select(*dbl).where(keep)
    ranked = base
    handles = []
    for c in cols:
        cdf = counts_cdf(base.groupBy(F.col(c).alias("v"))
                         .agg(F.count(F.lit(1)).alias("cnt")))
        handles += cdf._dps_persisted
        rt = cdf.select("v", (2 * F.col("c_start") + F.col("cnt") + 1)
                        .alias("r"))
        ranked = (ranked.join(rt, ranked[c] == rt["v"])
                  .drop("v").withColumnRenamed("r", f"r_{c}"))

    def ri(c):
        return F.col(f"r_{c}").cast("decimal(19,0)")

    exprs = [F.count(F.lit(1)).alias("n")]
    for c in cols:
        exprs.append(F.sum(ri(c).cast("decimal(38,0)")).alias(f"s_{c}"))
        exprs.append(F.sum((ri(c) * ri(c)).cast("decimal(38,0)"))
                     .alias(f"ss_{c}"))
    for i, a in enumerate(cols):
        for bcol in cols[i + 1:]:
            exprs.append(F.sum((ri(a) * ri(bcol)).cast("decimal(38,0)"))
                         .alias(f"sp_{a}__{bcol}"))
    row = ranked.agg(*exprs)
    n = F.col("n").cast("decimal(38,0)")
    structs = []
    for i, a in enumerate(cols):
        for bcol in cols[i + 1:]:
            sa, sb = F.col(f"s_{a}"), F.col(f"s_{bcol}")
            num = (n * F.col(f"sp_{a}__{bcol}") - sa * sb).cast("double")
            da = (n * F.col(f"ss_{a}") - sa * sa).cast("double")
            db = (n * F.col(f"ss_{bcol}") - sb * sb).cast("double")
            structs.append(F.struct(
                F.lit(a).alias("col1"), F.lit(bcol).alias("col2"),
                F.round(F.when((da > 0) & (db > 0),
                               num / (F.sqrt(da) * F.sqrt(db))),
                        round_digits).alias("rho")))
    return register_persisted(
        row.select(F.explode(F.array(*structs)).alias("s")).select("s.*"),
        *handles)


def oracle_spearman_sql(table: str, cols: list[str],
                        round_digits: int = 6) -> str:
    keep = " AND ".join(f"{c} IS NOT NULL AND NOT isnan({c}::DOUBLE)"
                        for c in cols)
    sel = ", ".join(f"{c}::DOUBLE AS {c}" for c in cols)
    rts = ",\n".join(
        f"""rt_{c} AS (
  SELECT v, 2 * (SUM(cnt) OVER (ORDER BY v
                                ROWS UNBOUNDED PRECEDING) - cnt)
            + cnt + 1 AS r
  FROM (SELECT {c} AS v, COUNT(*) AS cnt FROM base GROUP BY 1)
)""" for c in cols)
    joins = " ".join(f"JOIN rt_{c} ON base.{c} = rt_{c}.v" for c in cols)
    rsel = ", ".join(f"rt_{c}.r AS r_{c}" for c in cols)
    aggs = ["COUNT(*) AS n"]
    for c in cols:
        aggs.append(f"SUM(CAST(CAST(r_{c} AS DECIMAL(19,0))"
                    f" AS DECIMAL(38,0))) AS s_{c}")
        aggs.append(f"SUM(CAST(CAST(r_{c} AS DECIMAL(19,0))"
                    f" * CAST(r_{c} AS DECIMAL(19,0))"
                    f" AS DECIMAL(38,0))) AS ss_{c}")
    pairs = []
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            aggs.append(f"SUM(CAST(CAST(r_{a} AS DECIMAL(19,0))"
                        f" * CAST(r_{b} AS DECIMAL(19,0))"
                        f" AS DECIMAL(38,0))) AS sp_{a}__{b}")
            num = (f"CAST(CAST(n AS HUGEINT) * CAST(sp_{a}__{b} AS HUGEINT)"
                   f" - CAST(s_{a} AS HUGEINT) * CAST(s_{b} AS HUGEINT)"
                   f" AS DOUBLE)")
            da = (f"CAST(CAST(n AS HUGEINT) * CAST(ss_{a} AS HUGEINT)"
                  f" - CAST(s_{a} AS HUGEINT) * CAST(s_{a} AS HUGEINT)"
                  f" AS DOUBLE)")
            db = (f"CAST(CAST(n AS HUGEINT) * CAST(ss_{b} AS HUGEINT)"
                  f" - CAST(s_{b} AS HUGEINT) * CAST(s_{b} AS HUGEINT)"
                  f" AS DOUBLE)")
            pairs.append(
                f"SELECT '{a}' AS col1, '{b}' AS col2, "
                f"ROUND(CASE WHEN {da} > 0 AND {db} > 0 "
                f"THEN {num} / (SQRT({da}) * SQRT({db})) END, "
                f"{round_digits}) AS rho FROM s")
    union = "\nUNION ALL\n".join(pairs)
    return f"""
WITH base AS (SELECT {sel} FROM {table} WHERE {keep}),
{rts},
ranked AS (SELECT {rsel} FROM base {joins}),
s AS (SELECT {', '.join(aggs)} FROM ranked)
{union}
"""


def cramers_v_pair(df: DataFrame, col_a: str, col_b: str,
                   round_digits: int = 6) -> DataFrame:
    """(col1, col2, n, chi2, v): Cramér's V — chi² normalized to [0, 1]
    (V = sqrt((chi²/n) / min(k_a−1, k_b−1))), the categorical
    association strength that, unlike raw chi², is comparable across
    pairs and sample sizes. Same DENSE-contingency plan as
    chi2_matrix_pair (zero cells included — scipy/reference semantics);
    V derives from the ROUNDED chi² so both engines take sqrt of the
    identical double. A constant column (min(k−1) = 0) yields
    V = NULL."""
    ct = _dense_contingency(df, col_a, col_b)
    e = F.col("ra").cast("double") * F.col("cb") / F.col("n")
    term = (F.col("o") - e) * (F.col("o") - e) / e
    # round-then-decimal term fold — see chi2_matrix_pair (this was the
    # r6 driver-red seam: a plain double sum drifts with partition
    # order; the decimal fold is order-independent in both engines).
    tsum = F.sum(F.round(term, 9).cast("decimal(38,9)"))
    from dataprofiler_spark.functions.rounding import duckdb_round
    agg = ct.agg(
        F.max("n").alias("n"),
        duckdb_round(tsum.cast("double"), round_digits).alias("chi2"),
        F.least(F.max("ka") - 1, F.max("kb") - 1).alias("m"))
    return agg.select(
        F.lit(col_a).alias("col1"), F.lit(col_b).alias("col2"),
        F.col("n"), F.col("chi2"),
        duckdb_round(F.when(F.col("m") > 0,
                            F.sqrt(F.col("chi2") / F.col("n")
                                   / F.col("m"))),
                     round_digits).alias("v"))


def oracle_cramers_v_sql(table: str, col_a: str, col_b: str,
                         round_digits: int = 6) -> str:
    ctes = _DENSE_CT_CTES.format(table=table, col_a=col_a, col_b=col_b)
    term = ("(o - (CAST(ra AS DOUBLE) * cb / n))"
            " * (o - (CAST(ra AS DOUBLE) * cb / n))"
            " / (CAST(ra AS DOUBLE) * cb / n)")
    return f"""
WITH {ctes}, agg AS (
  SELECT MAX(n) AS n,
         ROUND(CAST(SUM(CAST(ROUND({term}, 9) AS DECIMAL(38,9)))
                    AS DOUBLE), {round_digits}) AS chi2,
         LEAST(MAX(ka) - 1, MAX(kb) - 1) AS m
  FROM w, tot
)
SELECT '{col_a}' AS col1, '{col_b}' AS col2,
       CAST(n AS BIGINT) AS n, chi2,
       ROUND(CASE WHEN m > 0 THEN SQRT(chi2 / n / m) END,
             {round_digits}) AS v
FROM agg
"""


def cohens_kappa(df: DataFrame, col_a: str, col_b: str,
                 round_digits: int = 6) -> DataFrame:
    """(col1, col2, n, po, pe, kappa): Cohen's kappa — chance-corrected
    agreement between two categorical columns over the same rows (the
    label-QA measure for annotator pairs / model-vs-gold comparisons,
    where raw accuracy rewards majority-class collapse). po = observed
    agreement, pe = Σ_k p_a(k)·p_b(k) expected by chance,
    kappa = (po − pe)/(1 − pe); pe = 1 (both columns constant and equal)
    yields kappa NULL. Rows with NULL in either column are dropped
    (sklearn semantics, same rule as the chi² family).

    Plan: ONE groupBy over the observed (a, b) cells (k_a·k_b bounded);
    marginals/diagonal fold from that tiny frame — integer sums, one
    mirrored division order, engine-exact."""
    ct = (df.where(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
          .groupBy(F.col(col_a).cast("string").alias("a"),
                   F.col(col_b).cast("string").alias("b"))
          .agg(F.count(F.lit(1)).alias("o")))
    ra = ct.groupBy("a").agg(F.sum("o").alias("ra"))
    cb = ct.groupBy("b").agg(F.sum("o").alias("cb"))
    # chance agreement sums over categories PRESENT IN BOTH margins
    pe_tab = (ra.join(cb, ra.a == cb.b)
              .agg(F.sum(F.col("ra").cast("decimal(38,0)")
                         * F.col("cb")).alias("spe")))
    tot = ct.agg(
        F.sum("o").alias("n"),
        F.sum(F.when(F.col("a") == F.col("b"), F.col("o"))
              .otherwise(0)).alias("diag"))
    j = tot.crossJoin(F.broadcast(pe_tab))
    po = F.col("diag").cast("double") / F.col("n")
    pe = (F.coalesce(F.col("spe"), F.lit(0)).cast("double")
          / F.col("n") / F.col("n"))
    kappa = F.when(pe < 1.0, F.round((po - pe) / (1.0 - pe), round_digits))
    return j.select(
        F.lit(col_a).alias("col1"), F.lit(col_b).alias("col2"),
        F.col("n"),
        F.round(po, round_digits).alias("po"),
        F.round(pe, round_digits).alias("pe"),
        kappa.alias("kappa"))


def oracle_cohens_kappa_sql(table: str, col_a: str, col_b: str,
                            round_digits: int = 6) -> str:
    return f"""
WITH ct AS (
  SELECT CAST({col_a} AS VARCHAR) AS a, CAST({col_b} AS VARCHAR) AS b,
         COUNT(*) AS o
  FROM {table}
  WHERE {col_a} IS NOT NULL AND {col_b} IS NOT NULL
  GROUP BY 1, 2
),
ra AS (SELECT a, SUM(o) AS ra FROM ct GROUP BY a),
cb AS (SELECT b, SUM(o) AS cb FROM ct GROUP BY b),
pe_tab AS (
  SELECT SUM(CAST(ra.ra AS DECIMAL(38,0)) * cb.cb) AS spe
  FROM ra JOIN cb ON ra.a = cb.b
),
tot AS (
  SELECT SUM(o) AS n,
         SUM(CASE WHEN a = b THEN o ELSE 0 END) AS diag
  FROM ct
)
SELECT '{col_a}' AS col1, '{col_b}' AS col2, CAST(n AS BIGINT) AS n,
       ROUND(CAST(diag AS DOUBLE) / n, {round_digits}) AS po,
       ROUND(CAST(COALESCE(spe, 0) AS DOUBLE) / n / n, {round_digits})
         AS pe,
       CASE WHEN CAST(COALESCE(spe, 0) AS DOUBLE) / n / n < 1.0 THEN
         ROUND((CAST(diag AS DOUBLE) / n
                - CAST(COALESCE(spe, 0) AS DOUBLE) / n / n)
               / (1.0 - CAST(COALESCE(spe, 0) AS DOUBLE) / n / n),
               {round_digits}) END AS kappa
FROM tot CROSS JOIN pe_tab
"""


def null_phi_matrix(df: DataFrame, cols: list[str],
                    round_digits: int = 6) -> DataFrame:
    """(col1, col2, n, null1, null2, both_null, phi) for every unordered
    column pair: the phi coefficient between the two IS NULL indicator
    variables — "which columns go null together" (a strong pairwise phi
    means one broken upstream join or a shared optional record section;
    the per-column null_count can't see it).

    phi = (n·n11 − r1·r2) / sqrt(r1·(n−r1)·r2·(n−r2)), the 2×2 Pearson.
    Either indicator constant (a column with no nulls, or all nulls)
    yields phi NULL (undefined, both engines).

    Plan: ONE wide aggregate of integer indicator sums — k + k(k−1)/2
    counters, one scan at any k; exact integer arithmetic up to one
    double conversion (the correlation_matrix discipline)."""
    exprs = [F.count(F.lit(1)).alias("n")]
    for c in cols:
        exprs.append(F.sum(F.col(c).isNull().cast("long"))
                     .alias(f"n_{c}"))
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            exprs.append(F.sum((F.col(a).isNull()
                                & F.col(b).isNull()).cast("long"))
                         .alias(f"nn_{a}__{b}"))
    row = df.agg(*exprs)
    n = F.col("n").cast("decimal(38,0)")
    structs = []
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            r1 = F.col(f"n_{a}").cast("decimal(38,0)")
            r2 = F.col(f"n_{b}").cast("decimal(38,0)")
            n11 = F.col(f"nn_{a}__{b}").cast("decimal(38,0)")
            num = (n * n11 - r1 * r2).cast("double")
            den = (r1 * (n - r1)).cast("double") \
                * (r2 * (n - r2)).cast("double")
            structs.append(F.struct(
                F.lit(a).alias("col1"), F.lit(b).alias("col2"),
                F.col("n").alias("n"),
                F.col(f"n_{a}").alias("null1"),
                F.col(f"n_{b}").alias("null2"),
                F.col(f"nn_{a}__{b}").alias("both_null"),
                F.round(F.when(den > 0, num / F.sqrt(den)),
                        round_digits).alias("phi")))
    return row.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def oracle_null_phi_sql(table: str, cols: list[str],
                        round_digits: int = 6) -> str:
    selects = []
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            selects.append(f"""
SELECT '{a}' AS col1, '{b}' AS col2,
       CAST("n_raw" AS BIGINT) AS n,
       CAST(null1 AS BIGINT) AS null1, CAST(null2 AS BIGINT) AS null2,
       CAST(both_null AS BIGINT) AS both_null,
       ROUND(CASE WHEN CAST(r1 * (n - r1) AS DOUBLE)
                       * CAST(r2 * (n - r2) AS DOUBLE) > 0
             THEN CAST(n * n11 - r1 * r2 AS DOUBLE)
                  / SQRT(CAST(r1 * (n - r1) AS DOUBLE)
                         * CAST(r2 * (n - r2) AS DOUBLE)) END,
             {round_digits}) AS phi
FROM (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(CASE WHEN {a} IS NULL THEN 1 ELSE 0 END)
              AS HUGEINT) AS r1,
         CAST(SUM(CASE WHEN {b} IS NULL THEN 1 ELSE 0 END)
              AS HUGEINT) AS r2,
         CAST(SUM(CASE WHEN {a} IS NULL AND {b} IS NULL THEN 1 ELSE 0
                  END) AS HUGEINT) AS n11,
         COUNT(*) AS "n_raw",
         SUM(CASE WHEN {a} IS NULL THEN 1 ELSE 0 END) AS null1,
         SUM(CASE WHEN {b} IS NULL THEN 1 ELSE 0 END) AS null2,
         SUM(CASE WHEN {a} IS NULL AND {b} IS NULL THEN 1 ELSE 0 END)
           AS both_null
  FROM {table}
) p""")
    return "\nUNION ALL\n".join(selects)


def theils_u_pair(df: DataFrame, col_a: str, col_b: str,
                  round_digits: int = 6) -> DataFrame:
    """(col1, col2, n, u_ab, u_ba): Theil's uncertainty coefficient in
    BOTH directions — U(B|A) = (H(B) − H(B|A)) / H(B), the ASYMMETRIC
    categorical dependence measure (pandas-profiling's default for
    category pairs): "knowing zip code tells you the state (U≈1) but
    knowing the state barely narrows the zip (U≈0)" — a direction
    Cramér's V and MI cannot express. NULL is a category (the
    mutual-info contract: coalesced to a sentinel so both marginals and
    the joint count it identically). A constant column (H = 0) yields
    that direction NULL.

    Identity used: U(B|A) = MI / H(B), so the plan is exactly the
    mutual-info shape — ONE joint groupBy + two marginal folds — with
    ln sums rounded-then-decimal (order-independent, engine-exact)."""
    ct = df.groupBy(
        F.coalesce(F.col(col_a).cast("string"), F.lit("(null)")).alias("a"),
        F.coalesce(F.col(col_b).cast("string"), F.lit("(null)")).alias("b"),
    ).agg(F.count(F.lit(1)).alias("o"))
    n_row = ct.agg(F.sum("o").alias("n"))
    d = "decimal(38,9)"

    def lnsum(grouped, cnt):
        c = F.col(cnt).cast("double")
        return grouped.agg(F.sum(
            F.round(c * F.log(c), 9).cast(d)).alias(f"s_{cnt}"))

    ra = lnsum(ct.groupBy("a").agg(F.sum("o").alias("ra")), "ra")
    cb = lnsum(ct.groupBy("b").agg(F.sum("o").alias("cb")), "cb")
    jj = lnsum(ct.groupBy(), "o")
    row = (n_row.crossJoin(F.broadcast(ra)).crossJoin(F.broadcast(cb))
           .crossJoin(F.broadcast(jj)))
    n = F.col("n").cast("double")
    lnn = F.log(n)
    # H(X) = ln n − Σ c·ln c / n
    h_a = lnn - F.col("s_ra").cast("double") / n
    h_b = lnn - F.col("s_cb").cast("double") / n
    h_ab = lnn - F.col("s_o").cast("double") / n
    mi = h_a + h_b - h_ab
    return row.select(
        F.lit(col_a).alias("col1"), F.lit(col_b).alias("col2"),
        F.col("n"),
        F.round(F.when(h_b > 0, mi / h_b), round_digits).alias("u_ab"),
        F.round(F.when(h_a > 0, mi / h_a), round_digits).alias("u_ba"))


def oracle_theils_u_sql(table: str, col_a: str, col_b: str,
                        round_digits: int = 6) -> str:
    def lnsum(expr):
        return (f"SUM(CAST(ROUND(CAST({expr} AS DOUBLE)"
                f" * ln(CAST({expr} AS DOUBLE)), 9) AS DECIMAL(38,9)))")
    return f"""
WITH ct AS (
  SELECT COALESCE(CAST({col_a} AS VARCHAR), '(null)') AS a,
         COALESCE(CAST({col_b} AS VARCHAR), '(null)') AS b,
         COUNT(*) AS o
  FROM {table} GROUP BY 1, 2
),
n_row AS (SELECT SUM(o) AS n FROM ct),
ra AS (SELECT {lnsum('ra')} AS s_ra
       FROM (SELECT SUM(o) AS ra FROM ct GROUP BY a)),
cb AS (SELECT {lnsum('cb')} AS s_cb
       FROM (SELECT SUM(o) AS cb FROM ct GROUP BY b)),
jj AS (SELECT {lnsum('o')} AS s_o FROM ct)
SELECT '{col_a}' AS col1, '{col_b}' AS col2,
       CAST(n AS BIGINT) AS n,
       ROUND(CASE WHEN ln(CAST(n AS DOUBLE)) - CAST(s_cb AS DOUBLE) / n
                       > 0
         THEN ((ln(CAST(n AS DOUBLE)) - CAST(s_ra AS DOUBLE) / n)
               + (ln(CAST(n AS DOUBLE)) - CAST(s_cb AS DOUBLE) / n)
               - (ln(CAST(n AS DOUBLE)) - CAST(s_o AS DOUBLE) / n))
              / (ln(CAST(n AS DOUBLE)) - CAST(s_cb AS DOUBLE) / n) END,
             {round_digits}) AS u_ab,
       ROUND(CASE WHEN ln(CAST(n AS DOUBLE)) - CAST(s_ra AS DOUBLE) / n
                       > 0
         THEN ((ln(CAST(n AS DOUBLE)) - CAST(s_ra AS DOUBLE) / n)
               + (ln(CAST(n AS DOUBLE)) - CAST(s_cb AS DOUBLE) / n)
               - (ln(CAST(n AS DOUBLE)) - CAST(s_o AS DOUBLE) / n))
              / (ln(CAST(n AS DOUBLE)) - CAST(s_ra AS DOUBLE) / n) END,
             {round_digits}) AS u_ba
FROM n_row CROSS JOIN ra CROSS JOIN cb CROSS JOIN jj
"""


def kendall_tau_b(df: DataFrame, col_a: str, col_b: str,
                  max_cells: int = 2000,
                  round_digits: int = 6) -> DataFrame:
    """(col1, col2, n, concordant, discordant, tau_b): Kendall's tau-b
    rank correlation with tie correction (scipy.stats.kendalltau
    semantics) — the rank-association measure that, unlike Spearman,
    stays well-defined and interpretable under HEAVY ties (low-cardinality
    numeric columns like quantities, ratings, bucketed scores, where
    Spearman's average-rank machinery washes out). Rows where either
    column is NULL drop. tau_b = (C − D) / sqrt((n0−n1)(n0−n2)),
    n0 = n(n−1)/2, n1/n2 = tied-pair counts per side. Either column
    constant → tau_b NULL.

    Plan: ONE groupBy onto the (va, vb) joint grid (k_a·k_b cells),
    then a cell-level self-join on va1 < va2 — O(cells²) CELL pairs,
    never row pairs; concordant/discordant counts are integer products
    o1·o2 summed as DECIMAL (order-independent). A probe REFUSES more
    than ``max_cells`` cells (cells² work — for genuinely continuous
    columns pre-bucket or sample first; the operator's home turf is
    tied/discrete data where cells ≪ rows). All arithmetic integer
    until the single final division, mirrored verbatim in the oracle."""
    from dataprofiler_spark.functions.rounding import duckdb_round

    ct = (df.where(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
          .groupBy(F.col(col_a).cast("double").alias("va"),
                   F.col(col_b).cast("double").alias("vb"))
          .agg(F.count(F.lit(1)).alias("o")))
    # materialize once (probe + 4 downstream references); LIMIT first so
    # a continuous column never checkpoints an unbounded frame
    ct = ct.limit(max_cells + 1).localCheckpoint(eager=True)
    n_cells = ct.count()
    if n_cells > max_cells:
        raise ValueError(
            f"kendall_tau_b: joint grid exceeds max_cells={max_cells} "
            f"cells — the O(cells^2) pair fold would blow up. Bucket or "
            f"sample the continuous column first, or raise max_cells "
            f"explicitly.")
    d = "decimal(38,0)"
    c1, c2 = ct.alias("c1"), ct.alias("c2")
    prod = (F.col("c1.o").cast(d) * F.col("c2.o")).cast(d)
    cd = (c1.join(c2, F.col("c1.va") < F.col("c2.va"))
          .agg(F.coalesce(F.sum(F.when(F.col("c1.vb") < F.col("c2.vb"),
                                       prod)), F.lit(0).cast(d))
               .alias("C"),
               F.coalesce(F.sum(F.when(F.col("c1.vb") > F.col("c2.vb"),
                                       prod)), F.lit(0).cast(d))
               .alias("D")))
    def tied(key, out):
        return (ct.groupBy(key).agg(F.sum("o").alias("t"))
                .agg(F.coalesce(
                    F.sum((F.col("t").cast(d)
                           * (F.col("t") - 1)).cast(d)),
                    F.lit(0).cast(d)).alias(out)))

    ta = tied("va", "tta")
    tb = tied("vb", "ttb")
    n_row = ct.agg(F.sum("o").cast("long").alias("n"))
    j = (n_row.crossJoin(F.broadcast(cd))
         .crossJoin(F.broadcast(ta)).crossJoin(F.broadcast(tb)))
    n = F.col("n")
    # doubled denominators avoid the /2s: (n0−n1)(n0−n2) = d2a·d2b/4,
    # so tau = 2(C−D)/sqrt(d2a·d2b) — one sqrt over one double product
    d2a = (n.cast(d) * (n - 1) - F.col("tta")).cast("double")
    d2b = (n.cast(d) * (n - 1) - F.col("ttb")).cast("double")
    tau = F.when(
        (d2a > 0) & (d2b > 0),
        2.0 * (F.col("C") - F.col("D")).cast("double")
        / F.sqrt(d2a * d2b))
    return j.select(
        F.lit(col_a).alias("col1"), F.lit(col_b).alias("col2"),
        n,
        F.col("C").cast("long").alias("concordant"),
        F.col("D").cast("long").alias("discordant"),
        duckdb_round(tau, round_digits).alias("tau_b"))


def oracle_kendall_tau_b_sql(table: str, col_a: str, col_b: str,
                             round_digits: int = 6) -> str:
    return f"""
WITH ct AS (
  SELECT CAST({col_a} AS DOUBLE) AS va, CAST({col_b} AS DOUBLE) AS vb,
         COUNT(*) AS o
  FROM {table}
  WHERE {col_a} IS NOT NULL AND {col_b} IS NOT NULL
  GROUP BY 1, 2
),
cd AS (
  SELECT COALESCE(SUM(CASE WHEN c1.vb < c2.vb THEN
           CAST(CAST(c1.o AS DECIMAL(38,0)) * c2.o AS DECIMAL(38,0))
         END), 0) AS C,
         COALESCE(SUM(CASE WHEN c1.vb > c2.vb THEN
           CAST(CAST(c1.o AS DECIMAL(38,0)) * c2.o AS DECIMAL(38,0))
         END), 0) AS D
  FROM ct c1 JOIN ct c2 ON c1.va < c2.va
),
ta AS (SELECT COALESCE(SUM(CAST(CAST(t AS DECIMAL(38,0)) * (t - 1)
         AS DECIMAL(38,0))), 0) AS tta
       FROM (SELECT SUM(o) AS t FROM ct GROUP BY va)),
tb AS (SELECT COALESCE(SUM(CAST(CAST(t AS DECIMAL(38,0)) * (t - 1)
         AS DECIMAL(38,0))), 0) AS ttb
       FROM (SELECT SUM(o) AS t FROM ct GROUP BY vb)),
n_row AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM ct)
SELECT '{col_a}' AS col1, '{col_b}' AS col2, n,
       CAST(C AS BIGINT) AS concordant,
       CAST(D AS BIGINT) AS discordant,
       ROUND(CASE WHEN CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) - tta
                         AS DOUBLE) > 0
                   AND CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) - ttb
                         AS DOUBLE) > 0 THEN
         2.0 * CAST(C - D AS DOUBLE)
         / SQRT(CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) - tta AS DOUBLE)
                * CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) - ttb
                       AS DOUBLE)) END, {round_digits}) AS tau_b
FROM n_row CROSS JOIN cd CROSS JOIN ta CROSS JOIN tb
"""
