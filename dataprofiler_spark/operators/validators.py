"""Column validators.

Reference: validators/base_validators.py:12-39 (is_in_range, is_in_list),
validate():51-160 — column-wise predicates returning per-column pass
counts / failing rows.

Spark design: each rule compiles to one boolean Column; all rules
evaluate in ONE agg pass (sum(when(...))); failing-row retrieval is a
filter the caller can limit — never a driver-side index list.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataprofiler_spark.operators.numeric import SCALE, scaled
from dataprofiler_spark.session import register_persisted


@dataclass(frozen=True)
class Rule:
    column: str
    kind: str              # in_range | in_list | not_null | matches
    low: float | None = None
    high: float | None = None
    values: tuple = ()
    pattern: str | None = None

    def expr(self) -> Column:
        c = F.col(self.column)
        if self.kind == "in_range":
            return c.between(self.low, self.high)
        if self.kind == "in_list":
            return c.cast("string").isin(*[str(v) for v in self.values])
        if self.kind == "not_null":
            return c.isNotNull()
        if self.kind == "matches":
            return c.cast("string").rlike(self.pattern)
        raise ValueError(self.kind)

    @property
    def name(self) -> str:
        return f"{self.column}:{self.kind}"


def validate(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """(rule, passed, failed, pass_ratio) — one pass for all rules."""
    exprs = [F.count(F.lit(1)).alias("__n")]
    for r in rules:
        exprs.append(F.sum(F.when(r.expr(), 1).otherwise(0)).alias(r.name))
    row = df.agg(*exprs)
    structs = [
        F.struct(
            F.lit(r.name).alias("rule"),
            F.col(r.name).alias("passed"),
            (F.col("__n") - F.col(r.name)).alias("failed"),
            F.round(F.col(r.name) / F.col("__n"), 6).alias("pass_ratio"),
        )
        for r in rules
    ]
    return row.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def failing_rows(df: DataFrame, rule: Rule, limit: int = 100) -> DataFrame:
    return df.where(~rule.expr()).limit(limit)


def oracle_validate_sql(table: str, rules: list[Rule]) -> str:
    selects = []
    for r in rules:
        if r.kind == "in_range":
            cond = f"{r.column} BETWEEN {r.low} AND {r.high}"
        elif r.kind == "in_list":
            vals = ", ".join(f"'{v}'" for v in r.values)
            cond = f"CAST({r.column} AS VARCHAR) IN ({vals})"
        elif r.kind == "not_null":
            cond = f"{r.column} IS NOT NULL"
        elif r.kind == "matches":
            cond = f"regexp_matches(CAST({r.column} AS VARCHAR), '{r.pattern}')"
        else:
            raise ValueError(r.kind)
        selects.append(f"""
SELECT '{r.name}' AS rule,
       CAST(SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT) AS passed,
       CAST(COUNT(*) - SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT) AS failed,
       ROUND(CAST(SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS pass_ratio
FROM {table}""")
    return "\nUNION ALL\n".join(selects)


# -- dataset-level expectations ---------------------------------------------
# Beyond the reference's per-row validators: aggregate contracts a data
# pipeline asserts before shipping a table (uniqueness, volume, null
# ratios, mean bounds) — the expectation-suite shape, evaluated in ONE
# aggregation pass like `validate`.

@dataclass(frozen=True)
class Expectation:
    """kind: unique | row_count_between | nonnull_ratio_at_least |
    mean_between. ``column`` unused for row_count_between."""

    kind: str
    column: str | None = None
    low: float | None = None
    high: float | None = None

    @property
    def name(self) -> str:
        return f"{self.column or '*'}:{self.kind}"


def expectation_report(df: DataFrame, expectations: list["Expectation"],
                       round_digits: int = 6) -> DataFrame:
    """(check, observed, passed) — all expectations in one agg pass.

    observed: duplicates count (unique), row count (row_count_between),
    non-null ratio (nonnull_ratio_at_least), exact mean (mean_between).

    Scale note: each ``unique`` expectation adds an exact
    count_distinct — Spark plans mixed distinct/non-distinct aggregates
    with an Expand (input ×(1 + #distinct columns)). Exactness is the
    point of an assertion, so that cost is deliberate; for advisory
    checks on very wide fact tables, assert uniqueness on key columns
    only.
    """
    if not expectations:
        raise ValueError("expectation_report needs at least one Expectation")
    exprs = [F.count(F.lit(1)).alias("__n")]
    for i, e in enumerate(expectations):
        c = F.col(e.column) if e.column else None
        if e.kind == "unique":
            exprs.append((F.count(c) - F.count_distinct(c))
                         .alias(f"__o{i}"))
        elif e.kind == "row_count_between":
            exprs.append(F.count(F.lit(1)).cast("double").alias(f"__o{i}"))
        elif e.kind == "nonnull_ratio_at_least":
            # try_divide: an EMPTY table must yield NULL -> fail-closed
            # False below, not an ANSI divide-by-zero crash
            exprs.append(F.round(F.try_divide(F.count(c),
                                              F.count(F.lit(1))),
                                 round_digits).alias(f"__o{i}"))
        elif e.kind == "mean_between":
            # scaled-integer decimal sum (numeric.scaled): an engine-exact
            # mean — a plain double sum is summation-order-dependent and
            # would make pass/fail nondeterministic at the boundary
            s1 = F.sum(scaled(c).cast("decimal(38,0)"))
            exprs.append(F.round(
                F.try_divide(s1.cast("double") / SCALE, F.count(c)),
                round_digits).alias(f"__o{i}"))
        else:
            raise ValueError(e.kind)
    row = df.agg(*exprs)
    structs = []
    for i, e in enumerate(expectations):
        o = F.col(f"__o{i}").cast("double")
        if e.kind == "unique":
            passed = o == 0
        elif e.kind == "nonnull_ratio_at_least":
            passed = o >= F.lit(float(e.low))
        else:
            passed = F.lit(True)
            if e.low is not None:
                passed = passed & (o >= F.lit(float(e.low)))
            if e.high is not None:
                passed = passed & (o <= F.lit(float(e.high)))
        # fail closed: a NULL observed value (empty table, all-null
        # column) must report passed=False, not NULL — a gate counting
        # failures would otherwise ship the empty dataset
        structs.append(F.struct(
            F.lit(e.name).alias("check"), o.alias("observed"),
            F.coalesce(passed, F.lit(False)).alias("passed")))
    return row.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def oracle_expectation_sql(table: str, expectations: list["Expectation"],
                           round_digits: int = 6) -> str:
    selects = []
    for e in expectations:
        if e.kind == "unique":
            obs = f"CAST(COUNT({e.column}) - COUNT(DISTINCT {e.column}) AS DOUBLE)"
            passed = f"({obs}) = 0"
        elif e.kind == "row_count_between":
            obs = "CAST(COUNT(*) AS DOUBLE)"
            passed = _bounds(obs, e)
        elif e.kind == "nonnull_ratio_at_least":
            obs = (f"ROUND(CAST(COUNT({e.column}) AS DOUBLE) / COUNT(*), "
                   f"{round_digits})")
            passed = f"({obs}) >= {float(e.low)}"
        elif e.kind == "mean_between":
            s1 = (f"SUM(CAST(ROUND({e.column} * {SCALE}, 0) "
                  f"AS DECIMAL(38,0)))")
            obs = (f"ROUND((CAST({s1} AS DOUBLE) / {SCALE}) "
                   f"/ COUNT({e.column}), {round_digits})")
            passed = _bounds(obs, e)
        else:
            raise ValueError(e.kind)
        selects.append(
            f"SELECT '{e.name}' AS \"check\", {obs} AS observed, "
            f"COALESCE({passed}, FALSE) AS passed FROM {table}")
    return "\nUNION ALL\n".join(selects)


def _bounds(obs: str, e: "Expectation") -> str:
    parts = []
    if e.low is not None:
        parts.append(f"({obs}) >= {float(e.low)}")
    if e.high is not None:
        parts.append(f"({obs}) <= {float(e.high)}")
    return " AND ".join(parts) if parts else "TRUE"


class Validator:
    """Reference-shaped known-anomaly validator
    (validators/base_validators.py:41-147): ``validate(data, config)``
    where config = {"known_anomaly_validation": {col: {"range":
    {"start": a, "end": b}, "list": [...]}}} collects, per column and
    check, the identifiers of rows MATCHING the check (these are known
    anomalies being confirmed). ``get()`` returns the report.

    Spark deviation (documented): DataFrames are unordered, so the
    reference's positional indexes are replaced by values of an
    explicit ``id_col`` (config key "id_col", required). The per-check
    id list is collected under a hard cap (default 10_000, config key
    "max_collected") with a loud error beyond it — a known-anomaly list
    larger than that belongs in a DataFrame, not a driver dict
    (use ``failing_rows`` for the distributed path)."""

    DEFAULT_MAX_COLLECTED = 10_000

    def __init__(self) -> None:
        self.config: dict | None = None
        self.validation_run: bool = False
        self.validation_report: dict = {}

    def validate(self, data: DataFrame, config: dict) -> None:
        if not config:
            raise ValueError("Config is required")
        known = config.get("known_anomaly_validation", {})
        id_col = config.get("id_col")
        if id_col is None:
            raise ValueError(
                "Spark DataFrames are unordered: pass config['id_col'] "
                "naming a stable row identifier (the reference's "
                "positional indexes have no distributed meaning)")
        cap = int(config.get("max_collected", self.DEFAULT_MAX_COLLECTED))
        for col, checks in known.items():
            if len(checks) < 1:
                raise Warning(
                    f"Pass at a minimum one value for a specified column "
                    f"-- not both for {col}")
        self.config = config
        self.validation_report = {}
        for col, checks in known.items():
            self.validation_report[col] = {}
            for sub_key, sub_value in checks.items():
                if sub_key not in ("range", "list"):
                    raise TypeError("Range and list only acceptable key values.")
                if sub_key == "range":
                    pred = ((F.col(col) >= F.lit(sub_value["start"]))
                            & (F.col(col) <= F.lit(sub_value["end"])))
                else:
                    pred = F.col(col).isin(list(sub_value))
                rows = (data.where(pred).select(id_col)
                        .limit(cap + 1).collect())
                if len(rows) > cap:
                    raise ValueError(
                        f"Validator: more than {cap} matching rows for "
                        f"{col}/{sub_key}; raise config['max_collected'] "
                        f"or use validators.failing_rows for a "
                        f"distributed result")
                self.validation_report[col][sub_key] = sorted(
                    r[id_col] for r in rows)
        self.validation_run = True

    def get(self) -> dict:
        if self.validation_run:
            return self.validation_report
        raise Warning(
            "Precondition for get method not met. Must validate data "
            "prior to getting results.")


def fd_check(df: DataFrame, pairs: list[tuple[str, str]],
             round_digits: int = 6) -> DataFrame:
    """(determinant, dependent, n, n_groups, violating_groups, g3_error,
    fd_holds): approximate functional-dependency check for each ordered
    column pair — does A determine B? ``g3_error`` is the classic g₃
    measure (Kivinen & Mannila; TANE): the minimum fraction of rows to
    delete for A → B to hold exactly (1 − Σ_a max_b count(a,b) / n).
    fd_holds = (g3_error == 0). NULLs compare as values (a NULL
    determinant group is a group; the pragmatic profiler convention).

    Scale shape per pair: one groupBy(A, B) → one groupBy(A) max/count
    — both shuffles keyed on the determinant (its cardinality is the
    state), then a 1-row fold. Pairs run as a union of independent
    branches; Catalyst schedules the scans concurrently."""
    outs = []
    for det, dep in pairs:
        ab = (df.groupBy(
                F.coalesce(F.col(det).cast("string"), F.lit("\x00null"))
                .alias("a"),
                F.coalesce(F.col(dep).cast("string"), F.lit("\x00null"))
                .alias("b"))
              .agg(F.count(F.lit(1)).alias("c")))
        per_a = ab.groupBy("a").agg(
            F.sum("c").alias("na"),
            F.max("c").alias("keep"),
            F.count(F.lit(1)).alias("kb"))
        outs.append(per_a.agg(
            F.lit(det).alias("determinant"),
            F.lit(dep).alias("dependent"),
            F.sum("na").alias("n"),
            F.count(F.lit(1)).alias("n_groups"),
            F.sum(F.when(F.col("kb") > 1, 1).otherwise(0))
             .alias("violating_groups"),
            F.round(F.lit(1.0) - F.sum("keep").cast("double")
                    / F.sum("na"), round_digits).alias("g3_error"),
            (F.max("kb") <= 1).alias("fd_holds")))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


def oracle_fd_check_sql(table: str, pairs: list[tuple[str, str]],
                        round_digits: int = 6) -> str:
    selects = []
    for det, dep in pairs:
        a = f"COALESCE(CAST({det} AS VARCHAR), chr(0) || 'null')"
        b = f"COALESCE(CAST({dep} AS VARCHAR), chr(0) || 'null')"
        selects.append(f"""
SELECT '{det}' AS determinant, '{dep}' AS dependent,
       CAST(SUM(na) AS BIGINT) AS n,
       COUNT(*) AS n_groups,
       CAST(SUM(CASE WHEN kb > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS violating_groups,
       ROUND(1.0 - CAST(SUM(keep) AS DOUBLE) / SUM(na), {round_digits})
         AS g3_error,
       MAX(kb) <= 1 AS fd_holds
FROM (
  SELECT a, SUM(c) AS na, MAX(c) AS keep, COUNT(*) AS kb
  FROM (
    SELECT {a} AS a, {b} AS b, COUNT(*) AS c
    FROM {table} GROUP BY 1, 2
  ) GROUP BY a
)""")
    return "\nUNION ALL\n".join(selects)


def inclusion_profile(df_a: DataFrame, cols_a: list[str],
                      df_b: DataFrame, cols_b: list[str],
                      round_digits: int = 6) -> DataFrame:
    """(col_a, col_b, distinct_a, distinct_b, intersection, containment):
    unary inclusion-dependency discovery (SPIDER/SINDY-class) — for each
    column pair across two tables, what fraction of A's distinct values
    appear in B (containment = |A∩B| / |A|). containment 1.0 is a
    foreign-key candidate; this is the join-key discovery primitive a
    profiler runs before anyone writes the first JOIN. Values compare as
    strings (cross-type FK candidates — int id vs varchar id — are
    exactly the case worth finding); NULL is not a value.

    Scale shape: each side melts to a DISTINCT (column, value) frame —
    one shuffle per side, sized by Σ distinct values, NOT rows. The
    value-keyed equi-join then moves only distinct values, and the
    k_a×k_b result folds from a groupBy over the join output. No
    pairwise loops, no per-pair scans."""
    def melt(df, cols, side):
        m = None
        for c in cols:
            part = (df.where(F.col(c).isNotNull())
                    .select(F.lit(c).alias(f"col_{side}"),
                            F.col(c).cast("string").alias("v"))
                    .distinct())
            m = part if m is None else m.unionAll(part)
        return m
    ma, mb = melt(df_a, cols_a, "a"), melt(df_b, cols_b, "b")
    da = ma.groupBy("col_a").agg(F.count(F.lit(1)).alias("distinct_a"))
    db = mb.groupBy("col_b").agg(F.count(F.lit(1)).alias("distinct_b"))
    inter = (ma.join(mb, "v")
             .groupBy("col_a", "col_b")
             .agg(F.count(F.lit(1)).alias("intersection")))
    grid = da.crossJoin(db)
    return (grid.join(inter, ["col_a", "col_b"], "left")
            .select("col_a", "col_b", "distinct_a", "distinct_b",
                    F.coalesce("intersection", F.lit(0))
                     .alias("intersection"),
                    F.round(F.coalesce("intersection", F.lit(0))
                            .cast("double") / F.col("distinct_a"),
                            round_digits).alias("containment")))


def oracle_inclusion_sql(table_a: str, cols_a: list[str],
                         table_b: str, cols_b: list[str],
                         round_digits: int = 6) -> str:
    def melt(table, cols, side):
        return "\nUNION ALL\n".join(
            f"SELECT DISTINCT '{c}' AS col_{side}, CAST({c} AS VARCHAR)"
            f" AS v FROM {table} WHERE {c} IS NOT NULL" for c in cols)
    return f"""
WITH ma AS ({melt(table_a, cols_a, 'a')}),
mb AS ({melt(table_b, cols_b, 'b')}),
da AS (SELECT col_a, COUNT(*) AS distinct_a FROM ma GROUP BY 1),
db AS (SELECT col_b, COUNT(*) AS distinct_b FROM mb GROUP BY 1),
inter AS (
  SELECT col_a, col_b, COUNT(*) AS intersection
  FROM ma JOIN mb USING (v) GROUP BY 1, 2
)
SELECT da.col_a, db.col_b,
       CAST(da.distinct_a AS BIGINT) AS distinct_a,
       CAST(db.distinct_b AS BIGINT) AS distinct_b,
       CAST(COALESCE(i.intersection, 0) AS BIGINT) AS intersection,
       ROUND(CAST(COALESCE(i.intersection, 0) AS DOUBLE)
             / da.distinct_a, {round_digits}) AS containment
FROM da CROSS JOIN db
LEFT JOIN inter i ON i.col_a = da.col_a AND i.col_b = db.col_b
"""


def woe_iv(df: "DataFrame", feature_col: str, label_col: str,
           round_digits: int = 6) -> "DataFrame":
    """(category, n, n_pos, n_neg, woe, iv_contrib): weight-of-evidence
    encoding + information-value contribution of a categorical feature
    against a binary outcome — the classic credit-scoring / feature-
    screening measure (IV = Σ contribs; < 0.02 useless, > 0.5 suspect
    leakage). 0.5-Laplace smoothing on BOTH class shares keeps WoE
    finite for pure categories: ps = (n_pos + 0.5) / (P + 0.5k),
    ns likewise, woe = ln(ps/ns), contrib = (ps − ns)·woe. NULL feature
    values are their own '(null)' category (missingness is predictive);
    rows with NULL label drop.

    Plan: ONE groupBy(category) of integer counts + a broadcast 1-row
    totals join — scan-bound at any scale; every division is mirrored
    verbatim in the oracle."""
    from pyspark.sql import functions as F

    from dataprofiler_spark.functions.rounding import duckdb_round

    y = F.col(label_col).cast("boolean")
    cat = F.coalesce(F.col(feature_col).cast("string"), F.lit("(null)"))
    base = (df.where(y.isNotNull())
            .select(cat.alias("category"), y.alias("y")))
    counts = base.groupBy("category").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("y").cast("long")).alias("n_pos"))
    tot = counts.agg(F.sum("n_pos").alias("tot_pos"),
                     F.sum(F.col("n") - F.col("n_pos")).alias("tot_neg"),
                     F.count(F.lit(1)).alias("k"))
    j = counts.crossJoin(F.broadcast(tot))
    ps = ((F.col("n_pos").cast("double") + 0.5)
          / (F.col("tot_pos").cast("double") + 0.5 * F.col("k")))
    ns = (((F.col("n") - F.col("n_pos")).cast("double") + 0.5)
          / (F.col("tot_neg").cast("double") + 0.5 * F.col("k")))
    woe = F.log(ps / ns)
    return j.select(
        "category", "n", "n_pos",
        (F.col("n") - F.col("n_pos")).alias("n_neg"),
        duckdb_round(woe, round_digits).alias("woe"),
        duckdb_round((ps - ns) * woe, round_digits).alias("iv_contrib"))


def oracle_woe_iv_sql(table: str, feature_expr: str, label_expr: str,
                      round_digits: int = 6) -> str:
    return f"""
WITH base AS (
  SELECT COALESCE(CAST({feature_expr} AS VARCHAR), '(null)') AS category,
         CAST({label_expr} AS BOOLEAN) AS y
  FROM {table}
  WHERE ({label_expr}) IS NOT NULL
),
counts AS (
  SELECT category, COUNT(*) AS n,
         SUM(CASE WHEN y THEN 1 ELSE 0 END) AS n_pos
  FROM base GROUP BY 1
),
tot AS (SELECT SUM(n_pos) AS tot_pos, SUM(n - n_pos) AS tot_neg,
               COUNT(*) AS k
        FROM counts)
SELECT category, CAST(n AS BIGINT) AS n, CAST(n_pos AS BIGINT) AS n_pos,
       CAST(n - n_pos AS BIGINT) AS n_neg,
       ROUND(LN(((CAST(n_pos AS DOUBLE) + 0.5)
                 / (CAST(tot_pos AS DOUBLE) + 0.5 * k))
                / ((CAST(n - n_pos AS DOUBLE) + 0.5)
                   / (CAST(tot_neg AS DOUBLE) + 0.5 * k))), {round_digits})
         AS woe,
       ROUND((((CAST(n_pos AS DOUBLE) + 0.5)
               / (CAST(tot_pos AS DOUBLE) + 0.5 * k))
              - ((CAST(n - n_pos AS DOUBLE) + 0.5)
                 / (CAST(tot_neg AS DOUBLE) + 0.5 * k)))
             * LN(((CAST(n_pos AS DOUBLE) + 0.5)
                   / (CAST(tot_pos AS DOUBLE) + 0.5 * k))
                  / ((CAST(n - n_pos AS DOUBLE) + 0.5)
                     / (CAST(tot_neg AS DOUBLE) + 0.5 * k))), {round_digits})
         AS iv_contrib
FROM counts CROSS JOIN tot
"""


def roc_auc(df: "DataFrame", score_col: str, label_col: str,
            round_digits: int = 6) -> "DataFrame":
    """One-row (n, n_pos, n_neg, auc): EXACT ROC AUC of a score against
    a binary label — the Mann-Whitney U formulation with average ranks
    on ties (sklearn.roc_auc_score semantics), the one number a
    quality-classifier gate is tuned by. Rows with NULL score or label
    drop; a single-class input yields auc NULL.

    Exactness: from the score counts-CDF, the average rank of a tied
    score group is (c_start + 1 + c_end)/2, so
    2·Σ ranks_pos = Σ_groups pos_g·(c_start + c_end + 1) — an INTEGER.
    auc = (2·Σranks_pos − n_pos(n_pos+1)) / (2·n_pos·n_neg): all
    integer arithmetic until one final division, mirrored verbatim in
    the oracle. Same bounded-state plan as every CDF operator (groupBy
    score + one spillable ordered window)."""
    from dataprofiler_spark.functions.rounding import duckdb_round
    from dataprofiler_spark.operators.histogram import counts_cdf

    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("boolean")
    base = (df.where(s.isNotNull() & y.isNotNull())
            .select(s.alias("s"), y.alias("y")))
    vc = base.groupBy("s").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("y").cast("long")).alias("pos"))
    # parallel prefix-sum CDF (r12, guide §2.5) — the previous global
    # ordered window ranked every distinct score on one task
    cdf = counts_cdf(vc, val_col="s")
    d = "decimal(38,0)"
    agg = cdf.drop("n").agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("n"),
        F.coalesce(F.sum("pos"), F.lit(0)).cast("long").alias("n_pos"),
        F.coalesce(F.sum(
            (F.col("pos").cast(d)
             * (F.col("c_start") + F.col("c_end") + 1)).cast(d)),
            F.lit(0).cast(d)).alias("r2"))
    n_pos = F.col("n_pos")
    n_neg = (F.col("n") - n_pos).alias("n_neg")
    num = (F.col("r2") - n_pos.cast(d) * (n_pos + 1)).cast("double")
    den = (2 * n_pos.cast(d) * (F.col("n") - n_pos)).cast("double")
    return register_persisted(agg.select(
        "n", "n_pos", n_neg,
        duckdb_round(F.when(den > 0, num / den),
                     round_digits).alias("auc")), *cdf._dps_persisted)


def oracle_roc_auc_sql(table: str, score_expr: str, label_expr: str,
                       round_digits: int = 6) -> str:
    return f"""
WITH base AS (
  SELECT CAST({score_expr} AS DOUBLE) AS s,
         CAST({label_expr} AS BOOLEAN) AS y
  FROM {table}
  WHERE ({score_expr}) IS NOT NULL AND ({label_expr}) IS NOT NULL
),
vc AS (
  SELECT s, COUNT(*) AS cnt,
         SUM(CASE WHEN y THEN 1 ELSE 0 END) AS pos
  FROM base GROUP BY 1
),
cdf AS (
  SELECT s, cnt, pos,
         SUM(cnt) OVER (ORDER BY s) AS c_end,
         SUM(cnt) OVER (ORDER BY s) - cnt AS c_start
  FROM vc
),
agg AS (
  SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS n,
         CAST(COALESCE(SUM(pos), 0) AS BIGINT) AS n_pos,
         COALESCE(SUM(CAST(CAST(pos AS DECIMAL(38,0))
                           * (c_start + c_end + 1) AS DECIMAL(38,0))),
                  0) AS r2
  FROM cdf
)
SELECT n, n_pos, CAST(n - n_pos AS BIGINT) AS n_neg,
       ROUND(CASE WHEN CAST(2 * CAST(n_pos AS DECIMAL(38,0))
                            * (n - n_pos) AS DOUBLE) > 0 THEN
         CAST(r2 - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1) AS DOUBLE)
         / CAST(2 * CAST(n_pos AS DECIMAL(38,0)) * (n - n_pos)
                AS DOUBLE) END, {round_digits}) AS auc
FROM agg
"""


def calibration_curve(df: "DataFrame", score_col: str, label_col: str,
                      n_bins: int = 10,
                      round_digits: int = 6) -> "DataFrame":
    """(bin, n, n_pos, mean_score, pos_rate): equal-width reliability
    diagram of a [0, 1] score against a binary label — bin b holds
    scores in [b/n_bins, (b+1)/n_bins) with the top edge closed
    (min(⌊s·n_bins⌋, n_bins−1), the sklearn 'uniform' strategy). A
    calibrated classifier tracks pos_rate ≈ mean_score per bin. Rows
    with NULL score/label drop; empty bins are absent (no dense grid —
    the curve reader treats absence as no evidence, matching sklearn).

    Plan: one map-side bin expression + ONE groupBy(bin) — scan-bound;
    mean_score sums 6-dp-rounded decimals (order-independent)."""
    from pyspark.sql import functions as F

    from dataprofiler_spark.functions.rounding import duckdb_round

    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("boolean")
    base = (df.where(s.isNotNull() & y.isNotNull())
            .select(s.alias("s"), y.alias("y")))
    b = F.least(F.floor(F.col("s") * n_bins).cast("int"),
                F.lit(n_bins - 1))
    out = (base.groupBy(b.alias("bin"))
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.col("y").cast("long")).alias("n_pos"),
                F.sum(F.round(F.col("s"), 6).cast("decimal(38,6)"))
                .alias("__ss")))
    return out.select(
        "bin", "n", "n_pos",
        duckdb_round(F.col("__ss").cast("double") / F.col("n"),
                     round_digits).alias("mean_score"),
        duckdb_round(F.col("n_pos").cast("double") / F.col("n"),
                     round_digits).alias("pos_rate"))


def oracle_calibration_curve_sql(table: str, score_expr: str,
                                 label_expr: str, n_bins: int = 10,
                                 round_digits: int = 6) -> str:
    return f"""
WITH base AS (
  SELECT CAST({score_expr} AS DOUBLE) AS s,
         CAST({label_expr} AS BOOLEAN) AS y
  FROM {table}
  WHERE ({score_expr}) IS NOT NULL AND ({label_expr}) IS NOT NULL
),
binned AS (
  SELECT LEAST(CAST(FLOOR(s * {n_bins}) AS INT), {n_bins - 1}) AS bin,
         s, y
  FROM base
)
SELECT bin, COUNT(*) AS n,
       CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       ROUND(CAST(SUM(CAST(ROUND(s, 6) AS DECIMAL(38,6))) AS DOUBLE)
             / COUNT(*), {round_digits}) AS mean_score,
       ROUND(CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), {round_digits}) AS pos_rate
FROM binned GROUP BY 1
"""


def iv_summary(df: "DataFrame", feature_cols: list[str], label_col: str,
               round_digits: int = 6) -> "DataFrame":
    """(feature, k, iv): TOTAL information value per candidate feature
    against one binary outcome — the ranking view of ``woe_iv`` (which
    gives the per-category breakdown for one feature). Same 0.5-smoothed
    shares; iv = Σ_categories (ps − ns)·ln(ps/ns), folded
    round-then-decimal (9 dp) so the sum is partition-order-independent.

    Plan: melt features map-side → ONE groupBy(feature, category) →
    per-feature totals joined back broadcast → one tiny fold. One scan
    at any feature count."""
    from pyspark.sql import functions as F

    from dataprofiler_spark.functions.rounding import duckdb_round

    y = F.col(label_col).cast("boolean")
    melt = [F.struct(F.lit(c).alias("feature"),
                     F.coalesce(F.col(c).cast("string"),
                                F.lit("(null)")).alias("category"))
            for c in feature_cols]
    base = (df.where(y.isNotNull())
            .select(F.explode(F.array(*melt)).alias("s"),
                    y.alias("y"))
            .select("s.feature", "s.category", "y"))
    counts = base.groupBy("feature", "category").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("y").cast("long")).alias("n_pos"))
    tot = counts.groupBy("feature").agg(
        F.sum("n_pos").alias("tot_pos"),
        F.sum(F.col("n") - F.col("n_pos")).alias("tot_neg"),
        F.count(F.lit(1)).alias("k"))
    j = counts.join(F.broadcast(tot), "feature")
    ps = ((F.col("n_pos").cast("double") + 0.5)
          / (F.col("tot_pos").cast("double") + 0.5 * F.col("k")))
    ns = (((F.col("n") - F.col("n_pos")).cast("double") + 0.5)
          / (F.col("tot_neg").cast("double") + 0.5 * F.col("k")))
    term = (ps - ns) * F.log(ps / ns)
    return (j.groupBy("feature")
            .agg(F.max("k").alias("k"),
                 duckdb_round(
                     F.sum(F.round(term, 9).cast("decimal(38,9)"))
                     .cast("double"), round_digits).alias("iv")))


def oracle_iv_summary_sql(table: str, feature_exprs: dict[str, str],
                          label_expr: str,
                          round_digits: int = 6) -> str:
    melts = "\nUNION ALL\n".join(
        f"SELECT '{name}' AS feature,"
        f" COALESCE(CAST({expr} AS VARCHAR), '(null)') AS category,"
        f" CAST({label_expr} AS BOOLEAN) AS y"
        f" FROM {table} WHERE ({label_expr}) IS NOT NULL"
        for name, expr in feature_exprs.items())
    ps = ("((CAST(n_pos AS DOUBLE) + 0.5)"
          " / (CAST(tot_pos AS DOUBLE) + 0.5 * k))")
    ns = ("((CAST(n - n_pos AS DOUBLE) + 0.5)"
          " / (CAST(tot_neg AS DOUBLE) + 0.5 * k))")
    return f"""
WITH base AS ({melts}),
counts AS (
  SELECT feature, category, COUNT(*) AS n,
         SUM(CASE WHEN y THEN 1 ELSE 0 END) AS n_pos
  FROM base GROUP BY 1, 2
),
tot AS (
  SELECT feature, SUM(n_pos) AS tot_pos, SUM(n - n_pos) AS tot_neg,
         COUNT(*) AS k
  FROM counts GROUP BY 1
)
SELECT feature, CAST(MAX(k) AS BIGINT) AS k,
       ROUND(CAST(SUM(CAST(ROUND(({ps} - {ns}) * LN({ps} / {ns}), 9)
                           AS DECIMAL(38,9))) AS DOUBLE),
             {round_digits}) AS iv
FROM counts JOIN tot USING (feature)
GROUP BY feature
"""
