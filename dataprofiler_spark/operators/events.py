"""Event-stream analytics operators over the events table.

These extend the engine beyond the reference's batch profiling into the
stream-shaped workloads a 100 TB event pipeline needs (the reference's
"streaming" is batch-incremental merge only — SURVEY §2.6):

* gap-based sessionization — the batch formulation of a session window
  (the same semantics Structured Streaming's ``session_window`` gives on
  a live stream); one window sort per user partition, no driver state.
* JSON property extraction — ``get_json_object`` stays JVM-side and
  columnar; at scale prefer materializing hot keys once over re-parsing.
* rolling aggregates — frame-bounded window sums; scaled-integer sums
  keep them engine-exact.

All shuffles key on user_id (sessionization) or a range bucket of the
ordering column (rolling aggregates — the trailing frame crosses bucket
seams via replicated halo rows, so no single-partition global sort ever
runs; see ``rolling_avg``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dataprofiler_spark.operators.numeric import SCALE, scaled
from dataprofiler_spark.session import register_persisted

SESSION_GAP_MINUTES = 30


def sessionize(df: DataFrame, user_col: str = "user_id", ts_col: str = "ts",
               gap_minutes: int = SESSION_GAP_MINUTES) -> DataFrame:
    """(user_id, session_id, n_events, start_us, end_us): a new session
    starts when the gap since the user's previous event exceeds
    ``gap_minutes``. session_id = running count of session starts per
    user (1-based) — deterministic, engine-portable integers."""
    gap_us = gap_minutes * 60 * 1_000_000
    us = F.unix_micros(F.col(ts_col))
    w = Window.partitionBy(user_col).orderBy(us)
    prev = F.lag(us).over(w)
    new_session = F.when(prev.isNull() | (us - prev > gap_us), 1).otherwise(0)
    with_sid = df.select(
        F.col(user_col).alias("user_id"), us.alias("us"),
        F.sum(new_session).over(
            Window.partitionBy(user_col).orderBy(us)
            .rowsBetween(Window.unboundedPreceding, 0)).alias("session_id"),
    )
    return (with_sid.groupBy("user_id", "session_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min("us").alias("start_us"),
                 F.max("us").alias("end_us")))


def oracle_sessionize_sql(table: str, user_col: str = "user_id",
                          ts_col: str = "ts",
                          gap_minutes: int = SESSION_GAP_MINUTES) -> str:
    gap_us = gap_minutes * 60 * 1_000_000
    return f"""
WITH e AS (
  SELECT {user_col} AS user_id, epoch_us({ts_col}) AS us FROM {table}
), flagged AS (
  SELECT user_id, us,
         CASE WHEN LAG(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
                   OR us - LAG(us) OVER (PARTITION BY user_id ORDER BY us) > {gap_us}
              THEN 1 ELSE 0 END AS new_session
  FROM e
), sid AS (
  SELECT user_id, us,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY us
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
       MIN(us) AS start_us, MAX(us) AS end_us
FROM sid GROUP BY user_id, session_id
"""


def json_props_summary(df: DataFrame, props_col: str = "props",
                       key: str = "k") -> DataFrame:
    """(n, n_with_key, sum_k, min_k, max_k): typed extraction from a JSON
    string column — integer sums, engine-exact."""
    v = F.get_json_object(F.col(props_col), f"$.{key}").cast("long")
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(v).alias("n_with_key"),
        F.sum(v).alias("sum_k"),
        F.min(v).alias("min_k"),
        F.max(v).alias("max_k"),
    )


def oracle_json_props_sql(table: str, props_col: str = "props",
                          key: str = "k") -> str:
    # json_valid guard: Spark's get_json_object returns NULL on
    # malformed JSON where DuckDB's json_extract_string raises
    v = (f"CAST(CASE WHEN json_valid({props_col}) THEN "
         f"json_extract_string({props_col}, '$.{key}') END AS BIGINT)")
    return f"""
SELECT COUNT(*) AS n, COUNT({v}) AS n_with_key,
       CAST(SUM({v}) AS BIGINT) AS sum_k, MIN({v}) AS min_k, MAX({v}) AS max_k
FROM {table}
"""


def rolling_avg(df: DataFrame, order_col: str = "event_id",
                value_col: str = "value", frame: int = 100,
                round_digits: int = 6, num_buckets: int = 32) -> DataFrame:
    """(event_id, roll_sum, roll_avg) over the trailing ``frame`` rows
    ordered by ``order_col``. Scaled-integer frame sums → exact.

    Distributed plan (no global single-partition window): rows are
    range-bucketed on ``order_col`` (monotone ``width_bucket``), the
    trailing frame-1 rows of each bucket are *replicated* into the next
    non-empty bucket as a halo, and the frame window runs partitioned by
    bucket — each own row sees exactly its global trailing frame. Halo
    rows are dropped from the output. Precondition: every non-final
    bucket holds ≥ frame-1 rows; a cheap per-bucket count (B rows to the
    driver) verifies it and falls back to fewer buckets (ultimately the
    single-bucket global window) when the data is too small — correctness
    never depends on the bucket layout."""
    xi = scaled(value_col).cast("decimal(38,0)")
    base = df.select(F.col(order_col).alias("oid"), xi.alias("xi"))

    db = F.lit(0)  # dense bucket id; lit(0) = single bucket fallback
    max_db = 0
    row = base.agg(F.min(F.col("oid").cast("double")).alias("lo"),
                   F.max(F.col("oid").cast("double")).alias("hi"),
                   F.count(F.lit(1)).alias("n_all"),
                   F.count("oid").alias("n_oid")).first()
    if row["n_oid"] != row["n_all"]:
        # A NULL order key has no place in a trailing-frame order: the
        # bucket map would crash (None vs int sort) and engines order
        # NULLs differently — refuse loudly instead of diverging.
        raise ValueError(
            f"rolling_avg: {row['n_all'] - row['n_oid']} NULL values in "
            f"order column {order_col!r}; filter them (or fill a "
            "deterministic key) before windowing")
    lo, hi = row["lo"], row["hi"]
    if lo is not None and lo != hi and num_buckets > 1:
        cand = F.width_bucket(F.col("oid").cast("double"), F.lit(lo),
                              F.lit(hi), F.lit(num_buckets))
        counts = sorted(
            (r["b"], r["n"]) for r in
            base.groupBy(cand.alias("b")).agg(
                F.count(F.lit(1)).alias("n")).collect())
        # every non-empty bucket except the last must fill the next halo
        if counts and all(n >= frame - 1 for _, n in counts[:-1]):
            # dense-rank buckets so the halo target is the next non-empty
            dense = {b: i for i, (b, _) in enumerate(counts)}
            db = F.create_map(
                *[F.lit(x) for kv in dense.items() for x in kv])[cand]
            max_db = len(dense) - 1

    own = base.select("oid", "xi", db.alias("db"),
                      F.lit(False).alias("is_halo"))
    w_tail = Window.partitionBy("db").orderBy(F.desc("oid"))
    halo = (own.withColumn("rn", F.row_number().over(w_tail))
            .where((F.col("rn") <= frame - 1) & (F.col("db") < max_db))
            .select("oid", "xi", (F.col("db") + 1).alias("db"),
                    F.lit(True).alias("is_halo")))
    w = Window.partitionBy("db").orderBy("oid").rowsBetween(-(frame - 1), 0)
    s = F.sum("xi").over(w)
    n = F.count(F.lit(1)).over(w)
    return (own.unionByName(halo)
            .withColumn("roll_sum", F.round(s.cast("double") / SCALE,
                                            round_digits))
            .withColumn("roll_avg", F.round(s.cast("double") / n / SCALE,
                                            round_digits))
            .where(~F.col("is_halo"))
            .select(F.col("oid").alias("event_id"), "roll_sum", "roll_avg"))


def oracle_rolling_avg_sql(table: str, order_col: str = "event_id",
                           value_col: str = "value", frame: int = 100,
                           round_digits: int = 6) -> str:
    xi = (f"CAST(CAST(ROUND(CAST({value_col} AS DOUBLE) * 1000, 0)"
          f" AS DECIMAL(19,0)) AS DECIMAL(38,0))")
    win = f"OVER (ORDER BY {order_col} ROWS BETWEEN {frame - 1} PRECEDING AND CURRENT ROW)"
    return f"""
SELECT {order_col} AS event_id,
       ROUND(CAST(SUM({xi}) {win} AS DOUBLE) / 1000, {round_digits}) AS roll_sum,
       ROUND(CAST(SUM({xi}) {win} AS DOUBLE) / COUNT(*) {win} / 1000, {round_digits}) AS roll_avg
FROM {table}
"""


def funnel(df: DataFrame, steps: list[str], user_col: str = "user_id",
           type_col: str = "event_type", ts_col: str = "ts",
           within_seconds: int | None = None,
           max_gap_seconds: list[int | None] | None = None,
           round_digits: int = 6) -> DataFrame:
    """Ordered-sequence funnel: a user converts at step i when their
    FIRST qualifying step-i event is strictly after their first
    qualifying step-(i-1) event — and, when ``within_seconds`` is set,
    no more than that long after it (the product-analytics "conversion
    window"). ``max_gap_seconds`` generalizes that to per-transition
    bounds: entry j bounds the gap between step j and step j+1, with an
    explicit None meaning unbounded. Transitions BEYOND the list's
    length fall back to ``within_seconds`` — a short list tightens the
    early transitions without silently unbounding the rest.

    Output per step: (step, event_type, n_users, pct_of_first,
    pct_of_prev).

    Scale shape: every step's first-qualifying time is a windowed
    conditional MIN partitioned by user — all windows share the
    partitioning, so Catalyst plans ONE Exchange on user_id and
    evaluates the whole step chain in a single stage, then one global
    aggregate. No joins, no per-step passes."""
    w = Window.partitionBy("u")
    # cast handles TIMESTAMP_NTZ sources; epoch micros is monotone, so
    # ordering/gap semantics are unchanged
    out = df.select(F.col(user_col).alias("u"),
                    F.col(type_col).alias("et"),
                    F.unix_micros(F.col(ts_col).cast("timestamp")).alias("t"))
    prev = None
    for i, s in enumerate(steps):
        cond = F.col("et") == s
        if prev is not None:
            cond = cond & (F.col("t") > F.col(prev))
            gap = within_seconds
            if max_gap_seconds is not None and i - 1 < len(max_gap_seconds):
                gap = max_gap_seconds[i - 1]
            if gap is not None:
                cond = cond & (
                    F.col("t") <= F.col(prev) + gap * 1_000_000)
        out = out.withColumn(f"t{i}",
                             F.min(F.when(cond, F.col("t"))).over(w))
        prev = f"t{i}"
    aggs = [F.count_distinct(F.when(F.col(f"t{i}").isNotNull(), F.col("u")))
            .alias(f"n{i}") for i in range(len(steps))]
    row = out.agg(*aggs)
    structs = []
    for i, s in enumerate(steps):
        n_i = F.col(f"n{i}").cast("long")
        n_0 = F.col("n0")
        n_prev = F.col(f"n{max(i - 1, 0)}")
        structs.append(F.struct(
            F.lit(i + 1).cast("int").alias("step"),
            F.lit(s).alias("event_type"),
            n_i.alias("n_users"),
            F.round(F.when(n_0 > 0, n_i.cast("double") / n_0)
                     .otherwise(F.lit(0.0)), round_digits)
             .alias("pct_of_first"),
            F.round(F.when(n_prev > 0, n_i.cast("double") / n_prev)
                     .otherwise(F.lit(0.0)), round_digits)
             .alias("pct_of_prev"),
        ))
    return row.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def oracle_funnel_sql(table: str, steps: list[str],
                      user_col: str = "user_id",
                      type_col: str = "event_type", ts_col: str = "ts",
                      within_seconds: int | None = None,
                      max_gap_seconds: list[int | None] | None = None,
                      round_digits: int = 6) -> str:
    win = f"OVER (PARTITION BY {user_col})"
    t_cols = []
    for i, s in enumerate(steps):
        cond = f"{type_col} = '{s}'"
        if i > 0:
            cond += f" AND us > t{i - 1}"
            gap = within_seconds
            if max_gap_seconds is not None and i - 1 < len(max_gap_seconds):
                gap = max_gap_seconds[i - 1]
            if gap is not None:
                cond += f" AND us <= t{i - 1} + {gap * 1_000_000}"
        t_cols.append(f"MIN(CASE WHEN {cond} THEN us END) {win} AS t{i}")
    # nested selects: each step's window may reference the previous one
    inner = (f"SELECT {user_col}, {type_col}, "
             f"epoch_us({ts_col}) AS us FROM {table}")
    for i, t in enumerate(t_cols):
        inner = f"SELECT *, {t} FROM ({inner})"
    counts = ", ".join(
        f"COUNT(DISTINCT CASE WHEN t{i} IS NOT NULL THEN {user_col} END) AS n{i}"
        for i in range(len(steps)))
    selects = []
    for i, s in enumerate(steps):
        prev = f"n{max(i - 1, 0)}"
        selects.append(f"""
SELECT {i + 1} AS step, '{s}' AS event_type, CAST(n{i} AS BIGINT) AS n_users,
       ROUND(CASE WHEN n0 > 0 THEN CAST(n{i} AS DOUBLE) / n0 ELSE 0.0 END,
             {round_digits}) AS pct_of_first,
       ROUND(CASE WHEN {prev} > 0 THEN CAST(n{i} AS DOUBLE) / {prev}
             ELSE 0.0 END, {round_digits}) AS pct_of_prev
FROM counts""")
    return (f"WITH counts AS (SELECT {counts} FROM ({inner}))"
            + "\nUNION ALL".join(selects))


def retention_cohorts(df: DataFrame, user_col: str = "user_id",
                      ts_col: str = "ts", period_days: int = 7,
                      max_offset: int = 8) -> DataFrame:
    """Cohort retention: users grouped by first-activity period; for
    each later period offset, how many were active.

    Output: (cohort_start date, period_offset, n_users).

    Scale shape: first-activity per user is a windowed MIN partitioned
    by user (one Exchange); (cohort, offset, user) distinct + count is
    one more shuffle. Period arithmetic is integer day math — identical
    across engines."""
    w = Window.partitionBy("u")
    day = F.floor(F.unix_timestamp(F.col(ts_col)) / F.lit(86400))
    out = (df.select(F.col(user_col).alias("u"), day.alias("d"))
           .withColumn("d0", F.min("d").over(w))
           .withColumn("cohort_day",
                       (F.floor(F.col("d0") / period_days) * period_days))
           .withColumn("period_offset",
                       F.floor((F.col("d") - F.col("cohort_day"))
                               / period_days).cast("int"))
           .where(F.col("period_offset") < max_offset)
           .select(F.date_format(
                       F.date_from_unix_date((F.col("cohort_day"))
                                             .cast("int")),
                       "yyyy-MM-dd").alias("cohort_start"),
                   "period_offset", "u")
           .distinct())
    return (out.groupBy("cohort_start", "period_offset")
            .agg(F.count(F.lit(1)).alias("n_users")))


def oracle_retention_sql(table: str, user_col: str = "user_id",
                         ts_col: str = "ts", period_days: int = 7,
                         max_offset: int = 8) -> str:
    return f"""
WITH base AS (
  SELECT {user_col} AS u,
         CAST(FLOOR(epoch({ts_col}) / 86400) AS BIGINT) AS d,
         MIN(CAST(FLOOR(epoch({ts_col}) / 86400) AS BIGINT))
           OVER (PARTITION BY {user_col}) AS d0
  FROM {table}
), marked AS (
  SELECT DISTINCT
         strftime(DATE '1970-01-01'
           + CAST(FLOOR(d0 / {period_days}) * {period_days} AS INTEGER),
           '%Y-%m-%d') AS cohort_start,
         CAST(FLOOR((d - FLOOR(d0 / {period_days}) * {period_days})
                    / {period_days}) AS INTEGER) AS period_offset,
         u
  FROM base
)
SELECT cohort_start, period_offset, COUNT(*) AS n_users
FROM marked
WHERE period_offset < {max_offset}
GROUP BY 1, 2
"""


def daily_volume_anomalies(df: DataFrame, ts_col: str = "ts",
                           z: float = 3.5,
                           round_digits: int = 6) -> DataFrame:
    """(day, n_events, robust_z, is_anomaly): per-day event volume with
    a robust (median/MAD) z-score — the feed-health monitor that flags a
    collapsed or duplicated ingest day without being wrecked by the very
    outliers it hunts (a mean/stddev fence moves toward the outage; the
    median doesn't). z uses the standard 0.6745·|x−med|/MAD consistency
    constant (Iglewicz & Hoaglin 1993); the conventional cut is 3.5.
    MAD = 0 (all days identical) yields robust_z NULL and no anomalies.

    Scale shape: ONE groupBy(day) collapses the table to O(days) rows;
    the median/MAD pass runs over that tiny frame via the counts-CDF
    (histogram.cdf_quantiles — no native-quantile interpolation seam;
    see the r7 module note in histogram.py) — nothing row-scale ever
    sorts globally."""
    from dataprofiler_spark.operators.histogram import cdf_quantiles

    days = (df.where(F.col(ts_col).isNotNull())
            .groupBy(F.date_format(ts_col, "yyyy-MM-dd").alias("day"))
            .agg(F.count(F.lit(1)).alias("n_events")))
    mq = cdf_quantiles(days, "n_events", [0.5])
    med = mq.select(F.col("q0").alias("m"))
    j = days.crossJoin(F.broadcast(med))
    dev = F.abs(F.col("n_events").cast("double") - F.col("m"))
    dq = cdf_quantiles(j, dev, [0.5])
    mad = dq.select(F.col("q0").alias("mad")).crossJoin(F.broadcast(med))
    out = days.crossJoin(F.broadcast(mad))
    rz = F.when(F.col("mad") > 0,
                F.round(0.6745 * F.abs(F.col("n_events").cast("double")
                                       - F.col("m")) / F.col("mad"),
                        round_digits))
    return register_persisted(
        out.select("day", "n_events", rz.alias("robust_z"),
                   F.coalesce(rz > z, F.lit(False)).alias("is_anomaly")),
        *mq._dps_persisted, *dq._dps_persisted)


def oracle_daily_volume_anomalies_sql(table: str, ts_col: str = "ts",
                                      z: float = 3.5,
                                      round_digits: int = 6) -> str:
    from dataprofiler_spark.operators.histogram import \
        oracle_cdf_quantiles_cte

    med_cte = oracle_cdf_quantiles_cte("days", "n_events", [0.5])
    return f"""
WITH days AS (
  SELECT strftime({ts_col}, '%Y-%m-%d') AS day, COUNT(*) AS n_events
  FROM {table} WHERE {ts_col} IS NOT NULL GROUP BY 1
),
{med_cte},
med AS (SELECT q0 AS m FROM qs),
vc_mad AS (
  SELECT ABS(CAST(n_events AS DOUBLE) - med.m) AS v, COUNT(*) AS cnt
  FROM days CROSS JOIN med GROUP BY 1
),
cdf_mad AS (
  SELECT v, cnt,
         SUM(cnt) OVER (ORDER BY v) AS c_end,
         SUM(cnt) OVER (ORDER BY v) - cnt AS c_start,
         SUM(cnt) OVER () AS n
  FROM vc_mad
),
madpick AS (
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
  FROM cdf_mad
),
mad AS (
  SELECT CASE WHEN g0 = 0 THEN a0 ELSE a0 + g0 * (b0 - a0) END AS mad,
         med.m AS m
  FROM madpick CROSS JOIN med
)
SELECT day, n_events,
       CASE WHEN mad.mad > 0 THEN
         ROUND(0.6745 * ABS(CAST(n_events AS DOUBLE) - mad.m) / mad.mad,
               {round_digits}) END AS robust_z,
       COALESCE(CASE WHEN mad.mad > 0 THEN
         ROUND(0.6745 * ABS(CAST(n_events AS DOUBLE) - mad.m) / mad.mad,
               {round_digits}) END > {z}, FALSE) AS is_anomaly
FROM days CROSS JOIN mad
"""


def active_users_rollup(df: DataFrame, user_col: str = "user_id",
                        ts_col: str = "ts", window_days: int = 7,
                        round_digits: int = 6) -> DataFrame:
    """(day, dau, wau, stickiness): daily active users, trailing
    ``window_days`` active users, and the DAU/WAU stickiness ratio —
    the standard engagement rollup, exact (no sketch).

    Distributed shape — the explode-into-windows trick: a trailing
    distinct-count can't ride a window function (count DISTINCT over a
    moving frame isn't a window aggregate), so each observed
    (user, day) pair instead EXPLODES into the ``window_days`` window
    anchor days it contributes to (day .. day+w−1), and one
    groupBy(anchor) countDistinct finishes the job. Cost is
    w × |distinct (user, day)| rows — dedup to (user, day) FIRST so the
    factor multiplies the small frame, not the raw event stream. Only
    observed days are reported (a day with zero events has no row —
    the gap IS the signal; rows near the stream head count a partial
    trailing window by construction). NULL users/timestamps are
    excluded."""
    ud = (df.where(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())
          .select(F.col(user_col).alias("u"),
                  F.to_date(ts_col).alias("d"))
          .distinct())
    dau = ud.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    w = (ud.select("u", F.explode(F.sequence(
            F.col("d"), F.date_add(F.col("d"), window_days - 1)))
         .alias("anchor"))
         .groupBy("anchor")
         .agg(F.count_distinct("u").alias("wau")))
    return (dau.join(w, dau.d == w.anchor)
            .select(F.date_format("d", "yyyy-MM-dd").alias("day"),
                    "dau", "wau",
                    F.round(F.col("dau").cast("double") / F.col("wau"),
                            round_digits).alias("stickiness")))


def oracle_active_users_sql(table: str, user_col: str = "user_id",
                            ts_col: str = "ts", window_days: int = 7,
                            round_digits: int = 6) -> str:
    return f"""
WITH ud AS (
  SELECT DISTINCT {user_col} AS u, CAST({ts_col} AS DATE) AS d
  FROM {table}
  WHERE {user_col} IS NOT NULL AND {ts_col} IS NOT NULL
),
dau AS (SELECT d, COUNT(*) AS dau FROM ud GROUP BY d),
w AS (
  SELECT d + CAST(o.o AS INT) AS anchor, u
  FROM ud, UNNEST(range({window_days})) o(o)
),
wau AS (SELECT anchor, COUNT(DISTINCT u) AS wau FROM w GROUP BY anchor)
SELECT strftime(dau.d, '%Y-%m-%d') AS day, dau.dau, wau.wau,
       ROUND(CAST(dau.dau AS DOUBLE) / wau.wau, {round_digits})
         AS stickiness
FROM dau JOIN wau ON wau.anchor = dau.d
"""


def interarrival_stats(df: DataFrame, user_col: str = "user_id",
                       ts_col: str = "ts",
                       round_digits: int = 6) -> DataFrame:
    """One-row corpus summary of per-user inter-event gaps:
    (n_gaps, mean_gap_s, stddev_gap_s, median_gap_s, burstiness) —
    burstiness B = (σ−μ)/(σ+μ) (Goh & Barabási 2008): B → −1 for
    metronome-regular activity (bots), ≈ 0 for Poisson, → +1 for
    heavy-tailed human bursts. The event-stream behavioral signal that
    volume counts can't see.

    Plan: gaps come from a lag window PARTITIONED BY user (scales with
    user cardinality, the natural key — never a global sort); the fold
    is one aggregate of integer-microsecond decimal sums (engine-exact
    mean/σ) + a counts-CDF exact median (histogram.cdf_quantiles —
    bounded state and no native-quantile interpolation seam, unlike
    ``F.percentile`` whose value→count map state is O(distinct gaps),
    effectively unbounded on microsecond gaps at 100 TB)."""
    from pyspark.sql.window import Window

    from dataprofiler_spark.operators.histogram import cdf_quantiles

    w = Window.partitionBy(user_col).orderBy(ts_col)
    gaps = (df.where(F.col(user_col).isNotNull()
                     & F.col(ts_col).isNotNull())
            .select(F.col(user_col),
                    (F.unix_micros(F.col(ts_col))
                     - F.lag(F.unix_micros(F.col(ts_col))).over(w))
                    .alias("g"))
            .where(F.col("g").isNotNull()))
    d = "decimal(38,0)"
    mq = cdf_quantiles(gaps, "g", [0.5])
    med_row = mq.select(F.col("q0").alias("med"))
    agg = gaps.agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum(F.col("g").cast(d)).alias("s1"),
        F.sum((F.col("g").cast(d) * F.col("g")).cast(d)).alias("s2"),
    ).crossJoin(F.broadcast(med_row))
    n = F.col("n_gaps")
    mu = F.col("s1").cast("double") / n / 1e6
    var = ((n * F.col("s2") - F.col("s1") * F.col("s1")).cast("double")
           / n / (n - 1)) / 1e12
    sd = F.sqrt(var)
    burst = F.when((sd + mu) > 0, (sd - mu) / (sd + mu))
    return register_persisted(agg.select(
        "n_gaps",
        F.round(mu, round_digits).alias("mean_gap_s"),
        F.round(F.when(n > 1, sd), round_digits).alias("stddev_gap_s"),
        F.round(F.col("med") / 1e6, round_digits).alias("median_gap_s"),
        F.round(F.when(n > 1, burst), round_digits).alias("burstiness")),
        *mq._dps_persisted)


def oracle_interarrival_sql(table: str, user_col: str = "user_id",
                            ts_col: str = "ts",
                            round_digits: int = 6) -> str:
    from dataprofiler_spark.operators.histogram import \
        oracle_cdf_quantiles_cte

    med_cte = oracle_cdf_quantiles_cte("gaps", "g", [0.5])
    return f"""
WITH gaps AS (
  SELECT CAST(epoch_us({ts_col})
         - LAG(epoch_us({ts_col})) OVER (PARTITION BY {user_col}
                                         ORDER BY {ts_col})
         AS BIGINT) AS g
  FROM {table}
  WHERE {user_col} IS NOT NULL AND {ts_col} IS NOT NULL
),
{med_cte},
agg AS (
  SELECT COUNT(*) AS n,
         SUM(CAST(g AS DECIMAL(38,0))) AS s1,
         SUM(CAST(CAST(g AS DECIMAL(38,0)) * g AS DECIMAL(38,0))) AS s2,
         (SELECT q0 FROM qs) AS med
  FROM gaps WHERE g IS NOT NULL
)
SELECT CAST(n AS BIGINT) AS n_gaps,
       ROUND(CAST(s1 AS DOUBLE) / n / 1e6, {round_digits}) AS mean_gap_s,
       ROUND(CASE WHEN n > 1 THEN
         SQRT(CAST(n * s2 - s1 * s1 AS DOUBLE) / n / (n - 1) / 1e12)
         END, {round_digits}) AS stddev_gap_s,
       ROUND(med / 1e6, {round_digits}) AS median_gap_s,
       ROUND(CASE WHEN n > 1 AND
         (SQRT(CAST(n * s2 - s1 * s1 AS DOUBLE) / n / (n - 1) / 1e12)
          + CAST(s1 AS DOUBLE) / n / 1e6) > 0 THEN
         (SQRT(CAST(n * s2 - s1 * s1 AS DOUBLE) / n / (n - 1) / 1e12)
          - CAST(s1 AS DOUBLE) / n / 1e6)
         / (SQRT(CAST(n * s2 - s1 * s1 AS DOUBLE) / n / (n - 1) / 1e12)
            + CAST(s1 AS DOUBLE) / n / 1e6) END, {round_digits})
         AS burstiness
FROM agg
"""


def markov_transitions(df: DataFrame, user_col: str = "user_id",
                       type_col: str = "event_type",
                       ts_col: str = "ts",
                       round_digits: int = 6) -> DataFrame:
    """(from_type, to_type, n_trans, prob): first-order Markov
    transition matrix over per-user event sequences — P(next | current)
    row-normalized over each from_type's out-degree. The behavioral
    fingerprint funnels can't see: funnels test ONE hypothesized path,
    the transition matrix surfaces every path and its weight (bot
    loops, rage-click cycles, unexpected back-edges). Rows with NULL
    user/type/ts drop; single-event users contribute no transition.

    Determinism under timestamp ties: the sequence orders by
    (ts, type) — two different types at the identical timestamp always
    order lexicographically, identically in both engines; identical
    (ts, type) duplicates are order-insensitive by construction.

    Plan: ONE lag window PARTITIONED BY user (scales with user
    cardinality, never a global sort) → ONE groupBy over the k² type
    pairs → tiny out-degree rollup joined back broadcast."""
    from pyspark.sql.window import Window

    from dataprofiler_spark.functions.rounding import duckdb_round

    w = Window.partitionBy(user_col).orderBy(ts_col, type_col)
    pairs = (df.where(F.col(user_col).isNotNull()
                      & F.col(type_col).isNotNull()
                      & F.col(ts_col).isNotNull())
             .select(F.lag(F.col(type_col)).over(w).alias("from_type"),
                     F.col(type_col).alias("to_type"))
             .where(F.col("from_type").isNotNull()))
    counts = (pairs.groupBy("from_type", "to_type")
              .agg(F.count(F.lit(1)).alias("n_trans")))
    outdeg = counts.groupBy("from_type").agg(
        F.sum("n_trans").alias("__tot"))
    return (counts.join(F.broadcast(outdeg), "from_type")
            .select("from_type", "to_type", "n_trans",
                    duckdb_round(F.col("n_trans").cast("double")
                                 / F.col("__tot"),
                                 round_digits).alias("prob")))


def oracle_markov_transitions_sql(table: str, user_col: str = "user_id",
                                  type_col: str = "event_type",
                                  ts_col: str = "ts",
                                  round_digits: int = 6) -> str:
    return f"""
WITH pairs AS (
  SELECT LAG({type_col}) OVER (PARTITION BY {user_col}
                               ORDER BY {ts_col}, {type_col})
           AS from_type,
         {type_col} AS to_type
  FROM {table}
  WHERE {user_col} IS NOT NULL AND {type_col} IS NOT NULL
    AND {ts_col} IS NOT NULL
),
counts AS (
  SELECT from_type, to_type, COUNT(*) AS n_trans
  FROM pairs WHERE from_type IS NOT NULL GROUP BY 1, 2
),
outdeg AS (SELECT from_type, SUM(n_trans) AS tot FROM counts GROUP BY 1)
SELECT c.from_type, c.to_type, CAST(c.n_trans AS BIGINT) AS n_trans,
       ROUND(CAST(c.n_trans AS DOUBLE) / o.tot, {round_digits}) AS prob
FROM counts c JOIN outdeg o USING (from_type)
"""


def calendar_gaps(df: DataFrame, ts_col: str = "ts",
                  group_col: str | None = None) -> DataFrame:
    """(group, n_days_present, n_days_expected, n_days_missing,
    first_missing_day, last_missing_day): per-group calendar coverage —
    which days between each group's first and last event have ZERO
    events. The ingest-health check a daily rollup hides (a missing day
    simply isn't a row there). group_col None profiles the whole table
    as one '(all)' group; NULL group values report as '(null)'. A gap-
    free group reports 0 missing and NULL first/last day.

    Plan: ONE groupBy(group, day) collapses rows to O(groups × days);
    gaps come from a lag window per group over those day rows (exact
    integer date arithmetic — no floats anywhere); one final
    groupBy(group). Nothing row-scale sorts."""
    g = (F.coalesce(F.col(group_col).cast("string"), F.lit("(null)"))
         if group_col else F.lit("(all)"))
    days = (df.where(F.col(ts_col).isNotNull())
            .groupBy(g.alias("group"),
                     F.to_date(ts_col).alias("day"))
            .agg(F.count(F.lit(1)).alias("__c")))
    from pyspark.sql.window import Window

    w = Window.partitionBy("group").orderBy("day")
    lagged = days.select(
        "group", "day", F.lag("day").over(w).alias("prev"))
    gap = F.col("prev").isNotNull() & (
        F.datediff(F.col("day"), F.col("prev")) > 1)
    out = (lagged.groupBy("group").agg(
        F.count(F.lit(1)).alias("n_days_present"),
        (F.datediff(F.max("day"), F.min("day")) + 1)
        .alias("n_days_expected"),
        F.min(F.when(gap, F.date_add(F.col("prev"), 1)))
        .alias("__first_missing"),
        F.max(F.when(gap, F.date_sub(F.col("day"), 1)))
        .alias("__last_missing")))
    return out.select(
        "group", "n_days_present",
        F.col("n_days_expected").cast("long").alias("n_days_expected"),
        (F.col("n_days_expected") - F.col("n_days_present"))
        .cast("long").alias("n_days_missing"),
        F.date_format("__first_missing", "yyyy-MM-dd")
        .alias("first_missing_day"),
        F.date_format("__last_missing", "yyyy-MM-dd")
        .alias("last_missing_day"))


def oracle_calendar_gaps_sql(table: str, ts_col: str = "ts",
                             group_col: str | None = None) -> str:
    g = (f"COALESCE(CAST({group_col} AS VARCHAR), '(null)')"
         if group_col else "'(all)'")
    return f"""
WITH days AS (
  SELECT {g} AS grp, CAST({ts_col} AS DATE) AS day, COUNT(*) AS c
  FROM {table} WHERE {ts_col} IS NOT NULL GROUP BY 1, 2
),
lagged AS (
  SELECT grp, day,
         LAG(day) OVER (PARTITION BY grp ORDER BY day) AS prev
  FROM days
),
agg AS (
  SELECT grp,
         COUNT(*) AS n_days_present,
         date_diff('day', MIN(day), MAX(day)) + 1 AS n_days_expected,
         MIN(CASE WHEN prev IS NOT NULL
                   AND date_diff('day', prev, day) > 1
                  THEN prev + INTERVAL 1 DAY END) AS first_missing,
         MAX(CASE WHEN prev IS NOT NULL
                   AND date_diff('day', prev, day) > 1
                  THEN day - INTERVAL 1 DAY END) AS last_missing
  FROM lagged GROUP BY 1
)
SELECT grp AS "group",
       CAST(n_days_present AS BIGINT) AS n_days_present,
       CAST(n_days_expected AS BIGINT) AS n_days_expected,
       CAST(n_days_expected - n_days_present AS BIGINT)
         AS n_days_missing,
       strftime(first_missing, '%Y-%m-%d') AS first_missing_day,
       strftime(last_missing, '%Y-%m-%d') AS last_missing_day
FROM agg
"""


def type_cooccurrence(df: DataFrame, user_col: str = "user_id",
                      type_col: str = "event_type",
                      round_digits: int = 6) -> DataFrame:
    """(type_a, type_b, n_users_a, n_users_b, n_users_both, support,
    lift): market-basket pair statistics over per-user event-type sets —
    which behaviors co-occur in the same users beyond chance
    (lift = P(a,b) / (P(a)·P(b)); > 1 means the pair travels together).
    Pairs ordered type_a < type_b; users/types NULL drop; pairs never
    observed together are absent (support 0 carries no evidence).

    Plan: map-side distinct (user, type) via ONE groupBy — the shuffle
    key is the user (uniform) and per-user type sets are bounded by the
    event taxonomy k, so the within-user pair expansion is ≤ k²/2 per
    user — a collect_set + explode of combinations, never a row-level
    self-join. Totals fold from the same distinct frame. NOTE the
    distinct frame's lineage is referenced three times (pair sets,
    per-type counts, user total) and Catalyst does not dedupe common
    subplans — three narrow 2-column scans + three shuffles. At scales
    where that matters, persist the deduplicated (user, type) frame
    once and pass it in pre-distincted."""
    from dataprofiler_spark.functions.rounding import duckdb_round

    ut = (df.where(F.col(user_col).isNotNull()
                   & F.col(type_col).isNotNull())
          .select(F.col(user_col).alias("u"),
                  F.col(type_col).alias("t"))
          .distinct())
    n_users = ut.agg(F.count_distinct("u").alias("n_users"))
    solo = ut.groupBy("t").agg(F.count(F.lit(1)).alias("n_t"))
    # per-user ordered type array -> all i<j pairs, map-side
    sets = ut.groupBy("u").agg(F.sort_array(F.collect_set("t"))
                               .alias("ts"))
    # Single-type users contribute no pairs — and must be filtered
    # BEFORE the expansion: sequence(1, size-1) on size==1 is
    # sequence(1, 0), which Spark evaluates as a DESCENDING [1, 0] and
    # the element_at(ts, 2) lookup throws INVALID_ARRAY_INDEX.
    sets = sets.where(F.size("ts") >= 2)
    pairs = (sets.select(
        F.explode(F.flatten(F.transform(
            F.sequence(F.lit(1), F.size("ts") - 1),
            lambda i: F.transform(
                F.sequence(F.lit(0), i - 1),
                lambda j: F.struct(
                    F.element_at(F.col("ts"), j + 1).alias("type_a"),
                    F.element_at(F.col("ts"),
                                 i + 1).alias("type_b")))))).alias("p"))
        .select("p.type_a", "p.type_b"))
    both = pairs.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("n_users_both"))
    sa = solo.select(F.col("t").alias("type_a"),
                     F.col("n_t").alias("n_users_a"))
    sb = solo.select(F.col("t").alias("type_b"),
                     F.col("n_t").alias("n_users_b"))
    j = (both.join(F.broadcast(sa), "type_a")
         .join(F.broadcast(sb), "type_b")
         .crossJoin(F.broadcast(n_users)))
    nu = F.col("n_users").cast("double")
    support = F.col("n_users_both").cast("double") / nu
    lift = (support
            / ((F.col("n_users_a").cast("double") / nu)
               * (F.col("n_users_b").cast("double") / nu)))
    return j.select(
        "type_a", "type_b", "n_users_a", "n_users_b", "n_users_both",
        duckdb_round(support, round_digits).alias("support"),
        duckdb_round(lift, round_digits).alias("lift"))


def oracle_type_cooccurrence_sql(table: str, user_col: str = "user_id",
                                 type_col: str = "event_type",
                                 round_digits: int = 6) -> str:
    return f"""
WITH ut AS (
  SELECT DISTINCT {user_col} AS u, {type_col} AS t
  FROM {table}
  WHERE {user_col} IS NOT NULL AND {type_col} IS NOT NULL
),
n_users AS (SELECT COUNT(DISTINCT u) AS n_users FROM ut),
solo AS (SELECT t, COUNT(*) AS n_t FROM ut GROUP BY 1),
pairs AS (
  SELECT a.t AS type_a, b.t AS type_b
  FROM ut a JOIN ut b ON a.u = b.u AND a.t < b.t
),
pb AS (
  SELECT type_a, type_b, COUNT(*) AS n_users_both
  FROM pairs GROUP BY 1, 2
)
SELECT type_a, type_b,
       CAST(sa.n_t AS BIGINT) AS n_users_a,
       CAST(sb.n_t AS BIGINT) AS n_users_b,
       CAST(n_users_both AS BIGINT) AS n_users_both,
       ROUND(CAST(n_users_both AS DOUBLE) / n_users, {round_digits})
         AS support,
       ROUND((CAST(n_users_both AS DOUBLE) / n_users)
             / ((CAST(sa.n_t AS DOUBLE) / n_users)
                * (CAST(sb.n_t AS DOUBLE) / n_users)), {round_digits})
         AS lift
FROM pb
JOIN solo sa ON sa.t = pb.type_a
JOIN solo sb ON sb.t = pb.type_b
CROSS JOIN n_users
"""


def null_rate_by_day(df: DataFrame, ts_col: str, cols: list[str],
                     round_digits: int = 6) -> DataFrame:
    """(day, column, n, n_null, null_rate): per-day completeness of each
    column — the data-quality TIMESERIES a single null_count hides (a
    feed that went 40% null last Tuesday looks fine in the全-corpus
    rate). Rows with NULL timestamp drop (they have no day to report
    under).

    Plan: ONE groupBy(day) computing every column's (count, null count)
    in the same wide aggregate, exploded to rows afterwards — one scan
    and one O(days) shuffle at any column count."""
    from dataprofiler_spark.functions.rounding import duckdb_round

    base = df.where(F.col(ts_col).isNotNull())
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long"))
                    .alias(f"__nn_{c}"))
    day = F.date_format(ts_col, "yyyy-MM-dd").alias("day")
    row = base.groupBy(day).agg(*aggs)
    structs = [F.struct(F.lit(c).alias("column"),
                        F.col("__n").alias("n"),
                        F.col(f"__nn_{c}").alias("n_null"))
               for c in cols]
    return (row.select("day", F.explode(F.array(*structs)).alias("s"))
            .select("day", "s.column", "s.n", "s.n_null",
                    duckdb_round(F.col("s.n_null").cast("double")
                                 / F.col("s.n"),
                                 round_digits).alias("null_rate")))


def oracle_null_rate_by_day_sql(table: str, ts_col: str,
                                cols: list[str],
                                round_digits: int = 6) -> str:
    selects = []
    for c in cols:
        selects.append(f"""
SELECT strftime({ts_col}, '%Y-%m-%d') AS day, '{c}' AS "column",
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null,
       ROUND(CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), {round_digits}) AS null_rate
FROM {table} WHERE {ts_col} IS NOT NULL GROUP BY 1""")
    return "\nUNION ALL\n".join(selects)


def session_stats(df: DataFrame, user_col: str = "user_id",
                  ts_col: str = "ts",
                  gap_minutes: int = SESSION_GAP_MINUTES,
                  round_digits: int = 6) -> DataFrame:
    """One-row (n_sessions, n_users, mean_events, median_duration_s,
    p95_duration_s): the corpus summary of gap-based sessions — the
    engagement overview that per-session rows (``sessionize``) are too
    granular to report. Durations are exact integer microsecond spans;
    the median/p95 run on the counts-CDF (no native percentile).

    Plan: the sessionize window plan (user-partitioned) → O(sessions)
    rows → one wide agg + one CDF quantile pass."""
    from dataprofiler_spark.functions.rounding import duckdb_round
    from dataprofiler_spark.operators.histogram import cdf_quantiles

    sess = sessionize(df, user_col, ts_col, gap_minutes)
    dur_s = ((F.col("end_us") - F.col("start_us")).cast("double")
             / 1e6)
    agg = sess.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.count_distinct("user_id").alias("n_users"),
        F.sum("n_events").alias("__ev"))
    q = cdf_quantiles(sess.select(dur_s.alias("__d")), "__d",
                      [0.5, 0.95])
    j = agg.crossJoin(F.broadcast(q))
    return register_persisted(j.select(
        "n_sessions", "n_users",
        duckdb_round(F.col("__ev").cast("double")
                     / F.nullif(F.col("n_sessions"), F.lit(0)),
                     round_digits).alias("mean_events"),
        duckdb_round(F.col("q0"), round_digits)
        .alias("median_duration_s"),
        duckdb_round(F.col("q1"), round_digits).alias("p95_duration_s")),
        *q._dps_persisted)


def oracle_session_stats_sql(table: str, user_col: str = "user_id",
                             ts_col: str = "ts",
                             gap_minutes: int = SESSION_GAP_MINUTES,
                             round_digits: int = 6) -> str:
    from dataprofiler_spark.operators.histogram import \
        oracle_cdf_quantiles_cte

    inner = oracle_sessionize_sql(table, user_col, ts_col, gap_minutes)
    q_cte = oracle_cdf_quantiles_cte(
        "sess", "CAST(end_us - start_us AS DOUBLE) / 1e6", [0.5, 0.95])
    return f"""
WITH sess AS ({inner}),
{q_cte},
agg AS (
  SELECT COUNT(*) AS n_sessions,
         COUNT(DISTINCT user_id) AS n_users,
         SUM(n_events) AS ev
  FROM sess
)
SELECT CAST(n_sessions AS BIGINT) AS n_sessions,
       CAST(n_users AS BIGINT) AS n_users,
       ROUND(CAST(ev AS DOUBLE) / NULLIF(n_sessions, 0),
             {round_digits}) AS mean_events,
       ROUND(q0, {round_digits}) AS median_duration_s,
       ROUND(q1, {round_digits}) AS p95_duration_s
FROM agg CROSS JOIN qs
"""
