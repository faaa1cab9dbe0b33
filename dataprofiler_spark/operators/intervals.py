"""Interval (range) join — the time-window alignment Spark's built-in
equi-join can't express without degrading to a nested-loop plan.

``events JOIN intervals ON key AND start <= ts < end`` written naively
is an inequality join: Spark plans BroadcastNestedLoopJoin (O(n·m) per
key pair) — ruinous at scale. The scalable OSS formulation bucketizes
time on both sides: an event lands in exactly one fixed-width bucket,
an interval explodes into the buckets it overlaps, and the join becomes
a plain shuffled (or broadcast) EQUI-join on (key, bucket) followed by
the exact bound filter. Work is O(events + interval-spans + true
matches) — the same trick as the range-join binning hint in commercial
Spark runtimes, expressed with public primitives.

Granularity picks the trade: buckets much smaller than typical interval
length multiply the interval-side explode; buckets much larger multiply
false candidate pairs that the exact filter discards. A good default is
the median interval length.

Scale shape: one shuffle on (key, bucket) for each side (or zero when
adaptive execution broadcasts a small interval side by its measured
size); the explode is map-side; no nested-loop operator anywhere
(plan-asserted in tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join(events: DataFrame, intervals: DataFrame, key: str,
                  ts_col: str, start_col: str, end_col: str,
                  granularity_seconds: int = 3600,
                  max_buckets_per_interval: int = 10_000) -> DataFrame:
    """Rows of ``events`` matched to every interval of the same key with
    ``start <= ts < end`` (half-open, the standard window convention).

    Returns events columns + the matched interval's start/end. Events
    matching no interval are dropped (inner join); left-join semantics
    compose as ``events.join(result, ..., "left")`` when needed.

    ``max_buckets_per_interval`` bounds the interval-side explode: a
    degenerate interval (years long at minute granularity) would
    otherwise fan out without limit. Exceeding intervals raise at
    runtime (ANSI error from the guard expression) rather than silently
    flooding the shuffle — pick a granularity near the median interval
    length instead.
    """
    g = int(granularity_seconds)
    ev = events.withColumn(
        "__bucket", F.floor(F.unix_micros(F.col(ts_col).cast("timestamp"))
                            / (g * 1_000_000)))
    s_us = F.unix_micros(F.col(start_col).cast("timestamp"))
    e_us = F.unix_micros(F.col(end_col).cast("timestamp"))
    # half-open [start, end): the bucket of (end - 1µs) is the last that
    # can contain a matching event
    b1_guarded = F.when(
        F.col("__b1") - F.col("__b0") < max_buckets_per_interval,
        F.col("__b1")
    ).otherwise(F.raise_error(F.lit(
        f"interval spans more than {max_buckets_per_interval} buckets at "
        f"granularity_seconds={g}; raise the granularity (or the cap) — "
        "a silent cap would drop matches")).cast("long"))
    # project the interval side down BEFORE the bucket explode: every
    # extra column would be duplicated per covered bucket and shuffled
    iv = (intervals
          .select(key, start_col, end_col)
          .withColumn("__b0", F.floor(s_us / (g * 1_000_000)))
          .withColumn("__b1", F.floor((e_us - 1) / (g * 1_000_000)))
          .where(e_us > s_us)
          .withColumn("__bucket",
                      F.explode(F.sequence("__b0", b1_guarded)))
          .drop("__b0", "__b1"))
    joined = ev.join(
        iv,
        on=[ev[key] == iv[key], ev["__bucket"] == iv["__bucket"]],
        how="inner")
    # qualified references: events may itself carry start/end-named
    # columns (and intervals a ts-named one) — unqualified F.col would
    # be AMBIGUOUS_REFERENCE
    cond = (ev[ts_col].cast("timestamp") >= iv[start_col].cast("timestamp")) & \
           (ev[ts_col].cast("timestamp") < iv[end_col].cast("timestamp"))
    out_cols = ([ev[c] for c in events.columns]
                + [iv[start_col], iv[end_col]])
    return joined.where(cond).select(*out_cols)


def oracle_interval_join_count_sql(events_table: str, key: str,
                                   ts_col: str) -> str:
    """DuckDB oracle for :func:`interval_join_first_day_counts`: plain
    inequality join (fine at oracle scale)."""
    return f"""
WITH iv AS (
  SELECT {key},
         MIN({ts_col}) AS w_start,
         MIN({ts_col}) + INTERVAL 1 DAY AS w_end
  FROM {events_table} GROUP BY {key}
)
SELECT e.{key} AS {key},
       strftime(iv.w_start, '%Y-%m-%d %H:%M:%S') AS w_start,
       COUNT(*) AS n_events
FROM {events_table} e
JOIN iv ON e.{key} = iv.{key}
       AND e.{ts_col} >= iv.w_start AND e.{ts_col} < iv.w_end
GROUP BY e.{key}, iv.w_start
"""


def interval_join_first_day_counts(events: DataFrame, key: str = "user_id",
                                   ts_col: str = "ts") -> DataFrame:
    """Demo/benchmark shape over the events table: per user, the
    interval is their first active day; count the events inside it.
    Exercises the bucketized interval join end-to-end with a
    SQL-checkable result."""
    iv = (events.groupBy(key)
          .agg(F.min(F.col(ts_col).cast("timestamp")).alias("w_start"))
          .withColumn("w_end", F.timestamp_micros(
              F.unix_micros("w_start") + F.lit(86_400 * 1_000_000))))
    joined = interval_join(events, iv, key, ts_col, "w_start", "w_end",
                           granularity_seconds=6 * 3600)
    return (joined.groupBy(key, F.date_format("w_start",
                                              "yyyy-MM-dd HH:mm:ss")
                           .alias("w_start"))
            .agg(F.count(F.lit(1)).alias("n_events")))
