"""Streaming drift monitor: per-micro-batch PSI against a frozen
baseline profile.

The reference's drift surface is batch-only (profile.diff(other) —
report.py:326-454 / operators/drift.py). In production the question is
continuous: "is today's feed still distributed like the profile I
signed off on?". Structured Streaming answers it with ``foreachBatch``:
the baseline is aggregated ONCE and frozen driver-side (bounded:
category counts capped loudly, numeric state is just (lo, hi) + bin
counts), and each micro-batch runs one small groupBy + broadcast join
against the frozen counts — per batch cost is one scan of the batch,
O(categories) driver state, no growing state store.

Semantics match operators/drift.py exactly where the framing allows.
Both kinds score on the driver through operators/drift.smoothed_psi, the
one +1-smoothed PSI over aligned count lists (report.py's profile diff
uses it too):
  * categorical: identical smoothing ((c+1)/(n+k), k = aligned category
    count) and the same NULL rule (NULL is not a category; null-rate
    drift is the profile diff's null stats) — a micro-batch's PSI
    equals drift.categorical_psi(baseline, batch) run in batch mode
    (pinned by tests/test_streaming_drift.py).
  * numeric: bin edges are FROZEN from the baseline — a monitor cannot
    re-derive edges from data it hasn't seen yet; out-of-range batch
    values clamp into the edge bins (the standard monitoring
    formulation). Edges come from the baseline's approximate
    quantiles (percentile_approx at freeze time) — every bin holds
    ~1/bins of the baseline mass, so one extreme baseline outlier
    cannot collapse all the mass into a single bin the way equal-width
    (min, max) edges do (VERDICT r4 item 7). This is the standard PSI
    formulation for monitoring; the batch drift.numeric_psi keeps its
    own equal-width framing.

COMPATIBILITY — recorded PSI baselines (r5 semantics change): two
behaviors changed together in round 5 and BOTH shift the numeric PSI a
monitor reports, so PSI values logged by a pre-r5 monitor are NOT
comparable to post-r5 values for the same data:
  1. the edge rule moved from equal-width to quantile edges (VERDICT
     r4 item 7; the equal-width rule is no longer offered), and
  2. smoothing now runs over ALL dense bins rather than only the
     observed buckets (an unobserved bin now contributes its smoothed
     mass instead of being absent).
If you alert on absolute PSI thresholds against historical logs,
re-freeze the baseline and re-record the expected PSI level once after
upgrading rather than comparing across the seam.

COMPATIBILITY — categorical NULLs: NULL cells no longer form a
category, in the baseline or in a batch. A monitored categorical column
that holds NULLs therefore reports a different PSI than before for the
same data (the old monitor counted NULL as one more key; the batch
operator, whose full outer join never matched NULL keys, counted it as
two). Columns without NULLs report the same PSI as before. Re-record
alert thresholds for NULL-bearing columns, and watch their null rate
with diff_profiles' null stats.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataprofiler_spark.operators.drift import smoothed_psi


class StreamingDriftMonitor:
    """Freeze a baseline; score every micro-batch against it.

    ``columns`` maps column name -> "categorical" | "numeric".
    ``alert_threshold`` marks log entries with alert=True when any
    column's PSI exceeds it (the conventional 0.2 "significant shift"
    cut — reference categorical_column_profile.py PSI reporting leaves
    interpretation to the caller, so the threshold is opt-in here too).
    """

    def __init__(self, baseline_df: DataFrame, columns: dict[str, str],
                 bins: int = 10, max_categories: int = 10_000,
                 alert_threshold: float | None = None,
                 sink_path: str | None = None, round_digits: int = 6):
        self.columns = dict(columns)
        self.bins = bins
        self.alert_threshold = alert_threshold
        self.sink_path = sink_path
        self.round_digits = round_digits
        self.log: list[dict] = []
        self._cat_counts: dict[str, list[tuple[str, int]]] = {}
        # col -> (edges, bin-count list); edges are the frozen interior
        # cut points, bucket = #edges strictly below x (clamped by
        # construction to 0..len(edges)).
        self._num_state: dict[str, tuple[list[float], list[tuple[int, int]]]] = {}
        bad = [f"{k!r} for column {c!r}" for c, k in self.columns.items()
               if k not in ("categorical", "numeric")]
        if bad:
            raise ValueError(f"unknown kind {bad[0]}")
        num_cols = [c for c, k in self.columns.items() if k == "numeric"]
        cat_cols = [c for c, k in self.columns.items() if k == "categorical"]

        # categorical baselines stay ONE job per column: the
        # limit(max_categories+1) guard must bound the driver transfer
        # BEFORE a high-cardinality key ships its whole value set
        for col in cat_cols:
            rows = (baseline_df.where(F.col(col).isNotNull())
                    .groupBy(F.col(col).cast("string").alias("value"))
                    .agg(F.count(F.lit(1)).alias("cnt"))
                    .limit(max_categories + 1).collect())
            if len(rows) > max_categories:
                raise ValueError(
                    f"baseline column {col!r} exceeds max_categories="
                    f"{max_categories}; monitor a bucketed projection "
                    "instead of a high-cardinality key")
            self._cat_counts[col] = [(r["value"], r["cnt"]) for r in rows]

        # numeric baselines: the r12 shape ran TWO jobs per column
        # (edge sketch, then bucket counts), each a full baseline scan.
        # r13 (guide §1.2): one agg carrying every column's
        # percentile_approx sketch, then one melted explode →
        # groupBy(column, bucket) pass for every column's bin counts —
        # 2 scans total regardless of column count.
        # Identical edge values (same expressions), identical counts.
        if num_cols:
            qs = [i / self.bins for i in range(1, self.bins)]
            row = baseline_df.agg(*[
                F.percentile_approx(F.col(c).cast("double"), qs,
                                    10_000).alias(f"__e{i}")
                for i, c in enumerate(num_cols)]).collect()[0]
            for i, col in enumerate(num_cols):
                # dedupe: a heavy point mass yields repeated cut points;
                # repeated edges would mint empty bins that only add
                # smoothing noise.
                edges, seen = [], set()
                for e in (row[f"__e{i}"] or []):
                    if e is not None and e not in seen:
                        seen.add(e)
                        edges.append(float(e))
                edges.sort()
                self._num_state[col] = (edges, [])
            entries = [F.struct(
                F.lit(c).alias("column"),
                self._bucket_expr(c, self._num_state[c][0])
                .alias("bucket"),
                F.col(c).cast("double").isNotNull().alias("keep"))
                for c in num_cols]
            counts = (baseline_df
                      .select(F.explode(F.array(*entries)).alias("e"))
                      .where(F.col("e.keep"))
                      .groupBy(F.col("e.column").alias("column"),
                               F.col("e.bucket").alias("bucket"))
                      .agg(F.count(F.lit(1)).alias("cnt"))
                      .collect())
            for r in counts:
                edges, lst = self._num_state[r["column"]]
                lst.append((r["bucket"], r["cnt"]))

    def _bucket_expr(self, col: str, edges: list[float]):
        """bucket = #frozen edges at or below x — monotone, clamps out-of-
        range values into the first/last bin, and works for BOTH edge
        rules (width mode's edges are the equal-width interior cuts, so
        this reproduces the floor((x-lo)/w) bucket for in-range x)."""
        x = F.col(col).cast("double")
        if not edges:
            return F.lit(0).cast("int")
        return F.aggregate(
            F.array(*[F.lit(e) for e in edges]),
            F.lit(0),
            lambda acc, e: acc + F.when(x >= e, 1).otherwise(0),
        ).cast("int")

    # -- per-batch scoring ---------------------------------------------------

    # sentinel melt key for the row count — NUL-prefixed so no real
    # column name can collide
    _ROWS_KEY = "\x00rows"

    def _psi_categorical(self, batch: dict[str, int],
                         col: str) -> float | None:
        """smoothed_psi over the full outer union of baseline/batch
        keys in sorted order (same formula the r12 per-column Spark
        aggregate computed; moved to the driver over the single-pass
        melted counts — bounded by max_categories, and float-sum order
        differences land below the round_digits rounding). NULL is not
        a key; with no key on either side there is no PSI (None, the
        batch operator's NULL)."""
        base = dict(self._cat_counts[col])
        keys = sorted(set(base) | set(batch))
        if not keys:
            return None
        return round(smoothed_psi([base.get(k, 0) for k in keys],
                                  [batch.get(k, 0) for k in keys]),
                     self.round_digits)

    def _psi_numeric(self, batch: dict[int, int], col: str) -> float | None:
        """smoothed_psi over every frozen bin (len(edges) + 1 of them,
        observed or not); an empty batch has no PSI."""
        edges, base_counts = self._num_state[col]
        if not sum(batch.values()):
            return None
        base = dict(base_counts)
        bins = range(len(edges) + 1)
        return round(smoothed_psi([base.get(b, 0) for b in bins],
                                  [batch.get(b, 0) for b in bins]),
                     self.round_digits)

    def update(self, batch_df: DataFrame, batch_id: int | None = None) -> dict:
        """foreachBatch hook: score one micro-batch against the frozen
        baseline; append to the in-memory log and the optional sink.

        ONE batch scan for everything (r13, guide §1.2): the r12 shape
        ran 1 + n_columns jobs per micro-batch — a count plus one
        groupBy-collect per monitored column, each re-scanning the
        batch. All columns (and the row count, via a sentinel entry)
        now melt into a single explode → groupBy(column, key) pass; the
        driver folds the bounded per-key counts into the same PSI
        formulas. Smoothed-PSI values are unchanged up to float-sum
        order (asserted within 2e-6 of the batch operator by
        test_streaming_psi_matches_batch_operator)."""
        entries = [F.struct(
            F.lit(self._ROWS_KEY).alias("column"),
            F.lit(None).cast("string").alias("key"),
            F.lit(True).alias("keep"))]
        for col, kind in self.columns.items():
            if kind == "categorical":
                entries.append(F.struct(
                    F.lit(col).alias("column"),
                    F.col(col).cast("string").alias("key"),
                    F.col(col).isNotNull().alias("keep")))
            else:
                edges = self._num_state[col][0]
                entries.append(F.struct(
                    F.lit(col).alias("column"),
                    self._bucket_expr(col, edges).cast("string")
                    .alias("key"),
                    F.col(col).cast("double").isNotNull().alias("keep")))
        melted = (batch_df
                  .select(F.explode(F.array(*entries)).alias("e"))
                  .where(F.col("e.keep"))
                  .groupBy(F.col("e.column").alias("column"),
                           F.col("e.key").alias("key"))
                  .agg(F.count(F.lit(1)).alias("cnt"))
                  .collect())
        per_col: dict[str, dict] = {}
        n = 0
        for r in melted:
            if r["column"] == self._ROWS_KEY:
                n = r["cnt"]
            else:
                per_col.setdefault(r["column"], {})[r["key"]] = r["cnt"]
        entry: dict = {"batch_id": batch_id, "n_rows": n, "psi": {}}
        for col, kind in self.columns.items():
            if n == 0:
                entry["psi"][col] = None
                continue
            if kind == "categorical":
                entry["psi"][col] = self._psi_categorical(
                    per_col.get(col, {}), col)
            else:
                entry["psi"][col] = self._psi_numeric(
                    {int(k): v for k, v in per_col.get(col, {}).items()},
                    col)
        if self.alert_threshold is not None:
            entry["alert"] = any(
                v is not None and v > self.alert_threshold
                for v in entry["psi"].values())
        self.log.append(entry)
        if self.sink_path is not None:
            spark = batch_df.sparkSession
            rows = [(int(batch_id) if batch_id is not None else -1,
                     float(time.time()), col, entry["psi"][col], int(n))
                    for col in self.columns]
            (spark.createDataFrame(
                rows, "batch_id long, wall_ts double, column_name string, "
                      "psi double, n_rows long")
             .write.mode("append").parquet(self.sink_path))
        return entry

    def attach(self, stream_df: DataFrame):
        """``monitor.attach(spark.readStream...).start()`` — scores every
        micro-batch; pair with ``trigger(availableNow=True)`` for
        catch-up scoring of a backlog."""
        return stream_df.writeStream.foreachBatch(
            lambda df, bid: self.update(df, bid))
