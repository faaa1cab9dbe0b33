"""Streaming / batch-incremental profiling.

The reference's "streaming" is batch-incremental update + merge
(update_profile, profile_builder.py:939-997) — there are no watermark
semantics to replicate (SURVEY §2.6). On Spark this maps naturally onto
Structured Streaming's ``foreachBatch``: each micro-batch is profiled with
the SAME two-scan plan as a batch profile (plans/profile_plan.py; its job
counts are pinned by tests/test_plans.py::test_profile_engine_job_budgets)
and folded into the running ``DatasetState`` with the state algebra
(state.py) — the identical ``+`` used by the public profile1+profile2 API.

For true continuous aggregation (e.g. the time-bucket rollup,
operators/datetimes.time_bucket_rollup) the same groupBy runs under
``readStream`` with a watermark — that query shape is already
streaming-safe (append-mode windowed agg).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataprofiler_spark.plans.profile_plan import Profiler, ProfilerOptions
from dataprofiler_spark.state import DatasetState


class StreamingProfiler:
    """Fold micro-batches into one mergeable profile state."""

    def __init__(self, options: ProfilerOptions | None = None):
        self.options = options or ProfilerOptions()
        self.state: DatasetState | None = None
        self.batches_seen = 0

    def update(self, batch_df: DataFrame, batch_id: int | None = None) -> DatasetState:
        """foreachBatch hook: profile the micro-batch, merge."""
        p = Profiler(batch_df, self.options)
        chunk = p.profile()
        self.state = chunk if self.state is None else self.state + chunk
        self.batches_seen += 1
        return self.state

    def attach(self, stream_df: DataFrame):
        """Wire onto a streaming DataFrame:
        ``StreamingProfiler().attach(spark.readStream...).start()``."""
        return stream_df.writeStream.foreachBatch(
            lambda df, bid: self.update(df, bid))


def streaming_sessionize(stream_df: DataFrame, user_col: str = "user_id",
                         ts_col: str = "ts", value_col: str = "value",
                         gap: str = "30 minutes",
                         watermark_delay: str = "10 minutes"):
    """Streaming sessionization via ``applyInPandasWithState`` — the
    custom stateful operator shape (batch counterpart:
    operators/events.sessionize).

    Emits CLOSED sessions (user_id, session_start, session_end,
    n_events, total_value): a session closes when a later event for the
    same user arrives more than ``gap`` after it (emitted immediately),
    or when the event-time watermark passes its timeout (emitted by the
    state timeout — so trailing sessions flush without waiting for more
    events from that user).

    Scale: state is ONE small tuple per active user (start, last, n,
    sum) — bounded by active-user cardinality, not stream length; the
    watermark timeout reaps idle users. Arrow-batched, grouped by
    user_id (the natural partition key)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = _duration_us(gap)

    def fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            start, last, n, total = state.get
            state.remove()
            yield pd.DataFrame({
                "user_id": [key[0]],
                "session_start": [pd.Timestamp(start, unit="us")],
                "session_end": [pd.Timestamp(last, unit="us")],
                "n_events": [n], "total_value": [total]})
            return
        rows = pd.concat(list(pdfs)).sort_values(ts_col)
        ts_us = rows[ts_col].astype("int64") // 1000
        vals = rows[value_col].astype("float64")
        wm_us = state.getCurrentWatermarkMs() * 1000
        # Interval merge: each event is a degenerate interval; the held
        # open session is one more. Sorting + folding makes the result
        # independent of batch arrival order (only below-watermark events
        # are dropped — the standard late-data policy).
        items = [(int(t), int(t), 1, float(v)) for t, v in zip(ts_us, vals)
                 if not (wm_us > 0 and t < wm_us)]
        if state.exists:
            items.append(tuple(state.get))
        items.sort(key=lambda x: (x[0], x[1]))
        merged: list[tuple] = []
        for it in items:
            if merged and it[0] <= merged[-1][1] + gap_us:
                s, l, n, tot = merged[-1]
                merged[-1] = (min(s, it[0]), max(l, it[1]),
                              n + it[2], tot + it[3])
            else:
                merged.append(it)
        if not merged:
            if state.exists:
                state.remove()
            return
        out = [(key[0], *sess) for sess in merged[:-1]]
        start, last, n, total = merged[-1]
        # If the open session is already past the watermark, close it now
        # (a timeout in the past cannot be registered).
        if wm_us > 0 and last + gap_us <= wm_us:
            out.append((key[0], start, last, n, total))
            if state.exists:
                state.remove()
        else:
            state.update((start, last, n, total))
            state.setTimeoutTimestamp((last + gap_us) // 1000 + 1)
        if out:
            yield pd.DataFrame(
                {"user_id": [o[0] for o in out],
                 "session_start": [pd.Timestamp(o[1], unit="us") for o in out],
                 "session_end": [pd.Timestamp(o[2], unit="us") for o in out],
                 "n_events": [o[3] for o in out],
                 "total_value": [o[4] for o in out]})

    return (
        stream_df.withWatermark(ts_col, watermark_delay)
        .groupBy(F.col(user_col))
        .applyInPandasWithState(
            fn,
            outputStructType=("user_id long, session_start timestamp, "
                              "session_end timestamp, n_events long, "
                              "total_value double"),
            stateStructType="start long, last long, n long, total double",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_sessionize_native(stream_df: DataFrame,
                                user_col: str = "user_id",
                                ts_col: str = "ts",
                                value_col: str = "value",
                                gap: str = "30 minutes",
                                watermark_delay: str = "10 minutes"):
    """Built-in ``session_window`` sessionization — the strict variant:
    late/out-of-order events above the watermark always merge correctly
    because sessions only emit once the watermark closes them (append
    mode). Use :func:`streaming_sessionize` when per-session custom
    state/logic is needed; use this when standard session aggregates
    suffice. Note session_window's end = last event + gap (Spark
    semantics), not the last event time."""
    return (
        stream_df.withWatermark(ts_col, watermark_delay)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("w"),
                 F.col(user_col))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(value_col).alias("total_value"))
        .select(F.col(user_col), F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"),
                "n_events", "total_value")
    )


def _duration_us(s: str) -> int:
    qty, unit = s.split()
    mult = {"second": 1_000_000, "seconds": 1_000_000,
            "minute": 60_000_000, "minutes": 60_000_000,
            "hour": 3_600_000_000, "hours": 3_600_000_000}[unit]
    return int(qty) * mult


def streaming_exact_dedup(stream_df: DataFrame, id_col: str, text_col: str,
                          watermark_col: str, delay: str = "10 minutes"):
    """Streaming exact dedup: keep the first occurrence of each
    normalized-text fingerprint, with state bounded by the watermark.

    ``dropDuplicatesWithinWatermark`` keeps fingerprint state only for
    the watermark horizon — the 100 TB-stream-safe variant of
    ``dropDuplicates`` (whose state grows without bound). Near-dup
    (MinHash/SimHash) streaming variants compose the same way: compute
    the signature map-side, dedup on (band, bucket) within the horizon.
    """
    from pyspark.sql import functions as F

    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    return (
        stream_df
        .withColumn("__fp", F.md5(norm))
        .withWatermark(watermark_col, delay)
        .dropDuplicatesWithinWatermark(["__fp"])
        .drop("__fp")
    )
