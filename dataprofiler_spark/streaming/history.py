"""Profile snapshot history — continuous profiling you can look back
through.

StreamingProfiler folds micro-batches into ONE running state; in
production you also want the trajectory: "when did this column's
distribution move?". ProfileHistory persists a profile snapshot per
micro-batch (the mergeable JSON form, state.to_json — kilobytes each,
never data-sized) and drift_timeline replays consecutive snapshot pairs
through the SAME diff machinery as the batch ``profile.diff(other)``
API (report.diff_profiles), so a monitoring job reads PSI / t-test /
KS per interval without ever touching the raw data again.

Each snapshot profiles ONLY its micro-batch, so the timeline diffs
interval-vs-interval (drift localization). The running fold of every
batch is StreamingProfiler's job.

File layout: {path}/snap_{batch_id:08d}.json — one JSON per snapshot,
atomic enough for a single writer (foreachBatch is serialized per
query); readers list + sort the directory. At scale the directory is
O(intervals), not O(data); compact old snapshots by merging them with
the state `+` algebra if needed.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame

from dataprofiler_spark.plans.profile_plan import Profiler, ProfilerOptions
from dataprofiler_spark.report import diff_profiles
from dataprofiler_spark.state import DatasetState, from_json, to_json


class ProfileHistory:
    """foreachBatch hook: profile each micro-batch and persist the
    snapshot."""

    def __init__(self, path: str, options: ProfilerOptions | None = None):
        self.path = path
        self.options = options or ProfilerOptions()
        self.state: DatasetState | None = None
        self.batches_seen = 0
        os.makedirs(path, exist_ok=True)

    def update(self, batch_df: DataFrame,
               batch_id: int | None = None) -> DatasetState:
        snap = self.state = Profiler(batch_df, self.options).profile()
        bid = self.batches_seen if batch_id is None else int(batch_id)
        fname = os.path.join(self.path, f"snap_{bid:08d}.json")
        tmp = fname + ".tmp"
        with open(tmp, "w") as f:
            f.write(to_json(snap))
        os.replace(tmp, fname)  # atomic publish: readers never see a torn file
        self.batches_seen += 1
        return snap

    def attach(self, stream_df: DataFrame):
        return stream_df.writeStream.foreachBatch(
            lambda df, bid: self.update(df, bid))


def load_history(path: str) -> list[tuple[int, DatasetState]]:
    """[(batch_id, state)] sorted by batch id."""
    out = []
    for f in sorted(os.listdir(path)):
        if f.startswith("snap_") and f.endswith(".json"):
            bid = int(f[len("snap_"):-len(".json")])
            with open(os.path.join(path, f)) as fh:
                out.append((bid, from_json(fh.read())))
    return out


def drift_timeline(path: str) -> list[dict]:
    """Diff every consecutive snapshot pair:
    [{from_batch, to_batch, diff}] where diff is the full
    report.diff_profiles dict (PSI / Welch-t / KS / chi² per column +
    schema diff) — the batch diff API replayed across time."""
    snaps = load_history(path)
    return [
        {"from_batch": a_id, "to_batch": b_id,
         "diff": diff_profiles(a, b)}
        for (a_id, a), (b_id, b) in zip(snaps, snaps[1:])
    ]


def drift_series(path: str, column: str,
                 metric: str = "psi") -> list[tuple[int, float | None]]:
    """One column's drift metric over time: [(to_batch, value)] — the
    series a dashboard plots / an alerting rule thresholds. ``metric``
    is looked up in the column's diff statistics (e.g. "psi",
    "ks_statistic", "t-test"); absent metrics yield None rather than
    raising, so mixed-type histories stay readable."""
    out: list[tuple[int, float | None]] = []
    for entry in drift_timeline(path):
        val = None
        for col in entry["diff"].get("data_stats", []):
            if col.get("column_name") == column:
                # drift metrics (psi / ks / t-test / chi2-test) sit at
                # the column-diff top level; plain stats under
                # "statistics"
                v = col.get(metric, col.get("statistics", {})
                            .get(metric))
                if isinstance(v, dict):  # e.g. t-test sub-dict
                    v = v.get("statistic", v.get("t-statistic"))
                if isinstance(v, (int, float)):
                    val = float(v)
                break
        out.append((entry["to_batch"], val))
    return out
