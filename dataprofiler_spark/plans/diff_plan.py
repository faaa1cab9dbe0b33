"""Fused snapshot diff — both slice profiles from ONE scan.

The composed path (``Profiler(slice_a).profile()`` +
``Profiler(slice_b).profile()`` + ``report.diff_profiles``, the
reference's ``profiler.diff(other)`` shape, profiler_utils.py:417-667)
reads the table once per slice plus once for the midpoint bounds. At
100 TB a user diffing two time-slices of the SAME table wants the scan
paid once: this plan tags each row with its slice and runs the
profiler's own wide-agg runner ``groupBy(side)`` instead of globally —
the exact FILTER-split conditional-aggregation shape the diff's SQL
oracle uses (report.py ``oracle_profile_diff_sql``). One shuffle of two
rows; every per-column statistic the wide agg carries (nulls, type
counts, min/max, all four moments — so the Welch t-test too) lands
side-split, and the SAME ``diff_profiles`` consumes the two states.

A SECOND side-split scan — the profiler's own distribution specs and
fused category/histogram melt over per-side aliases
(``_distribution_pass``) — adds the category maps and histograms, so
the fused diff carries PSI / KS / chi² too: FULL-fidelity at 3 scans
vs the composed path's ~5. The deterministic diff slice (row-count
delta, per-column type/null/min/max) is IDENTICAL between the two
plans, which is what ``profile_diff_fused_events`` proves against the
same oracle; tests/test_diff_plan.py additionally pins PSI/KS/chi²
equality against the composed path.

``profile_sides`` generalizes beyond two sides — ``Profiler.
profile_by`` (per-segment profiles) and ``profile_timeline``
(per-time-bucket profiles, the hypertable-rollup shape) are one
grouped scan each and carry the wide-agg statistics only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SIDE = "__side"


MAX_GROUPS = 1000


def profile_sides(df: DataFrame, side_col, options=None,
                  max_groups: int = MAX_GROUPS):
    """Profile every value of ``side_col`` in one pass: the Profiler's
    wide-agg expression groups run ``groupBy(side)``; each group job
    scans only its pruned columns (same plan shape as the global
    profile, one extra n_groups-row shuffle). Returns {side_value:
    DatasetState} with the wide-agg statistics only. Sides absent from
    the data have no entry.

    The collected state is O(groups × columns × stats) — bounded by
    ``max_groups`` (an unbounded group column is a spec bug: profile a
    bucketed expression instead)."""
    from dataprofiler_spark.plans.profile_plan import Profiler, _column_kinds
    from dataprofiler_spark.session import ensure_parallelism

    tagged = df.withColumn(_SIDE, side_col) if not isinstance(
        side_col, str) else df.withColumnRenamed(side_col, _SIDE)
    tagged = ensure_parallelism(tagged)
    states, _ = Profiler(df, options)._wide_agg(
        tagged, _column_kinds(tagged.schema, exclude=_SIDE), key=_SIDE,
        max_groups=max_groups)
    return states


def _distribution_pass(tagged: DataFrame, states: dict, options=None
                       ) -> None:
    """Side-split categories + histograms in ONE extra scan (so the
    fused diff carries PSI / KS / chi² too): each side's candidate
    columns project as ``when(side == s, c)`` ALIASES and flow through
    the profiler's own fused melt — the melt's null filter drops
    other-side rows, and a facade state maps every alias onto the REAL
    per-side ColumnState, so category maps and histograms land in
    place with the exact per-slice semantics of the composed path
    (identical specs: _distribution_specs reads only wide-agg stats,
    which profile_sides already split)."""
    from dataprofiler_spark.plans.profile_plan import Profiler
    from dataprofiler_spark.state import DatasetState

    p = Profiler(tagged, options)
    proj, cat_aliases, specs, facade_cols = [], [], [], {}
    for s, st in states.items():
        candidates, side_specs = p._distribution_specs(st)
        # both lists are in column order; a fixed projection order keeps
        # the counts-pass plan (and its generated code) the same from
        # one process to the next
        hist_only = [c for c, *_ in side_specs if c not in candidates]
        for c in candidates + hist_only:
            alias = f"__d{s}__{c}"
            proj.append(F.when(F.col(_SIDE) == s, tagged[c])
                        .alias(alias))
            facade_cols[alias] = st.columns[c]
        cat_aliases += [f"__d{s}__{c}" for c in candidates]
        specs += [(f"__d{s}__{c}", lo, hi, bins)
                  for c, lo, hi, bins in side_specs]

    if not proj:
        return
    facade = DatasetState(row_count=sum(s.row_count
                                        for s in states.values()),
                          column_order=list(facade_cols))
    facade.columns = facade_cols
    p._fused_counts_pass(tagged.select(*proj), facade, cat_aliases,
                         specs)


def _empty_state(spark, schema, options=None):
    """DatasetState of an empty frame via a LocalRelation — aggregate
    defaults (count 0, NULL extrema) without touching storage."""
    from dataprofiler_spark.plans.profile_plan import Profiler
    empty = spark.createDataFrame([], schema)
    return Profiler(empty, options).profile()


def _diff_sides(tagged: DataFrame, schema, options=None):
    """Side 0 vs side 1 of ``tagged``: the side-split profile, its
    distribution pass, and ``diff_profiles``. A side with no rows
    profiles as an empty frame of ``schema``."""
    from dataprofiler_spark.report import diff_profiles

    states = profile_sides(tagged, _SIDE, options)
    _distribution_pass(tagged, states, options)
    spark = tagged.sparkSession
    sa = states.get(0) or _empty_state(spark, schema, options)
    sb = states.get(1) or _empty_state(spark, schema, options)
    return diff_profiles(sa, sb), sa, sb


def diff_frames(df_a: DataFrame, df_b: DataFrame, options=None):
    """The default ``.diff()`` between two DataFrames (VERDICT r9 item
    8): when the schemas align, run the FUSED side-split plan — tag the
    sides 0/1, union, and push both profiles through one
    ``groupBy(side)`` wide-agg pass (+ one side-split distribution scan
    for PSI/KS/chi²) — the diff_snapshots shape generalized to two
    arbitrary frames. Same-source slices (two filters of one table)
    collapse to single branch scans; cross-source frames still halve
    the job count vs composing two full profiles. When the schemas
    differ a union would be ill-typed, so the two frames are profiled
    independently and the profiles diffed.

    Returns (diff_dict, state_a, state_b), like :func:`diff_snapshots`.
    Equality with the composed path is pinned in test_diff_plan.py;
    both shapes are driver-oracled (profile_diff_events composed,
    profile_diff_fused_events fused — same oracle SQL)."""
    from dataprofiler_spark.plans.profile_plan import Profiler
    from dataprofiler_spark.report import diff_profiles

    schema_a = [(f.name, f.dataType) for f in df_a.schema.fields]
    schema_b = [(f.name, f.dataType) for f in df_b.schema.fields]
    if schema_a != schema_b:
        sa = Profiler(df_a, options).profile()
        sb = Profiler(df_b, options).profile()
        return diff_profiles(sa, sb), sa, sb
    tagged = (df_a.withColumn(_SIDE, F.lit(0))
              .unionByName(df_b.withColumn(_SIDE, F.lit(1))))
    return _diff_sides(tagged, df_a.schema, options)


def diff_snapshots(df: DataFrame, ts_col: str, mid: int | None = None,
                   options=None):
    """Fused time-slice diff: snapshot A is rows with
    ``unix_micros(ts) < mid`` (mid defaults to the midpoint of the
    observed range; NULL-ts rows belong to neither snapshot), snapshot
    B the rest. ONE bounds aggregate + ONE side-split profile scan
    + ONE side-split counts scan (the category maps and histograms the
    diff's PSI / KS / chi² read) feed the same ``diff_profiles`` the
    composed path uses — 3 scans for the FULL-fidelity diff vs the
    composed path's ~5.

    Returns (diff_dict, state_a, state_b). Raises on an empty /
    all-null-ts input — a time-slice of nothing has no midpoint.
    """
    base = df.where(F.col(ts_col).isNotNull())
    if mid is None:
        b = base.agg(F.min(F.unix_micros(ts_col)).alias("mn"),
                     F.max(F.unix_micros(ts_col)).alias("mx")).collect()[0]
        if b["mn"] is None:
            raise ValueError(
                f"diff_snapshots: no non-null {ts_col!r} timestamps to "
                f"time-slice")
        mid = (b["mn"] + b["mx"]) // 2
    side = F.when(F.unix_micros(F.col(ts_col)) < F.lit(mid),
                  F.lit(0)).otherwise(F.lit(1))
    return _diff_sides(base.withColumn(_SIDE, side), base.schema, options)


def profile_timeline(df: DataFrame, ts_col: str, unit: str = "week",
                     options=None, max_groups: int = MAX_GROUPS) -> dict:
    """Per-time-bucket profiles from ONE grouped scan — the
    hypertable-rollup shape: ``profile_sides`` over
    ``date_trunc(unit, ts)`` gives a profile timeline (per day / week /
    month) at one scan instead of n_buckets scans; consecutive buckets
    feed ``diff_profiles`` for a drift timeline. NULL-ts rows belong to
    no bucket. Returns {bucket_start_timestamp: DatasetState} with the
    wide-agg statistics only (see ``profile_sides``), the bucket column
    itself not profiled."""
    base = df.where(F.col(ts_col).isNotNull())
    return profile_sides(
        base.withColumn(_SIDE, F.date_trunc(unit, F.col(ts_col))),
        _SIDE, options, max_groups=max_groups)
