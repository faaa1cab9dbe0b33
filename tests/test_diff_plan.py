"""Fused snapshot diff (plans/diff_plan.py): one side-split scan must
produce the same diff as the composed two-profile path."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from dataprofiler_spark import Profiler
from dataprofiler_spark.plans.diff_plan import diff_snapshots, profile_sides
from dataprofiler_spark.report import (deterministic_diff_rows,
                                       diff_profiles)


def _events(spark, n=400):
    return spark.createDataFrame(
        [(i, i % 7, float(i) * 0.5 if i % 11 else None,
          ["click", "view", "buy"][i % 3],
          f"2024-03-{(i % 28) + 1:02d} 0{i % 10}:00:00")
         for i in range(n)],
        "event_id long, user_id long, value double, event_type string,"
        "ts_s string"
    ).select("event_id", "user_id", "value", "event_type",
             F.to_timestamp("ts_s").alias("ts"))


def test_fused_equals_composed_deterministic_slice(spark):
    df = _events(spark)
    diff_f, fa, fb = diff_snapshots(df, "ts")

    base = df.where(F.col("ts").isNotNull())
    b = base.agg(F.min(F.unix_micros("ts")).alias("mn"),
                 F.max(F.unix_micros("ts")).alias("mx")).collect()[0]
    mid = (b["mn"] + b["mx"]) // 2
    ca = Profiler(base.where(F.unix_micros("ts") < F.lit(mid))).profile()
    cb = Profiler(base.where(F.unix_micros("ts") >= F.lit(mid))).profile()
    diff_c = diff_profiles(ca, cb)

    rows_f = sorted(deterministic_diff_rows(diff_f, fa, fb))
    rows_c = sorted(deterministic_diff_rows(diff_c, ca, cb))
    assert rows_f == rows_c
    # the wide agg carries the moments, so the fused diff includes the
    # Welch t-test too (identical expressions, just grouped by side)
    for col_f, col_c in zip(
            sorted(diff_f["data_stats"], key=lambda c: c["column_name"]),
            sorted(diff_c["data_stats"], key=lambda c: c["column_name"])):
        assert col_f["column_name"] == col_c["column_name"]
        tf, tc = col_f.get("t-test"), col_c.get("t-test")
        assert (tf is None) == (tc is None)
        if tf and tc and isinstance(tf.get("t-statistic"), float) \
                and isinstance(tc.get("t-statistic"), float):
            assert tf["t-statistic"] == pytest.approx(
                tc["t-statistic"], rel=1e-9)
        # full fidelity: the side-split counts pass reproduces the
        # composed path's category maps and histograms exactly (same
        # bin specs from the same wide-agg stats), so PSI / KS / chi²
        # match too
        for stat in ("psi", "ks", "chi2-test"):
            vf, vc = col_f.get(stat), col_c.get(stat)
            assert (vf is None) == (vc is None), (
                col_f["column_name"], stat, vf, vc)
            if isinstance(vf, float) and isinstance(vc, float):
                assert vf == pytest.approx(vc, rel=1e-9, nan_ok=True), (
                    col_f["column_name"], stat)


def test_distribution_pass_projection_order(spark, monkeypatch):
    """The side-split counts pass projects each side's categorical
    candidates, then its histogram-only columns, both in column order:
    the plan must not follow the process's string-hash seed."""
    from dataprofiler_spark.plans.profile_plan import Profiler

    seen = []
    real = Profiler._fused_counts_pass

    def capture(self, df, *args):
        seen.append(df.columns)
        return real(self, df, *args)

    monkeypatch.setattr(Profiler, "_fused_counts_pass", capture)
    diff_snapshots(_events(spark), "ts")
    (cols,) = seen
    for s in (0, 1):
        prefix = f"__d{s}__"
        assert [c[len(prefix):] for c in cols if c.startswith(prefix)] == [
            "user_id", "event_type", "event_id", "value"]


def test_diff_frames_default_fused(spark):
    """diff_frames (the default .diff() entry, VERDICT r9 item 8):
    two same-schema frames fuse into one side-split plan that matches
    the composed path (two profiles + diff_profiles) exactly; schema
    drift falls back to the composed path."""
    from dataprofiler_spark.plans.diff_plan import diff_frames

    df = _events(spark).where(F.col("ts").isNotNull())
    a = df.where(F.col("event_id") % 2 == 0)
    b = df.where(F.col("event_id") % 2 == 1)

    diff_f, fa, fb = diff_frames(a, b)
    ca, cb = Profiler(a).profile(), Profiler(b).profile()
    diff_c = diff_profiles(ca, cb)
    assert sorted(deterministic_diff_rows(diff_f, fa, fb)) == \
        sorted(deterministic_diff_rows(diff_c, ca, cb))
    for col_f, col_c in zip(
            sorted(diff_f["data_stats"], key=lambda c: c["column_name"]),
            sorted(diff_c["data_stats"], key=lambda c: c["column_name"])):
        for stat in ("psi", "ks", "chi2-test"):
            vf, vc = col_f.get(stat), col_c.get(stat)
            assert (vf is None) == (vc is None)
            if isinstance(vf, float) and isinstance(vc, float):
                assert vf == pytest.approx(vc, rel=1e-9, nan_ok=True)

    # cross-schema: falls back to composed (columns differ)
    b2 = b.withColumnRenamed("value", "val2")
    d, sa, sb = diff_frames(a, b2)
    assert d["global_stats"]["profile_schema"][0].get("value") is not None
    # one side empty: states still assemble (LocalRelation, no scan)
    d3, s3a, s3b = diff_frames(a.where(F.lit(False)), b)
    assert s3a.row_count == 0 and s3b.row_count == b.count()


def test_fused_counts_and_side_assignment(spark):
    df = _events(spark, n=100)
    _, sa, sb = diff_snapshots(df, "ts")
    assert sa.row_count + sb.row_count == 100
    assert sa.row_count > 0 and sb.row_count > 0
    # null accounting is side-split (value has every-11th null)
    total_nulls = (sa.columns["value"].null_count
                   + sb.columns["value"].null_count)
    assert total_nulls == sum(1 for i in range(100) if i % 11 == 0)


def test_fused_degenerate_all_equal_ts(spark):
    """All timestamps equal: mid == min so side A is EMPTY — the empty
    state assembles from a LocalRelation (no scan) and the diff's
    'incomparable' contract holds."""
    df = spark.createDataFrame(
        [(i, float(i), "2024-01-01 00:00:00") for i in range(10)],
        "event_id long, value double, ts_s string"
    ).select("event_id", "value", F.to_timestamp("ts_s").alias("ts"))
    diff, sa, sb = diff_snapshots(df, "ts")
    assert sa.row_count == 0 and sb.row_count == 10
    rows = deterministic_diff_rows(diff, sa, sb)
    mins = [r for r in rows if r[1] == "min"]
    assert mins and all(r[3] == "incomparable" for r in mins)


def test_fused_empty_input_raises(spark):
    df = spark.createDataFrame(
        [], "event_id long, value double, ts timestamp")
    with pytest.raises(ValueError, match="no non-null"):
        diff_snapshots(df, "ts")


def test_profile_sides_multiway(spark):
    """profile_sides is general: a 3-way side column yields 3 states
    whose row counts partition the input."""
    df = _events(spark, n=90).withColumn(
        "__side", F.col("event_id") % 3)
    states = profile_sides(df, "__side")
    assert sorted(states) == [0, 1, 2]
    assert sum(s.row_count for s in states.values()) == 90
    for s in states.values():
        assert "__side" not in s.columns


def test_profiler_profile_by(spark):
    """Profiler.profile_by: per-group states from one grouped scan;
    each state equals the whole-profile of that group's slice (the
    wide-agg stat subset)."""
    from pyspark.sql import functions as F

    df = _events(spark, n=120).withColumn(
        "seg", F.when(F.col("event_id") % 2 == 0, "even").otherwise("odd"))
    from dataprofiler_spark import Profiler
    states = Profiler(df).profile_by("seg")
    assert sorted(states) == ["even", "odd"]
    assert states["even"].row_count == 60
    direct = Profiler(df.where(F.col("seg") == "odd").drop("seg")).profile()
    byg = states["odd"]
    assert byg.columns["value"].null_count == \
        direct.columns["value"].null_count
    assert byg.columns["value"].numeric.min == \
        direct.columns["value"].numeric.min
    assert byg.columns["value"].numeric.sum == \
        direct.columns["value"].numeric.sum
    import pytest as _pt
    with _pt.raises(ValueError, match="groups"):
        Profiler(df).profile_by("event_id", max_groups=10)


def test_profile_timeline(spark):
    """profile_timeline: per-bucket states partition the non-null-ts
    rows; bucket keys are date_trunc starts; NULL ts excluded."""
    df = _events(spark, n=200)
    from dataprofiler_spark.plans.diff_plan import profile_timeline
    states = profile_timeline(df, "ts", unit="week")
    assert len(states) >= 2
    assert sum(s.row_count for s in states.values()) == 200
    for k in states:
        assert k.weekday() == 0        # weeks start Monday
    # daily granularity partitions the same rows more finely
    daily = profile_timeline(df, "ts", unit="day")
    assert sum(s.row_count for s in daily.values()) == 200
    assert len(daily) > len(states)
