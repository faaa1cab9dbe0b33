"""Categorical dependence measures (operators/correlation.py):
mutual information semantics on hand-computable tables. Oracle parity
for the registered queries is covered by test_oracle_parity."""

from __future__ import annotations

import math

from dataprofiler_spark.operators import correlation as corr


def test_mutual_info_perfectly_dependent(spark):
    df = spark.createDataFrame([("x", "x")] * 50 + [("y", "y")] * 50,
                               ["p", "q"])
    r = corr.mutual_info_pair(df, "p", "q").collect()[0]
    assert abs(r["mi"] - math.log(2)) < 1e-6
    assert r["nmi"] == 1.0


def test_mutual_info_independent(spark):
    rows = [(a, b) for a in "xy" for b in "uv" for _ in range(25)]
    df = spark.createDataFrame(rows, ["p", "q"])
    r = corr.mutual_info_pair(df, "p", "q").collect()[0]
    assert r["mi"] == 0.0 and r["nmi"] == 0.0


def test_mutual_info_nulls_are_a_category(spark):
    df = spark.createDataFrame(
        [("x", None)] * 10 + [("y", "v")] * 10, ["p", "q"])
    r = corr.mutual_info_pair(df, "p", "q").collect()[0]
    assert abs(r["mi"] - math.log(2)) < 1e-6  # NULL tracks x perfectly


def test_spearman_monotone_nonlinear(spark):
    """rho = 1 for any strictly increasing transform (where Pearson
    drops below 1), -1 for decreasing, and ~0 for independence."""
    rows = [(float(i), float(i ** 3), float(-i), float((i * 37) % 101))
            for i in range(1, 60)]
    df = spark.createDataFrame(rows, "x double, cube double, neg double, scram double")
    out = {(r["col1"], r["col2"]): r["rho"] for r in
           corr.spearman_matrix(df, ["x", "cube", "neg", "scram"]).collect()}
    assert out[("x", "cube")] == 1.0
    assert out[("x", "neg")] == -1.0
    assert abs(out[("x", "scram")]) < 0.3
    pearson = {(r["col1"], r["col2"]): r["corr"] for r in
               corr.correlation_matrix(df, ["x", "cube"]).collect()}
    assert pearson[("x", "cube")] < 1.0  # the monotone-vs-linear gap


def test_spearman_ties_match_reference_formula(spark):
    """Average-rank tie handling matches a pure-Python reference
    (average ranks + Pearson) on a tie-heavy table."""
    import random

    def avg_ranks(vals):
        order = sorted(vals)
        first = {}
        for i, v in enumerate(order):
            first.setdefault(v, i)
        cnt = {}
        for v in order:
            cnt[v] = cnt.get(v, 0) + 1
        return [first[v] + (cnt[v] + 1) / 2 for v in vals]

    def pearson(a, b):
        n = len(a)
        sa, sb = sum(a), sum(b)
        num = n * sum(x * y for x, y in zip(a, b)) - sa * sb
        da = n * sum(x * x for x in a) - sa * sa
        db = n * sum(y * y for y in b) - sb * sb
        return num / math.sqrt(da * db)

    rng = random.Random(7)
    xs = [float(rng.randint(0, 5)) for _ in range(200)]
    ys = [x + rng.randint(0, 3) for x in xs]
    df = spark.createDataFrame(list(zip(xs, ys)), "a double, b double")
    got = corr.spearman_matrix(df, ["a", "b"]).collect()[0]["rho"]
    want = pearson(avg_ranks(xs), avg_ranks(ys))
    assert abs(got - want) < 1e-6


def test_spearman_complete_case_and_constant(spark):
    """Rows with NULL/NaN in any column drop; a constant column yields
    rho NULL (zero rank variance)."""
    rows = [(1.0, 1.0, 5.0), (2.0, 4.0, 5.0), (3.0, 9.0, 5.0),
            (None, 16.0, 5.0), (5.0, None, 5.0),
            (float("nan"), 36.0, 5.0)]
    df = spark.createDataFrame(rows, "x double, y double, c double")
    out = {(r["col1"], r["col2"]): r["rho"] for r in
           corr.spearman_matrix(df, ["x", "y", "c"]).collect()}
    assert out[("x", "y")] == 1.0          # the 3 complete rows are monotone
    assert out[("x", "c")] is None
    assert out[("y", "c")] is None


def test_spearman_no_global_row_window(spark, sf_dir, monkeypatch):
    """The ranking must never sort the full table in one partition. With
    the counts-CDF's range-chunked arm forced (as in
    test_counts_cdf_parallel_matches_global_window), every window in the
    plan either partitions by the range chunk ``__pid`` or orders the
    per-chunk totals by it."""
    import os
    import re

    from dataprofiler_spark.operators import histogram as H

    monkeypatch.setattr(H, "CDF_SMALL_MAX_ROWS", 8)
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    plan = (corr.spearman_matrix(li, ["l_quantity", "l_extendedprice"])
            ._jdf.queryExecution().executedPlan().toString())
    windows = re.findall(
        r"(\w+)\(([^)]*)\) windowspecdefinition\(([^)]*)\)", plan)
    assert windows, plan[:2000]
    for fn, arg, spec in windows:
        first = spec.split(",")[0].strip()
        by_chunk = re.fullmatch(r"__pid#\d+", first)
        chunk_totals = (re.fullmatch(r"__pid#\d+ ASC NULLS FIRST", first)
                        and fn == "sum" and arg.startswith("__t#"))
        assert by_chunk or chunk_totals, (spec, plan[:2000])


def test_cramers_v_known_values(spark):
    """Perfect association -> V = 1; independence -> V ~ 0; a constant
    column -> V NULL."""
    dep = spark.createDataFrame([("x", "p")] * 40 + [("y", "q")] * 60,
                                ["a", "b"])
    r = dep.transform(lambda d: d)  # no-op, keep flake quiet
    row = corr.cramers_v_pair(dep, "a", "b").collect()[0]
    assert row["v"] == 1.0 and row["n"] == 100

    ind = spark.createDataFrame(
        [(a, b) for a in ("x", "y") for b in ("p", "q") for _ in range(25)],
        ["a", "b"])
    assert corr.cramers_v_pair(ind, "a", "b").collect()[0]["v"] == 0.0

    const = spark.createDataFrame([("x", "only")] * 10 + [("y", "only")] * 10,
                                  ["a", "b"])
    assert corr.cramers_v_pair(const, "a", "b").collect()[0]["v"] is None


def test_chi2_drops_null_rows_scipy_semantics(spark):
    """Rows where either column is NULL are excluded before the dense
    grid (pandas.crosstab/scipy semantics, the reference's path) — so
    chi2 sums over exactly ka*kb cells and dof counts the same
    categories. Hand-check: after dropping the NULL rows the table is
    [[30, 10], [10, 30]] (n=80, all e=20) -> chi2 = 4*(10^2/20) = 20,
    dof = 1."""
    rows = ([("x", "p")] * 30 + [("x", "q")] * 10
            + [("y", "p")] * 10 + [("y", "q")] * 30
            + [(None, "p")] * 7 + [("x", None)] * 5)
    df = spark.createDataFrame(rows, "a string, b string")
    r = corr.chi2_matrix_pair(df, "a", "b").collect()[0]
    assert r["chi2"] == 20.0 and r["dof"] == 1

    v = corr.cramers_v_pair(df, "a", "b").collect()[0]
    assert v["n"] == 80 and v["chi2"] == 20.0
    assert abs(v["v"] - 0.5) < 1e-9  # sqrt(20/80/1)

    # A column that is {NULL,'x'} has ONE category after the drop:
    # m = 0 -> V undefined (matches scipy on the dropna'd crosstab).
    degen = spark.createDataFrame(
        [("x", "p")] * 5 + [(None, "q")] * 5, "a string, b string")
    assert corr.cramers_v_pair(degen, "a", "b").collect()[0]["v"] is None


def test_cohens_kappa_known_values(spark):
    """Perfect agreement -> kappa 1; perfect disagreement on a 2x2 ->
    kappa -1; agreement no better than chance -> kappa ~ 0; both
    columns constant-equal (pe = 1) -> NULL."""
    perfect = spark.createDataFrame(
        [("x", "x")] * 30 + [("y", "y")] * 20, ["a", "b"])
    r = corr.cohens_kappa(perfect, "a", "b").collect()[0]
    assert r["kappa"] == 1.0 and r["po"] == 1.0

    opposite = spark.createDataFrame(
        [("x", "y")] * 25 + [("y", "x")] * 25, ["a", "b"])
    assert corr.cohens_kappa(opposite, "a", "b").collect()[0]["kappa"] == -1.0

    # independence: P(agree) = pe exactly on this balanced table
    chance = spark.createDataFrame(
        [(a, b) for a in "xy" for b in "xy" for _ in range(25)], ["a", "b"])
    assert corr.cohens_kappa(chance, "a", "b").collect()[0]["kappa"] == 0.0

    const = spark.createDataFrame([("x", "x")] * 10, ["a", "b"])
    assert corr.cohens_kappa(const, "a", "b").collect()[0]["kappa"] is None

    # NULL rows dropped (sklearn semantics)
    withnull = spark.createDataFrame(
        [("x", "x")] * 10 + [(None, "x")] * 5 + [("y", None)] * 5,
        "a string, b string")
    r = corr.cohens_kappa(withnull, "a", "b").collect()[0]
    assert r["n"] == 10 and r["kappa"] is None  # constant after the drop


def test_null_phi_matrix_semantics(spark):
    """Identical null masks -> phi 1; disjoint-ish -> negative; a
    never-null column -> phi NULL (constant indicator)."""
    rows = []
    for i in range(100):
        a = None if i % 4 == 0 else float(i)
        b = None if i % 4 == 0 else float(i) * 2   # same mask as a
        c = None if i % 4 == 1 else "x"            # disjoint from a
        d = float(i)                               # never null
        rows.append((a, b, c, d))
    df = spark.createDataFrame(rows, "a double, b double, c string, d double")
    out = {(r["col1"], r["col2"]): r for r in
           corr.null_phi_matrix(df, ["a", "b", "c", "d"]).collect()}
    assert out[("a", "b")]["phi"] == 1.0
    assert out[("a", "b")]["both_null"] == 25
    assert out[("a", "c")]["phi"] < 0       # masks never overlap
    assert out[("a", "d")]["phi"] is None   # d's indicator is constant
    assert out[("a", "b")]["n"] == 100 and out[("a", "b")]["null1"] == 25
