"""Reference-format profile import (interop.py): a profile saved by the
REFERENCE library's own JSON encoder (fixture regenerated in-container by
scripts/make_ref_profile_fixture.py) loads into a DatasetState whose
stats match what this engine computes over the same rows, and the
imported state participates in the merge/diff algebra."""

from __future__ import annotations

import math
import os

import pytest

from dataprofiler_spark.interop import load_reference_profile
from dataprofiler_spark.report import deterministic_report_rows, diff_profiles

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURE = os.path.join(REPO, "fixtures", "ref_profile_lineitem_sf0001.json.gz")
SF0001 = "/root/testdata/sf0.001"
REFERENCE_LIB = "/root/reference/dataprofiler"

# the tests that run the reference library itself (in a subprocess);
# everything else here reads the committed fixture and always runs
needs_reference = pytest.mark.skipif(
    not os.path.isdir(REFERENCE_LIB),
    reason=f"reference library checkout not present at {REFERENCE_LIB}")


@pytest.fixture(scope="module")
def ref_state():
    return load_reference_profile(FIXTURE)


def test_import_basic_shape(ref_state):
    st = ref_state
    assert st.row_count == 6000
    assert st.unique_row_count == 6000
    assert len(st.column_order) == 11
    assert st.column_order[0] == "l_orderkey"
    rf = st.columns["l_returnflag"]
    assert rf.inferred_type == "text"
    assert rf.categorical.categories == {"N": 2070, "R": 1968, "A": 1962}
    assert rf.text.vocab == ["A", "N", "R"]
    sd = st.columns["l_shipdate"]
    assert sd.inferred_type == "datetime"
    assert sd.datetime.min_ts == "1995-01-02 00:00:00"
    assert sd.datetime.max_ts == "2001-11-04 00:00:00"
    assert sd.datetime.formats == ["%Y-%m-%d %H:%M:%S"]
    ok = st.columns["l_orderkey"]
    assert ok.inferred_type == "int"
    assert ok.type_counts == {"datetime": 0, "int": 6000, "float": 6000,
                              "text": 6000}


def test_import_moment_inversion(ref_state):
    """Biased-moment inversion reproduces the reference's own corrected
    stats (values read from the reference's serializable report on the
    same data — see scripts/make_ref_profile_fixture.py)."""
    n = ref_state.columns["l_quantity"].numeric
    assert n.n == 6000
    assert n.min == 1.0 and n.max == 50.0 and n.sum == 152257.0
    assert math.isclose(n.variance, 210.86447605156414, rel_tol=1e-12)
    assert math.isclose(n.skewness, -0.006336271964706753, rel_tol=1e-9)
    assert math.isclose(n.kurtosis, -1.208974530101909, rel_tol=1e-12)
    assert n.histogram and len(n.histogram["bin_counts"]) == 1000


def test_imported_matches_engine_profile(ref_state, spark):
    """The engine profiling the SAME rows produces the same deterministic
    report slice — the migration contract: stats from a loaded legacy
    profile agree with freshly computed Spark stats."""
    from dataprofiler_spark import Profiler

    df = spark.read.parquet(os.path.join(SF0001, "lineitem.parquet"))
    ours = {(c, s): (vn, vs) for c, s, vn, vs in
            deterministic_report_rows(Profiler(df).profile())}
    theirs = {(c, s): (vn, vs) for c, s, vn, vs in
              deterministic_report_rows(ref_state)}
    shared = set(ours) & set(theirs)
    # every engine-side stat family must appear in the imported slice
    assert {"min", "max", "null_count", "len_sum", "min_ts", "row_count"} \
        <= {s for _, s in shared}
    mismatched = {k: (ours[k], theirs[k]) for k in shared
                  if ours[k] != theirs[k]}
    assert not mismatched, mismatched


def test_imported_profile_reports(ref_state):
    """build_report over an IMPORTED state: the full report assembles,
    and the histogram-derived stats reproduce the reference's own
    report values on the same profile — median bit-for-bit (both
    engines interpolate the same stored bins), variance to the
    moment-inversion precision."""
    from dataprofiler_spark.report import build_report

    rep = build_report(ref_state, output_format="compact")
    assert rep["global_stats"]["row_count"] == 6000
    qty = next(d for d in rep["data_stats"]
               if d["column_name"] == "l_quantity")
    s = qty["statistics"]
    # values from the reference's serializable report on this profile
    # (see scripts/make_ref_profile_fixture.py)
    assert s["median"] == 25.005947368421054
    assert math.isclose(s["variance"], 210.86447605156414, rel_tol=1e-12)
    assert s["min"] == 1.0 and s["max"] == 50.0
    rf = next(d for d in rep["data_stats"]
              if d["column_name"] == "l_returnflag")
    assert rf["statistics"]["categorical_count"]["N"] == 2070


def test_imported_merge_and_diff(ref_state, spark):
    """Imported state participates in the + algebra and in diff()."""
    from dataprofiler_spark import Profiler

    df = spark.read.parquet(os.path.join(SF0001, "lineitem.parquet"))
    mine = Profiler(df).profile()
    merged = ref_state + mine
    assert merged.row_count == 12000
    assert merged.columns["l_quantity"].numeric.sum == 2 * 152257.0
    assert merged.columns["l_returnflag"].categorical.categories["N"] == 4140

    d = diff_profiles(ref_state, mine)
    assert d["global_stats"]["row_count"] == "unchanged"
    qty = next(c for c in d["data_stats"] if c["column_name"] == "l_quantity")
    stats = qty["statistics"]
    assert stats["min"] == "unchanged" and stats["max"] == "unchanged"
    assert stats["mean"] == "unchanged"
    # variance survives the biased-moment inversion to ~1e-12 relative
    v = stats["variance"]
    assert v == "unchanged" or abs(v) < 1e-9


def test_export_round_trips_through_import(spark, tmp_path):
    """save_reference_profile → load_reference_profile is stat-exact
    for everything both directions carry (the cheap inverse check; the
    reference-library load test below is the real contract)."""
    from dataprofiler_spark import Profiler
    from dataprofiler_spark.interop import save_reference_profile

    df = spark.read.parquet(os.path.join(SF0001, "orders.parquet"))
    st = Profiler(df).profile()
    p = tmp_path / "export.json.gz"
    save_reference_profile(st, str(p))
    back = load_reference_profile(str(p))
    assert back.row_count == st.row_count
    assert back.column_order == st.column_order
    for c in st.column_order:
        a, b = st.columns[c], back.columns[c]
        assert (a.null_count, a.sample_size, a.inferred_type) == \
            (b.null_count, b.sample_size, b.inferred_type), c
        if a.numeric:
            assert b.numeric is not None, c
            assert (a.numeric.n, a.numeric.min, a.numeric.max,
                    a.numeric.sum) == (b.numeric.n, b.numeric.min,
                                       b.numeric.max, b.numeric.sum), c
            assert b.numeric.variance == pytest.approx(
                a.numeric.variance, rel=1e-12)
        if a.categorical and a.categorical.active:
            assert b.categorical.categories == a.categorical.categories, c
        if a.inferred_type == "datetime":
            assert (b.datetime.min_ts, b.datetime.max_ts) == \
                (a.datetime.min_ts, a.datetime.max_ts), c

    # vector columns have no reference representation — loud refusal
    vdf = spark.createDataFrame([(1, [1.0, 2.0])], "id long, v array<double>")
    with pytest.raises(ValueError, match="vector"):
        save_reference_profile(Profiler(vdf).profile(), str(tmp_path / "v.json"))


@needs_reference
def test_export_loads_in_reference(spark, tmp_path):
    """THE migration contract, outbound direction: the REFERENCE
    library itself (run in-container via baseline_harness's dependency
    stubs) loads a profile this engine exported and reports this
    engine's stats. Spark profile → save_reference_profile →
    dp.Profiler.load(..., "json") → report — min/max/sum/variance/
    null_count/data_type all agree."""
    import math
    import subprocess
    import sys as _sys

    from dataprofiler_spark import Profiler
    from dataprofiler_spark.interop import save_reference_profile

    df = spark.read.parquet(os.path.join(SF0001, "orders.parquet"))
    st = Profiler(df).profile()
    p = str(tmp_path / "export_orders.json")
    save_reference_profile(st, p)

    # the reference import mutates global module state (scipy/psutil
    # stubs) — run it in a subprocess to keep this test hermetic
    code = f"""
import sys, json
sys.path.insert(0, "/root/repo")
from baseline_harness import install_stubs
install_stubs()
sys.path.insert(0, "/root/reference")
import dataprofiler as dp
prof = dp.Profiler.load({p!r}, load_method="json")
rep = prof.report({{"output_format": "serializable"}})
out = {{}}
for ds in rep["data_stats"]:
    s = ds["statistics"]
    out[ds["column_name"]] = {{
        "data_type": ds["data_type"],
        "null_count": s.get("null_count", ds.get("null_count")),
        "min": s.get("min"), "max": s.get("max"), "sum": s.get("sum"),
        "variance": s.get("variance"),
        "categories": s.get("categories"),
        "sample_size": ds.get("samples", None)}}
print("REFREPORT " + json.dumps(out))
"""
    r = subprocess.run([_sys.executable, "-c", code], capture_output=True,
                       text=True, timeout=300)
    line = next((ln for ln in r.stdout.splitlines()
                 if ln.startswith("REFREPORT ")), None)
    assert line, f"reference load failed:\n{r.stderr[-2000:]}"
    import json as _json
    ref = _json.loads(line[len("REFREPORT "):])
    assert set(ref) == set(st.column_order)
    for c, got in ref.items():
        mine = st.columns[c]
        assert got["null_count"] == mine.null_count, c
        if mine.numeric:
            assert got["data_type"] in ("int", "float"), c
            for k, v in (("min", mine.numeric.min),
                         ("max", mine.numeric.max),
                         ("sum", mine.numeric.sum)):
                assert got[k] == pytest.approx(v, rel=1e-12), (c, k)
            assert got["variance"] == pytest.approx(
                mine.numeric.variance, rel=1e-9), c
        if mine.categorical and mine.categorical.active and \
                got.get("categories"):
            assert sorted(got["categories"]) == \
                sorted(mine.categorical.categories), c
        if mine.inferred_type == "datetime":
            assert got["data_type"] == "datetime", c


def test_unstructured_rejected(tmp_path):
    import gzip
    import json
    bad = {"class": "UnstructuredProfiler", "data": {}}
    p = tmp_path / "u.json"
    p.write_text(json.dumps(bad))
    with pytest.raises(NotImplementedError):
        load_reference_profile(str(p))
    with pytest.raises(ValueError):
        load_reference_profile({"class": "SomethingElse", "data": {}})


@needs_reference
def test_import_null_bearing_reference_profile(tmp_path):
    """Import parity on a NULL-bearing profile (the committed lineitem
    fixture has zero nulls): the reference profiles a frame with
    NaN / 'null' / '' cells in-container, saves JSON, and the import
    must carry its null_count / null_types / per-type match counts."""
    import json
    import subprocess
    import sys as _sys

    p = str(tmp_path / "ref_nulls.json")
    code = f"""
import sys
sys.path.insert(0, "/root/repo")
from baseline_harness import install_stubs
install_stubs()
sys.path.insert(0, "/root/reference")
import numpy as np
import pandas as pd
import dataprofiler as dp
df = pd.DataFrame({{
    "num": [1.0, 2.0, np.nan, 4.0, np.nan, 6.0] * 10,
    "txt": ["a", "", "null", "b", "c", "--"] * 10,
}})
opts = dp.ProfilerOptions()
opts.set({{"data_labeler.is_enabled": False}})
prof = dp.Profiler(df, samples_per_update=len(df), options=opts)
prof.save({p!r}, save_method="json")
rep = prof.report({{"output_format": "serializable"}})
import json
print("REFNULLS " + json.dumps([
    {{"col": ds["column_name"], "null": ds["statistics"].get("null_count"),
      "types": sorted(ds["statistics"].get("null_types", []))}}
    for ds in rep["data_stats"]]))
"""
    r = subprocess.run([_sys.executable, "-c", code], capture_output=True,
                       text=True, timeout=300)
    line = next((ln for ln in r.stdout.splitlines()
                 if ln.startswith("REFNULLS ")), None)
    assert line, f"reference profiling failed:\n{r.stderr[-2000:]}"
    ref_report = {d["col"]: d for d in json.loads(line[len("REFNULLS "):])}

    st = load_reference_profile(p)
    num, txt = st.columns["num"], st.columns["txt"]
    assert num.null_count == ref_report["num"]["null"] == 20
    # '', 'null' and '--' are regex-nulls for the reference
    assert txt.null_count == ref_report["txt"]["null"] == 30
    assert txt.null_types == ref_report["txt"]["types"]
    assert num.sample_size == txt.sample_size == 60
    # the numeric stats exclude the null cells
    assert num.numeric is not None and num.numeric.n == 40
    assert num.numeric.min == 1.0 and num.numeric.max == 6.0
    # text stats exclude regex-nulls too (reference match_count)
    assert txt.text is not None and txt.text.lengths.n == 30


def test_export_import_generative_roundtrip():
    """Seeded generative round-trip: random DatasetStates (numeric /
    text / datetime / categorical columns, random nulls and moments)
    survive save_reference_profile → load_reference_profile with every
    stat both directions carry intact — the no-Spark property-test
    complement to the reference-library load test."""
    import random
    import tempfile

    from dataprofiler_spark.interop import save_reference_profile
    from dataprofiler_spark.state import (CategoricalState, ColumnState,
                                          DatasetState, DatetimeState,
                                          NumericState, OrderState,
                                          TextState)

    rng = random.Random(1234)
    for case in range(12):
        n = rng.randint(1, 5000)
        cols = {}
        order = []
        for ci in range(rng.randint(1, 6)):
            name = f"c{case}_{ci}"
            kind = rng.choice(["int", "float", "text", "datetime"])
            nulls = rng.randint(0, n // 2)
            cs = ColumnState(name=name, sample_size=n, null_count=nulls,
                             null_types=sorted(rng.sample(
                                 ["", "nan", "null", "--"],
                                 rng.randint(0, 3))),
                             type_counts={"datetime": 0, "int": 0,
                                          "float": 0, "text": n - nulls},
                             inferred_type=kind)
            m = n - nulls
            if kind in ("int", "float") and m:
                vals = sorted(rng.uniform(-100, 100) for _ in range(4))
                s1 = rng.uniform(-1e4, 1e4)
                cs.numeric = NumericState(
                    n=m, sum=s1, min=vals[0], max=vals[-1],
                    m2=rng.uniform(0, 1e4) * m,
                    m3=rng.uniform(-1e3, 1e3) * m,
                    m4=rng.uniform(0, 1e6) * m,
                    num_zeros=rng.randint(0, m),
                    num_negatives=rng.randint(0, m),
                    histogram={"bin_counts": [m // 2, m - m // 2],
                               "bin_edges": [vals[0], vals[1], vals[-1]]})
                cs.type_counts[kind] = m
            elif kind == "text" and m:
                cs.text = TextState(
                    lengths=NumericState(n=m, sum=float(7 * m), min=1.0,
                                         max=30.0, m2=2.5 * m),
                    vocab=sorted(set(rng.choice("abcdef")
                                     for _ in range(6))))
                cs.categorical = CategoricalState(
                    categories={f"v{j}": rng.randint(1, m)
                                for j in range(rng.randint(1, 5))})
            elif kind == "datetime":
                cs.type_counts["datetime"] = m
                cs.datetime = DatetimeState(
                    n=m, min_ts="2001-02-03 04:05:06",
                    max_ts="2020-12-31 23:59:59",
                    formats=["%Y-%m-%d %H:%M:%S"])
            cs.order = OrderState(order=rng.choice(
                ["ascending", "descending", "random"]),
                first=1.0, last=2.0, n=n)
            cols[name] = cs
            order.append(name)
        st = DatasetState(row_count=n, column_order=order, columns=cols,
                          rows_with_null=rng.randint(0, n),
                          rows_all_null=0)
        with tempfile.NamedTemporaryFile(suffix=".json") as tmp:
            save_reference_profile(st, tmp.name)
            back = load_reference_profile(tmp.name)
        assert back.row_count == st.row_count
        assert back.column_order == st.column_order
        assert back.rows_with_null == st.rows_with_null
        for name in order:
            a, b = st.columns[name], back.columns[name]
            assert (a.null_count, a.null_types) == \
                (b.null_count, b.null_types), name
            if a.numeric and a.numeric.n:
                assert b.numeric is not None, name
                for attr in ("n", "min", "max", "sum", "num_zeros",
                             "num_negatives"):
                    assert getattr(b.numeric, attr) == pytest.approx(
                        getattr(a.numeric, attr), rel=1e-12), (name, attr)
                for attr in ("m2", "m3", "m4"):
                    assert getattr(b.numeric, attr) == pytest.approx(
                        getattr(a.numeric, attr), rel=1e-9,
                        abs=1e-6 * max(1, a.numeric.n)), (name, attr)
                assert b.numeric.histogram == a.numeric.histogram, name
            if a.inferred_type == "text" and a.text and a.text.lengths.n:
                assert b.text.vocab == a.text.vocab, name
                assert b.text.lengths.n == a.text.lengths.n, name
                assert b.categorical.categories == \
                    a.categorical.categories, name
            if a.inferred_type == "datetime" and a.datetime:
                assert (b.datetime.min_ts, b.datetime.max_ts,
                        b.datetime.formats) == \
                    (a.datetime.min_ts, a.datetime.max_ts,
                     a.datetime.formats), name
            if a.order:
                assert b.order.order == a.order.order, name


@needs_reference
def test_import_kurtosis_disabled_merge_keeps_unavailable(tmp_path, spark):
    """VERDICT r11 item 6: a reference profile saved with kurtosis
    DISABLED imports with m4=None (not a fabricated 0.0 fourth moment),
    and a later merge with a real engine profile keeps kurtosis
    unavailable instead of reporting a legitimate-looking number."""
    import json
    import subprocess
    import sys as _sys

    p = str(tmp_path / "ref_nokurt.json")
    code = f"""
import sys
sys.path.insert(0, "/root/repo")
from baseline_harness import install_stubs
install_stubs()
sys.path.insert(0, "/root/reference")
import pandas as pd
import dataprofiler as dp
df = pd.DataFrame({{"num": [1.0, 2.0, 3.0, 4.0, 5.0, 60.0] * 10}})
opts = dp.ProfilerOptions()
opts.set({{"data_labeler.is_enabled": False,
           "int.kurtosis.is_enabled": False,
           "float.kurtosis.is_enabled": False,
           "text.kurtosis.is_enabled": False}})
prof = dp.Profiler(df, samples_per_update=len(df), options=opts)
prof.save({p!r}, save_method="json")
print("SAVED ok")
"""
    r = subprocess.run([_sys.executable, "-c", code], capture_output=True,
                       text=True, timeout=300)
    assert "SAVED ok" in r.stdout, f"reference run failed:\n{r.stderr[-2000:]}"

    st = load_reference_profile(p)
    ns = st.columns["num"].numeric
    assert ns is not None and ns.n == 60
    assert ns.m4 is None
    assert ns.kurtosis is None
    # skewness was NOT disabled — it must still be real
    assert ns.skewness is not None

    # merge with an engine-computed profile over the same schema: the
    # unavailable fourth moment poisons the merged kurtosis (m4=None),
    # it does NOT resurface as a number
    from dataprofiler_spark import Profiler
    other = spark.createDataFrame(
        [(float(v),) for v in range(1, 31)], "num double")
    st2 = Profiler(other).profile()
    assert st2.columns["num"].numeric.m4 is not None
    merged = st + st2
    mns = merged.columns["num"].numeric
    assert mns.n == 90
    assert mns.m4 is None and mns.kurtosis is None
    # the moments that WERE available still merge exactly
    assert mns.mean is not None and mns.variance is not None

    # and the report surfaces null, not a number
    from dataprofiler_spark.report import build_report
    rep = build_report(merged, output_format="serializable")
    stats = rep["data_stats"][0]["statistics"]
    assert stats.get("kurtosis") is None
    assert stats.get("skewness") is not None

    # export → re-import round-trips the unavailability (NaN encoding)
    from dataprofiler_spark.interop import save_reference_profile
    out = str(tmp_path / "roundtrip.json")
    save_reference_profile(merged, out)
    back = load_reference_profile(out)
    assert back.columns["num"].numeric.m4 is None
