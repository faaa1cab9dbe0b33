"""Profiler plan + state algebra tests: merge invariance (the reference's
key test pattern — profile(A)+profile(B) vs profile(A∪B), see SURVEY §5),
report shape, JSON round-trip, diff."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dataprofiler_spark import (Profiler, ProfilerOptions, build_report,
                                diff_profiles, from_json, to_json)
from dataprofiler_spark.streaming.incremental import StreamingProfiler


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))


def test_profile_report_shape(spark, lineitem):
    p = Profiler(lineitem)
    report = p.report()
    assert set(report) == {"global_stats", "data_stats"}
    gs = report["global_stats"]
    assert gs["row_count"] == lineitem.count()
    assert gs["column_count"] == len(lineitem.columns)
    names = [d["column_name"] for d in report["data_stats"]]
    assert names == lineitem.columns
    by_name = {d["column_name"]: d for d in report["data_stats"]}
    q = by_name["l_quantity"]
    assert q["data_type"] == "float"
    assert q["statistics"]["min"] == 1.0
    assert q["statistics"]["null_count"] == 0
    assert "histogram" in q["statistics"]
    assert "quantiles" in q["statistics"]
    rf = by_name["l_returnflag"]
    assert rf["categorical"] is True
    assert set(rf["statistics"]["categorical_count"]) == {"A", "N", "R"}
    sd = by_name["l_shipdate"]
    assert sd["data_type"] == "datetime"
    assert sd["statistics"]["min_datetime"] is not None


def test_merge_invariance(spark, lineitem):
    whole = Profiler(lineitem).profile()
    half1 = lineitem.where(F.col("l_orderkey") % 2 == 0)
    half2 = lineitem.where(F.col("l_orderkey") % 2 == 1)
    merged = Profiler(half1).profile() + Profiler(half2).profile()

    assert merged.row_count == whole.row_count
    for c in ["l_quantity", "l_extendedprice", "l_discount"]:
        a, b = whole.columns[c].numeric, merged.columns[c].numeric
        assert a.n == b.n
        assert a.min == b.min and a.max == b.max
        assert a.mean == pytest.approx(b.mean, rel=1e-12)
        assert a.variance == pytest.approx(b.variance, rel=1e-9)
        assert a.skewness == pytest.approx(b.skewness, rel=1e-6)
        assert a.kurtosis == pytest.approx(b.kurtosis, rel=1e-6)
    ca = whole.columns["l_returnflag"].categorical.categories
    cb = merged.columns["l_returnflag"].categorical.categories
    assert ca == cb


def test_incremental_equals_merge(spark, lineitem):
    half1 = lineitem.where(F.col("l_orderkey") % 2 == 0)
    half2 = lineitem.where(F.col("l_orderkey") % 2 == 1)
    p = Profiler(half1)
    p.profile()
    state = p.update_profile(half2)
    assert state.row_count == lineitem.count()

    sp = StreamingProfiler()
    sp.update(half1, 0)
    sp.update(half2, 1)
    assert sp.state.row_count == state.row_count
    assert sp.batches_seen == 2


def test_json_round_trip(spark, lineitem):
    state = Profiler(lineitem).profile()
    restored = from_json(to_json(state))
    assert restored.row_count == state.row_count
    assert restored.columns["l_quantity"].numeric.mean == \
        state.columns["l_quantity"].numeric.mean
    assert restored.columns["l_returnflag"].categorical.categories == \
        state.columns["l_returnflag"].categorical.categories
    # report builds identically from a restored state
    assert build_report(restored)["global_stats"]["row_count"] == \
        build_report(state)["global_stats"]["row_count"]


def test_diff(spark, lineitem):
    a = Profiler(lineitem.where(F.col("l_shipdate") < "1997-01-01")).profile()
    b = Profiler(lineitem.where(F.col("l_shipdate") >= "1997-01-01")).profile()
    d = diff_profiles(a, b)
    by_name = {x["column_name"]: x for x in d["data_stats"]}
    q = by_name["l_quantity"]
    assert "t-test" in q and q["t-test"] is not None
    assert "t-statistic" in q["t-test"]
    rf = by_name["l_returnflag"]
    assert rf["psi"] is not None and rf["psi"] >= 0 or rf["psi"] < 1
    assert rf["chi2-test"]["deg_of_free"] == 2


def test_profile_with_sampling(spark, lineitem):
    p = Profiler(lineitem, ProfilerOptions(sample_fraction=0.2))
    state = p.profile()
    n = lineitem.count()
    assert 0.1 * n < state.row_count < 0.3 * n


def test_profile_order_and_formats(spark, sf_dir):
    import os as _os
    from pyspark.sql import functions as F

    df = (spark.read.parquet(_os.path.join(sf_dir, "orders.parquet"))
          .withColumn("od_str", F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss")))
    p = Profiler(df, ProfilerOptions(order_by=["o_orderkey"],
                                     detect_datetime_formats=True))
    state = p.profile()
    assert state.columns["o_orderkey"].order.order == "ascending"
    assert state.columns["o_totalprice"].order.order == "random"
    od = state.columns["od_str"]
    assert od.inferred_type == "datetime"
    assert "%Y-%m-%d %H:%M:%S" in od.datetime.formats


def test_merge_profile_list_and_seed(spark, sf_dir):
    import os as _os
    from pyspark.sql import functions as F
    from dataprofiler_spark.session import set_seed, get_seed
    from dataprofiler_spark.state import merge_profile_list

    li = spark.read.parquet(_os.path.join(sf_dir, "lineitem.parquet"))
    parts = [Profiler(li.where(F.col("l_orderkey") % 3 == i)).profile()
             for i in range(3)]
    merged = merge_profile_list(parts)
    assert merged.row_count == li.count()

    set_seed(7)
    assert get_seed() == 7
    assert ProfilerOptions().sample_seed == 7
    set_seed(None)


def test_profiler_edge_cases(spark):
    """Empty tables, all-null columns, constant columns (the reference's
    edge-case test pattern, e.g. test_int_column_profile.py:22-57)."""
    from pyspark.sql.types import (DoubleType, StringType, StructField,
                                   StructType)

    schema = StructType([StructField("x", DoubleType()),
                         StructField("s", StringType())])
    empty = spark.createDataFrame([], schema)
    st = Profiler(empty).profile()
    assert st.row_count == 0
    assert st.columns["x"].numeric.n == 0
    assert build_report(st)["global_stats"]["row_count"] == 0

    allnull = spark.createDataFrame([(None, None)] * 10, schema)
    st2 = Profiler(allnull).profile()
    assert st2.columns["x"].null_count == 10
    assert st2.rows_all_null == 10
    assert st2.columns["x"].numeric.n == 0

    const = spark.createDataFrame([(5.0, "a")] * 10, schema)
    st3 = Profiler(const).profile()
    ns = st3.columns["x"].numeric
    assert ns.mean == 5.0 and ns.variance == 0.0
    assert ns.skewness is None  # m2 == 0 → undefined, not NaN
    rep = build_report(st3)
    assert rep["data_stats"][0]["statistics"]["stddev"] == 0.0


def test_dispatch(spark, tmp_path, sf_dir):
    from dataprofiler_spark.plans.dispatch import (GraphProfiler,
                                                   UnstructuredProfiler,
                                                   profile_path)
    (tmp_path / "blob.txt").write_text("hello world\n\nthe end\n")
    p = profile_path(spark, str(tmp_path / "blob.txt"))
    assert isinstance(p, UnstructuredProfiler)
    rep = p.report()
    assert rep["global_stats"]["samples_used"] == 3
    assert rep["global_stats"]["empty_line_count"] == 1
    assert rep["data_stats"]["statistics"]["word_count"] == 4

    # default regex entity section is present
    assert "entity_counts" in rep["data_stats"]["statistics"]

    (tmp_path / "edges.csv").write_text(
        "source,target,w\n1,2,0.1\n2,3,0.2\n4,5,0.3\n")
    g = profile_path(spark, str(tmp_path / "edges.csv"))
    assert isinstance(g, GraphProfiler)
    grep = g.report()
    assert grep["num_nodes"] == 5
    assert grep["num_components"] == 2
    assert grep["max_component_size"] == 3

    import os as _os
    sp = profile_path(spark, _os.path.join(sf_dir, "region.parquet"))
    assert isinstance(sp, Profiler)
    assert sp.report()["global_stats"]["row_count"] == 5


def test_unstructured_cnn_entity_section(spark, tmp_path):
    from dataprofiler_spark.labeler.ner import load_unstructured_model
    from dataprofiler_spark.plans.dispatch import UnstructuredProfiler

    if load_unstructured_model() is None:
        import pytest
        pytest.skip("CNN weights unavailable")
    df = spark.createDataFrame(
        [("call 555-867-5309 today",),
         ("mail jane@example.com please",),
         ("nothing to see here",)], ["text"])
    rep = UnstructuredProfiler(df, "text", labeler="cnn").report()
    stats = rep["data_stats"]["statistics"]
    wl = stats["entity_counts"]["word_level"]
    cl = stats["entity_counts"]["postprocess_char_level"]
    assert wl.get("PHONE_NUMBER", 0) >= 1
    assert wl.get("EMAIL_ADDRESS", 0) >= 1
    # char accounting: labeled + UNKNOWN == total chars
    total = sum(len(r[0]) for r in df.collect())
    assert sum(cl.values()) == total
    pct = stats["entity_percentages"]["postprocess_char_level"]
    assert abs(sum(pct.values()) - 1.0) < 0.01

    # labeler=None skips the section
    rep2 = UnstructuredProfiler(df, "text", labeler=None).report()
    assert "entity_counts" not in rep2["data_stats"]["statistics"]


def test_salted_agg_equivalence(spark, sf_dir):
    import os as _os
    from dataprofiler_spark.operators.skew import salted_agg

    df = spark.read.parquet(_os.path.join(sf_dir, "lineitem.parquet"))
    plain = {(r["l_returnflag"],): (r["n"], r["mx"]) for r in
             df.groupBy("l_returnflag")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.max("l_quantity").alias("mx")).collect()}
    salted = {(r["l_returnflag"],): (r["n"], r["mx"]) for r in
              salted_agg(df, ["l_returnflag"],
                         {"n": ("*", "count"),
                          "mx": ("l_quantity", "max")}).collect()}
    assert plain == salted


def test_wide_table_stays_two_jobs(spark, sf_dir):
    """Column count must widen expressions, not add jobs/scans: a 40+
    column table still profiles with exactly the wide-agg pass and the
    fused counts pass."""
    import os as _os

    li = spark.read.parquet(_os.path.join(sf_dir, "lineitem.parquet"))
    wide = li
    for i in range(5):
        wide = (wide
                .withColumn(f"q{i}", F.col("l_quantity") * (i + 1))
                .withColumn(f"p{i}", F.col("l_extendedprice") + i)
                .withColumn(f"s{i}", F.concat(F.col("l_returnflag"), F.lit(str(i))))
                .withColumn(f"d{i}", F.col("l_discount") / (i + 1)))
    assert len(wide.columns) >= 30
    state = Profiler(wide).profile()
    # exactly two data scans; the rest of the telemetry is driver-side
    scans = {k for k in state.times if k in ("wide_agg", "counts_pass")}
    assert scans == {"wide_agg", "counts_pass"}
    assert set(state.times) == {"wide_agg", "assemble", "bin_selection",
                                "counts_pass", "samples",
                                "wide_agg_groups"}
    # a 30+-column table must split into several bounded-width groups
    assert state.times["wide_agg_groups"] > 1
    assert state.columns["q4"].numeric.n == state.row_count
    assert state.columns["s4"].categorical.categories  # tracked


def test_min_true_samples_escalates(spark):
    """A tiny sample of a mostly-null column must escalate until the
    non-null floor is met (profile_builder.py:636-645 semantics)."""
    df = spark.range(20000).selectExpr(
        "id", "CASE WHEN id % 100 = 0 THEN CAST(id AS DOUBLE) END AS sparse")
    p = Profiler(df, ProfilerOptions(sample_fraction=0.01,
                                     min_true_samples=150))
    state = p.profile()
    non_null = state.columns["sparse"].sample_size - \
        state.columns["sparse"].null_count
    assert non_null >= 150  # 0.01 sample has ~2 non-nulls; must escalate


def test_order_merge_range_algebra():
    """Reference range-algebra merge (order_column_profile.py:133-262):
    commutative, intersect/envelope/piecewise aware."""
    from dataprofiler_spark.state import OrderState

    asc = lambda f, l, pw=False: OrderState("ascending", f, l, 10, pw)
    desc = lambda f, l, pw=False: OrderState("descending", f, l, 10, pw)
    const = lambda v: OrderState("constant value", v, v, 10)

    # disjoint same-direction runs stay sorted, in either operand order
    m = asc(0, 5) + asc(10, 20)
    assert (m.order, m.first, m.last, m.piecewise) == ("ascending", 0, 20, True)
    m = asc(10, 20) + asc(0, 5)
    assert (m.order, m.first, m.last) == ("ascending", 0, 20)

    # intersecting non-piecewise sorted runs degrade to random
    m = asc(0, 10) + asc(5, 20)
    assert m.order == "random" and not m.piecewise
    assert (m.first, m.last) == (0, 20)  # random reports the envelope

    # piecewise+piecewise intersecting keeps direction
    assert (asc(0, 10, pw=True) + asc(5, 20, pw=True)).order == "ascending"
    # piecewise enveloping a non-piecewise keeps direction
    assert (asc(0, 100, pw=True) + asc(5, 20)).order == "ascending"

    # opposite directions always random
    assert (asc(0, 5) + desc(20, 10)).order == "random"

    # constant + ascending, disjoint → ascending
    m = const(7) + asc(10, 20)
    assert m.order == "ascending"
    # identical constants stay constant, non-piecewise
    m = const(7) + const(7)
    assert m.order == "constant value" and not m.piecewise
    # differing constants: intersecting=False → takes a direction? no —
    # neither is asc/desc, same-order branch: disjoint constants keep
    # "constant value" but become piecewise (first != last)
    m = const(3) + const(9)
    assert m.order == "constant value" and m.piecewise
    assert (m.first, m.last) == (3, 9)

    # descending merge reports first=max, last=min
    m = desc(20, 15) + desc(9, 2)
    assert (m.order, m.first, m.last) == ("descending", 20, 2)

    # string/float mixed ranges compare as strings (reference casts)
    m = OrderState("ascending", "a", "c", 5) + OrderState("ascending", "x", "z", 5)
    assert (m.order, m.first, m.last) == ("ascending", "a", "z")


def test_hash_sample_deterministic_and_nested(spark, sf_dir):
    """Hash sampling: rerun-stable, partitioning-independent, and nested
    (sample(5%) ⊆ sample(20%)) — the reproducible-holdout contract."""
    import os as _os

    from dataprofiler_spark.operators import sampling as smp

    orders = spark.read.parquet(_os.path.join(sf_dir, "orders.parquet"))
    k5 = {r[0] for r in smp.hash_sample(orders, "o_orderkey", 0.05)
          .select("o_orderkey").collect()}
    k20 = {r[0] for r in smp.hash_sample(orders, "o_orderkey", 0.20)
           .select("o_orderkey").collect()}
    assert k5 and k5 < k20                      # nested holdouts
    n = orders.count()
    assert abs(len(k20) / n - 0.20) < 0.02      # ~fraction kept
    # repartitioning must not change the decision for any row
    k20b = {r[0] for r in smp.hash_sample(orders.repartition(13),
                                          "o_orderkey", 0.20)
            .select("o_orderkey").collect()}
    assert k20 == k20b
    # a different seed draws a different (overlapping-by-chance) subset
    k20c = {r[0] for r in smp.hash_sample(orders, "o_orderkey", 0.20,
                                          seed="other").collect()}
    assert k20c != k20


def test_categorical_collect_cap(spark):
    """Driver-memory guard (VERDICT r1 #3): a gated high-cardinality
    column ships at most categorical_max_collected category rows to the
    driver; the remainder folds into exact overflow totals, keeping
    unique_count/sample_count exact and per-category stats honest."""
    # value i (0..99) appears i+1 times -> 5050 rows, ratio 100/5050 < 0.2
    df = spark.range(100).selectExpr(
        "explode(sequence(1, id + 1)) AS rep",
        "concat('v', lpad(cast(id AS string), 3, '0')) AS cat",
    ).select("cat")
    p = Profiler(df, ProfilerOptions(categorical_max_collected=10))
    state = p.profile()
    cs = state.columns["cat"].categorical
    assert cs.active and cs.truncated
    assert len(cs.categories) == 10
    # top-10 by count desc: v090..v099 with counts 91..100
    assert cs.categories["v099"] == 100 and cs.categories["v090"] == 91
    assert cs.overflow_unique == 90
    assert cs.overflow_count == 5050 - sum(range(91, 101))
    assert cs.unique_count == 100
    assert cs.sample_count == 5050
    assert cs.gini_impurity is None and cs.unalikeability is None
    # uncapped run on the same data stays exact and untruncated
    full = Profiler(df).profile().columns["cat"].categorical
    assert not full.truncated and len(full.categories) == 100
    assert full.sample_count == 5050


def test_categorical_stop_ratio_reference_default(spark):
    """Default gate matches the reference (unique<=10 OR ratio<=0.2,
    categorical_column_profile.py:29-34): a 0.4-unique-ratio column is NOT
    categorical by default."""
    from pyspark.sql import functions as F

    df = spark.range(1000).select(
        (F.col("id") % 400).cast("string").alias("c"))
    state = Profiler(df).profile()
    assert state.columns["c"].categorical.active is False
    # but unique<=10 columns always are
    df2 = spark.range(1000).select((F.col("id") % 5).cast("string").alias("c"))
    assert Profiler(df2).profile().columns["c"].categorical.active is True


def test_hash_sample_null_keys_engine_consistent(spark, duck):
    """NULL keys hash a sentinel so Spark and DuckDB make the identical
    keep/drop decision (ADVICE r1: concat_ws silently skipped NULL args
    while the oracle's || yielded NULL)."""
    from dataprofiler_spark.operators import sampling as smp

    rows = [(i, f"k{i}" if i % 3 else None) for i in range(300)]
    sdf = spark.createDataFrame(rows, "id int, k string")
    duck.sql("CREATE OR REPLACE TABLE nullkeys AS SELECT * FROM (VALUES "
             + ",".join(f"({i}, {repr(k) if k else 'NULL'})" for i, k in rows)
             + ") t(id, k)")
    got = {r["id"] for r in smp.hash_sample(sdf, "k", 0.4).collect()}
    want = {r[0] for r in duck.sql(
        smp.oracle_hash_sample_sql("nullkeys", "k", 0.4)).fetchall()}
    assert got == want
    # all NULL-key rows share one decision (documented block behavior)
    null_ids = {i for i, k in rows if k is None}
    assert null_ids <= got or not (null_ids & got)


def test_row_stats_null_bearing_rows_count(spark, duck):
    """Whole-row uniqueness includes null-bearing rows (ADVICE r1:
    count_distinct(cols...) skipped any row with a NULL column)."""
    from dataprofiler_spark.operators.rowstats import (
        oracle_row_stats_sql, row_stats)

    rows = [(1, "a"), (1, "a"), (1, None), (1, None), (None, None), (2, "b")]
    sdf = spark.createDataFrame(rows, "x int, y string")
    got = row_stats(sdf, ["x", "y"], hashing_method="full").first()
    # distinct rows: (1,a), (1,null), (null,null), (2,b) = 4
    assert got["unique_row_count"] == 4
    assert got["duplicate_row_count"] == 2
    duck.sql("CREATE OR REPLACE TABLE nullrows AS SELECT * FROM (VALUES "
             "(1,'a'),(1,'a'),(1,NULL),(1,NULL),(NULL,NULL),(2,'b')) t(x,y)")
    want = duck.sql(oracle_row_stats_sql("nullrows", ["x", "y"])).df().iloc[0]
    assert got["unique_row_count"] == want["unique_row_count"]
    assert got["rows_with_null_count"] == want["rows_with_null_count"]
    assert got["rows_all_null_count"] == want["rows_all_null_count"]


def test_reference_sampling_mode(spark, sf_dir):
    """reference_sampling follows _get_sample_size
    (profile_builder.py:519-531): all rows at n<=min_sample_size, else
    max(ratio*n, min_sample_size) realized as a Bernoulli fraction; the
    target math is exact, the realized size is binomial around it."""
    import os as _os

    li = spark.read.parquet(_os.path.join(sf_dir, "lineitem.parquet"))
    n = li.count()
    state = Profiler(li, ProfilerOptions(reference_sampling=True)).profile()
    target = n if n <= 5000 else max(int(0.2 * n), 5000)
    assert state.sampling["method"] == "reference"
    assert state.sampling["source_rows"] == n
    assert state.sampling["target"] == target
    if target < n:
        assert 0.5 * target < state.row_count < 1.5 * target
    else:
        assert state.row_count == n
    # tiny input: no sampling at all
    small = li.limit(100)
    st2 = Profiler(small, ProfilerOptions(reference_sampling=True)).profile()
    assert st2.sampling["target"] == 100 and st2.row_count == 100
    # custom bounds follow the same formula
    st3 = Profiler(li, ProfilerOptions(reference_sampling=True,
                                       sampling_ratio=0.5,
                                       min_sample_size=10)).profile()
    assert st3.sampling["target"] == max(int(0.5 * n), 10)


def test_null_type_indices_cap_and_exact_counts(spark):
    """Capped null_types_index: exact per-type totals, at most `cap` row
    ids per type, smallest ids win (reference profile_builder.py:536-676
    keyed by literal cell value; report cap report_helpers.py:260-330)."""
    from pyspark.sql import functions as F

    from dataprofiler_spark.operators.nullindex import null_type_indices

    df = spark.range(1000).select(
        F.col("id").alias("rid"),
        F.when(F.col("id") % 10 == 0, "NaN")
         .when(F.col("id") % 10 == 1, "")
         .when(F.col("id") % 10 == 2, F.lit(None).cast("string"))
         .otherwise("real").alias("v"))
    out = null_type_indices(df, ["v"], "rid", cap=7).toPandas()
    by_type = out.groupby("null_type")
    assert set(out["null_type"]) == {"NaN", "", "<sql_null>"}
    for t, grp in by_type:
        assert grp["null_count"].iloc[0] == 100     # exact total
        assert len(grp) == 7                        # capped ids
    # smallest ids win: NaN rows are ids 0,10,...,90 -> first 7
    nan_ids = sorted(out[out["null_type"] == "NaN"]["row_id"])
    assert nan_ids == [0, 10, 20, 30, 40, 50, 60]


def test_report_serializable_format(spark, sf_dir):
    """'serializable' must produce a json.dumps-able report even with
    non-finite floats in the state; unknown formats raise."""
    import json
    import os

    import pytest

    from dataprofiler_spark import Profiler
    from dataprofiler_spark.report import build_report

    df = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    st = Profiler(df).profile()
    # inject a non-finite value to prove the conversion path
    next(iter(st.columns.values())).samples.append(float("inf"))
    rep = build_report(st, output_format="serializable")
    json.dumps(rep)  # must not raise
    with pytest.raises(ValueError, match="output_format"):
        build_report(st, output_format="nope")


def test_report_options_call_shape(spark, sf_dir):
    """profile.report(report_options={"output_format": ...}) — the
    reference's public call shape — routes to the format variants."""
    import os

    from dataprofiler_spark import Profiler

    df = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    p = Profiler(df)
    flat = p.report(report_options={"output_format": "flat"})
    assert all(not isinstance(v, (dict, list)) for v in flat.values())
    compact = p.report(report_options={"output_format": "compact"})
    assert all("histogram" not in ds["statistics"]
               for ds in compact["data_stats"])


def test_disabled_stats_toggles(spark, sf_dir):
    """Reference-style is_enabled toggles: disabling histogram +
    categorical removes the whole fused counts scan (half the profile
    IO); disabling samples skips the sample job; unknown keys raise."""
    import os

    import pytest

    from dataprofiler_spark import Profiler, ProfilerOptions

    df = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    opts = ProfilerOptions(
        disabled_stats={"histogram", "categorical", "samples"})
    st = Profiler(df, opts).profile()
    for col in st.columns.values():
        if col.numeric is not None:
            assert col.numeric.histogram is None
            assert col.numeric.min is not None  # base stats still run
        assert not col.samples
        assert col.categorical is None or not col.categorical.active
    # the report still assembles without those sections
    from dataprofiler_spark.report import build_report
    rep = build_report(st)
    assert rep["global_stats"]["row_count"] == df.count()
    with pytest.raises(ValueError, match="disabled_stats"):
        ProfilerOptions(disabled_stats={"nope"})


def test_column_null_values_overrides(spark):
    """Per-column null-value overrides (reference column_null_values,
    profiler_options.py:1428-1490): name keys, positional-index keys,
    name-over-index precedence, with_extra merge semantics, and ctor
    validation."""
    import pytest

    from dataprofiler_spark import Profiler, ProfilerOptions
    from dataprofiler_spark.functions.nulls import (DEFAULT_NULL_PATTERNS,
                                                    NullSpec)

    na = NullSpec.with_extra("n/a")
    assert na.patterns == DEFAULT_NULL_PATTERNS + ("n/a",)

    df = spark.createDataFrame(
        [("N/A", "N/A"), ("x", "y"), ("--", "--"), (None, "z")],
        "a string, b string")
    # name key: 'a' counts N/A (+ default --/NULL); 'b' default only
    st = Profiler(df, ProfilerOptions(column_null_values={"a": na})).profile()
    assert st.columns["a"].null_count == 3   # N/A, --, SQL NULL
    assert st.columns["b"].null_count == 1   # just --
    # positional-index key resolves against df.columns order
    st2 = Profiler(df, ProfilerOptions(column_null_values={1: na})).profile()
    assert st2.columns["a"].null_count == 2
    assert st2.columns["b"].null_count == 2
    # a name key wins over an index key for the same column
    opts = ProfilerOptions(column_null_values={"a": NullSpec(("x",)), 0: na})
    assert opts.null_spec_for("a", 0).patterns == ("x",)
    # an override on a NON-string column applies to its stringified form
    dfn = spark.createDataFrame([(1,), (0,), (None,)], "n int")
    stn = Profiler(dfn, ProfilerOptions(
        column_null_values={"n": NullSpec(("0",))})).profile()
    assert stn.columns["n"].null_count == 2  # the 0 row + SQL NULL
    with pytest.raises(ValueError, match="column_null_values"):
        ProfilerOptions(column_null_values={"a": "n/a"})


def test_options_set_reference_contract(spark):
    """Reference dotted-path options.set (profiler_options.py:103-160):
    the call shapes a migrating DataProfiler script uses map onto this
    engine's knobs; unknown paths raise."""
    import re

    import pytest

    from dataprofiler_spark import Profiler, ProfilerOptions

    opts = ProfilerOptions()
    opts.set({"data_labeler.is_enabled": False,          # accepted no-op
              "structured_options.multiprocess.is_enabled": True,
              "*.histogram_and_quantiles.bin_count_or_method": 25,
              "row_statistics.is_enabled": False,
              "structured_options.sampling_ratio": 0.5,
              "null_values": {"": 0, "n/a": re.IGNORECASE},
              "column_null_values": {1: {"-": 0}}})
    assert opts.histogram_bins == 25
    assert opts.unique_row_method == "none"
    assert opts.sampling_ratio == 0.5 and opts.reference_sampling
    assert opts.null_spec.patterns == ("", "(?i:n/a)")
    assert 1 in opts.column_null_values
    # per-pattern flags: 'N/A' null via the global inline (?i:) rule in
    # column a; column b (index 1) REPLACES the spec with exact '-'
    df = spark.createDataFrame([("N/A", "-"), ("x", "X")],
                               "a string, b string")
    opts.sample_fraction = None
    opts.reference_sampling = False  # tiny frame: profile all rows
    st = Profiler(df, opts).profile()
    assert st.columns["a"].null_count == 1   # global (?i:n/a) matches
    assert st.columns["b"].null_count == 1   # override '-' matches
    o2 = ProfilerOptions()
    o2.set({"null_values": {"n/a": 0}})      # exact-case: 'N/A' NOT null
    st2 = Profiler(df, o2).profile()
    assert st2.columns["a"].null_count == 0

    o3 = ProfilerOptions()
    o3.set({"category.is_enabled": False,
            "histogram_and_quantiles.is_enabled": False})
    assert o3.disabled_stats == {"categorical", "histogram"}
    o3.set({"category.is_enabled": True})
    assert o3.disabled_stats == {"histogram"}

    with pytest.raises(ValueError, match="unknown option path"):
        ProfilerOptions().set({"no.such.option": 1})
    with pytest.raises(ValueError, match="dictionary"):
        ProfilerOptions().set("not-a-dict")


def test_detailed_timing_pass(spark, sf_dir):
    """Opt-in per-stat telemetry (reference base_column_profilers.py
    _timeit): stat:<family> keys appear with positive wall times and the
    stat values are unchanged from the default fused plan."""
    import os
    from dataprofiler_spark.plans.profile_plan import Profiler, ProfilerOptions

    df = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    base = Profiler(df).profile()
    timed = Profiler(df, ProfilerOptions(detailed_timing=True)).profile()
    stat_keys = {k for k in timed.times if k.startswith("stat:")}
    assert {"stat:min", "stat:max", "stat:variance", "stat:skewness",
            "stat:datetime", "stat:text_lengths"} <= stat_keys
    assert all(timed.times[k] > 0 for k in stat_keys)
    # diagnostics must not perturb the profile itself
    assert base.row_count == timed.row_count
    for c in base.columns:
        assert base.columns[c].numeric == timed.columns[c].numeric
    # default plan stays free of the extra jobs
    assert not any(k.startswith("stat:") for k in base.times)
    # the wide-agg group count is surfaced (VERDICT r9 watch item):
    # orders has enough columns to split into >1 bounded-width group
    assert base.times["wide_agg_groups"] >= 1
    assert base.times["wide_agg_groups"] == timed.times["wide_agg_groups"]


def test_numeric_gate_matches_raw_try_cast(spark):
    """The first-char gate in front of try_cast(double) must be a strict
    SUPERSET of castable strings — gated and raw casts agree on every
    adversarial value (inf/nan spellings, hex floats, Java d/f suffixes,
    control-char padding, unicode digits, junk)."""
    from pyspark.sql import functions as F

    vals = ["1", "-2.5", "+.5", " 3 ", "\t4", "1e5", "1E-5", "inf",
            "Infinity", "-Infinity", "NaN", "nan", "INF", "0x1p3", "1d",
            "1.5f", "12,3", "abc", "A", "N", "R", "O", "F", "", " ",
            "++1", "--1", ".", "+", "-", "e5", ".5e2", "５", "١٢", " 5",
            "5 ", "\x085", "5 5", "None", "null", "i", "I am", "Nope9",
            "infx", "nanx", "0", "00.1"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    raw = F.col("s").try_cast("double")
    gated = F.when(F.col("s").rlike(r"^[\x00-\x20]*[+-]?[0-9.iInN]"),
                   F.col("s")).try_cast("double")
    rows = df.select(raw.alias("r"), gated.alias("g")).collect()
    for r in rows:
        assert (r["r"] is None) == (r["g"] is None)
        if r["r"] is not None and r["r"] == r["r"]:  # skip NaN != NaN
            assert r["r"] == r["g"]


def test_diff_reports_schema_mismatch(spark, sf_dir):
    """profile.diff must surface schema differences (reference
    profile_builder.py:1907-1926): columns present in only one profile
    land in the unique buckets, shared columns report position moves."""
    import os
    from dataprofiler_spark.plans.profile_plan import Profiler
    from dataprofiler_spark.report import diff_profiles

    df = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    a = Profiler(df.select("o_orderkey", "o_custkey", "o_totalprice")).profile()
    b = Profiler(df.select("o_custkey", "o_orderkey", "o_orderstatus")).profile()
    only_a, shared, only_b = diff_profiles(a, b)["global_stats"]["profile_schema"]
    assert only_a == {"o_totalprice": [2]}
    assert only_b == {"o_orderstatus": [2]}
    assert shared == {"o_orderkey": [0, 1], "o_custkey": [1, 0]}

    same = diff_profiles(a, a)["global_stats"]["profile_schema"]
    assert same[0] == {} and same[2] == {}
    assert all(v == "unchanged" for v in same[1].values())


def test_histogram_numeric_only_frame(spark, sf_dir):
    """A frame with no categorical candidate still gets its histogram
    from the counts melt, on the global path and on the side-split
    path: the l_extendedprice-only profile's histogram equals that
    column's histogram in the full lineitem profile and in both side
    states of a self-diff."""
    import os

    from dataprofiler_spark import Profiler
    from dataprofiler_spark.plans.diff_plan import diff_frames

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    num = li.select("l_extendedprice")
    alone = Profiler(num).profile()
    assert not alone.columns["l_extendedprice"].categorical.active
    full = Profiler(li).profile()
    _, sa, sb = diff_frames(num, num)

    def hist(state):
        h = state.columns["l_extendedprice"].numeric.histogram
        return h["bin_edges"], h["bin_counts"]

    assert sum(hist(alone)[1]) == alone.columns["l_extendedprice"].numeric.n
    assert hist(alone) == hist(full) == hist(sa) == hist(sb)


def test_vector_column_profile(spark, sf_dir):
    """array<numeric> columns profile as first-class vectors: dimension
    range, L2 norm stats, zero-vector count — inside the same wide agg,
    no extra scan. Merge and JSON round-trip preserve the state."""
    import os

    from dataprofiler_spark import Profiler, from_json, to_json

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    p = Profiler(emb)
    st = p.profile()
    c = st.columns["embedding"]
    assert c.inferred_type == "vector"
    assert c.vector.dim_min == 64 and c.vector.dim_max == 64
    assert abs(c.vector.avg_norm - 1.0) < 1e-3   # unit-normalized corpus
    assert c.vector.n_zero == 0
    ds = [d for d in p.report()["data_stats"]
          if d["column_name"] == "embedding"][0]
    assert ds["data_type"] == "vector"
    assert ds["statistics"]["vector_dim_max"] == 64

    half1 = Profiler(emb.where("vec_id % 2 = 0")).profile()
    half2 = Profiler(emb.where("vec_id % 2 = 1")).profile()
    mv = (half1 + half2).columns["embedding"].vector
    assert mv.n == c.vector.n
    assert mv.norm_min == c.vector.norm_min
    assert abs(mv.norm_sum - c.vector.norm_sum) < 1e-6
    rt = from_json(to_json(half1 + half2))
    assert rt.columns["embedding"].vector.dim_max == 64


def test_vector_column_null_and_zero(spark):
    from dataprofiler_spark import Profiler

    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, None), (3, [0.0, 0.0])],
        "id long, v array<double>")
    st = Profiler(df).profile()
    c = st.columns["v"]
    assert c.null_count == 1 and c.vector.n == 2
    assert c.vector.n_zero == 1
    assert c.vector.norm_max == 5.0


def test_vector_diff_section(spark, sf_dir):
    import os

    from dataprofiler_spark import Profiler, diff_profiles

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    a = Profiler(emb.where("vec_id % 2 = 0")).profile()
    b = Profiler(emb.where("vec_id % 2 = 1")).profile()
    d = diff_profiles(a, b)
    vec = [c for c in d["data_stats"] if c["column_name"] == "embedding"][0]
    assert vec["data_type"] == "unchanged"
    assert "vector_norm_mean" in vec["statistics"]
    assert vec["statistics"]["vector_dim_max"] == "unchanged"


def test_diff_includes_ks(spark, sf_dir):
    import os

    from dataprofiler_spark import Profiler, diff_profiles

    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    a = Profiler(o.where("o_orderdate < '1996-01-01'")).profile()
    b = Profiler(o.where("o_orderdate >= '1996-01-01'")).profile()
    d = diff_profiles(a, b)
    tp = [c for c in d["data_stats"] if c["column_name"] == "o_totalprice"][0]
    assert 0.0 <= tp["ks"] <= 1.0
    same = diff_profiles(a, a)
    tp2 = [c for c in same["data_stats"]
           if c["column_name"] == "o_totalprice"][0]
    assert tp2["ks"] == 0.0


def test_robust_stats_semantics(spark):
    """Hand-checkable values on 1..100 plus outliers; all-NULL column
    contract."""
    from dataprofiler_spark.operators import numeric as num

    rows = [(float(i), None) for i in range(1, 101)]
    rows += [(1000.0, None), (-1000.0, None)]  # clear Tukey outliers
    df = spark.createDataFrame(rows, "x double, y double")
    out = {r["column"]: r for r in
           num.robust_stats(df, ["x", "y"], trim=0.05).collect()}
    rx = out["x"]
    assert rx["n"] == 102
    # q1/q3 of 1..100,±1000 sit near 26/76; fences catch exactly the 2
    assert rx["n_low_outliers"] == 1 and rx["n_high_outliers"] == 1
    # rank trim drops ⌊102·0.05⌋ = 5 each side → mean(5..96) = 50.5
    assert abs(rx["trimmed_mean"] - 50.5) < 1e-9
    # winsorize replaces each tail with its boundary order statistic
    # (5 and 96): (92·50.5 + 5·5 + 5·96)/102 = 50.5 exactly
    assert abs(rx["winsorized_mean"] - 50.5) < 1e-9
    ry = out["y"]
    assert ry["n"] == 0 and ry["q1"] is None and ry["trimmed_mean"] is None
    assert ry["n_low_outliers"] == 0 and ry["n_high_outliers"] == 0


def test_benford_semantics(spark):
    """A Benford-conforming sample scores low chi2; a uniform-digit
    sample scores high; zeros/NULLs excluded; ties break to the lowest
    digit."""
    import math

    from dataprofiler_spark.operators import numeric as num

    # exact Benford proportions over 10000 rows: chi2 ~ 0
    rows = []
    for d in range(1, 10):
        cnt = round(math.log10(1 + 1 / d) * 10000)
        rows += [(float(d) * 10 ** (i % 3),) for i in range(cnt)]
    rows += [(0.0,), (None,)]
    df = spark.createDataFrame(rows, "x double")
    r = num.benford_test(df, ["x"]).collect()[0]
    assert r["n"] == len(rows) - 2          # zero + NULL excluded
    assert r["chi2"] < 1.0
    assert r["top_digit"] == 1

    uni = spark.createDataFrame(
        [(float(d),) for d in range(1, 10) for _ in range(100)],
        "x double")
    ru = num.benford_test(uni, ["x"]).collect()[0]
    assert ru["chi2"] > 100.0               # uniform digits reject hard
    assert ru["top_digit"] == 1 and ru["top_digit_freq"] == round(1 / 9, 6)

    # first SIGNIFICANT digit of small magnitudes (0.0042 -> 4)
    small = spark.createDataFrame([(0.0042,), (-0.0042,)], "x double")
    rs_ = num.benford_test(small, ["x"]).collect()[0]
    assert rs_["top_digit"] == 4 and rs_["n"] == 2


def test_benford_digit_adversarial(spark, duck):
    """Pin the first-digit rendering on the adversarial cases that broke
    candidate formulations (r10 plan audit): IEEE boundaries where
    log10/pow gets the WRONG digit (floor(0.3/0.1)=2), the giant
    doubles where shortest-repr and exact-expansion diverge in leading
    digits (1e23 IS 9.999…e22), sub-1e-10 values whose rendering is all
    zeros (ANSI cast must not throw), and non-finite values. Checked
    against DuckDB running the oracle's CASE mirror — the digit
    distribution must hash-match cross-engine, not just within Spark."""
    from pyspark.sql import functions as F

    from dataprofiler_spark.operators import numeric as num

    # 6e-11, not 5e-11: an EXACT tie at the 10th decimal is a known
    # engine seam — Java's format_number rounds the shortest repr
    # HALF_EVEN (5e-11 → 0.0000000000) while DuckDB's format rounds the
    # exact binary expansion (5.0000000000000002e-11 → up). No non-tie
    # value exhibits it, and real profiling data below 1e-10 carries no
    # signal anyway.
    vals = [0.03, 0.3, 0.7, 3e-10, 6e-11, 3e-11, 1e-4, 0.999999999999,
            99999.99999999999, 899999.9999999999, 900000.0000000001,
            9.99e14, 123456.789, 2.5e-7, 1e23, 2e23,
            float("nan"), float("inf"), 0.0, -0.3, None]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = {r["digit"]: r["o"] for r in
           num._benford_digit_counts(df, ["v"]).collect()}
    # expected digits: 3,3,7,3,1(6e-11 rounds up at scale 10),None(3e-11),
    # 1,1(rounds to 1.0),1(carry to 100000),8(no carry),9,9,1,2,
    # 9(1e23 IS 9.99…e22),1(2e23 IS 1.99…e23),—,—,—,3
    assert got == {1: 6, 2: 1, 3: 4, 7: 1, 8: 1, 9: 3}
    def lit(v):
        if v is None:
            return "(NULL::DOUBLE)"
        if v != v:
            return "('nan'::DOUBLE)"
        if v == float("inf"):
            return "('inf'::DOUBLE)"
        return f"({v!r}::DOUBLE)"

    lits = ", ".join(lit(v) for v in vals)
    sql = num.oracle_benford_sql("(SELECT * FROM (VALUES %s) t(v))" % lits,
                                 ["v"])
    ddf = duck.sql(sql).df()
    srow = num.benford_test(df, ["v"]).toPandas()
    import pandas as pd
    pd.testing.assert_frame_equal(
        srow.sort_index(axis=1), ddf.sort_index(axis=1), check_dtype=False)
