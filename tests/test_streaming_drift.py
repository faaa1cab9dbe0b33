"""Streaming drift monitor (streaming/drift.py): micro-batch PSI under a
real file stream matches the batch-mode drift operator on the same data;
alerts fire on a genuinely shifted batch; baseline cardinality is capped
loudly."""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from dataprofiler_spark.operators import drift
from dataprofiler_spark.streaming.drift import StreamingDriftMonitor


# A NULL-bearing categorical column: o_orderstatus, NULL on every
# URGENT order and on every 5th order key, so the shifted batch is
# mostly NULL. The same CASE builds it on the DuckDB side.
_STATUS_OR_NULL = ("CASE WHEN o_orderpriority <> '1-URGENT' "
                   "AND o_orderkey % 5 <> 0 THEN o_orderstatus END")


def _orders(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "orders.parquet")) \
        .withColumn("status_or_null", F.expr(_STATUS_OR_NULL))


@pytest.fixture()
def split_orders(tmp_path, spark, sf_dir):
    """orders split into two parquet batch files: b0 ~ the baseline
    distribution, b1 deliberately shifted (only URGENT priority)."""
    src = _orders(spark, sf_dir)
    flat = str(tmp_path / "stream")
    os.makedirs(flat)
    (src.where(F.col("o_orderkey") % 2 == 0).coalesce(1)
        .write.mode("overwrite").parquet(str(tmp_path / "b0")))
    (src.where(F.col("o_orderpriority") == "1-URGENT").coalesce(1)
        .write.mode("overwrite").parquet(str(tmp_path / "b1")))
    import shutil
    i = 0
    for sub in ("b0", "b1"):
        for f in sorted(os.listdir(str(tmp_path / sub))):
            if f.endswith(".parquet"):
                shutil.copy(str(tmp_path / sub / f), f"{flat}/part{i}.parquet")
                i += 1
    return flat


def test_streaming_psi_matches_batch_operator(spark, sf_dir, split_orders):
    baseline = _orders(spark, sf_dir)
    mon = StreamingDriftMonitor(
        baseline, {"o_orderpriority": "categorical",
                   "status_or_null": "categorical",
                   "o_totalprice": "numeric"},
        alert_threshold=0.2)
    schema = baseline.schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(split_orders))
    q = mon.attach(stream).trigger(availableNow=True).start()
    q.awaitTermination(120)

    assert len(mon.log) == 2
    # File delivery order is not guaranteed — identify the micro-batches
    # by content: e0 = the baseline-like half, e1 = the URGENT-only file.
    n_urgent = baseline.where(
        F.col("o_orderpriority") == "1-URGENT").count()
    e1 = next(e for e in mon.log if e["n_rows"] == n_urgent)
    e0 = next(e for e in mon.log if e is not e1)
    # baseline-like batch → tiny PSI; single-category batch → large + alert
    cat0 = e0["psi"]["o_orderpriority"]
    cat1 = e1["psi"]["o_orderpriority"]
    assert cat0 < 0.05 and cat1 > 0.2 and cat1 > cat0
    assert e0["alert"] is False and e1["alert"] is True

    # parity with the batch operator on the same micro-batch data
    # (the b1 file was built as exactly this filter of the baseline)
    b1 = baseline.where(F.col("o_orderpriority") == "1-URGENT")
    expected = drift.categorical_psi(
        baseline, b1, "o_orderpriority").collect()[0]["psi"]
    assert cat1 == pytest.approx(expected, abs=2e-6)

    # NULL is not a category in either engine, nor in the oracle: the
    # NULL-bearing column agrees on both batches
    import duckdb
    con = duckdb.connect()
    con.sql(f"CREATE VIEW base AS SELECT *, {_STATUS_OR_NULL} AS "
            f"status_or_null FROM '{os.path.join(sf_dir, 'orders.parquet')}'")
    con.sql("CREATE VIEW b0 AS SELECT * FROM base WHERE o_orderkey % 2 = 0")
    con.sql("CREATE VIEW b1 AS SELECT * FROM base "
            "WHERE o_orderpriority = '1-URGENT'")
    for entry, view, frame in (
            (e0, "b0", baseline.where(F.col("o_orderkey") % 2 == 0)),
            (e1, "b1", b1)):
        got = entry["psi"]["status_or_null"]
        batch_op = drift.categorical_psi(
            baseline, frame, "status_or_null").collect()[0]["psi"]
        oracle = con.sql(drift.oracle_categorical_psi_sql(
            "base", view, "status_or_null")).fetchone()[0]
        assert got == pytest.approx(batch_op, abs=2e-6)
        assert got == pytest.approx(oracle, abs=2e-6)
    con.close()

    # numeric: same-distribution batch scores near zero with frozen edges
    num0 = e0["psi"]["o_totalprice"]
    assert num0 is not None and abs(num0) < 0.05


def test_categorical_nulls_are_not_categories(spark):
    """Baseline 50 a / 30 b / 20 NULL, batch 10 a / 5 b / 25 NULL: the
    monitor, the batch PSI and chi² operators and their DuckDB oracles
    all score the (a, b) distributions only. Before the shared rule the
    batch operator gave 3.07378 (NULL keys never match in its full
    outer join, so NULL counted as two categories) and the monitor
    0.717826 (NULL as one)."""
    import duckdb

    def frame(n_a, n_b, n_null):
        return [("a",)] * n_a + [("b",)] * n_b + [(None,)] * n_null

    base_rows, batch_rows = frame(50, 30, 20), frame(10, 5, 25)
    base = spark.createDataFrame(base_rows, "c string")
    batch = spark.createDataFrame(batch_rows, "c string")
    con = duckdb.connect()
    for name, rows in (("base", base_rows), ("batch", batch_rows)):
        con.sql(f"CREATE TABLE {name} (c VARCHAR)")
        con.executemany(f"INSERT INTO {name} VALUES (?)", rows)

    mon = StreamingDriftMonitor(base, {"c": "categorical"})
    got = mon.update(batch)["psi"]["c"]
    psi = drift.categorical_psi(base, batch, "c").collect()[0]
    oracle_psi = con.sql(drift.oracle_categorical_psi_sql(
        "base", "batch", "c")).fetchone()
    # the (a, b) counts alone: 50/30 vs 10/5, k = 2
    pa, pb = (51 / 82, 31 / 82), (11 / 17, 6 / 17)
    want = round(sum((q - p) * math.log(q / p) for p, q in zip(pa, pb)), 6)
    for value in (got, psi["psi"], oracle_psi[0]):
        assert value == pytest.approx(want, abs=2e-6)
    assert psi["n_categories"] == oracle_psi[1] == 2

    chi2 = drift.chi2_homogeneity(base, batch, "c").collect()[0]
    oracle_chi2 = con.sql(drift.oracle_chi2_sql(
        "base", "batch", "c")).fetchone()
    assert (chi2["chi2"], chi2["dof"]) == tuple(oracle_chi2)
    assert chi2["dof"] == 1
    con.close()


def test_baseline_cardinality_cap(spark, sf_dir):
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    with pytest.raises(ValueError, match="max_categories"):
        StreamingDriftMonitor(orders, {"o_orderkey": "categorical"},
                              max_categories=10)


def test_sink_append(spark, sf_dir, tmp_path):
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    sink = str(tmp_path / "psi_log")
    mon = StreamingDriftMonitor(orders, {"o_orderpriority": "categorical"},
                                sink_path=sink)
    mon.update(orders.limit(100), batch_id=7)
    rows = spark.read.parquet(sink).collect()
    assert len(rows) == 1
    assert rows[0]["batch_id"] == 7 and rows[0]["column_name"] == "o_orderpriority"
    assert rows[0]["n_rows"] == 100


def test_quantile_edges_robust_to_baseline_outlier(spark):
    """VERDICT r4 item 7: with equal-width (min, max) edges, ONE extreme
    baseline outlier stretches the range so all real mass collapses into
    bin 0 and the monitor goes blind to genuine shift. Quantile edges
    keep ~1/bins of baseline mass per bin, so the same shifted batch
    scores loudly."""
    base_rows = [(i, i / 1000.0) for i in range(1000)] + [(9999, 1e9)]
    baseline = spark.createDataFrame(base_rows, "id long, x double")
    shifted = spark.createDataFrame(
        [(i, 0.9 + i / 10000.0) for i in range(1000)], "id long, x double")

    mon = StreamingDriftMonitor(baseline, {"x": "numeric"})
    # the 1e9 outlier does not stretch the frozen edges past the real
    # mass, and the batch piling into the top decile bins scores as an
    # unmistakable shift
    edges = mon._num_state["x"][0]
    assert len(edges) == 9 and max(edges) < 1.0
    assert mon.update(shifted)["psi"]["x"] > 0.5


def test_quantile_monitor_same_distribution_near_zero(spark, sf_dir):
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    mon = StreamingDriftMonitor(orders, {"o_totalprice": "numeric"})
    psi = mon.update(orders)["psi"]["o_totalprice"]
    assert psi is not None and abs(psi) < 0.01


def test_numeric_ks_js_semantics(spark):
    """KS/JS sanity: identical samples → 0 drift; disjoint ranges → KS 1
    and JS at its ln(2) ceiling."""
    import math

    from dataprofiler_spark.operators import drift as dr

    a = spark.createDataFrame([(float(i),) for i in range(100)], ["x"])
    same = dr.numeric_ks_js(a, a, "x").collect()[0]
    assert same["ks"] == 0.0 and same["js"] == 0.0
    b = spark.createDataFrame([(float(i) + 1000.0,) for i in range(100)],
                              ["x"])
    far = dr.numeric_ks_js(a, b, "x").collect()[0]
    assert far["ks"] == 1.0
    assert abs(far["js"] - math.log(2)) < 1e-6
