"""Trainable labeler surface (labeler/trainable.py): fit/predict on
Spark frames, label editing, persistence round-trip and the
train_structured_labeler entry point — the reference's
TrainableDataLabeler API (base_data_labeler.py:252-279,763-870;
data_labelers.py:17-76) over a distributed closed-form estimator."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataprofiler_spark.labeler.trainable import (TrainableDataLabeler,
                                                  train_structured_labeler)


def _training_frame(spark, n=300):
    rows = []
    for i in range(n):
        rows.append((f"{1000 + i * 7}", "INTEGER"))
        rows.append((f"{i}.{i % 97:02d}", "FLOAT"))
        rows.append((f"user{i}@mail{i % 5}.com", "EMAIL"))
        rows.append((f"Alice Bob{i} Smith", "NAME"))
    return spark.createDataFrame(rows, ["x", "y"])


def test_fit_predict_roundtrip(spark):
    df = _training_frame(spark)
    m = TrainableDataLabeler()
    out = m.fit(df, "x", "y")
    assert out["train_acc"] > 0.9, out
    assert out["cv_acc"] > 0.8, out
    preds = m.predict(["4217", "3.14", "bob@example.com", "Alice Smith"])
    assert preds == ["INTEGER", "FLOAT", "EMAIL", "NAME"], preds


def test_fit_is_deterministic(spark):
    df = _training_frame(spark, n=100)
    a, b = TrainableDataLabeler(), TrainableDataLabeler()
    a.fit(df, "x", "y")
    b.fit(df, "x", "y")
    cells = ["12", "9.99", "x@y.de", "Dan Lee"]
    assert a.predict(cells) == b.predict(cells)
    assert a.vocab == b.vocab and a.label_mapping == b.label_mapping


def test_dataframe_predict_maps_in_pandas(spark):
    df = _training_frame(spark, n=100)
    m = TrainableDataLabeler()
    m.fit(df, "x", "y")
    probe = spark.createDataFrame(
        [("123",), ("2.50",), ("a@b.org",)], ["cell"])
    got = {r["cell"]: r["label"]
           for r in m.predict(probe, "cell").collect()}
    assert got == {"123": "INTEGER", "2.50": "FLOAT", "a@b.org": "EMAIL"}


def test_add_label_same_as_and_refit_path(spark):
    df = _training_frame(spark, n=100)
    m = TrainableDataLabeler()
    m.fit(df, "x", "y", validation_split=0.0)
    m.add_label("WORK_EMAIL", same_as="EMAIL")
    assert "WORK_EMAIL" in m.label_mapping
    # scores like EMAIL (tie broken by lower index => EMAIL still wins),
    # and predicting doesn't crash with the extended mapping
    assert m.predict(["x@y.com"])[0] in ("EMAIL", "WORK_EMAIL")
    with pytest.raises(ValueError, match="already exists"):
        m.add_label("EMAIL")
    with pytest.raises(ValueError, match="unknown"):
        m.add_label("Z", same_as="NOPE")


def test_set_labels_clears_fit(spark):
    m = TrainableDataLabeler()
    m.fit(_training_frame(spark, n=50), "x", "y", validation_split=0.0)
    m.set_labels(["A", "B"])
    assert m.log_probs is None
    with pytest.raises(ValueError, match="not fitted"):
        m.predict(["x"])


def test_save_load_round_trip(spark, tmp_path):
    df = _training_frame(spark, n=100)
    m = TrainableDataLabeler()
    m.fit(df, "x", "y", validation_split=0.0)
    m.save_to_disk(str(tmp_path / "lab"))
    m2 = TrainableDataLabeler.load_from_disk(str(tmp_path / "lab"))
    cells = ["77", "8.01", "p@q.net", "Eve Stone"]
    assert m2.predict(cells) == m.predict(cells)


def test_train_structured_labeler_spark_frame(spark, sf_dir):
    import os

    cust = (spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
            .select("c_name", "c_acctbal", "c_mktsegment").limit(400))
    lab = train_structured_labeler(cust)
    assert set(lab.labels) == {"c_name", "c_acctbal", "c_mktsegment"}
    assert lab.predict(["Customer#000000042"])[0] == "c_name"
    assert lab.predict(["HOUSEHOLD"])[0] == "c_mktsegment"


def test_train_structured_labeler_pandas_frame(spark):
    import pandas as pd

    pdf = pd.DataFrame({"num": [str(i) for i in range(50)],
                        "word": [f"tok{i}" for i in range(50)]})
    lab = train_structured_labeler(pdf)
    assert set(lab.labels) == {"num", "word"}


def test_trained_labeler_votes_golden(spark):
    """The driver-checked trained_labeler_customer golden. Regenerate
    after a testdata change:

        rows = _trained_labeler_votes(spark, '/root/testdata/sf0.01')
        json.dump([[r['column'], r['label'], r['votes']] for r in
                   rows.collect()],
                  open('fixtures/trained_labeler_sf001.json', 'w'))
    """
    import json
    import os

    from dataprofiler_spark.queries import _trained_labeler_votes

    p = os.path.join(os.path.dirname(os.path.dirname(__file__)),
                     "fixtures", "trained_labeler_sf001.json")
    with open(p) as fh:
        golden = [tuple(r) for r in json.load(fh)]
    rows = _trained_labeler_votes(spark, "/root/testdata/sf0.01").collect()
    got = [(r["column"], r["label"], r["votes"]) for r in rows]
    assert got == golden
    # self-train on clean columns must be (near-)diagonal
    assert all(c == l for c, l, _ in got)


def test_empty_fit_raises(spark):
    empty = spark.createDataFrame([], "x string, y string")
    with pytest.raises(ValueError, match="No data"):
        TrainableDataLabeler().fit(empty, "x", "y")


# -- CNN head tuning (labeler/head_tuning.py, VERDICT r11 item 5) -------------

def _packaged_cnn_missing() -> bool:
    from dataprofiler_spark.labeler.np_cnn import load_default_model
    return load_default_model() is None


@pytest.mark.skipif(_packaged_cnn_missing(),
                    reason="packaged reference model not readable here")
def test_cnn_head_votes_golden(spark):
    """The driver-checked cnn_head_tuned_customer golden. Regenerate
    after a testdata change:

        rows = _cnn_head_votes(spark, '/root/testdata/sf0.01')
        json.dump([[r['column'], r['label'], r['votes']] for r in
                   rows.collect()],
                  open('fixtures/cnn_head_tuned_sf001.json', 'w'))
    """
    import json
    import os

    from dataprofiler_spark.queries.q_cnn import _cnn_head_votes

    p = os.path.join(os.path.dirname(os.path.dirname(__file__)),
                     "fixtures", "cnn_head_tuned_sf001.json")
    with open(p) as fh:
        golden = [tuple(r) for r in json.load(fh)]
    rows = _cnn_head_votes(spark, "/root/testdata/sf0.01").collect()
    got = [(r["column"], r["label"], r["votes"]) for r in rows]
    assert got == golden
    assert all(c == l for c, l, _ in got)  # self-train is diagonal


def test_cnn_head_improves_f1_over_frozen_model(spark):
    """The round's contract (VERDICT r11 item 5): fitting the convex
    head on a labeled set IMPROVES span F1 over the frozen packaged
    model — i.e. "train on my labels, keep the CNN's representation"
    genuinely learns. The labels come from the BASE model's own label
    set, so the frozen model CAN compete (it is partially right by
    construction: FLOAT/DATE cells it already nails, the
    Customer#/phone-shaped cells it mislabels as BAN/DRIVERS_LICENSE)."""
    import pytest as _pytest

    from dataprofiler_spark.labeler.evaluation import evaluate_accuracy
    from dataprofiler_spark.labeler.np_cnn import load_default_model
    from dataprofiler_spark.labeler.trainable import TrainableDataLabeler

    frozen = load_default_model()
    if frozen is None:
        _pytest.skip("packaged reference model not readable here")

    def mk(i):
        return [
            (f"Customer#{i:09d}", "HASH_OR_KEY"),
            (f"{(i * 37) % 9000 + 100}.{i % 100:02d}", "FLOAT"),
            (f"19{90 + i % 10}-{i % 12 + 1:02d}-{i % 28 + 1:02d}", "DATE"),
            (f"{i % 30 + 10}-{i % 900 + 100}-{i % 900 + 100}-"
             f"{i % 9000 + 1000}", "PHONE_NUMBER"),
        ]

    train = [p for i in range(0, 120) for p in mk(i)]
    test = [p for i in range(120, 160) for p in mk(i)]

    train_df = spark.createDataFrame(train, "x string, y string").coalesce(1)
    test_df = spark.createDataFrame(test, "x string, y string")

    # labels=None on both sides: each confusion derives its own label
    # set from the observed (truth, pred) pairs, so the frozen model's
    # out-of-set predictions (Customer# → BAN) COUNT against it instead
    # of being dropped by the reference's index-encoded-matrix rule
    lab = TrainableDataLabeler(model="cnn")
    lab.fit(train_df, "x", "y")
    tuned_preds = lab.predict(test_df, "x")
    tuned_f1, _ = evaluate_accuracy(tuned_preds, "y", "label")

    frozen_lab = [l for l, _ in frozen.predict_cells([x for x, _ in test])]
    frozen_preds = spark.createDataFrame(
        [(x, y, p) for (x, y), p in zip(test, frozen_lab)],
        "x string, y string, label string")
    frozen_f1, _ = evaluate_accuracy(frozen_preds, "y", "label")

    assert tuned_f1 > frozen_f1, (tuned_f1, frozen_f1)
    assert tuned_f1 >= 0.9          # the head really learned the set
    assert 0.0 < frozen_f1 < 0.9    # and the baseline wasn't a strawman


def test_cnn_head_save_load_round_trip(spark, tmp_path):
    """model="cnn" save/load: predictions identical after reload, and
    load_from_disk auto-detects the head artifact. Without the packaged
    weights the head is fitted on a user model (model_path=), which the
    reload must pick up from head_params.json on its own."""
    from dataprofiler_spark.labeler.trainable import TrainableDataLabeler

    train = [(f"Customer#{i:09d}", "KEY") if i % 2 else
             (f"{i * 3}.{i % 100:02d}", "NUM") for i in range(80)]
    df = spark.createDataFrame(train, "x string, y string").coalesce(1)
    model_path = None
    if _packaged_cnn_missing():
        from tests.test_user_model import _write_user_model
        model_path = _write_user_model(str(tmp_path / "um"))
    lab = TrainableDataLabeler(model="cnn", model_path=model_path)
    lab.fit(df, "x", "y")
    probes = ["Customer#000000123", "4711.09", ""]
    want = lab.predict(probes)
    lab.save_to_disk(str(tmp_path / "head"))
    back = TrainableDataLabeler.load_from_disk(str(tmp_path / "head"))
    assert back.model == "cnn"
    assert back.predict(probes) == want
    assert back.labels == lab.labels
