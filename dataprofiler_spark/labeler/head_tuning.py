"""Convex head tuning over the frozen char-CNN representation.

The reference's ``fit()`` runs TensorFlow SGD over the whole network
(character_level_cnn_model.py:657-800). Without TF, full backprop is
off the table — but the piece a user actually needs ("train on MY
labels, keep the char CNN's learned character representation") is a
convex problem: freeze everything up to the penultimate dense layer
(``NumpyCharCNN.features``) and refit only the final linear head.

The head is a RIDGE least-squares probe to one-hot labels — the
classic linear-probe estimator, closed-form and one-pass:

    W = (XᵀX + λI)⁻¹ XᵀY

computed DISTRIBUTED: an ``mapInPandas`` pass streams each partition's
cells through the frozen network and emits that partition's Gram
partial sums (XᵀX is (d+1)², XᵀY is (d+1)×L, d ≈ the penultimate
width), so the driver sees one fixed-width row per partition and a
d×d solve — never the data. Per-character training rows come from
broadcasting each cell's label to all its characters, the same shape
the reference's CharPreprocessor feeds its softmax.

Determinism: partial sums are summed in partition order via float64
Gram matrices; ties in argmax resolve to the lowest label index. The
estimator is exactly reproducible given the same partitioning is NOT
required — the Gram sums are permutation-invariant up to float
addition order; tests pin behaviour at the tolerance that matters
(prediction equality, not last-ulp weight equality).

Reference parity surface: ``TrainableDataLabeler(model="cnn")``
(labeler/trainable.py) exposes this through the reference's
fit/predict API (base_data_labeler.py:252-275 label surface;
character_level_cnn_model.py fit contract).
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_LABELS = 512


class CnnHeadTuner:
    """Frozen char-CNN features + retrained ridge head.

    ``base``: a loaded :class:`NumpyCharCNN` (default: the packaged
    reference model via ``load_default_model``); ``model_path``: load a
    user model directory instead (np_cnn.load_user_model).
    """

    def __init__(self, base=None, model_path: str | None = None,
                 ridge: float = 1e-2):
        from dataprofiler_spark.labeler.np_cnn import (load_default_model,
                                                       load_user_model)
        if base is None:
            base = (load_user_model(model_path) if model_path
                    else load_default_model())
        if base is None:
            raise RuntimeError(
                "no base CNN available: pass base=/model_path= or make "
                "the packaged reference model readable")
        self.base = base
        self.model_path = model_path
        self.ridge = float(ridge)
        self.label_mapping: dict[str, int] = {}
        self.W: np.ndarray | None = None      # (d+1, L): last row = bias

    @property
    def labels(self) -> list[str]:
        inv = {v: k for k, v in self.label_mapping.items()}
        return [inv[i] for i in range(len(inv))]

    # -- fit ------------------------------------------------------------

    def fit(self, df: DataFrame, x: str, y: str,
            labels: list | dict | None = None,
            ridge: float | None = None) -> dict:
        """One distributed pass: per-partition Gram partial sums over
        the frozen per-character features, then a driver-side
        (d+1)×(d+1) ridge solve. Returns {"train_f1": .., "f1_report":
        ..} over the training frame (labeler/evaluation.py)."""
        if ridge is not None:
            self.ridge = float(ridge)
        pairs = (df.select(F.col(x).cast("string").alias("x"),
                           F.col(y).cast("string").alias("y"))
                 .where(F.col("x").isNotNull() & F.col("y").isNotNull()))
        if labels is not None:
            if isinstance(labels, dict):
                self.label_mapping = {str(k): int(v)
                                      for k, v in labels.items()}
            else:
                self.label_mapping = {str(l): i
                                      for i, l in enumerate(labels)}
        else:
            found = (pairs.select("y").distinct()
                     .limit(MAX_LABELS + 1).collect())
            if len(found) > MAX_LABELS:
                raise ValueError(
                    f"fit: more than {MAX_LABELS} distinct labels; the "
                    f"label column must be categorical")
            if not found:
                raise ValueError("No data or labels to fit.")
            self.label_mapping = {r["y"]: i for i, r in
                                  enumerate(sorted(found,
                                                   key=lambda r: r["y"]))}

        base, lmap = self.base, dict(self.label_mapping)
        n_labels = len(lmap)

        def partials(batches):
            import pandas as pd
            d = None
            xtx = xty = None
            for pdf in batches:
                cells = pdf["x"].tolist()
                labs = pdf["y"].tolist()
                if not cells:
                    continue
                codes, lens = base._encode([str(c) for c in cells])
                feats = base.features(codes)          # (B, L, d)
                if d is None:
                    d = feats.shape[-1]
                    xtx = np.zeros((d + 1, d + 1))
                    xty = np.zeros((d + 1, n_labels))
                for i, n in enumerate(lens):
                    li = lmap.get(labs[i])
                    if li is None or n == 0:
                        continue                      # unknown label: skip
                    Xi = np.empty((n, d + 1))
                    Xi[:, :d] = feats[i, :n]
                    Xi[:, d] = 1.0                    # bias feature
                    xtx += Xi.T @ Xi
                    xty[:, li] += Xi.sum(axis=0)      # one-hot column
            if xtx is not None:
                yield pd.DataFrame({
                    "xtx": [xtx.ravel().tolist()],
                    "xty": [xty.ravel().tolist()],
                    "d": [d],
                })

        rows = (pairs.mapInPandas(
            partials,
            schema="xtx array<double>, xty array<double>, d int")
            .collect())
        if not rows:
            raise ValueError("No data or labels to fit.")
        d = rows[0]["d"]
        xtx = np.zeros((d + 1, d + 1))
        xty = np.zeros((d + 1, n_labels))
        for r in rows:
            xtx += np.asarray(r["xtx"]).reshape(d + 1, d + 1)
            xty += np.asarray(r["xty"]).reshape(d + 1, n_labels)
        reg = self.ridge * np.eye(d + 1)
        reg[d, d] = 0.0                               # don't shrink bias
        self.W = np.linalg.solve(xtx + reg, xty)

        from dataprofiler_spark.labeler.evaluation import evaluate_accuracy
        preds = self.predict(pairs, "x")
        f1, rep = evaluate_accuracy(preds, "y", "label",
                                    labels=self.labels)
        return {"train_f1": f1, "f1_report": rep}

    # -- predict --------------------------------------------------------

    def predict_cells(self, cells: list[str]) -> list[tuple[str, float]]:
        """[(label, confidence)] per cell: per-char argmax under the
        tuned head, then the StructChar vote (mode of char labels;
        confidence = winning fraction). Lowest-index argmax tie-break."""
        if self.W is None:
            raise RuntimeError("fit() first")
        inv = {v: k for k, v in self.label_mapping.items()}
        out: list[tuple[str, float]] = []
        for s in range(0, len(cells), 256):
            chunk = [str(c) for c in cells[s:s + 256]]
            codes, lens = self.base._encode(chunk)
            feats = self.base.features(codes)
            scores = feats @ self.W[:-1] + self.W[-1]
            char_labels = scores.argmax(axis=-1)
            for i, n in enumerate(lens):
                if n == 0:
                    out.append((inv[0], 0.0))
                    continue
                counts = np.bincount(char_labels[i, :n],
                                     minlength=len(inv))
                best = counts.max()
                win = int(np.flatnonzero(counts == best)[0])
                out.append((inv[win], float(best / counts.sum())))
        return out

    def predict(self, data, x: str | None = None) -> DataFrame:
        """DataFrame in → DataFrame out with ``label`` and
        ``confidence`` appended (Arrow-batched mapInPandas; the frozen
        weights + head ship once per executor via closure capture)."""
        if self.W is None:
            raise RuntimeError("fit() first")
        if x is None:
            raise ValueError("predict needs the text column name")
        me = self

        def infer(batches):
            import pandas as pd
            for pdf in batches:
                preds = me.predict_cells(pdf[x].astype(str).tolist())
                pdf = pdf.copy()
                pdf["label"] = [p[0] for p in preds]
                pdf["confidence"] = [p[1] for p in preds]
                yield pdf

        fields = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                           for f in data.schema.fields)
        return data.mapInPandas(
            infer, schema=f"{fields}, label string, confidence double")

    # -- persistence ------------------------------------------------------

    def save_to_disk(self, dirpath: str) -> None:
        os.makedirs(dirpath, exist_ok=True)
        np.save(os.path.join(dirpath, "head_weights.npy"), self.W)
        with open(os.path.join(dirpath, "head_params.json"), "w") as fp:
            json.dump({"label_mapping": self.label_mapping,
                       "ridge": self.ridge,
                       "model_path": self.model_path}, fp)

    @classmethod
    def load_from_disk(cls, dirpath: str) -> "CnnHeadTuner":
        """Reload a saved head on the base ``head_params.json`` records:
        the user model at ``model_path``, or else the packaged model —
        the packaged weights are needed only when no ``model_path`` was
        saved."""
        with open(os.path.join(dirpath, "head_params.json")) as fp:
            params = json.load(fp)
        out = cls(model_path=params.get("model_path"),
                  ridge=params["ridge"])
        out.label_mapping = {str(k): int(v)
                             for k, v in params["label_mapping"].items()}
        out.W = np.load(os.path.join(dirpath, "head_weights.npy"))
        return out
