"""Trainable data-labeler surface — fit / add_label / set_labels /
save / load, mirroring the reference's TrainableDataLabeler API
(labelers/base_data_labeler.py:252-279 ``add_label``/``set_labels``,
:763-870 ``fit``; labelers/data_labelers.py:17-76
``train_structured_labeler``).

The reference trains a TensorFlow char CNN on a single node. TF is
absent here — and single-node SGD is the wrong shape for a 100 TB
corpus anyway — so the same API is provided over a model whose training
IS a Spark aggregation: a character-n-gram multinomial Naive Bayes.

* ``fit``: one explode (cell → char n-grams) + one
  groupBy(label, gram) count + one groupBy(label) prior count. The
  collected state is bounded by vocab_size × n_labels (top-V grams by
  corpus frequency), independent of corpus size — training on 100 TB is
  a single map-side-combined shuffle. Closed-form counts ⇒ ``epochs``
  is accepted for API parity and ignored (documented); the return
  carries train/cv accuracy like the reference's model output, with the
  CV split done by the deterministic md5 hash filter
  (operators/sampling.py) so refits are reproducible.
* ``predict``: NumPy argmax of log_prior + Σ count·log_prob per cell —
  driver-side for lists, Arrow-batched ``mapInPandas`` for DataFrames
  (same adapter shape as labeler/cnn_adapter.py).
* ``add_label(label, same_as=)``: the new label scores like ``same_as``
  (row copy) until the next fit — reference base_model.py:196-230
  semantics.
* ``set_labels``: resets the mapping and clears fitted state (the
  reference requires a refit after relabeling too).
* ``save_to_disk`` / ``load_from_disk``: a single JSON artifact.

``train_structured_labeler(df)`` melts a (Spark or pandas) DataFrame to
(value, column-name-label) pairs and fits — the reference's convenience
entry point, data_labelers.py:17-76.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_NGRAM = 2
DEFAULT_VOCAB = 4096
MAX_LABELS = 1000
_SMOOTH = 1.0  # Laplace


def _ngram_expr(col, n: int):
    """All char n-grams of a string column as an array (Spark-side)."""
    c = F.col(col) if isinstance(col, str) else col
    idx = F.sequence(F.lit(1), F.greatest(F.length(c) - (n - 1), F.lit(0)))
    return F.transform(idx, lambda i: F.substring(c, i, n))


def _py_ngrams(s: str, n: int) -> list[str]:
    return [s[i:i + n] for i in range(max(len(s) - n + 1, 0))]


class TrainableDataLabeler:
    """fit/predict labeler with the reference's trainable API surface
    over a distributed closed-form estimator (module docstring)."""

    def __init__(self, ngram: int = DEFAULT_NGRAM,
                 vocab_size: int = DEFAULT_VOCAB,
                 default_label: str = "UNKNOWN",
                 model: str = "ngram",
                 model_path: str | None = None):
        if model not in ("ngram", "cnn"):
            raise ValueError(f"model must be ngram|cnn, got {model!r}")
        self.model = model
        self.ngram = ngram
        self.vocab_size = vocab_size
        self.default_label = default_label
        self.label_mapping: dict[str, int] = {}
        self.vocab: dict[str, int] = {}
        self.log_priors: np.ndarray | None = None
        self.log_probs: np.ndarray | None = None   # (L, V+1); V = OOV
        # model="cnn" (VERDICT r11 item 5): keep the char CNN's frozen
        # representation, retrain only a convex (ridge) head on the
        # user's labels — labeler/head_tuning.py. fit/predict/evaluate
        # delegate; the n-gram NB members above stay unused.
        self._head = None
        if model == "cnn":
            from dataprofiler_spark.labeler.head_tuning import CnnHeadTuner
            self._head = CnnHeadTuner(model_path=model_path)

    # -- label surface ------------------------------------------------------

    @property
    def labels(self) -> list[str]:
        inv = {v: k for k, v in self.label_mapping.items()}
        return [inv[i] for i in range(len(inv))]

    def set_labels(self, labels: list | dict) -> None:
        """Reset the mapping; clears fitted state (refit required, as in
        the reference)."""
        if isinstance(labels, dict):
            self.label_mapping = {str(k): int(v) for k, v in labels.items()}
        else:
            self.label_mapping = {str(l): i for i, l in enumerate(labels)}
        self.log_priors = None
        self.log_probs = None
        if self._head is not None:
            self._head.label_mapping = dict(self.label_mapping)
            self._head.W = None

    def add_label(self, label: str, same_as: str | None = None) -> None:
        """Append a label; with ``same_as`` the new label scores like the
        existing one until the next fit (reference base_model semantics).
        Without ``same_as`` the new label can only be produced after a
        refit (it gets a -inf prior)."""
        if label in self.label_mapping:
            raise ValueError(f"label {label!r} already exists")
        if same_as is not None and same_as not in self.label_mapping:
            raise ValueError(f"same_as label {same_as!r} unknown")
        idx = len(self.label_mapping)
        self.label_mapping[label] = idx
        if self.log_probs is not None:
            if same_as is not None:
                src = self.label_mapping[same_as]
                self.log_priors = np.append(self.log_priors,
                                            self.log_priors[src] - math.log(2))
                self.log_priors[src] -= math.log(2)
                self.log_probs = np.vstack([self.log_probs,
                                            self.log_probs[src]])
            else:
                self.log_priors = np.append(self.log_priors, -np.inf)
                self.log_probs = np.vstack([
                    self.log_probs,
                    np.full(self.log_probs.shape[1], -np.inf)])

    # -- fit ----------------------------------------------------------------

    def fit(self, df: DataFrame, x: str, y: str,
            validation_split: float = 0.2, labels: list | dict | None = None,
            reset_weights: bool = False, epochs: int = 1) -> dict:
        """Fit on a DataFrame of (x=text cell, y=label). One explode +
        two groupBys; state bounded by vocab_size × n_labels. ``epochs``
        is API parity only (closed-form counts — documented);
        ``reset_weights`` is implied (every fit recomputes from counts).
        Returns {"train_acc": .., "cv_acc": ..} (cv by deterministic
        md5 split when validation_split > 0)."""
        del reset_weights, epochs
        if not 0.0 <= validation_split < 1.0:
            raise ValueError("`validation_split` must be >= 0 and < 1.0")
        if self._head is not None:
            # convex head over the frozen CNN representation: one
            # distributed Gram pass + a driver ridge solve (closed-form
            # like the NB path, so epochs stays parity-only here too)
            out = self._head.fit(df, x, y, labels=labels)
            self.label_mapping = dict(self._head.label_mapping)
            return out
        if labels is not None:
            self.set_labels(labels)
        from dataprofiler_spark.operators.sampling import hash_fraction_expr

        pairs = (df.select(F.col(x).cast("string").alias("x"),
                           F.col(y).cast("string").alias("y"))
                 .where(F.col("x").isNotNull() & F.col("y").isNotNull()))
        split = hash_fraction_expr(F.col("x"), "dps-labeler-cv-v1")
        train = (pairs.where(split >= validation_split)
                 if validation_split > 0 else pairs)

        # collect guard: the collected state is O(labels × vocab_size) —
        # a label column with unbounded cardinality is a spec bug (use a
        # categorical label), not a scale case. This collect doubles as
        # the empty-input probe (r12: the eager isEmpty() was a whole
        # extra scan on every fit; only the degenerate all-CV case still
        # pays a second look).
        priors = (train.groupBy("y").agg(F.count(F.lit(1)).alias("n"))
                  .limit(MAX_LABELS + 1).collect())
        if not priors and (validation_split == 0 or pairs.isEmpty()):
            raise ValueError("No data or labels to fit.")
        if len(priors) > MAX_LABELS:
            raise ValueError(
                f"fit: more than {MAX_LABELS} distinct labels in {y!r}; "
                f"the label column must be categorical")

        grams = train.select("y", F.explode(_ngram_expr("x", self.ngram))
                             .alias("g"))
        # the (label, gram) aggregate feeds BOTH the vocabulary cutoff
        # and the kept-cell collect — persist it so the corpus is
        # n-gram-exploded once, not twice (r12, guide §1.2)
        counts = (grams.groupBy("y", "g")
                  .agg(F.count(F.lit(1)).alias("n"))).persist()
        try:
            top = (counts.groupBy("g").agg(F.sum("n").alias("t"))
                   .orderBy(F.desc("t"), F.asc("g"))
                   .limit(self.vocab_size).select("g"))
            kept = counts.join(top, "g", "left_semi").collect()
        finally:
            counts.unpersist()

        if not self.label_mapping:
            self.set_labels(sorted({r["y"] for r in priors}))
        self.vocab = {g: i for i, g in enumerate(
            sorted({r["g"] for r in kept}))}
        L, V = len(self.label_mapping), len(self.vocab)
        gram_counts = np.zeros((L, V + 1))
        prior_counts = np.zeros(L)
        for r in priors:
            if r["y"] in self.label_mapping:
                prior_counts[self.label_mapping[r["y"]]] = r["n"]
        for r in kept:
            if r["y"] in self.label_mapping:
                gram_counts[self.label_mapping[r["y"]],
                            self.vocab[r["g"]]] = r["n"]
        tot = prior_counts.sum()
        with np.errstate(divide="ignore"):
            self.log_priors = np.log(prior_counts / max(tot, 1.0))
        row_tot = gram_counts.sum(axis=1, keepdims=True)
        self.log_probs = np.log((gram_counts + _SMOOTH)
                                / (row_tot + _SMOOTH * (V + 1)))

        # the reference's fit returns f1 + a per-label classification
        # report per epoch (character_level_cnn_model.py:657-800 via
        # labeler_utils.evaluate_accuracy) — same here, over the CV
        # split (train when validation_split=0). r12: ONE scored
        # confusion pass per split serves accuracy AND the report
        # (accuracy = diag/total of the same counts — the identical
        # IEEE division the old avg-of-0/1 pass performed), where the
        # r11 shape scored the CV split twice and train once more.
        from dataprofiler_spark.labeler.evaluation import (
            accuracy_from_counts, confusion_counts, evaluate_accuracy)
        out: dict = {}
        if validation_split > 0:
            out["train_acc"] = self._accuracy(train)
            eval_split = pairs.where(split < validation_split)
        else:
            eval_split = train
        eval_counts = confusion_counts(
            self.predict(eval_split, "x"), "y", "label")
        acc = accuracy_from_counts(eval_counts)
        if validation_split > 0:
            out["cv_acc"] = acc
        else:
            out["train_acc"] = acc
        out["f1"], out["f1_report"] = evaluate_accuracy(
            None, "y", "label", labels=self.labels,
            omitted_labels=("PAD", self.default_label),
            precomputed_counts=eval_counts)
        return out

    def evaluate(self, df: DataFrame, x: str, y: str,
                 verbose: bool = False) -> tuple[float, dict]:
        """Per-label precision/recall/F1 report of this labeler on a
        (x=text, y=true label) frame — the reference's
        ``evaluate_accuracy`` surface (labeler_utils.py:80-215) driven
        by one distributed confusion aggregation. Returns
        (macro-adjusted f1, f1_report dict)."""
        from dataprofiler_spark.labeler.evaluation import evaluate_accuracy
        preds = self.predict(
            df.select(F.col(x).cast("string").alias("x"),
                      F.col(y).cast("string").alias("y"))
            .where(F.col("x").isNotNull() & F.col("y").isNotNull()), "x")
        return evaluate_accuracy(
            preds, "y", "label", labels=self.labels,
            omitted_labels=("PAD", self.default_label), verbose=verbose)

    def _accuracy(self, pairs: DataFrame) -> float:
        pred = self.predict(pairs, "x").select(
            (F.col("label") == F.col("y")).cast("int").alias("ok"))
        row = pred.agg(F.avg("ok").alias("a")).first()
        return round(float(row["a"] or 0.0), 6)

    # -- predict ------------------------------------------------------------

    def _score_cells(self, cells: list[str]) -> list[str]:
        """Vectorized batch scoring (r12, guide §4.2): gather the
        in-vocab gram columns for the whole batch and segment-sum them
        per cell (``np.add.reduceat``) instead of building a dense
        (V+1) count vector and a full (L, V+1) matvec PER CELL — the
        per-cell work drops from O(L·V) to O(L·grams). Out-of-vocab
        grams are skipped (standard NB practice): the OOV
        pseudo-column's smoothed mass differs per label only through
        row totals, which would bias every unseen gram toward the label
        with the SMALLEST vocabulary. Parity note (ADVICE r12): the
        segment sum adds log-probs in gram-occurrence order, while the
        old matvec accumulated counts in vocab-index order — IEEE
        addition-order differences can shift a score by ulps and flip
        argmax on an exact near-tie, so parity is empirical (pinned by
        the trained-labeler goldens in test_trainable.py and the
        trained_labeler_customer driver row), not a bit-level
        guarantee for adversarially tied inputs."""
        if self.log_probs is None:
            raise ValueError("labeler is not fitted")
        inv = {v: k for k, v in self.label_mapping.items()}
        vocab_get = self.vocab.get
        ids: list[int] = []
        offs = [0]
        for cell in cells:
            ids.extend(gi for g in _py_ngrams(str(cell), self.ngram)
                       if (gi := vocab_get(g)) is not None)
            offs.append(len(ids))
        n = len(cells)
        L = self.log_probs.shape[0]
        offs_a = np.asarray(offs)
        seg = np.zeros((L, n))
        if ids:
            gathered = self.log_probs[:, np.asarray(ids, dtype=np.int64)]
            lens = np.diff(offs_a)
            nz = lens > 0
            # starts of the non-empty segments are strictly increasing
            # and contiguous (an empty segment's start equals the next
            # start), so reduceat covers exactly the non-empty cells
            seg[:, nz] = np.add.reduceat(gathered, offs_a[:-1][nz],
                                         axis=1)
        scores = self.log_priors[:, None] + seg
        best = np.argmax(scores, axis=0)    # first-max = lowest index
        return [inv[int(i)] for i in best]

    def predict(self, data, x: str | None = None):
        """Lists → list of labels; DataFrames → the frame plus a
        ``label`` column (Arrow-batched mapInPandas; model state ships
        once per worker via closure)."""
        if self._head is not None:
            if isinstance(data, (list, tuple)):
                return [l for l, _ in self._head.predict_cells(list(data))]
            return self._head.predict(data, x).drop("confidence")
        if isinstance(data, (list, tuple)):
            return self._score_cells(list(data))
        import pandas as pd
        df: DataFrame = data
        if x is None:
            raise ValueError("x= column required for DataFrame predict")
        state = self  # closure-captured; ~vocab_size×L floats

        # fresh StructType — .add() mutates the frame's cached schema
        # object in place, which confuses mapInPandas resolution
        from pyspark.sql.types import StringType, StructField, StructType
        schema = StructType(list(df.schema.fields)
                            + [StructField("label", StringType())])

        def infer(batches):
            for pdf in batches:
                pdf = pdf.copy()
                pdf["label"] = state._score_cells(list(pdf[x].astype(str)))
                yield pdf

        return df.mapInPandas(infer, schema=schema)

    # -- persistence --------------------------------------------------------

    def save_to_disk(self, dirpath: str) -> None:
        if self._head is not None:
            self._head.save_to_disk(dirpath)
            return
        os.makedirs(dirpath, exist_ok=True)
        art = {
            "ngram": self.ngram, "vocab_size": self.vocab_size,
            "default_label": self.default_label,
            "label_mapping": self.label_mapping, "vocab": self.vocab,
            "log_priors": (self.log_priors.tolist()
                           if self.log_priors is not None else None),
            "log_probs": (self.log_probs.tolist()
                          if self.log_probs is not None else None),
        }
        with open(os.path.join(dirpath, "labeler.json"), "w") as f:
            json.dump(art, f)

    @classmethod
    def load_from_disk(cls, dirpath: str) -> "TrainableDataLabeler":
        """Reload a ``save_to_disk`` artifact. A CNN head artifact
        (``head_params.json``) reloads on the base that file records:
        the user model at its ``model_path``, or else the packaged
        model — so the packaged weights are needed only when no
        ``model_path`` was saved. Otherwise the n-gram labeler loads
        from ``labeler.json``."""
        if os.path.exists(os.path.join(dirpath, "head_params.json")):
            from dataprofiler_spark.labeler.head_tuning import CnnHeadTuner
            # built headless: the only base CNN loaded is the recorded one
            m = cls()
            m.model = "cnn"
            m._head = CnnHeadTuner.load_from_disk(dirpath)
            m.label_mapping = dict(m._head.label_mapping)
            return m
        with open(os.path.join(dirpath, "labeler.json")) as f:
            art = json.load(f)
        m = cls(ngram=art["ngram"], vocab_size=art["vocab_size"],
                default_label=art["default_label"])
        m.label_mapping = {str(k): int(v)
                           for k, v in art["label_mapping"].items()}
        m.vocab = {str(k): int(v) for k, v in art["vocab"].items()}
        if art["log_priors"] is not None:
            m.log_priors = np.array(art["log_priors"])
            m.log_probs = np.array(art["log_probs"])
        return m


def train_structured_labeler(data, default_label: str | None = None,
                             save_dirpath: str | None = None,
                             epochs: int = 2) -> TrainableDataLabeler:
    """Melt a DataFrame to (value, column-name) pairs and fit — the
    reference's convenience entry (data_labelers.py:17-76): each column
    name becomes a label and every cell a training sample. Accepts a
    Spark DataFrame (melt is a select+explode, distributed) or a pandas
    frame."""
    import pandas as pd

    if isinstance(data, pd.DataFrame):
        from dataprofiler_spark.session import get_spark
        spark = get_spark()
        melted = pd.DataFrame({
            "x": data.astype(str).to_numpy().ravel(order="F"),
            "y": [c for c in data.columns for _ in range(len(data))]})
        sdf = spark.createDataFrame(melted)
    elif isinstance(data, DataFrame):
        cols = data.columns
        structs = F.array(*[
            F.struct(F.col(c).cast("string").alias("x"),
                     F.lit(c).alias("y")) for c in cols])
        sdf = (data.select(F.explode(structs).alias("s"))
               .select("s.x", "s.y"))
    else:
        raise TypeError("Input data must be a Spark or pandas DataFrame.")
    labeler = TrainableDataLabeler(
        default_label=default_label or "UNKNOWN")
    labeler.fit(sdf, "x", "y", epochs=epochs)
    if save_dirpath is not None:
        labeler.save_to_disk(save_dirpath)
    return labeler
