"""Classifier training job (reference L5/L7 analog, Spark-first).

The reference trains its line recognizer with per-sample SGD inside one
process (``ocropus-rtrain:277-330``, ``ocrolib/lstm.py:429-468``). Here
the model is the per-block logistic scorer (classify.py): the feature
extraction fans out over Spark (the expensive part — segmentation of
every payload), while the tiny convex fit runs on a bounded driver-side
sample (weights are 9 floats; for bigger models swap in
``applyInPandas`` per-shard fits + weight averaging, same plumbing).

Labels come from the rule classifier — the training objective is
distillation: make the logistic path agree with the deterministic rule
oracle so either can serve, with scores usable for threshold tuning.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from dup_ocropy_spark.config import DEFAULT_CONFIG
from dup_ocropy_spark.kernels.classify import (
    CTX_FEATURE_NAMES, FEATURE_NAMES, classify_blocks, context_features,
)
from dup_ocropy_spark.kernels.oracle import _gate_and_segment


# Reference-trained logistic parameters over FEATURE_NAMES: the output of
# ``train_classifier(synth_transcripts(spark, 400), seed=42)`` (rule-label
# distillation, full-batch GD; accuracy 1.0 vs the rule oracle), frozen to
# 12dp so the Spark config and the DuckDB oracle twin share the exact same
# literals. tests/test_train_evaluate.py re-derives them from scratch and
# asserts allclose — the constants can't drift from the training code.
# This is the model-driven recognize stage artifact (the reference loads
# trained weights in ocropus-rpred:119-131 before predictString).
PRETRAINED_LOGISTIC_WEIGHTS: tuple[float, ...] = (
    1.491762975367,    # log_len
    -5.348827388577,   # link_density
    -5.065819604402,   # boiler
    3.028074972767,    # stopword_ratio
    23.390836374898,   # punct_per_word
    -43.33993684862,   # digit_ratio
    -0.534655743728,   # mean_word_len
    0.089444173464,    # is_heading
)
PRETRAINED_LOGISTIC_BIAS: float = -1.530117839801


def _feature_names(context: bool) -> tuple[str, ...]:
    return CTX_FEATURE_NAMES if context else FEATURE_NAMES


def _labeled_blocks(batch: pa.RecordBatch, context: bool
                    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Shared per-batch core of every training/calibration stage: the
    extraction chain's gates + segmentation over the batch's ``text`` /
    ``tool`` columns, then ONE rule-mode ``classify_blocks`` that labels
    the block table (ground truth) and returns its features. -> (blocks
    per payload that has any, flat (optionally bidi-context) features,
    flat labels: 1 content, 0 boilerplate, -1 noise)."""
    # a missing column is an all-null one: every payload gates as empty
    nulls = pa.nulls(batch.num_rows, pa.string())
    cols = batch.schema.names
    _, _, _, blocks = _gate_and_segment(
        batch.column("text") if "text" in cols else nulls,
        batch.column("tool") if "tool" in cols else nulls,
        None, DEFAULT_CONFIG)
    X = classify_blocks(blocks)
    lens = np.bincount(blocks.row, minlength=batch.num_rows)
    lens = lens[lens > 0]
    if context:
        X = context_features(X, lens)  # L6 bidi-context frame
    return lens, X, blocks.label.astype(np.int64)


def _labeled_map(transcripts: DataFrame, context: bool, names: tuple[str, ...],
                 doubles) -> DataFrame:
    """One ``mapInArrow`` over the payload columns -> (``names`` double
    columns, rule ``label`` int) per non-noise block (noise is gated, not
    classified); ``doubles(X)`` maps the block features to the ``names``
    columns."""
    schema = pa.schema([*(pa.field(n, pa.float64()) for n in names),
                        pa.field("label", pa.int32())])

    def _batch(batches):
        for batch in batches:
            _, X, labels = _labeled_blocks(batch, context)
            keep = labels >= 0
            if keep.any():
                yield pa.RecordBatch.from_arrays(
                    [*map(pa.array, doubles(X[keep]).T),
                     pa.array(labels[keep], type=pa.int32())], schema=schema)

    cols = [c for c in ("text", "tool") if c in transcripts.columns]
    return transcripts.select(*cols).mapInArrow(
        _batch, schema=", ".join(f"{n} double" for n in names) + ", label int")


def block_training_frame(transcripts: DataFrame, context: bool = False) -> DataFrame:
    """Distributed feature/label extraction over the transcript table."""
    return _labeled_map(transcripts, context, _feature_names(context), lambda X: X)


def _sample_features(features: DataFrame, sample: int,
                     context: bool) -> pd.DataFrame:
    """Deterministic bounded training draw: ordered by a seeded hash of
    the FULL row (the frame has no natural key) with the row itself as
    tie-break, cut at ``sample`` — TakeOrdered per-partition heaps, never
    a bare ``limit()`` (the repo-wide rule: limit takes whichever
    partitions answer first, so the fitted weights would depend on the
    partitioning; identical rows tie harmlessly — either copy is the
    same training row). Also pins ROW ORDER, so the float accumulation
    in gradient sums is reproducible across cluster layouts."""
    cols = [*_feature_names(context), "label"]
    return features.orderBy(F.xxhash64(*cols), *cols).limit(sample).toPandas()


def fit_logistic(features: DataFrame, sample: int = 100_000, epochs: int = 300,
                 lr: float = 0.5, seed: int = 42, context: bool = False,
                 curve: list | None = None) -> tuple[np.ndarray, float]:
    """Deterministic full-batch gradient descent on a bounded sample.

    Pass a list as ``curve`` to receive per-epoch (log_loss, error_rate)
    tuples — the reference's training-error curve (A7,
    ``ocropus-rtrain:277-330`` prints err per round; see
    ``training_curve_frame`` for the smoothed MovingStats view)."""
    pdf = _sample_features(features, sample, context)
    return _fit_logistic_pdf(pdf, epochs=epochs, lr=lr, seed=seed,
                             context=context, curve=curve)


def _fit_logistic_pdf(pdf: pd.DataFrame, epochs: int = 300, lr: float = 0.5,
                      seed: int = 42, context: bool = False,
                      curve: list | None = None) -> tuple[np.ndarray, float]:
    X = pdf[list(_feature_names(context))].to_numpy(dtype=np.float64)
    y = pdf["label"].to_numpy(dtype=np.float64)
    # standardize for conditioning, fold the scaling back into the weights
    mu = X.mean(axis=0)
    sd = X.std(axis=0)
    sd[sd == 0] = 1.0
    Xs = (X - mu) / sd
    rng = np.random.default_rng(seed)
    w = rng.standard_normal(Xs.shape[1]) * 0.01
    b = 0.0
    n = len(y)
    for _ in range(epochs):
        z = Xs @ w + b
        p = 1.0 / (1.0 + np.exp(-z))
        g = p - y
        if curve is not None:
            eps = 1e-12
            loss = float(-(y * np.log(p + eps)
                           + (1 - y) * np.log(1 - p + eps)).mean())
            curve.append((loss, float(((p >= 0.5) != (y == 1)).mean())))
        w -= lr * (Xs.T @ g) / n
        b -= lr * g.mean()
    w_raw = w / sd
    b_raw = b - float((w * mu / sd).sum())
    return w_raw, b_raw


def training_curve_frame(spark, curve: list) -> DataFrame:
    """Per-epoch training curve with the A6 MovingStats smoothing window
    (the reference plots a moving average of recent per-sample errors;
    here a 10-epoch trailing mean over the recorded curve)."""
    from pyspark.sql import Window as W, functions as F

    df = spark.createDataFrame(
        [(i, loss, err) for i, (loss, err) in enumerate(curve)],
        "epoch int, log_loss double, error_rate double")
    w = W.orderBy("epoch").rowsBetween(-9, 0)
    return df.select(
        "epoch", F.round("log_loss", 6).alias("log_loss"),
        F.round("error_rate", 6).alias("error_rate"),
        F.round(F.avg("error_rate").over(w), 6).alias("error_rate_ma10"))


def sequence_training_data(n_convs: int = 60) -> tuple[list[np.ndarray], list[np.ndarray]]:
    """Per-document (block-feature sequence, per-block rule labels) pairs
    from the deterministic synthetic corpus — offline LSTM training data
    (the reference trains single-process too, ocropus-rtrain:277-330)."""
    from dup_ocropy_spark.sources.transcripts import synth_conv

    sequences: list[np.ndarray] = []
    labels: list[np.ndarray] = []
    for ci in range(n_convs):
        tdf, _ = synth_conv(ci)
        lens, X, y = _labeled_blocks(
            pa.RecordBatch.from_pandas(tdf[["text", "tool"]], preserve_index=False),
            context=False)
        if not len(lens):
            continue
        cuts = np.cumsum(lens)[:-1]
        sequences.extend(np.split(X, cuts))
        labels.extend(np.split((y == 1).astype(np.float64), cuts))
    return sequences, labels


def train_lstm(n_convs: int = 60, epochs: int = 60, lr: float = 0.05,
               seed: int = 42):
    """Train the TinyBiLSTM recognizer (L4/L5) by distilling rule labels
    over block sequences. Returns (model, train_accuracy)."""
    from dup_ocropy_spark.kernels.lstm import TinyBiLSTM

    sequences, labels = sequence_training_data(n_convs)
    model = TinyBiLSTM(n_in=len(FEATURE_NAMES), seed=seed)
    acc = model.fit(sequences, labels, epochs=epochs, lr=lr)
    return model, acc


def score_label_frame(transcripts: DataFrame,
                      weights: np.ndarray | None = None,
                      bias: float | None = None,
                      context: bool = False) -> DataFrame:
    """Distributed (score, rule_label) pairs per non-noise block: the raw
    material for decision-threshold calibration. Feature extraction +
    scoring fan out in one mapInArrow; nothing else leaves the JVM."""
    from dup_ocropy_spark.kernels.classify import logistic_scores

    return _labeled_map(transcripts, context, ("score",),
                        lambda X: logistic_scores(X, weights, bias)[:, None])


def calibrate_threshold(transcripts: DataFrame,
                        weights: np.ndarray | None = None,
                        bias: float | None = None,
                        grid: np.ndarray | None = None,
                        context: bool = False) -> tuple[float, float]:
    """Data-driven decision-threshold estimation (reference N4 analog:
    ``ocropus-nlbin:27-37`` estimates its binarization thresholds from the
    image's percentile statistics rather than hard-coding them; here the
    'image' is the corpus score distribution).

    One distributed pass: per-block (score, rule_label) pairs, then ONE
    aggregation computing agreement-with-rule-labels for every candidate
    threshold as conditional-sum columns (pure codegen, no shuffle beyond
    the final 1-row agg). Returns (best_threshold, best_accuracy);
    deterministic — ties break toward the lowest threshold.
    """
    from pyspark.sql import functions as F

    if grid is None:
        grid = np.round(np.linspace(0.1, 0.9, 33), 6)
    sl = score_label_frame(transcripts, weights, bias, context)
    aggs = [
        F.avg(F.when(((F.col("score") >= float(t)).cast("int")
                      == F.col("label")), 1.0).otherwise(0.0)).alias(f"t{i}")
        for i, t in enumerate(grid)
    ]
    row = sl.agg(*aggs).collect()[0]
    if row["t0"] is None:
        raise ValueError("calibrate_threshold: no scorable blocks in the "
                         "corpus (every payload gated out) — refusing to "
                         "emit a threshold from an empty score frame")
    accs = np.array([row[f"t{i}"] for i in range(len(grid))], dtype=float)
    best = int(np.argmax(accs))  # argmax takes the FIRST max: lowest threshold
    return float(grid[best]), float(accs[best])


def train_classifier(transcripts: DataFrame, context: bool = False,
                     **fit_kw) -> tuple[np.ndarray, float, float]:
    """-> (weights, bias, train_accuracy_vs_rule_labels).

    ``context=True`` trains the bidirectional-context variant (L6 analog,
    24 features) for ``ExtractConfig(classifier='logistic_ctx')``.
    """
    feats = block_training_frame(transcripts, context=context)
    # ONE distributed feature pass: the deterministic sample is collected
    # once and reused for both the fit and the accuracy measurement (the
    # old second `feats.limit(50_000)` collect re-ran segmentation over
    # the whole corpus and measured accuracy on a different row subset)
    sample = fit_kw.pop("sample", 100_000)
    pdf = _sample_features(feats, sample, context)
    w, b = _fit_logistic_pdf(pdf, context=context, **fit_kw)
    X = pdf[list(_feature_names(context))].to_numpy(dtype=np.float64)
    y = pdf["label"].to_numpy()
    pred = (X @ w + b) >= 0
    acc = float((pred == (y == 1)).mean())
    return w, b, acc
