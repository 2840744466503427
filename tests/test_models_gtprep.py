"""Model artifact round-trip (S7) and the bidirectional-context
classifier (L6 analog)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dup_ocropy_spark.kernels.classify import (
    CTX_FEATURE_NAMES, CTX_WEIGHTS, FEATURE_NAMES, block_features,
    context_features, logistic_scores,
)
from dup_ocropy_spark.kernels.segment import segment_batch
from dup_ocropy_spark.operators.train import train_classifier
from dup_ocropy_spark.plans.extract import extract
from dup_ocropy_spark.sources.models import config_with_model, load_model, save_model
from dup_ocropy_spark.sources.transcripts import synth_transcripts


def test_context_features_shape_and_edges():
    blocks = segment_batch(["<p>first paragraph with words</p>"
                            "<p>second paragraph with words</p>"
                            "<p>third paragraph with words</p>"])
    X = block_features(blocks)
    C = context_features(X)
    assert C.shape == (3, 3 * len(FEATURE_NAMES))
    d = len(FEATURE_NAMES)
    assert (C[0, d:2 * d] == 0).all()          # first block: no prev
    assert (C[-1, 2 * d:] == 0).all()          # last block: no next
    assert (C[1, d:2 * d] == X[0]).all()       # middle sees both neighbors
    assert (C[1, 2 * d:] == X[2]).all()
    # untrained ctx weights reduce to the plain logistic scores
    assert np.allclose(logistic_scores(C, CTX_WEIGHTS), logistic_scores(X))
    # several documents stacked: doc_lens keeps every neighbor inside its
    # own document, equal to stacking the per-document frames
    docs = [X, X[:1], X[1:], X[:2]]
    flat = np.vstack(docs)
    want = np.vstack([context_features(x) for x in docs])
    assert (context_features(flat, [len(x) for x in docs]) == want).all()
    assert (context_features(flat, [0, len(flat), 0]) == context_features(flat)).all()


def test_model_roundtrip(tmp_path):
    w = np.arange(len(FEATURE_NAMES), dtype=float)
    save_model(str(tmp_path / "m.json"), w, -1.5, meta={"note": "t"})
    w2, b2, kind, meta = load_model(str(tmp_path / "m.json"))
    assert (w2 == w).all() and b2 == -1.5 and kind == "logistic"
    assert meta["note"] == "t"
    with pytest.raises(ValueError, match="expects"):
        save_model(str(tmp_path / "bad.json"), w, 0.0, kind="logistic_ctx")
    cw = np.zeros(len(CTX_FEATURE_NAMES))
    save_model(str(tmp_path / "c.json"), cw, 0.25, kind="logistic_ctx")
    cfg = config_with_model(str(tmp_path / "c.json"))
    assert cfg.classifier == "logistic_ctx" and cfg.bias == 0.25


def test_ctx_classifier_end_to_end(spark, tmp_path):
    train = synth_transcripts(spark, 30)
    w, b, acc = train_classifier(train, context=True, epochs=200)
    assert acc >= 0.98
    save_model(str(tmp_path / "ctx.json"), w, b, kind="logistic_ctx")
    cfg = config_with_model(str(tmp_path / "ctx.json"))
    held_out = synth_transcripts(spark, 45).where(F.col("conv_id") > "conv00000029")
    got = extract(held_out, cfg).select("conv_id", "turn_idx", "extracted_text")
    want = extract(held_out).select("conv_id", "turn_idx",
                                    F.col("extracted_text").alias("want"))
    j = got.join(want, ["conv_id", "turn_idx"])
    n = j.count()
    n_match = j.where(F.col("extracted_text") == F.col("want")).count()
    assert n_match / n >= 0.97, f"{n_match}/{n}"
