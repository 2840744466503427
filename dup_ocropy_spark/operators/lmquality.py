"""LM-perplexity quality filtering (the CCNet recipe, Wenzek et al. 2020)
over Spark: train a char-bigram LM on a deterministic clean-ish sample,
broadcast the ~0.5 MB log-prob table, score every document in Arrow
batches, gate on a perplexity percentile.

Scale shape:
* training — one ``mapInPandas`` pass over a seeded sample emitting
  partial (prev, cur, n) count rows, one groupBy-sum over <= 257^2 keys,
  collected to a 257x257 matrix (bounded driver state, like the IVF
  quantizer);
* scoring — broadcast table + one vectorized ``mapInPandas`` (numpy
  fancy-indexing per batch, no per-row Python);
* gating — ``approx_percentile`` on the score column, no sort.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from dup_ocropy_spark.plans.cache import persist_shared

from dup_ocropy_spark.kernels import charlm
from dup_ocropy_spark.operators.registry import spread_small_input
from dup_ocropy_spark.operators.sampling import deterministic_sample


def fit_char_lm(docs: DataFrame, sample: int = 4096, seed: int = 42,
                text_col: str = "text") -> np.ndarray:
    """Train the bigram table on a deterministic sample (seeded hash
    order, never bare limit) and return the float32 log-prob table."""
    sampled = deterministic_sample(
        docs.select(F.col(text_col).alias("text"), "doc_id"),
        sample, key_col="doc_id", seed=seed)

    def _partial(batches):
        for pdf in batches:
            M = charlm.count_bigrams(
                t for t in pdf["text"] if isinstance(t, str))
            prev, cur = np.nonzero(M)
            yield pd.DataFrame({"prev": prev.astype(np.int32),
                                "cur": cur.astype(np.int32),
                                "n": M[prev, cur]})

    rows = (sampled.mapInPandas(_partial, schema="prev int, cur int, n long")
            .groupBy("prev", "cur").agg(F.sum("n").alias("n")).collect())
    M = np.zeros((charlm.V, charlm.V), dtype=np.int64)
    for r in rows:
        M[r.prev, r.cur] = r.n
    return charlm.logprob_table(M)


def lm_scores(docs: DataFrame, table: np.ndarray,
              text_col: str = "text") -> DataFrame:
    """Append ``lm_logprob`` (mean per-byte log-prob; higher = more
    prose-like). The table rides the task closure (~0.5 MB, the
    broadcast-weights pattern of the trained-classifier query)."""
    docs = spread_small_input(docs)
    L = np.ascontiguousarray(table, dtype=np.float32)
    cols = docs.columns

    def _score(batches):
        for pdf in batches:
            pdf = pdf.copy()
            # empty text -> None (not NaN: Spark sorts NaN ABOVE every
            # double, so a NaN would sail over any percentile cut)
            pdf["lm_logprob"] = [
                round(charlm.avg_logprob(t, L), 6)
                if isinstance(t, str) and t else None
                for t in pdf[text_col]]
            yield pdf

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in docs.schema.fields) + ", lm_logprob double"
    out = docs.mapInPandas(_score, schema=schema)
    return out.select(*cols, "lm_logprob")


def perplexity_filter(docs: DataFrame, table: np.ndarray,
                      keep_fraction: float = 0.9,
                      text_col: str = "text") -> tuple[DataFrame, DataFrame]:
    """Drop the worst-(1-keep_fraction) perplexity tail. -> (clean docs
    with lm_logprob, 1-row stats) — the drop is accounted, never silent:
    unscorable docs (null/empty text -> null lm_logprob) are DROPPED and
    COUNTED, so n_docs == kept + n_dropped always.

    ``scored`` is persisted via ``plans/cache.persist_shared`` for the
    cut/clean/stats consumers; callers that materialize the outputs
    release it with ``plans.cache.release_shared()`` (frees exactly the
    library's tracked blocks; ``clearCache()`` would evict user-owned
    caches too)."""
    scored = persist_shared(lm_scores(docs, table, text_col))
    cut = scored.agg(F.percentile_approx(
        "lm_logprob", 1.0 - keep_fraction).alias("c")).collect()[0].c
    keep = (F.lit(False) if cut is None  # every doc unscorable
            else F.col("lm_logprob").isNotNull() & (F.col("lm_logprob") >= cut))
    clean = scored.where(keep)
    stats = scored.agg(
        F.count("*").alias("n_docs"),
        F.sum((~keep).cast("int")).alias("n_dropped"),
        F.round(F.lit(cut), 6).alias("logprob_cut"))
    return clean, stats
