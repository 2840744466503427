"""Corpus curation: the composed training-data pipeline.

    transcripts -> extract (fused kernel stage)
                -> conversation reassembly (stable turn order, JVM)
                -> PII redaction (email/IP/phone -> typed tokens, JVM
                   regexp chain; masked twins then dedup together)
                -> quality gates (length / word-shape / stopword ratio /
                   Gopher repetition, the P1-P3 gate family at corpus grain)
                -> exact dedup keep-first (one shuffle on a text hash)
                -> near-dup candidate accounting (MinHash+LSH)

This is the chain a pretraining-data user runs over raw transcript dumps;
every stage is an operator that is independently oracle-checked or
recall-gated. One Python boundary total (the extraction kernel); gates,
reassembly, dedup, and stats are all JVM/codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from dup_ocropy_spark.plans.cache import persist_shared

from dup_ocropy_spark.config import DEFAULT_CONFIG, ExtractConfig
from dup_ocropy_spark.operators.dedup import exact_keep_first, minhash_candidates
from dup_ocropy_spark.plans.extract import conversation_text, extract


def quality_columns(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Append n_words / avg_word_len / stop_ratio / dup_line_frac /
    dup_word_frac / is_quality (``textstats.quality_metrics``, the
    metrics of the oracle-checked quality_score query, with curation's
    own stop-ratio gate)."""
    from dup_ocropy_spark.operators.textstats import quality_metrics

    t = F.col(text_col)
    n_words, awl, stop_ratio, dlf, dwf = quality_metrics(t)
    d = (docs.where(F.length(F.trim(t)) > 0)
         .withColumn("n_words", n_words)
         .withColumn("avg_word_len", F.round(awl, 6))
         .withColumn("stop_ratio", F.round(stop_ratio, 6))
         .withColumn("dup_line_frac", F.round(dlf, 6))
         .withColumn("dup_word_frac", F.round(dwf, 6)))
    is_q = ((F.col("n_words") >= 10)
            & F.col("avg_word_len").between(2, 12)
            & (F.col("stop_ratio") >= 0.02)
            # Gopher repetition gate (Rae et al. 2021 App. A1.1)
            & (F.col("dup_line_frac") <= 0.3))
    return d.withColumn("is_quality", is_q)


def curate(transcripts: DataFrame, config: ExtractConfig = DEFAULT_CONFIG,
           salted: bool = False,
           near_dedup: bool = False) -> tuple[DataFrame, DataFrame]:
    """-> (curated, stats): curated(conv_id, text, n_turns_with_content,
    n_words) after PII redaction + quality gates + exact dedup; stats is
    a 1-row frame accounting for every drop (the reject-report discipline
    at corpus grain — silent filtering is how training sets rot).

    ``near_dedup=True`` additionally DROPS near-duplicates via transitive
    cluster closure (minhash pairs -> connected components -> one
    survivor per cluster, ``dedup.dedup_clusters``); by default the
    pipeline only COUNTS near-dup candidates, leaving the lossy decision
    to an explicit opt-in (with it on, ``n_after_exact_dedup`` in the
    stats reflects the post-closure survivor count)."""
    from dup_ocropy_spark.operators.redact import redact_pii

    conv = conversation_text(extract(transcripts, config, salted=salted))
    docs = conv.select(F.col("conv_id"), F.col("conv_text").alias("text"),
                       "n_turns_with_content")
    # redact BEFORE quality/dedup: masked docs that differ only in the
    # PII value dedup together, and the model never sees the identifier
    docs = redact_pii(docs)
    scored = persist_shared(quality_columns(docs))
    quality = scored.where(F.col("is_quality"))
    # exact dedup keyed on conv_id directly — no surrogate hash, so a
    # 64-bit collision between distinct conv_ids can never drop a
    # non-duplicate conversation in the join-back
    survivors = exact_keep_first(quality.select("conv_id", "text"), "conv_id")
    curated = (quality.join(survivors.select("conv_id"), "conv_id")
               .select("conv_id", "text", "n_turns_with_content", "n_words"))
    # near-dup pairs keyed on conv_id directly (minhash bands + string
    # keys) — like exact dedup, no surrogate hash whose collision could
    # drop a non-duplicate; persisted because both the candidate count
    # and the opt-in cluster closure consume the pair set
    keyed = quality.select(F.col("conv_id").alias("doc_id"), "text")
    near_pairs = persist_shared(minhash_candidates(keyed))
    if near_dedup:
        from dup_ocropy_spark.operators.dedup import dedup_clusters

        # closure over the PRE-exact-dedup pair graph: a cluster's
        # canonical (min conv_id over the component) is necessarily also
        # the min of its exact-text group, so it always survived
        # exact_keep_first — joining on keep never empties a cluster
        clusters = dedup_clusters(keyed, near_pairs)
        curated = curated.join(
            clusters.where("keep").select(F.col("doc_id").alias("conv_id")),
            "conv_id")
    stats = (scored.agg(
        F.count("*").alias("n_convs"),
        F.sum(F.when(F.col("is_quality"), 1).otherwise(0)).alias("n_quality"),
        F.sum("n_redacted").alias("n_pii_redacted"))
        .crossJoin(curated.agg(F.count("*").alias("n_after_exact_dedup")))
        .crossJoin(near_pairs.agg(
            F.count("*").alias("n_neardup_candidates"))))
    return curated, stats
