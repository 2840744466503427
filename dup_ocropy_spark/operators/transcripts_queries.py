"""Flagship extraction queries exposed to the driver's correctness gate.

``extract_documents`` runs the REAL pipeline (segment -> classify ->
reassemble inside one mapInArrow) over the registry's ``documents`` table,
treating each document as a single-turn conversation. Because that corpus
is plain single-block ASCII text (verified: no newlines/markup at sf0.001-
0.1), the end-to-end result is exactly SQL-expressible, which makes the
whole extraction chain — gates, segmentation, noise filter, normalization,
reassembly — oracle-checkable by DuckDB.

``extract_transcripts_synth`` exercises the full HTML/boilerplate path on
the deterministic synthetic transcript table (driver records the weaker
rows-only check; the strong equality checks live in tests/test_pipeline.py
against the construction ground truth).
"""

from __future__ import annotations

from dataclasses import replace as _cfg_replace

from pyspark.sql import DataFrame, SparkSession, functions as F

from dup_ocropy_spark.config import DEFAULT_CONFIG, ExtractConfig
from dup_ocropy_spark.functions.text import normalize_sql
from dup_ocropy_spark.kernels.classify import STOPWORDS
from dup_ocropy_spark.kernels.segment import (
    PLAIN_SEP_PATTERN, RULE_BLOCK_PATTERN,
)
from dup_ocropy_spark.operators.registry import register, table
from dup_ocropy_spark.operators.train import (
    PRETRAINED_LOGISTIC_BIAS, PRETRAINED_LOGISTIC_WEIGHTS,
)
from dup_ocropy_spark.plans.extract import extract
from dup_ocropy_spark.sources.transcripts import synth_transcripts


def _documents_as_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text"),
        F.lit("").alias("tool"),
    )


# defined below _WS_SQL so the blank gate can use the whitespace SET —
# the kernel's payload.strip() rejects a tabs-only payload as 'blank',
# which bare DuckDB trim (spaces only) would miss


# DuckDB's bare trim()/ltrim()/rtrim() strip SPACES only; the kernel
# strips Python str.isspace() whitespace. The char set is GENERATED from
# the kernel's WS_CHARS literal (kernels/bpe.py — ASCII whitespace + NEL
# + the Unicode White_Space spaces incl. NBSP/U+2028), so NBSP-edged
# payloads trim identically in both engines. Residual dialect edge:
# Python isspace() additionally accepts \x1c-\x1f (file/group/record
# separators), absent from any corpus or fixture here.
from dup_ocropy_spark.kernels.bpe import WS_CHARS as _WS_CHARS

_WS_SQL = " || ".join(f"chr({ord(c)})" for c in _WS_CHARS)

_GATE_SQL = f"""
      CASE WHEN length(text) = 0 THEN 'empty'
           WHEN length(trim(text, {_WS_SQL})) = 0 THEN 'blank'
           WHEN length(text) < 20 THEN 'too_short'
           WHEN length(text) > 1000000 THEN 'too_long'
           ELSE NULL END
"""


def _vis_sql(expr: str) -> str:
    """The kernel's 'visible block text' in SQL: entity-decoded (the
    corpus' only entity is &amp;) then whitespace-trimmed. The noise cut
    (noise_min_chars) applies to THIS, not the raw payload — a ~20-char
    doc of mostly entities has raw trimmed length >= 8 but decoded
    visible < 8, which the raw form misclassified as content."""
    return f"trim(replace({expr}, '&amp;', '&'), {_WS_SQL})"


def _rule_only_sql(expr: str) -> str:
    """TRUE when the payload consists ONLY of rule lines (G7 separators:
    a contiguous [-=_*]{4,} run, optionally flanked by rule chars/tabs/
    spaces) and blank lines — the kernel segments such payloads to ZERO
    blocks (every line is a separator), which the former constant
    n_blocks=1 oracle mispredicted. Lines split on \n and \f (the
    plain-mode separators)."""
    rule = f"'{RULE_BLOCK_PATTERN}'"
    blank = "'^[ \t]*$'"
    return (f"len(list_filter(string_split_regex({expr}, '[\n\f]'), "
            f"l -> NOT regexp_matches(l, {rule}) "
            f"AND NOT regexp_matches(l, {blank}))) = 0")


def _norm_sql(expr: str) -> str:
    """Kernel-order normalization of an extracted block in DuckDB: entity
    decode (the corpus' only entity is &amp;) then the FULL homograph
    chain + whitespace collapse, generated from the engine's own table —
    not a hand-listed subset (tests/test_parity_special_chars.py runs
    these oracles on a ligature/dash/curly-quote corpus)."""
    return normalize_sql(f"replace({expr}, '&amp;', '&')")


# The kernel's plain-mode block splitter, verbatim (RE2 dialect edge:
# (?m)^ anchors after \f in DuckDB but not in Python re.M, so a rule
# line IMMEDIATELY following a form feed diverges — absent from every
# corpus/fixture here; same documented-dialect status as the
# levenshtein bytes-vs-codepoints divergence).
_SEP_SQL = "(?m)" + PLAIN_SEP_PATTERN


def _blocks_sql(expr: str) -> str:
    """DuckDB list of the kernel's visible blocks for a PLAIN payload:
    split on the shared separator pattern (blank lines / rule lines /
    form feeds), entity-decode, whitespace-trim, drop empties — the
    full G-stage segmentation, not a single-block assumption."""
    return (f"list_filter(list_transform("
            f"string_split_regex({expr}, '{_SEP_SQL}'), "
            f"p -> trim(replace(p, '&amp;', '&'), {_WS_SQL})), "
            f"v -> v != '' AND NOT regexp_matches(v, "
            f"'{RULE_BLOCK_PATTERN}'))")


@register(
    "extract_documents",
    sql=f"""
    WITH seg AS (
      SELECT doc_id, text,
             {_GATE_SQL} AS gate,
             {_blocks_sql('text')} AS vis
      FROM documents
    ), lab AS (
      SELECT doc_id, text, vis,
             CASE WHEN gate IS NOT NULL THEN gate
                  WHEN len(vis) > 300 THEN 'too_many_blocks'
                  ELSE NULL END AS reject_reason,
             gate,
             list_filter(vis, v -> length(v) >= 8) AS content
      FROM seg
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           length(text) AS payload_len,
           CASE WHEN gate IS NOT NULL THEN 0 ELSE len(vis) END AS n_blocks,
           CASE WHEN reject_reason IS NOT NULL THEN 0
                ELSE len(content) END AS n_content,
           CASE WHEN reject_reason IS NOT NULL THEN ''
                -- coalesce: DuckDB array_to_string of an EMPTY list is NULL
                ELSE coalesce(array_to_string(
                       list_transform(content, v -> {normalize_sql('v')}),
                       chr(10)), '') END AS extracted_text,
           reject_reason
    FROM lab
    """,
    doc="FLAGSHIP: the full extraction pipeline over the documents table. "
        "The oracle now replays the WHOLE plain-mode segmentation in SQL "
        "from the kernel's own separator pattern — multi-paragraph, "
        "rule-divided and form-feed-paged payloads all oracle-checked "
        "(not just the single-block corpus shape), incl. the "
        "too_many_blocks gate and per-block noise cut",
)
def extract_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    tr = _documents_as_transcripts(spark, sf_dir)
    out = extract(tr)
    return out.select(
        F.col("conv_id").cast("bigint").alias("doc_id"),
        "payload_len", "n_blocks", "n_content", "extracted_text", "reject_reason")


@register(
    "extract_documents_spans",
    sql=f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           0 AS block_id,
           length(text) - length(ltrim(text, {_WS_SQL})) AS span_start,
           length(rtrim(text, {_WS_SQL})) AS span_end,
           'content' AS label
    FROM documents
    WHERE length(text) >= 20 AND length(text) <= 1000000
      AND NOT ({_rule_only_sql('text')})
      AND length({_vis_sql('text')}) >= 8
    """,
    doc="span extraction: char extents into the raw payload "
        "(single-block corpus -> one tight span per doc)",
)
def extract_documents_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    tr = _documents_as_transcripts(spark, sf_dir)
    out = extract(tr)
    sp = out.select(F.col("conv_id").cast("bigint").alias("doc_id"),
                    F.explode("spans").alias("s"))
    return sp.select("doc_id",
                     F.col("s.block_id").alias("block_id"),
                     F.col("s.start").alias("span_start"),
                     F.col("s.end").alias("span_end"),
                     F.col("s.label").alias("label"))


# ---------------------------------------------------------------------------
# Trained-classifier extraction: the model-driven recognize stage
# (reference ocropus-rpred:119-131 loads trained weights before
# ocrolib/lstm.py:879-884 predictString). The DuckDB twin replicates the
# LOGISTIC MODEL ITSELF in SQL — features, the trained-weight dot product,
# the sigmoid, and the threshold decision — from the exact same literal
# weights the Spark config carries, so the driver hash-checks that the
# extraction decision is weights-driven, not rule-driven.
# ---------------------------------------------------------------------------

_W = PRETRAINED_LOGISTIC_WEIGHTS
_STOPLIST_SQL = ", ".join(f"'{w}'" for w in sorted(STOPWORDS))

# Feature parity notes (kernels/classify.py block_features, plain
# single-block corpus => link_density, boiler and is_heading are 0):
#   t       = trim(unescape(payload))      -- block visible text, stripped
#   nt      = length(t); nv = greatest(nt, 1)
#   words   = lower(t) split on \s+  (nw = len or 1)
#   nstop   = count of words in STOPWORDS
#   npunct  = count of .,;:!? chars; ndigit = count of 0-9 chars
#   sumw    = sum of word lengths = nt minus internal whitespace
# z = w0*ln(1+nt) + w3*nstop/nw + w4*npunct/nw + w5*ndigit/nv + w6*sumw/nw + b
_CLASSIFIED_SQL = f"""
    WITH f AS (
      SELECT doc_id, text,
             {_GATE_SQL} AS reject_reason,
             {_rule_only_sql('text')} AS rule_only,
             trim(replace(text, '&amp;', '&'), {_WS_SQL}) AS t
      FROM documents
    ), g AS (
      SELECT doc_id, text, reject_reason, rule_only, t,
             length(t) AS nt,
             string_split_regex(lower(t), '\\s+') AS words,
             length(t) - length(translate(t, '.,;:!?', '')) AS npunct,
             length(t) - length(translate(t, '0123456789', '')) AS ndigit,
             length(regexp_replace(t, '\\s', '', 'g')) AS sumw
      FROM f
    ), h AS (
      SELECT *, greatest(len(words), 1) AS nw,
             len(list_filter(words, w -> w IN ({_STOPLIST_SQL}))) AS nstop
      FROM g
    ), z AS (
      SELECT doc_id, text, reject_reason, rule_only, nt,
             {_W[0]} * ln(1 + nt)
             + {_W[3]} * (CAST(nstop AS DOUBLE) / nw)
             + {_W[4]} * (CAST(npunct AS DOUBLE) / nw)
             + {_W[5]} * (CAST(ndigit AS DOUBLE) / greatest(nt, 1))
             + {_W[6]} * (CAST(sumw AS DOUBLE) / nw)
             + {PRETRAINED_LOGISTIC_BIAS} AS zv
      FROM h
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           length(text) AS payload_len,
           CASE WHEN reject_reason IS NOT NULL OR rule_only
                THEN 0 ELSE 1 END AS n_blocks,
           CASE WHEN reject_reason IS NULL AND NOT rule_only
                     AND nt >= 8 AND zv >= 0
                THEN 1 ELSE 0 END AS n_content,
           CASE WHEN reject_reason IS NULL AND NOT rule_only
                     AND nt >= 8 AND zv >= 0
                THEN round(1.0 / (1.0 + exp(-zv)), 6) ELSE -1.0 END
             AS content_score,
           CASE WHEN reject_reason IS NULL AND NOT rule_only
                     AND nt >= 8 AND zv >= 0
                THEN {_norm_sql('text')}
                ELSE '' END AS extracted_text,
           reject_reason
    FROM z
"""

CLASSIFIED_CONFIG = _cfg_replace(
    DEFAULT_CONFIG, classifier="logistic",
    weights=tuple(PRETRAINED_LOGISTIC_WEIGHTS), bias=PRETRAINED_LOGISTIC_BIAS)


@register(
    "extract_documents_classified",
    sql=_CLASSIFIED_SQL,
    doc="extraction with the TRAINED logistic classifier (non-default "
        "weights from operators/train.py distillation): the oracle "
        "recomputes features, the weight dot product, the sigmoid and the "
        "threshold decision in SQL from the same literals, and the span "
        "score column is hash-compared — model-driven extraction, "
        "driver-checked",
)
def extract_documents_classified(spark: SparkSession, sf_dir: str) -> DataFrame:
    tr = _documents_as_transcripts(spark, sf_dir)
    out = extract(tr, CLASSIFIED_CONFIG)
    score = F.coalesce(F.get("spans", 0)["score"], F.lit(-1.0))
    return out.select(
        F.col("conv_id").cast("bigint").alias("doc_id"),
        "payload_len", "n_blocks", "n_content",
        score.alias("content_score"),
        "extracted_text", "reject_reason")


_HTML_PREFIX = '<nav><a href="/">Nav home link row</a></nav><h1>'
_HTML_MID = "</h1><p>"
_HTML_SUFFIX = ('</p><script>var tracker = "x";</script>'
                "<footer>Footer legal boilerplate text</footer>")


@register(
    "extract_documents_html",
    sql=f"""
    WITH v AS (
      SELECT doc_id,
             NOT ({_rule_only_sql('substr(text, 1, 30)')})
               AND length({_vis_sql('substr(text, 1, 30)')}) > 0 AS h_block,
             NOT ({_rule_only_sql('text')})
               AND length({_vis_sql('text')}) > 0 AS b_block,
             length({_vis_sql('substr(text, 1, 30)')}) AS hv,
             length({_vis_sql('text')}) AS bv,
             {_norm_sql('substr(text, 1, 30)')} AS hn,
             {_norm_sql('text')} AS bn
      FROM documents
    ), w AS (
      SELECT doc_id, hn, bn,
             h_block, b_block,
             h_block AND hv >= 8 AS h_ok,
             b_block AND bv >= 8 AS b_ok
      FROM v
    )
    SELECT doc_id,
           CASE WHEN h_ok AND b_ok THEN hn || chr(10) || bn
                WHEN h_ok THEN hn
                WHEN b_ok THEN bn
                ELSE '' END AS extracted_text,
           CAST(h_ok AS INT) + CAST(b_ok AS INT) AS n_content,
           -- nav + footer always segment as blocks; the h1/p blocks
           -- vanish when their content is rule-lines-only or empty
           2 + CAST(h_block AS INT) + CAST(b_block AS INT) AS n_blocks
    FROM w
    """,
    doc="HTML boilerplate-strip path, DuckDB-verified: documents text is "
        "wrapped in nav/h1/p/script/footer markup JVM-side, the real "
        "extraction kernel strips the furniture, and the oracle predicts "
        "heading+body exactly (nav/script/footer must vanish)",
)
def extract_documents_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    payload = F.concat(F.lit(_HTML_PREFIX), F.substring("text", 1, 30),
                       F.lit(_HTML_MID), F.col("text"), F.lit(_HTML_SUFFIX))
    tr = d.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        payload.alias("text"),
        F.lit("").alias("tool"),
    )
    out = extract(tr)
    return out.select(F.col("conv_id").cast("bigint").alias("doc_id"),
                      "extracted_text", "n_content", "n_blocks")


@register(
    "extract_transcripts_synth",
    sql=None,  # full HTML path; equality vs construction GT is in pytest
    doc="extraction over the deterministic synthetic multi-turn transcript "
        "table (HTML boilerplate strip, tool payloads, edge fixtures), "
        "with the H4 conversation-grain reassembly joined back per turn "
        "(conv_text_md5 / n_turns_with_content) — one driver row covering "
        "both the turn-grain pipeline and array_sort document assembly "
        "under stable turn ordering",
)
def extract_transcripts_synth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dup_ocropy_spark.plans.extract import conversation_text

    tr = synth_transcripts(spark, 80)
    out = extract(tr)
    conv = conversation_text(out).select(
        "conv_id", F.md5("conv_text").alias("conv_text_md5"),
        "n_turns_with_content")
    return (out.select("conv_id", "turn_idx", "role", "payload_len",
                       "n_blocks", "n_content", "extracted_text",
                       "reject_reason")
            .join(conv, "conv_id", "left"))


# ---------------------------------------------------------------------------
# LSTM-recognizer extraction: the reference's ACTUAL recognizer is a
# bidirectional LSTM (ocropus-rpred:119-131 loads the model,
# ocrolib/lstm.py:879-884 predictString runs it). This row drives the
# TinyBiLSTM path (kernels/lstm.py) end-to-end through the driver:
# trained weights load from the committed JSON artifact (S7 model-load
# path, sources/models.py) and ride the task closure (~16 KB). The
# recurrence is genuinely non-SQL (rows-only check); the strong checks
# are pytest: per-turn bit-equality of the batched path (test_lstm) and
# Spark-vs-kernel-oracle equality over this exact corpus
# (test_transcripts_queries).
# ---------------------------------------------------------------------------

_LSTM_ARTIFACT = __file__.rsplit("/", 2)[0] + "/artifacts/tinybilstm_v1.json"


def lstm_config() -> ExtractConfig:
    from dup_ocropy_spark.sources.models import config_with_model

    return config_with_model(_LSTM_ARTIFACT)


@register(
    "extract_documents_lstm",
    sql=None,  # LSTM recurrence over block sequences is not SQL-expressible
    doc="extraction with the trained bidirectional-LSTM recognizer "
        "(reference rpred's model class): per-block scores from "
        "TinyBiLSTM forward passes inside the fused kernel stage, "
        "weights from the committed S7 artifact",
)
def extract_documents_lstm(spark: SparkSession, sf_dir: str) -> DataFrame:
    tr = _documents_as_transcripts(spark, sf_dir)
    out = extract(tr, lstm_config())
    score = F.round(F.coalesce(F.get("spans", 0)["score"], F.lit(-1.0)), 6)
    return out.select(
        F.col("conv_id").cast("bigint").alias("doc_id"),
        "payload_len", "n_blocks", "n_content",
        score.alias("content_score"),
        "extracted_text", "reject_reason")
