"""Text-analysis operators for training-data pipelines: token counting,
quality scoring, language-ID heuristics, document fingerprinting.

All JVM-side column expressions (length/replace/regexp arithmetic) so they
run inside whole-stage codegen; the DuckDB twins use the same arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from dup_ocropy_spark.operators.registry import register, table


def _occurrences(col, needle: str):
    """Count non-overlapping occurrences via length arithmetic (portable
    across engines, no regex dialect risk)."""
    return ((F.length(col) - F.length(F.replace(col, F.lit(needle), F.lit(""))))
            / len(needle)).cast("bigint")


def _word_count(col, word: str):
    """Case-folded whole-word occurrence count: ``\\bword\\b`` over the
    lowercased text. Unlike the ``' the '`` length-arithmetic trick this
    catches sentence-initial 'The', capitalization, and punctuation-
    adjacent hits — the naive form systematically under-counted as a
    curation gate. Java regex and RE2 share the ASCII \\b definition, so
    the DuckDB twin uses the same pattern."""
    return F.regexp_count(F.lower(col), F.lit(rf"\b{word}\b")).cast("bigint")


def _word_count_sql(expr: str, word: str) -> str:
    return f"len(regexp_extract_all(lower({expr}), '\\b{word}\\b'))"


def repetition_fractions(t):
    """(dup_line_frac, dup_word_frac) — Gopher-style repetition signals
    (Rae et al. 2021, "Scaling Language Models: ... Gopher", App. A1.1:
    docs with a high fraction of duplicate lines / words are boilerplate
    or degenerate repetition and get filtered before training). Both are
    ``1 - distinct/total`` over non-empty lines resp. lowercased
    whitespace words; pure JVM array expressions. The DuckDB twins are
    REPETITION_SQL below — keep the two in lockstep."""
    lines = F.filter(F.split(t, "\n"), lambda x: F.length(F.trim(x)) > 0)
    dlf = (F.lit(1.0)
           - F.size(F.array_distinct(lines)).cast("double") / F.size(lines))
    words = F.split(F.lower(F.trim(t)), r"\s+")
    dwf = (F.lit(1.0)
           - F.size(F.array_distinct(words)).cast("double") / F.size(words))
    return dlf, dwf


# DuckDB twins of repetition_fractions (text expr interpolated via {t})
DUP_LINE_SQL = (
    "1 - CAST(len(list_distinct(list_filter(string_split({t}, chr(10)), "
    "x -> length(trim(x)) > 0))) AS DOUBLE) "
    "/ len(list_filter(string_split({t}, chr(10)), x -> length(trim(x)) > 0))"
)
DUP_WORD_SQL = (
    r"1 - CAST(len(list_distinct(string_split_regex(lower(trim({t})), '\s+')))"
    r" AS DOUBLE) / len(string_split_regex(lower(trim({t})), '\s+'))"
)


PACK_BUDGET = 512  # tokens per packed training sequence in the query

# BPE-ish token approximation (letter runs / digit runs / punctuation
# singletons — the GPT-2 pretokenizer shape, ASCII-simplified). SINGLE
# SOURCE: the Spark side below, the DuckDB twin, and jobs/pack_job.py
# all interpolate this literal — hand-copying it desynchronizes the
# pack job's budgeting from the driver query.
TOKEN_APPROX_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"



@register(
    "token_counts",
    sql=rf"""
    SELECT doc_id, lang, n_tokens_ws, n_tokens_bpe,
           start_tok // {PACK_BUDGET} AS seq_id,
           start_tok % {PACK_BUDGET} AS seq_offset
    FROM (
      SELECT doc_id, lang, n_tokens_ws, n_tokens_bpe,
             CAST(sum(n_tokens_ws) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens_ws AS start_tok
      FROM (
        SELECT doc_id, lang,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(string_split_regex(trim(text), '\s+')) END
                 AS n_tokens_ws,
               len(regexp_extract_all(text, '{TOKEN_APPROX_PATTERN}'))
                 AS n_tokens_bpe
        FROM documents
      )
    )
    """,
    doc="token counting, both tokenizers in one frame: whitespace split "
        "(n_tokens_ws) and BPE-ish word/number/punct pieces via a portable "
        "regex (n_tokens_bpe; the GPT-2 pretokenizer shape, ASCII-"
        "simplified); plus concatenate-and-chunk sequence packing per "
        "language (seq_id/seq_offset at a 512-token budget, "
        "operators/packing.py)",
)
def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dup_ocropy_spark.operators.packing import pack_sequences

    d = table(spark, sf_dir, "documents")
    ws = (F.when(F.length(F.trim("text")) == 0, 0)
          .otherwise(F.size(F.split(F.trim("text"), r"\s+"))))
    bpe = F.size(F.regexp_extract_all(
        "text", F.lit(TOKEN_APPROX_PATTERN), 0))
    base = d.select("doc_id", "lang",
                    ws.cast("bigint").alias("n_tokens_ws"),
                    bpe.cast("bigint").alias("n_tokens_bpe"))
    return pack_sequences(base, PACK_BUDGET, n_tokens_col="n_tokens_ws",
                          order_cols=("doc_id",), partition_col="lang")


@register(
    "quality_score",
    sql=rf"""
    SELECT doc_id, n_words, round(avg_word_len, 6) AS avg_word_len,
           round(stop_ratio, 6) AS stop_ratio,
           round(dup_line_frac, 6) AS dup_line_frac,
           round(dup_word_frac, 6) AS dup_word_frac,
           CASE WHEN n_words >= 10 AND avg_word_len BETWEEN 2 AND 12
                     AND stop_ratio >= 0.05 AND dup_line_frac <= 0.3
                THEN 1 ELSE 0 END AS is_quality,
           fp
    FROM (
      SELECT doc_id,
             len(string_split_regex(trim(text), '\s+')) AS n_words,
             CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
               / len(string_split_regex(trim(text), '\s+')) AS avg_word_len,
             CAST({_word_count_sql('text', 'the')}
                  + {_word_count_sql('text', 'a')} AS DOUBLE)
               / len(string_split_regex(trim(text), '\s+')) AS stop_ratio,
             {DUP_LINE_SQL.format(t='text')} AS dup_line_frac,
             {DUP_WORD_SQL.format(t='text')} AS dup_word_frac,
             md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
      FROM documents WHERE length(trim(text)) > 0
    )
    """,
    doc="quality scoring: length/word-shape/stopword-ratio gates "
        "(the P1-P3 validation-gate family applied to corpus curation; "
        "stop-word hits are case-folded whole-word regexp counts), "
        "Gopher-style repetition signals (duplicate-line / duplicate-word "
        "fractions, Rae et al. 2021 App. A1.1), "
        "plus the normalize-then-md5 document fingerprint (fp) used for "
        "lineage checksums — one frame, one scan",
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").where(F.length(F.trim("text")) > 0)
    n_words = F.size(F.split(F.trim("text"), r"\s+")).cast("bigint")
    # strip ALL whitespace, not just spaces: newlines/tabs in multi-line
    # docs are not word characters (they inflated the metric by ~1 char
    # per line — enough to flip is_quality near the gate boundary)
    awl = (F.length(F.regexp_replace("text", r"\s", "")).cast("double")
           / n_words)
    stop_hits = (_word_count(F.col("text"), "the") + _word_count(F.col("text"), "a"))
    stop_ratio = stop_hits.cast("double") / n_words
    dlf, dwf = repetition_fractions(F.col("text"))
    from dup_ocropy_spark.functions.text import normalized_fp

    fp = normalized_fp("text")
    base = d.select("doc_id", n_words.alias("n_words"), awl.alias("awl"),
                    stop_ratio.alias("sr"), dlf.alias("dlf"), dwf.alias("dwf"),
                    fp.alias("fp"))
    is_q = (F.when((F.col("n_words") >= 10) & F.col("awl").between(2, 12)
                   & (F.col("sr") >= 0.05) & (F.col("dlf") <= 0.3), 1)
            .otherwise(0))
    return base.select("doc_id", "n_words",
                       F.round("awl", 6).alias("avg_word_len"),
                       F.round("sr", 6).alias("stop_ratio"),
                       F.round("dlf", 6).alias("dup_line_frac"),
                       F.round("dwf", 6).alias("dup_word_frac"),
                       is_q.alias("is_quality"), "fp")


@register(
    "lang_id_heuristic",
    sql="""
    SELECT doc_id,
           CASE WHEN en_hits >= 1 THEN 'en' ELSE 'unknown' END AS guessed_lang,
           en_hits,
           CASE WHEN (CASE WHEN en_hits >= 1 THEN 'en' ELSE 'unknown' END) = lang
                THEN 1 ELSE 0 END AS correct
    FROM (
      SELECT doc_id, lang,
             -- integer '//': DuckDB '/' on ints yields DOUBLE, Spark side is BIGINT
             (length(text) - length(replace(text, ' the ', ''))) // 5
             + (length(text) - length(replace(text, ' a ', ''))) // 3
             + (length(text) - length(replace(text, ' of ', ''))) // 4 AS en_hits
      FROM documents
    )
    """,
    doc="language-ID n-gram heuristic: function-word hit counting "
        "(lookup-table style, like ocrolib/chars charset tables)",
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    hits = (_occurrences(F.col("text"), " the ")
            + _occurrences(F.col("text"), " a ")
            + _occurrences(F.col("text"), " of "))
    base = d.select("doc_id", "lang", hits.alias("en_hits"))
    guessed = F.when(F.col("en_hits") >= 1, "en").otherwise("unknown")
    return base.select("doc_id", guessed.alias("guessed_lang"), "en_hits",
                       F.when(guessed == F.col("lang"), 1).otherwise(0).alias("correct"))
