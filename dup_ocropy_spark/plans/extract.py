"""The distributed extraction pipeline (reference pipeline, Spark-first).

Reference shape (``run-test:5-11``): nlbin -> gpageseg -> rpred -> hocr,
four processes communicating through files, parallel per page via
``multiprocessing.Pool``. Spark shape (SURVEY.md section 4 'stage
fusion'): ONE fused ``mapInArrow`` stage running the whole per-turn
kernel chain (``kernels.oracle.extract_batch``) on each Arrow record
batch — payloads cross the JVM->Python Arrow boundary exactly once, and
no pandas conversion happens on either side — wrapped in native
operators:

    scan -> [opt-in salted repartition] -> mapInArrow(extract) -> [window/agg]

Design notes for 100 TB scale:
  * The per-turn stage needs no key co-location at all — turns are
    independent (as pages are in the reference), so the default plan has
    ZERO shuffles before the UDF; ``spark.sql.files.maxPartitionBytes``
    bounds split size. An opt-in repartition on a salted hash of
    (conv_id, turn_idx) *breaks* conv_id clumping for layouts where a
    10^5-turn hot conversation lands in one input split (north_rule skew
    fixture). Salting the shuffle never touches output order — ordering is
    re-established by explicit sort/window at the consumer (SURVEY.md
    section 7.3 hard part b).
  * No per-row Python anywhere: the only Python boundary is the Arrow
    batch iterator; everything else (filters, ordering, lineage aggs) is
    JVM/codegen.
  * Cheap gates (null/empty payload) are expressed as Spark filters ahead
    of the UDF when ``prefilter=True`` so Catalyst pushes them into the
    parquet scan and rejected rows never cross into Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from dup_ocropy_spark.config import DEFAULT_CONFIG, ExtractConfig
from dup_ocropy_spark.kernels.oracle import EXTRACT_SCHEMA, extract_batch

INPUT_COLUMNS = ("conv_id", "turn_idx", "role", "text", "tool")


def extract_stage(df: DataFrame, config: ExtractConfig = DEFAULT_CONFIG) -> DataFrame:
    """The fused ``mapInArrow`` extraction over ``df``'s columns (a ``ts``
    column is passed through). The closure carries only the (tiny,
    frozen) config — model weights ride a broadcast variable in classify
    mode (see operators/train.py)."""

    def stage(batches):
        for batch in batches:
            if batch.num_rows:
                yield extract_batch(batch, config)

    schema = EXTRACT_SCHEMA + (", ts timestamp" if "ts" in df.columns else "")
    return df.mapInArrow(stage, schema=schema)


def extract(transcripts: DataFrame, config: ExtractConfig = DEFAULT_CONFIG,
            repartition: int | None = None, salted: bool = False) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool[, mask, ts]) ->
    extracted(conv_id, turn_idx, role, payload_len, n_blocks, n_content,
    extracted_text, spans, reject_reason).

    Unordered — consumers that need the per-turn invariant ordering apply
    ``ordered()`` / a (conv_id, turn_idx) window themselves, after the
    heavy stage (sort once, late).

    The salted pre-shuffle is OPT-IN (``salted=True`` or an explicit
    ``repartition=n``): turns are independent, so the map stage needs no
    co-location and ``spark.sql.files.maxPartitionBytes`` already bounds
    split size/skew when scanning files. Salting is for conv-clustered
    layouts where one hot conversation lands in one input split — at 100 TB
    a default shuffle here would be an extra full write+read of the corpus
    (~25%% wall measured at local[32] on pre-scrambled input).
    """
    cols = [c for c in (*INPUT_COLUMNS, "mask") if c in transcripts.columns]
    df = transcripts.select(*cols)  # column pruning before the Python boundary
    if salted or repartition is not None:
        n = repartition or int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        # salted spread: hash includes turn_idx, so a hot conv_id fans out
        df = df.repartition(n, F.xxhash64("conv_id", "turn_idx"))
    return extract_stage(df, config)


def ordered(extracted: DataFrame) -> DataFrame:
    """Stable output ordering (north_rule): range-partition then sort
    within partitions by (conv_id, turn_idx) — a total order across files
    without a single-reducer global sort."""
    return (extracted
            .repartitionByRange("conv_id", "turn_idx")
            .sortWithinPartitions("conv_id", "turn_idx"))


def conversation_text(extracted: DataFrame) -> DataFrame:
    """H4 analog at conversation grain: reassemble per-conv document text
    from per-turn extractions under stable turn ordering, JVM-side only
    (sort_array over collected structs -> no Python)."""
    return (extracted
            .where(F.col("extracted_text") != "")
            .groupBy("conv_id")
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("turn_idx", "extracted_text"))),
                        lambda s: s["extracted_text"],
                    ),
                    "\n",
                ).alias("conv_text"),
                F.count("*").alias("n_turns_with_content"),
            ))


def reject_report(extracted: DataFrame) -> DataFrame:
    """Reject accounting (reference check_page/check_line print-and-skip,
    plus ocropus-errs missing-file accounting)."""
    return (extracted.groupBy("reject_reason")
            .agg(F.count("*").alias("n_turns"),
                 F.sum("payload_len").alias("payload_chars"))
            .orderBy(F.desc("n_turns")))
