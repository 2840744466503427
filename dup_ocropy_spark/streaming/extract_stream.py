"""Streaming extraction: the same fused kernel stage over a file stream.

The reference is batch-only (SURVEY.md §2.11); this is the Spark-native
upgrade path: new transcript partitions landing in a directory are picked
up incrementally, run through the identical ``mapInArrow`` stage
(stateless, so it is streaming-safe), and appended to the sink with
exactly-once file-source semantics. Late/duplicate turns are handled by
idempotent downstream overwrite (resume.py), not watermark state — but a
watermarked windowed-throughput aggregation is provided for monitoring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from dup_ocropy_spark.config import DEFAULT_CONFIG, ExtractConfig
from dup_ocropy_spark.plans.extract import extract_stage
from dup_ocropy_spark.sources.transcripts import TRANSCRIPT_SCHEMA


def transcript_stream(spark: SparkSession, input_path: str,
                      max_files_per_trigger: int = 8) -> DataFrame:
    return (spark.readStream
            .schema(TRANSCRIPT_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(input_path))


def extracted_stream(stream: DataFrame,
                     config: ExtractConfig = DEFAULT_CONFIG) -> DataFrame:
    """Stateless extraction over a streaming DataFrame: the batch
    pipeline's ``mapInArrow`` stage. The ``ts`` column (when the stream
    has one) is carried through as its Arrow column, for watermarked
    downstream aggregation."""
    cols = [c for c in ("conv_id", "turn_idx", "role", "text", "tool", "ts")
            if c in stream.columns]
    return extract_stage(stream.select(*cols), config)


def windowed_throughput(stream: DataFrame, config: ExtractConfig = DEFAULT_CONFIG,
                        window: str = "1 minute", watermark: str = "5 minutes") -> DataFrame:
    """Monitoring agg: extracted turns + content blocks per event-time
    window, tolerant of late turns up to the watermark."""
    return (extracted_stream(stream, config).withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("w"))
            .agg(F.count("*").alias("n_turns"),
                 F.sum("n_content").alias("n_content_blocks"),
                 F.sum(F.when(F.col("reject_reason").isNotNull(), 1).otherwise(0))
                 .alias("n_rejected")))


def _payload_and_cols(stream: DataFrame):
    """(carried columns, payload Column) shared by the dedup stages: prefer
    a non-empty tool payload when the stream HAS a tool column; a text-only
    stream falls back to text (the tolerant cols filter must never admit a
    schema the fingerprint expression then rejects)."""
    cols = [c for c in ("conv_id", "turn_idx", "role", "text", "tool", "ts")
            if c in stream.columns]
    payload = (F.coalesce(F.nullif(F.col("tool"), F.lit("")), F.col("text"))
               if "tool" in stream.columns else F.col("text"))
    return cols, payload


def _identity_key(cols):
    """Null-coalesced per-turn identity key (conv_id, turn_idx) shared by
    EVERY blank-turn sentinel in this module — exact dedup, snapshot
    dedup, and near-dup banding must agree on what makes a payload-less
    turn unique. Each part coalesces to an explicit marker because
    ``concat_ws`` SKIPS nulls: without it, (null, 3) and ('3', null)
    would render the same key and two distinct blank turns would dedup.
    Returns None when neither identity column exists (text-only adhoc
    streams): the sentinel guarantee is unavailable and callers fall
    back to plain content keys."""
    key_cols = [c for c in ("conv_id", "turn_idx") if c in cols]
    if not key_cols:
        return None
    parts = [F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
             for c in key_cols]
    return F.concat_ws(":", *parts)


def deduped_stream(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: md5 fingerprint of the normalized payload,
    duplicates dropped across micro-batches while their event time is
    inside the watermark (state is GC'd past it — the streaming analog of
    dedup_exact; MinHash/SimHash near-dup stays a batch job because its
    self-join is not incremental).

    Uses dropDuplicatesWithinWatermark so the dedup state is bounded at
    100 TB/day ingest: a fingerprint is only held for `watermark` of
    event time, not forever.

    Payload-less rows (null / whitespace-only) get a per-turn UNIQUE key
    instead of the shared md5('') — otherwise every empty turn in the
    window after the first would be silently deleted, while the batch
    path keeps them with a reject_reason (the never-drop-silently
    discipline; empty turns are ~3% of the synth corpus)."""
    cols, payload = _payload_and_cols(stream)
    return (stream.select(*cols)
            .withColumn("fp", _payload_fp(payload, cols))
            .withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(["fp"]))


def _payload_fp(payload, cols=("conv_id", "turn_idx")):
    """normalized_fp for real payloads; a turn-identity sentinel for
    null/blank ones so distinct payload-less turns never dedup (the
    same (conv_id, turn_idx) re-delivered still matches itself — the
    right semantics for snapshot anti-joins). Blankness is judged on
    the NORMALIZED text (F.trim strips spaces only — tabs-only and
    newline-only payloads would both slip a raw-trim check and collide
    on md5('')).

    ``cols`` are the identity columns present in the frame; null parts
    are mapped to an explicit marker (concat_ws SKIPS nulls, which
    would collide (null, 3) with ('3', null)). With no identity columns
    at all the sentinel guarantee is unavailable and blanks fall back
    to the plain fingerprint.

    Fingerprint-table format note: sentinel strings live alongside md5
    hex in persisted turn-fp tables; both producers
    (``turn_fingerprints``) and consumers (``snapshot_dedup_sink``)
    must use THIS function — mixing with bare ``normalized_fp`` tables
    desynchronizes blank-turn identity."""
    from dup_ocropy_spark.functions.text import normalized_fp, normalized_text

    ident = _identity_key(cols)
    if ident is None:
        return normalized_fp(payload)
    blank = payload.isNull() | (normalized_text(payload) == "")
    unique = F.concat_ws(":", F.lit("__empty__"), ident)
    return F.when(blank, unique).otherwise(normalized_fp(payload))


# streaming LSH banding: 4 bands x 2 rows over the same char shingle set
# as the batch operators (dedup.py SHINGLE_LEN/STRIDE + tail window), so
# batch and stream agree on what "near" means — a stream band key equals
# the corresponding batch minhash band key (test-pinned); the stream just
# uses fewer bands (4 of the 16) plus the short-payload exact fallback. Candidate probability at jaccard s is
# 1-(1-s^2)^4: ~0.98 at s=0.8, ~0.68 at s=0.5 — tuned for the
# high-similarity near-dups a streaming ingest gate should stop; the batch
# 16x2 sweep remains the high-recall offline pass.
STREAM_BANDS = 4
STREAM_ROWS_PER_BAND = 2

# Minimum normalized-payload length for NEAR-dup banding. Below this the
# payload yields only 1-2 stride-10 shingles, the minhash similarity
# estimate is pure noise, and — because the streaming gate DROPS on any
# band collision (no downstream verification like the batch path) — two
# DISTINCT short turns sharing a 20-char prefix would be deduped with
# ~68% probability. Short payloads therefore fall back to EXACT
# fingerprint keys per band: identical shorts still dedup, distinct
# shorts never collide.
NEAR_DEDUP_MIN_CHARS = 64


def _stream_shingles(payload):
    """Per-row shingle array (JVM, no aggregation): stride positions with
    the final window always included, so the payload TAIL is covered (a
    bare stride sequence decides length-21..29 payloads entirely by their
    first 20 chars). Built from batch ``shingles_of``'s own
    ``shingle_positions``."""
    from dup_ocropy_spark.operators.dedup import SHINGLE_LEN, shingle_positions

    return F.transform(shingle_positions(payload),
                       lambda p: F.substring(payload, p, F.lit(SHINGLE_LEN)))


def _stream_band_keys(payload, shingles, unique_key=None):
    """Band keys from a MATERIALIZED shingle-array column (pass
    ``F.col(...)``, not the raw `_stream_shingles` expression — embedding
    the substring tree in all 8 min subtrees would rebuild it per seed):
    per-seed xxhash64 min over the shingles -> per-band key, with the
    short-payload exact-fingerprint fallback."""
    mins = [F.array_min(F.transform(shingles, lambda s: F.xxhash64(s, F.lit(k))))
            for k in range(STREAM_BANDS * STREAM_ROWS_PER_BAND)]
    is_short = F.length(payload) < NEAR_DEDUP_MIN_CHARS
    # blank payloads (null/whitespace-only normalized text) must never
    # collide: the short-path xxhash64('') is one constant, which would
    # silently delete every payload-less turn after the first (the batch
    # path keeps them with reject_reason). ``unique_key`` is the caller's
    # per-row identity column for that branch (omit it only for inputs
    # guaranteed non-blank, e.g. the batch-parity tests).
    is_blank = payload.isNull() | (F.length(payload) == 0)

    def band_key(b):
        short_or_min = F.when(
            is_short, F.xxhash64(payload, F.lit(1_000_000 + b)))             .otherwise(F.xxhash64(*[mins[b * STREAM_ROWS_PER_BAND + r]
                                    for r in range(STREAM_ROWS_PER_BAND)]))
        if unique_key is None:
            return short_or_min
        return F.when(is_blank,
                      F.xxhash64(unique_key, F.lit(2_000_000 + b)))             .otherwise(short_or_min)

    return [band_key(b) for b in range(STREAM_BANDS)]


def near_deduped_stream(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming NEAR-dup dedup: LSH band keys computed per row (JVM array
    expressions over char shingles), then one ``dropDuplicatesWithinWatermark``
    per band, chained — a row is dropped if ANY of its band keys was seen
    inside the watermark (the OR-over-bands LSH candidate semantics;
    multiple stateful operators per query is supported for append-mode
    dedup since Spark 3.5). Subsumes exact dedup: identical payloads share
    every band key.

    Scale/semantics notes: each stage holds one band-keyed state store,
    GC'd past the watermark — state is bands x |distinct keys in window|,
    bounded like the exact path. Like every survivor-based LSH pass this
    is not transitive: if B (a near-dup of A) is dropped, B's band keys
    never enter later state, so a C that only resembles B may survive —
    the batch sweep remains the authority for retroactive cluster closure.
    """
    from dup_ocropy_spark.functions.text import normalized_text

    cols, payload = _payload_and_cols(stream)
    # the SAME normalization chain as normalized_fp — band shingles and
    # exact fingerprints must agree on content identity (functions/text)
    norm = normalized_text(payload)
    staged = stream.select(*cols, norm.alias("_norm")) \
        .withColumn("_sh", _stream_shingles(F.col("_norm")))
    # blank-turn sentinel from the SAME null-coalesced identity parts
    # _payload_fp uses (concat_ws skips nulls — a bare concat_ws would
    # collide (null, 3) with ('3', null)); None on identity-less streams
    # keeps analysis valid there (blanks then share the short-path key,
    # the best available without an identity).
    keys = _stream_band_keys(F.col("_norm"), F.col("_sh"),
                             unique_key=_identity_key(cols))
    out = staged.select(*cols, *[k.alias(f"band{b}") for b, k in enumerate(keys)])
    out = out.withWatermark("ts", watermark)
    for b in range(STREAM_BANDS):
        out = out.dropDuplicatesWithinWatermark([f"band{b}"])
    return out.drop(*[f"band{b}" for b in range(STREAM_BANDS)])


def turn_fingerprints(transcripts: DataFrame) -> DataFrame:
    """(conv_id, turn_idx, fp): TURN-grain normalized fingerprints over
    the same payload preference (tool over text) the streaming stages
    use. This is what a nightly batch job materializes for
    ``snapshot_dedup_sink`` — it is NOT the conversation-grain table
    ``curate_job --since-snapshot`` keeps (those fps hash redacted
    reassembled conv_text and can never match a raw turn payload; the
    grains must not be mixed). Uses ``_payload_fp``: blank turns get
    their (conv_id, turn_idx) sentinel on the batch side too, matching
    the stream's keys."""
    cols, payload = _payload_and_cols(transcripts)
    keep = [c for c in ("conv_id", "turn_idx") if c in cols]
    return transcripts.select(*keep, _payload_fp(payload, cols).alias("fp"))


def snapshot_dedup_sink(snapshot_fps: str, output_path: str):
    """``foreachBatch`` sink for streaming dedup against a batch-maintained
    TURN-grain fingerprint table: each micro-batch of ``deduped_stream``
    output (it keeps ``fp``) drops payloads already in ``snapshot_fps``,
    then is extracted and appended to ``output_path`` as parquet.

    Grain contract: build ``snapshot_fps`` with ``turn_fingerprints`` (or
    ``extract_job --turn-fp-out``); both sides key on ``_payload_fp``.
    curate_job's conversation-grain table hashes redacted reassembled
    conversations and would match nothing here.

    The table is re-read in every micro-batch, so fps a batch publisher
    appends mid-run gate the next micro-batch (fps written before a
    landing file are always visible to the batch that reads that file);
    a not-yet-published table counts as empty history. A parquet static side built once would pin
    its file listing in the streaming plan, and
    ``spark.catalog.refreshByPath`` does not lift that for an uncached
    relation (measured: an appended fp leaked through with a refresh
    before every batch). On failure-replay ``foreachBatch`` is
    at-least-once per epoch; readers dedup on (conv_id, turn_idx)."""
    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.errors import AnalysisException

        spark = batch_df.sparkSession
        try:
            seen = spark.read.parquet(snapshot_fps)
            seen.schema  # force resolution
        except AnalysisException:
            seen = spark.createDataFrame([], "fp string")
        fresh = batch_df.join(seen.select("fp"), "fp", "left_anti").drop("fp")
        extracted_stream(fresh).write.mode("append").parquet(output_path)

    return _sink
