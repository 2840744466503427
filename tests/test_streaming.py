"""Structured Streaming extraction: batch parity, windowed throughput,
watermarked exact/near dedup and the batch-to-stream snapshot handoff."""

from __future__ import annotations

import pytest

from dup_ocropy_spark.plans.extract import extract
from dup_ocropy_spark.sources.transcripts import write_transcripts
from dup_ocropy_spark.streaming import (
    extracted_stream, windowed_throughput,
)
from dup_ocropy_spark.streaming.extract_stream import transcript_stream


@pytest.fixture(scope="module")
def stream_input(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stream_in"))
    write_transcripts(spark, path, 20)
    return path


def test_streaming_extraction_matches_batch(spark, stream_input):
    q = (extracted_stream(transcript_stream(spark, stream_input))
         .writeStream.format("memory").queryName("ext_out")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql(
        "SELECT conv_id, turn_idx, extracted_text FROM ext_out") \
        .orderBy("conv_id", "turn_idx").toPandas()
    want = (extract(spark.read.parquet(stream_input))
            .select("conv_id", "turn_idx", "extracted_text")
            .orderBy("conv_id", "turn_idx").toPandas())
    assert got["extracted_text"].tolist() == want["extracted_text"].tolist()


def test_streaming_windowed_throughput(spark, stream_input):
    q = (windowed_throughput(transcript_stream(spark, stream_input),
                             window="10 minutes", watermark="1 hour")
         .writeStream.format("memory").queryName("thr_out")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # append mode only emits closed windows; just assert the query planned
    # and ran with watermark state (complete-mode check below is the data one)
    q2 = (windowed_throughput(transcript_stream(spark, stream_input),
                              window="10 minutes", watermark="1 hour")
          .writeStream.format("memory").queryName("thr_all")
          .outputMode("complete").start())
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    pdf = spark.sql("SELECT * FROM thr_all").toPandas()
    total = int(pdf["n_turns"].sum())
    assert total == spark.read.parquet(stream_input).count()


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Exact-dup payloads arriving in later micro-batches are dropped
    while inside the watermark; distinct payloads all survive."""
    import datetime as dt

    import pandas as pd

    from dup_ocropy_spark.streaming import deduped_stream

    base = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    texts = [f"document number {i} with plenty of distinct words" for i in range(6)]

    def rows(ids, minute):
        return pd.DataFrame({
            "conv_id": [f"c{i}" for i in ids],
            "turn_idx": pd.array(ids, dtype="int32"),
            "role": "user",
            "text": [texts[i % 6] for i in ids],
            "tool": "",
            "ts": [base + dt.timedelta(minutes=minute)] * len(ids),
        })

    src = tmp_path / "dedup_in"
    src.mkdir()
    # batch 1: docs 0-3; batch 2 (later file): dups of 0,1 + new 4,5
    spark.createDataFrame(rows([0, 1, 2, 3], 0)).coalesce(1) \
        .write.mode("overwrite").parquet(str(src / "f1"))
    spark.createDataFrame(rows([0, 1, 4, 5], 5)).coalesce(1) \
        .write.mode("append").parquet(str(src / "f2"))
    stream = (spark.readStream.schema(
                  "conv_id string, turn_idx int, role string, text string, "
                  "tool string, ts timestamp")
              .option("maxFilesPerTrigger", 1)
              .parquet(str(src / "*")))
    q = (deduped_stream(stream, watermark="1 hour")
         .writeStream.format("memory").queryName("dedup_out")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT text FROM dedup_out").toPandas()["text"]
    assert sorted(got) == sorted(texts)  # each distinct payload exactly once


def test_streaming_near_dedup_catches_mutated_payloads(spark, tmp_path):
    """Planted NEAR-dups (high shingle overlap, not byte-identical) arriving
    in later micro-batches are dropped within the watermark; distinct
    payloads survive. Exact dups are subsumed (identical band keys)."""
    import datetime as dt

    import pandas as pd

    from dup_ocropy_spark.streaming import near_deduped_stream

    import numpy as np

    base = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    vocab = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
             "kilo lima mike november oscar papa quebec romeo sierra tango").split()
    # mutually DISSIMILAR base docs (independent seeded word draws — shared
    # shingles between bases would make them near-dups of each other)
    bases = [" ".join(np.random.default_rng(100 + i).choice(vocab, size=60))
             for i in range(4)]
    near0 = bases[0] + " tiny mutated tail"        # near-dup of doc 0
    near1 = bases[1][:-10] + " other end"          # near-dup of doc 1
    fresh = " ".join(np.random.default_rng(999).choice(vocab, size=60))

    def rows(texts, ids, minute):
        return pd.DataFrame({
            "conv_id": [f"c{i}" for i in ids],
            "turn_idx": pd.array(ids, dtype="int32"),
            "role": "user",
            "text": texts,
            "tool": "",
            "ts": [base + dt.timedelta(minutes=minute)] * len(ids),
        })

    src = tmp_path / "neardedup_in"
    src.mkdir()
    spark.createDataFrame(rows(bases, [0, 1, 2, 3], 0)).coalesce(1) \
        .write.mode("overwrite").parquet(str(src / "f1"))
    spark.createDataFrame(rows([near0, near1, bases[2], fresh],
                               [4, 5, 6, 7], 5)).coalesce(1) \
        .write.mode("append").parquet(str(src / "f2"))
    stream = (spark.readStream.schema(
                  "conv_id string, turn_idx int, role string, text string, "
                  "tool string, ts timestamp")
              .option("maxFilesPerTrigger", 1)
              .parquet(str(src / "*")))
    q = (near_deduped_stream(stream, watermark="1 hour")
         .writeStream.format("memory").queryName("near_dedup_out")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = set(spark.sql("SELECT conv_id FROM near_dedup_out")
              .toPandas()["conv_id"])
    # near-dups c4/c5 and the exact dup c6 dropped; 4 originals + fresh kept
    assert got == {"c0", "c1", "c2", "c3", "c7"}, got


def test_streaming_near_dedup_short_payloads_fall_back_to_exact(spark, tmp_path):
    """Payloads too short for a meaningful shingle set must NOT be
    near-dup-gated: two distinct short turns sharing a 20-char prefix both
    survive (the naive banding dropped the second with ~68% probability —
    silent data loss), while byte-identical shorts still dedup."""
    import datetime as dt

    import pandas as pd

    from dup_ocropy_spark.streaming import near_deduped_stream

    base = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    texts = ["can you help me with X",   # 22 chars: one shingle window
             "can you help me with Y",   # distinct, same 20-char prefix
             "can you help me with X",   # exact dup of the first
             "something else entirely"]
    pdf = pd.DataFrame({
        "conv_id": [f"s{i}" for i in range(len(texts))],
        "turn_idx": pd.array(range(len(texts)), dtype="int32"),
        "role": "user",
        "text": texts,
        "tool": "",
        "ts": [base] * len(texts),
    })
    src = tmp_path / "short_in"
    src.mkdir()
    spark.createDataFrame(pdf).coalesce(1) \
        .write.mode("overwrite").parquet(str(src / "f1"))
    stream = (spark.readStream.schema(
                  "conv_id string, turn_idx int, role string, text string, "
                  "tool string, ts timestamp")
              .parquet(str(src / "*")))
    q = (near_deduped_stream(stream, watermark="1 hour")
         .writeStream.format("memory").queryName("short_dedup_out")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(spark.sql("SELECT conv_id FROM short_dedup_out")
                 .toPandas()["conv_id"])
    # s0/s1 distinct -> both kept; s2 exact dup of s0 -> dropped; s3 kept
    assert got == ["s0", "s1", "s3"], got


def test_stream_band_keys_match_batch_minhash(spark):
    """A streaming band key must equal the corresponding batch minhash
    band key for the same (long) payload — batch sweep and stream gate
    share one definition of 'near' (same shingles, same seeds)."""
    from pyspark.sql import functions as F

    from dup_ocropy_spark.operators.dedup import minhash_signatures, shingles_of
    from dup_ocropy_spark.streaming.extract_stream import (
        STREAM_BANDS, _stream_band_keys, _stream_shingles,
    )

    text = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
            "kilo lima mike november oscar papa quebec romeo sierra tango")
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    batch = {r.band: r.band_key
             for r in minhash_signatures(shingles_of(docs)).collect()}
    staged = docs.withColumn("_sh", _stream_shingles(F.col("text")))
    keys = _stream_band_keys(F.col("text"), F.col("_sh"))
    stream_row = staged.select(*[k.alias(f"b{b}")
                                 for b, k in enumerate(keys)]).collect()[0]
    for b in range(STREAM_BANDS):
        assert stream_row[f"b{b}"] == batch[b], b


def test_snapshot_deduped_stream_drops_batch_history(spark, tmp_path):
    """Batch->stream handoff: payloads whose TURN-grain fingerprint is in
    the batch-maintained table (built with turn_fingerprints — NOT the
    conversation-grain curate_job table, whose fps hash reassembled
    redacted conv_text and can never match a raw turn) are dropped by
    the snapshot sink before extraction; unseen payloads survive, and
    in-stream duplicates still dedup within the watermark."""
    import datetime as dt

    import pandas as pd

    from dup_ocropy_spark.streaming import (
        deduped_stream, snapshot_dedup_sink, turn_fingerprints,
    )

    base = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    texts = [f"payload number {i} with plenty of distinct words" for i in range(6)]

    def rows(ids, minute):
        return pd.DataFrame({
            "conv_id": [f"c{i}" for i in ids],
            "turn_idx": pd.array(ids, dtype="int32"),
            "role": "user",
            "text": [texts[i % 6] for i in ids],
            "tool": "",
            "ts": [base + dt.timedelta(minutes=minute)] * len(ids),
        })

    # batch history: texts 0 and 1 already ingested (same fp definition
    # as dedup_against_snapshot)
    snap = str(tmp_path / "fp_snap")
    turn_fingerprints(spark.createDataFrame(rows([0, 1], 0))) \
        .write.mode("overwrite").parquet(snap)

    src = tmp_path / "snap_in"
    src.mkdir()
    # batch 1: 0 (seen), 2, 3; batch 2: 1 (seen), a dup of 2, and new 4
    spark.createDataFrame(rows([0, 2, 3], 0)).coalesce(1) \
        .write.mode("overwrite").parquet(str(src / "f1"))
    spark.createDataFrame(rows([1, 2, 4], 5)).coalesce(1) \
        .write.mode("append").parquet(str(src / "f2"))
    stream = (spark.readStream.schema(
                  "conv_id string, turn_idx int, role string, text string, "
                  "tool string, ts timestamp")
              .option("maxFilesPerTrigger", 1)
              .parquet(str(src / "*")))
    out = str(tmp_path / "snap_out")
    q = (deduped_stream(stream, watermark="1 hour").writeStream
         .foreachBatch(snapshot_dedup_sink(snap, out))
         .option("checkpointLocation", str(tmp_path / "snap_ckpt"))
         .outputMode("append").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(spark.read.parquet(out).toPandas()["extracted_text"])
    # 0 and 1 blocked by history; 2 once (watermark dedup); 3 and 4 new
    assert got == sorted([texts[2], texts[3], texts[4]])


def test_streaming_dedup_preserves_distinct_empty_turns(spark, tmp_path):
    """Payload-less turns (null / whitespace-only) must NOT dedup against
    each other: md5('') is one constant, so the naive key silently
    deleted every empty turn in the window after the first — while the
    batch path keeps them all with reject_reason. Identical REAL payloads
    still dedup."""
    import datetime as dt

    import pandas as pd

    from dup_ocropy_spark.streaming import deduped_stream, near_deduped_stream

    base = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    rows = pd.DataFrame({
        "conv_id": ["c0", "c1", "c2", "c3", "c4", "c5"],
        "turn_idx": pd.array([0, 0, 0, 0, 0, 0], dtype="int32"),
        "role": "user",
        "text": ["", "   ", None,
                 "a real payload with plenty of words in it for the gate",
                 "a real payload with plenty of words in it for the gate",
                 "\t\n"],
        "tool": "",
        "ts": [base] * 6,
    })
    src = tmp_path / "empty_in"
    src.mkdir()
    spark.createDataFrame(rows).coalesce(1) \
        .write.mode("overwrite").parquet(str(src / "f1"))
    stream_schema = ("conv_id string, turn_idx int, role string, "
                     "text string, tool string, ts timestamp")
    for name, fn in (("exact", deduped_stream), ("near", near_deduped_stream)):
        stream = (spark.readStream.schema(stream_schema)
                  .parquet(str(src / "*")))
        q = (fn(stream, watermark="1 hour")
             .writeStream.format("memory").queryName(f"empty_{name}")
             .outputMode("append").start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = spark.sql(f"SELECT conv_id FROM empty_{name}").toPandas()
        ids = set(got.conv_id)
        # all four payload-less turns survive; the real dup pair dedups
        assert {"c0", "c1", "c2", "c5"} <= ids, (name, ids)
        assert len(ids & {"c3", "c4"}) == 1, (name, ids)


def test_streaming_blank_sentinel_null_identity_no_collision(spark, tmp_path):
    """concat_ws SKIPS nulls, so a naive (conv_id, turn_idx) key renders
    (null, 3) and ('3', null) identically — two DISTINCT blank turns
    would dedup. All three dedup stages must build the sentinel from the
    shared null-coalesced identity parts so both rows survive."""
    import datetime as dt

    import pandas as pd

    from dup_ocropy_spark.streaming import (
        deduped_stream, near_deduped_stream, snapshot_dedup_sink,
    )

    base = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    rows = pd.DataFrame({
        "conv_id": [None, "3"],
        "turn_idx": pd.array([3, None], dtype="Int32"),
        "role": "user",
        "text": ["", ""],
        "tool": "",
        "ts": [base] * 2,
    })
    src = tmp_path / "nullkey_in"
    src.mkdir()
    spark.createDataFrame(rows).coalesce(1) \
        .write.mode("overwrite").parquet(str(src / "f1"))
    stream_schema = ("conv_id string, turn_idx int, role string, "
                     "text string, tool string, ts timestamp")
    for name, fn in (("exact", deduped_stream), ("near", near_deduped_stream)):
        stream = (spark.readStream.schema(stream_schema)
                  .parquet(str(src / "*")))
        q = (fn(stream, watermark="1 hour")
             .writeStream.format("memory").queryName(f"nullkey_{name}")
             .outputMode("append").start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        n = spark.sql(f"SELECT * FROM nullkey_{name}").count()
        assert n == 2, (name, n)
    # "snap": the snapshot sink, with a not-yet-published (empty) history
    stream = spark.readStream.schema(stream_schema).parquet(str(src / "*"))
    out = str(tmp_path / "nullkey_snap")
    q = (deduped_stream(stream, watermark="1 hour").writeStream
         .foreachBatch(snapshot_dedup_sink(str(tmp_path / "no_fps"), out))
         .option("checkpointLocation", str(tmp_path / "nullkey_ckpt"))
         .outputMode("append").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    n = spark.read.parquet(out).count()
    assert n == 2, ("snap", n)


def test_streaming_near_dedup_tolerates_identity_less_stream(spark, tmp_path):
    """A text-only stream (no conv_id/turn_idx) must still pass analysis:
    the sentinel falls back to content keys instead of referencing
    missing columns."""
    import datetime as dt

    import pandas as pd

    from dup_ocropy_spark.streaming import near_deduped_stream

    base = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    long_a = "alpha " * 30
    long_b = "bravo " * 30
    rows = pd.DataFrame({"text": [long_a, long_a, long_b],
                         "ts": [base] * 3})
    src = tmp_path / "ident_less_in"
    src.mkdir()
    spark.createDataFrame(rows).coalesce(1) \
        .write.mode("overwrite").parquet(str(src / "f1"))
    stream = (spark.readStream.schema("text string, ts timestamp")
              .parquet(str(src / "*")))
    q = (near_deduped_stream(stream, watermark="1 hour")
         .writeStream.format("memory").queryName("ident_less_out")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(spark.sql("SELECT text FROM ident_less_out")
                 .toPandas()["text"])
    assert got == sorted([long_a, long_b])
