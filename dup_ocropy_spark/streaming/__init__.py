"""Structured Streaming variant of the extraction pipeline."""

from dup_ocropy_spark.streaming.extract_stream import (
    deduped_stream, extracted_stream, near_deduped_stream,
    snapshot_dedup_sink, turn_fingerprints, windowed_throughput,
)

__all__ = ["deduped_stream", "extracted_stream", "near_deduped_stream",
           "snapshot_dedup_sink", "turn_fingerprints", "windowed_throughput"]
