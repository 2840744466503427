#!/usr/bin/env python
"""spark-submit entrypoint: streaming extraction with online dedup.

    spark-submit --py-files dup_ocropy_spark.zip jobs/stream_job.py \
        --input <landing dir> --output <out dir> --checkpoint <ckpt dir> \
        [--dedup exact|near|snapshot|off] [--snapshot-fps <fp table dir>] \
        [--watermark "1 hour"] \
        [--timeout-sec N]   # stop after N idle seconds (tests/backfill)

Pipeline (all bounded-state, append mode):

    file stream -> [watermarked exact or near-dup dedup] ->
    fused extraction mapInArrow -> parquet sink (exactly-once via the
    checkpointed file-source log)

``--dedup near`` chains one dropDuplicatesWithinWatermark per minhash
band (streaming/extract_stream.near_deduped_stream): an arriving turn is
dropped if ANY band key was seen inside the watermark — the online LSH
gate; the batch sweep (jobs/dedup_job.py) remains the retroactive
authority. ``exact`` dedups on the normalized-payload fingerprint only.

``--dedup snapshot`` additionally anti-joins each turn against the
batch-maintained TURN-grain fingerprint table at ``--snapshot-fps``
(build it with ``streaming.turn_fingerprints`` / ``extract_job
--turn-fp-out``). The streaming plan keeps only the fingerprint and the
in-window dedup; the history anti-join runs in
``streaming.snapshot_dedup_sink``, a ``foreachBatch`` sink that re-reads
the fp table in every micro-batch, so fingerprints a batch publisher
appends mid-run gate the very next micro-batch with no restart (its
docstring says why a static parquet side cannot, ``refreshByPath``
included). Trade-off vs the plain parquet sink: on failure-replay
foreachBatch is at-least-once per epoch rather than exactly-once;
downstream readers dedup on (conv_id, turn_idx) as with any
at-least-once feed.

On a real cluster the trigger runs forever; ``--timeout-sec`` bounds the
run for tests and bounded backfills.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--dedup", choices=("exact", "near", "snapshot", "off"),
                    default="near")
    ap.add_argument("--snapshot-fps", default=None, metavar="DIR",
                    help="turn-grain fingerprint table for --dedup "
                         "snapshot (refreshed every micro-batch, so a "
                         "batch job may append to it while this runs)")
    ap.add_argument("--watermark", default="1 hour")
    ap.add_argument("--timeout-sec", type=float, default=None,
                    help="stop after this many seconds with no new data "
                         "(bounded backfill / test mode); default: run forever")
    ap.add_argument("--max-files-per-trigger", type=int, default=8)
    args = ap.parse_args(argv)
    if args.dedup == "snapshot" and not args.snapshot_fps:
        ap.error("--dedup snapshot requires --snapshot-fps DIR")

    from dup_ocropy_spark.session import get_spark
    from dup_ocropy_spark.streaming.extract_stream import (
        deduped_stream, extracted_stream, near_deduped_stream,
        snapshot_dedup_sink, transcript_stream,
    )

    spark = get_spark(app_name="dup_ocropy_stream")
    stream = transcript_stream(spark, args.input, args.max_files_per_trigger)
    if args.dedup == "snapshot":
        q = (deduped_stream(stream, args.watermark).writeStream
             .foreachBatch(snapshot_dedup_sink(args.snapshot_fps, args.output))
             .option("checkpointLocation", args.checkpoint)
             .outputMode("append")
             .start())
    else:
        if args.dedup == "near":
            stream = near_deduped_stream(stream, args.watermark)
        elif args.dedup == "exact":
            stream = deduped_stream(stream, args.watermark).drop("fp")
        q = (extracted_stream(stream).writeStream
             .format("parquet")
             .option("path", args.output)
             .option("checkpointLocation", args.checkpoint)
             .outputMode("append")
             .start())
    if args.timeout_sec is None:
        q.awaitTermination()
    else:
        # bounded mode: keep draining until no new data has arrived for
        # --timeout-sec (drains reset the idle window), then stop cleanly
        deadline = time.time() + args.timeout_sec
        while time.time() < deadline:
            before = (q.lastProgress or {}).get("batchId", -1)
            q.processAllAvailable()
            after = (q.lastProgress or {}).get("batchId", -1)
            if after != before:
                deadline = time.time() + args.timeout_sec
            time.sleep(min(0.5, max(args.timeout_sec / 4, 0.05)))
        q.stop()
    from pyspark.errors import AnalysisException

    try:
        n = spark.read.parquet(args.output).count()
    except AnalysisException:  # no input arrived -> sink dir has no parquet
        n = 0
    print(json.dumps({"rows": n, "dedup": args.dedup}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
