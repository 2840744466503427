#!/usr/bin/env python
"""spark-submit entrypoint for the extraction pipeline.

Usage (cluster):

    zip -r dup_ocropy_spark.zip dup_ocropy_spark/
    spark-submit --py-files dup_ocropy_spark.zip \
        jobs/extract_job.py \
        --input  <iceberg-table-or-parquet-path> \
        --output <output-dir> \
        --buckets 256 --snapshot <source-snapshot-id>

Reads the transcript table, extracts main content per turn through the
fused kernel stage, writes bucket-committed parquet (idempotent resume)
plus per-partition lineage rows and a reject-accounting report.

On a real cluster the session comes from spark-submit's conf (master,
executors, memory); ``get_spark`` only fills local-mode defaults when no
master is set.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# dev convenience: running the file directly (no --py-files zip) puts
# jobs/ on sys.path; add the repo root so the package resolves either way
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--buckets", type=int, default=64,
                    help="resume/commit granularity (0 = single-pass, no checkpoints)")
    ap.add_argument("--snapshot", default="unknown",
                    help="source snapshot id recorded in lineage")
    ap.add_argument("--classifier", choices=("rule", "logistic"), default="rule")
    ap.add_argument("--input-format", choices=("parquet", "iceberg"), default="parquet")
    ap.add_argument("--salted", action="store_true",
                    help="salted pre-shuffle on xxhash64(conv_id, turn_idx): "
                         "use when the input layout clusters conversations "
                         "(time-ordered ingest); unnecessary for hash-"
                         "scrambled or bucket(conv_id) layouts")
    ap.add_argument("--turn-fp-out", default=None, metavar="DIR",
                    help="also append TURN-grain payload fingerprints of "
                         "this batch to DIR — the table "
                         "streaming.snapshot_dedup_sink anti-joins "
                         "so the live stream skips already-ingested turns "
                         "(distinct from curate_job's conversation-grain "
                         "snapshot)")
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from dup_ocropy_spark.config import ExtractConfig
    from dup_ocropy_spark.plans.extract import extract, ordered, reject_report
    from dup_ocropy_spark.plans.lineage import write_output_with_lineage
    from dup_ocropy_spark.plans.resume import run_with_checkpoints
    from dup_ocropy_spark.session import get_spark

    spark = get_spark(app_name="dup_ocropy_extract")
    config = ExtractConfig(classifier=args.classifier)

    if args.input_format == "iceberg":
        transcripts = spark.read.format("iceberg").load(args.input)
    else:
        transcripts = spark.read.parquet(args.input)

    t0 = time.time()
    if args.buckets > 0:
        entries = run_with_checkpoints(transcripts, args.output,
                                       n_buckets=args.buckets, config=config,
                                       source_snapshot=args.snapshot,
                                       salted=args.salted)
        n_rows = sum(e["row_count"] for e in entries)
    else:
        out = ordered(extract(transcripts, config, salted=args.salted))
        lin = write_output_with_lineage(out, args.output, args.snapshot)
        n_rows = lin.agg(F.sum("row_count")).collect()[0][0] or 0
    wall = time.time() - t0

    n_fps = None
    if args.turn_fp_out:
        from dup_ocropy_spark.streaming import turn_fingerprints

        fps = turn_fingerprints(transcripts)
        fps.write.mode("append").parquet(args.turn_fp_out)
        n_fps = spark.read.parquet(args.turn_fp_out).count()
        # a consumer stream picks the appended fps up by itself: its
        # streaming.snapshot_dedup_sink re-reads this table in every
        # micro-batch (refreshByPath cannot make a pinned listing see
        # them; see that sink's docstring)

    # reject accounting from the WRITTEN output (it carries
    # reject_reason) — re-running extract() here would execute the
    # expensive kernel pass a second time over the full corpus, and
    # without --salted to boot
    rep = reject_report(spark.read.parquet(args.output)).collect()
    print(json.dumps({
        "rows": n_rows,
        "wall_sec": round(wall, 1),
        "turns_per_sec": round(n_rows / wall, 1) if wall else None,
        "rejects": {str(r["reject_reason"]): r["n_turns"] for r in rep},
        **({"turn_fps_total": n_fps} if n_fps is not None else {}),
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
