"""Single-process traced replay of the extraction kernels.

Feeds the workload's input through ``extract_frame`` in Arrow batches of
the size Spark uses, with timers wrapped around ``segment_payload``,
``classify_blocks_many`` and ``reassemble`` at the names ``extract_frame``
calls them by, and around the Arrow-to-pandas and pandas-to-Arrow
conversions on either side. Only for traced runs: the wrappers cost time.
"""

from __future__ import annotations

import contextlib
import time

import pyarrow as pa
import pyarrow.dataset as ds

PHASES = ("segment", "classify", "reassemble")


@contextlib.contextmanager
def _timed_kernels(acc: dict[str, float]):
    from dup_ocropy_spark.kernels import oracle

    names = {"segment": "segment_payload", "classify": "classify_blocks_many",
             "reassemble": "reassemble"}
    saved = {p: getattr(oracle, n) for p, n in names.items()}

    def wrap(phase, fn):
        def timed(*a, **kw):
            t0 = time.perf_counter_ns()
            try:
                return fn(*a, **kw)
            finally:
                acc[phase] += time.perf_counter_ns() - t0
        return timed

    for p, n in names.items():
        setattr(oracle, n, wrap(p, saved[p]))
    try:
        yield
    finally:
        for p, n in names.items():
            setattr(oracle, n, saved[p])


def replay(input_dir: str, batch_rows: int, out_schema: pa.Schema,
           max_seconds: float) -> dict[str, float]:
    """Per-turn microseconds of each kernel layer and block counts, over
    input batches until ``max_seconds`` of replay have run. ``out_schema``
    is the Arrow form of the extraction stage's output schema."""
    from dup_ocropy_spark.kernels.oracle import extract_frame

    cols = ["conv_id", "turn_idx", "role", "text", "tool"]
    acc = dict.fromkeys(("frame", "arrow_in", "arrow_out", *PHASES), 0)
    turns = live = blocks = content = 0
    t_start = time.perf_counter()
    with _timed_kernels(acc):
        for batch in ds.dataset(input_dir).to_batches(columns=cols, batch_size=batch_rows):
            t0 = time.perf_counter_ns()
            pdf = batch.to_pandas()
            t1 = time.perf_counter_ns()
            out = extract_frame(pdf)
            t2 = time.perf_counter_ns()
            pa.RecordBatch.from_pandas(out, schema=out_schema, preserve_index=False)
            t3 = time.perf_counter_ns()
            acc["arrow_in"] += t1 - t0
            acc["frame"] += t2 - t1
            acc["arrow_out"] += t3 - t2
            turns += len(out)
            live += int(out["reject_reason"].isna().sum())
            blocks += int(out["n_blocks"].sum())
            content += int(out["n_content"].sum())
            if time.perf_counter() - t_start >= max_seconds:
                break
    per_turn = {k: v / 1e3 / max(turns, 1) for k, v in acc.items()}
    return {
        "kernels.extract_frame_us_per_turn": per_turn["frame"],
        "kernels.segment_us_per_turn": per_turn["segment"],
        "kernels.classify_us_per_turn": per_turn["classify"],
        "kernels.reassemble_us_per_turn": per_turn["reassemble"],
        "kernels.frame_self_us_per_turn":
            per_turn["frame"] - sum(per_turn[p] for p in PHASES),
        "kernels.arrow_in_us_per_turn": per_turn["arrow_in"],
        "kernels.arrow_out_us_per_turn": per_turn["arrow_out"],
        "kernels.blocks_per_turn": blocks / max(turns, 1),
        "kernels.content_block_frac": content / max(blocks, 1),
        "kernels.live_turn_frac": live / max(turns, 1),
    }
