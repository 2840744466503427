"""Pipeline configuration.

Every threshold mirrors a validation gate or default of the reference
(cited per field); values are recast from pixels to characters/blocks.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class ExtractConfig:
    """Knobs of the extraction pipeline (reference gates, recast 2-D -> 1-D).

    Character/block analogs of the reference input envelope:
      * ``min_payload_chars`` / ``max_payload_chars``: page-size gate
        (reference ``ocropus-nlbin:61-69`` rejects pages <600 or >10000 px).
      * ``max_blocks``: lines-per-page gate (``ocropus-gpageseg:432-434``,
        --maxlines 300).
      * ``noise_min_chars``: speckle removal (``ocrolib/common.py:861-869``
        remove_noise minsize).
      * ``max_link_density``: boilerplate threshold — the binarization
        threshold analog (``ocropus-nlbin`` --threshold 0.5).
      * ``content_threshold``: classifier decision threshold, the CTC
        blank-threshold analog (``ocrolib/lstm.py:741-753`` thresholds the
        blank class at 0.7 before run decoding).
    """

    min_payload_chars: int = 20
    max_payload_chars: int = 1_000_000
    max_blocks: int = 300
    noise_min_chars: int = 8
    max_link_density: float = 0.5
    content_threshold: float = 0.5
    classifier: str = "rule"  # "rule" | "logistic" | "logistic_ctx" | "lstm"
    normalize: bool = True
    # trained logistic parameters (operators/train.py); None -> the
    # hand-set defaults in kernels/classify.py. Tuple so the config stays
    # frozen/hashable; tiny enough to ride the task closure (bigger models
    # go through sparkContext.broadcast instead).
    weights: tuple[float, ...] | None = None
    bias: float | None = None

    # Spark-side knob — Arrow batch row cap: measured optimum for ~KB-sized payloads
    # (r2: 71.6k turns/s at 2048 vs 50.1k at 512; r6 re-sweep after the
    # kernel speedup moved the knee — 4096 edges 2048 at sf1.0, 42.6 s
    # vs 43.3 s min-of-3, and 16384 regresses); lower it for
    # fat-payload tables — the worst-case batch footprint is
    # rows x max_payload_chars (4096 x 1MB = 4GB), so size to executor
    # RAM via arrow_batch_rows_for
    arrow_batch_rows: int = 4096


DEFAULT_CONFIG = ExtractConfig()

# Target Arrow batch footprint for the extraction stage. The worst-case
# transfer cost of a batch is ~rows x max_payload_chars on each side of
# the JVM<->Python boundary; the arrow_batch_rows default (4096 since
# r6) is the measured optimum for ~KB payloads but would mean multi-GB
# batches for MB rows. 16 MiB measured
# best on the fat tier (~0.9 MB payloads, one 150 MB task): peak Python-
# worker RSS 251 MB vs 530 MB at the 2048-row cap, wall 11.9 s vs 13.9 s
# (smaller arenas + better pipelining); for ~KB payloads 16 MiB / 1 KB
# clamps to the arrow_batch_rows default, so the tuned small-row
# behavior is unchanged. Details: SCALE.md section 7.
ARROW_BATCH_TARGET_BYTES = 16 << 20


def arrow_batch_rows_for(max_payload_bytes: int,
                         target_bytes: int = ARROW_BATCH_TARGET_BYTES,
                         lo: int = 16, hi: int | None = None) -> int:
    """Arrow batch row cap sized to the payload envelope: the largest row
    count whose worst-case batch stays under ``target_bytes``, clamped to
    [lo, DEFAULT_CONFIG.arrow_batch_rows]."""
    hi = hi or DEFAULT_CONFIG.arrow_batch_rows
    return max(lo, min(hi, target_bytes // max(1, max_payload_bytes)))
