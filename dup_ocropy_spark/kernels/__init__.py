"""Pure numpy/pandas kernels — no Spark imports.

The single-process oracle (``kernels.oracle``) and the distributed
pipeline (``plans.extract``) call the *same* functions, so per-turn text
equality between them is by construction; the thing under test in the
Spark layer is distribution (ordering, batching, skew, resume).

The extraction chain is ``extract_frame``: gates and ``segment_payload``
per turn, one ``classify_blocks`` over the batch's documents, then
``reassemble`` per turn. ``extract_turn`` runs it on one turn.
"""

from dup_ocropy_spark.kernels.textnorm import normalize_text, project_text, requote
from dup_ocropy_spark.kernels.edist import levenshtein, xlevenshtein
from dup_ocropy_spark.kernels.segment import Block, segment_payload
from dup_ocropy_spark.kernels.classify import classify_blocks, logistic_scores
from dup_ocropy_spark.kernels.reassemble import reassemble
from dup_ocropy_spark.kernels.oracle import extract_turn, extract_frame
from dup_ocropy_spark.kernels.ctc import (
    align_sequence, ctc_align_targets, make_target,
)

__all__ = [
    "normalize_text", "project_text", "requote",
    "levenshtein", "xlevenshtein",
    "Block", "segment_payload",
    "classify_blocks", "logistic_scores",
    "reassemble",
    "extract_turn", "extract_frame",
    "make_target", "ctc_align_targets", "align_sequence",
]
