"""numpy/pyarrow kernels and one C tokenizer — no Spark imports.

The single-process oracle (``kernels.oracle``) and the distributed
pipeline (``plans.extract``) call the *same* functions, so per-turn text
equality between them is by construction; the thing under test in the
Spark layer is distribution (ordering, batching, skew, resume).

The extraction chain is ``extract_batch`` over one Arrow record batch:
gates, ``segment_batch`` into one per-batch ``BlockTable``
(struct-of-arrays, filled by the C tokenizer in ``_segment.c``, which
``cbuild`` compiles on first import), one ``classify_blocks`` and one
``reassemble`` over that table, both vectorized with
``pyarrow.compute``. ``extract_frame`` is its pandas wrapper and
``extract_turn`` runs it on one turn; ``segment_payload`` is the
one-payload ``Block`` view of segmentation.
"""

from dup_ocropy_spark.kernels.textnorm import normalize_text, project_text, requote
from dup_ocropy_spark.kernels.edist import levenshtein, xlevenshtein
from dup_ocropy_spark.kernels.segment import Block, BlockTable, segment_batch, segment_payload
from dup_ocropy_spark.kernels.classify import classify_blocks, logistic_scores
from dup_ocropy_spark.kernels.reassemble import reassemble
from dup_ocropy_spark.kernels.oracle import extract_batch, extract_frame, extract_turn
from dup_ocropy_spark.kernels.ctc import (
    align_sequence, ctc_align_targets, make_target,
)

__all__ = [
    "normalize_text", "project_text", "requote",
    "levenshtein", "xlevenshtein",
    "Block", "BlockTable", "segment_batch", "segment_payload",
    "classify_blocks", "logistic_scores",
    "reassemble",
    "extract_batch", "extract_frame", "extract_turn",
    "make_target", "ctc_align_targets", "align_sequence",
]
