"""The fused extraction chain + single-process reference oracle.

``extract_frame`` is the complete pipeline over a pandas batch of turns
(the analog of running nlbin -> gpageseg -> rpred -> hocr on each page):
validation gates -> segmentation per turn, one classification over every
surviving turn's blocks, reassembly per turn. This one function body is
shared verbatim by

  * the single-process oracle used in tests (ground truth),
  * the Spark ``mapInPandas`` stage (``plans/extract.py``), and
  * ``extract_turn``, the single-turn API, which runs it on a one-row frame,

so per-turn text equality between oracle and cluster is by construction
(SURVEY.md section 7.1 design rule 1); the Spark layer is only trusted
with distribution (partitioning, ordering, resume). The classifier
training jobs (``operators/train.py``) run the same gate, segmentation
and ``classify_blocks`` pair.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from dup_ocropy_spark.config import DEFAULT_CONFIG, ExtractConfig
from dup_ocropy_spark.kernels.classify import classify_blocks
from dup_ocropy_spark.kernels.reassemble import reassemble
from dup_ocropy_spark.kernels.segment import segment_payload

# The classify phase is called through this module-level name, so the
# benchmark's kernel replay (perfbench/kernel_replay.py) can time it by
# patching ``oracle.classify_blocks_many``.
classify_blocks_many = classify_blocks

# Output columns of the extraction stage, in schema order.
EXTRACT_COLUMNS = (
    "conv_id", "turn_idx", "role", "payload_len", "n_blocks", "n_content",
    "extracted_text", "spans", "reject_reason",
)

EXTRACT_SCHEMA = (
    "conv_id string, turn_idx int, role string, payload_len int, "
    "n_blocks int, n_content int, extracted_text string, "
    "spans array<struct<block_id:int,start:int,end:int,label:string,score:double>>, "
    "reject_reason string"
)


def _gate_and_segment(text: str | None, tool: str | None,
                      forced_boundaries: list[int] | None,
                      config: ExtractConfig
                      ) -> tuple[int, int, str | None, list | None]:
    """Validation gates + segmentation for one turn ->
    (payload_len, n_blocks, reject_reason, blocks); blocks is None when a
    gate rejected the payload. Never raises on bad input — the reference's
    check_page/check_line gates print-and-skip (``ocropus-nlbin:186-190``)."""
    payload = tool if (tool is not None and tool != "") else (text or "")
    n = len(payload)
    if payload == "":
        return n, 0, "empty", None                 # empty-input guard (P7)
    if payload.strip() == "":
        return n, 0, "blank", None                 # constant-image analog (N1 None)
    if n < config.min_payload_chars:
        return n, 0, "too_short", None             # check_line h<20 analog (P3)
    if n > config.max_payload_chars:
        return n, 0, "too_long", None              # check_page >10000px analog (P1)
    blocks = segment_payload(payload, forced_boundaries)
    if len(blocks) > config.max_blocks:
        return n, len(blocks), "too_many_blocks", None  # maxlines gate (gpageseg:432-434)
    return n, len(blocks), None, blocks


def extract_turn(text: str | None, tool: str | None = None,
                 forced_boundaries: list[int] | None = None,
                 config: ExtractConfig = DEFAULT_CONFIG) -> dict:
    """Extract main content from one turn: ``extract_frame`` on a one-row
    frame, as a dict of the per-turn output columns (invalid payloads come
    back with a ``reject_reason``)."""
    out = extract_frame(pd.DataFrame({
        "conv_id": [""], "turn_idx": [0], "text": [text], "tool": [tool],
        "mask": [forced_boundaries]}), config)
    row = {c: out[c].iat[0] for c in EXTRACT_COLUMNS[3:]}
    for c in ("payload_len", "n_blocks", "n_content"):
        row[c] = int(row[c])
    return row


def extract_frame(pdf: pd.DataFrame, config: ExtractConfig = DEFAULT_CONFIG) -> pd.DataFrame:
    """Vectorized-batch extraction over a pandas frame with columns
    (conv_id, turn_idx, role, text, tool[, mask]). Returns EXTRACT_COLUMNS.

    This is the Arrow-batch body of the Spark stage; row iteration here is
    the same per-item loop the reference runs inside each pool worker —
    except classification, which runs once over ALL surviving rows' blocks
    (``classify_blocks``): one feature matrix + one scoring pass per Arrow
    batch instead of per ~6-block document. Every scorer is per-block or
    per-document and ``logistic_scores`` is shape-independent, so where
    the batch boundaries fall never changes a row's output (asserted in
    test_kernels).
    """
    n = len(pdf)
    texts = pdf["text"].to_numpy(dtype=object) if "text" in pdf else np.array([None] * n, dtype=object)
    tools = pdf["tool"].to_numpy(dtype=object) if "tool" in pdf else np.array([None] * n, dtype=object)
    masks = pdf["mask"].to_numpy(dtype=object) if "mask" in pdf else None
    # fill output columns directly (no intermediate list-of-dicts: the
    # row-dict detour measured ~15% of batch wall)
    pl = np.empty(n, dtype=np.int32)
    nb = np.empty(n, dtype=np.int32)
    nc = np.zeros(n, dtype=np.int32)
    et = np.full(n, "", dtype=object)
    sp = np.empty(n, dtype=object)
    rr = np.empty(n, dtype=object)
    # phase 1: gates + segmentation per row; collect survivors for phase 2
    live_idx: list[int] = []
    live_blocks: list[list] = []
    for i in range(n):
        m = None
        if masks is not None and masks[i] is not None \
                and not (np.isscalar(masks[i]) and pd.isna(masks[i])):
            m = list(masks[i])
        pl[i], nb[i], rr[i], blocks = _gate_and_segment(
            texts[i] if isinstance(texts[i], str) else None,
            tools[i] if isinstance(tools[i], str) else None,
            m, config)
        if blocks is None:
            sp[i] = []
        else:
            live_idx.append(i)
            live_blocks.append(blocks)
    # phase 2: one flat classification over the whole batch
    classify_blocks_many(live_blocks, config)
    # phase 3: reassembly per surviving row
    for i, blocks in zip(live_idx, live_blocks):
        et[i], spans = reassemble(blocks, config)
        sp[i] = spans
        nc[i] = len(spans)
    out = pd.DataFrame({
        "conv_id": pdf["conv_id"].to_numpy(dtype=object),
        "turn_idx": pdf["turn_idx"].to_numpy().astype("int32"),
        "role": (pdf["role"].to_numpy(dtype=object) if "role" in pdf
                 else np.array([""] * n, dtype=object)),
        "payload_len": pl, "n_blocks": nb, "n_content": nc,
        "extracted_text": et, "spans": sp, "reject_reason": rr,
    })
    if "ts" in pdf:  # event-time passthrough for streaming consumers
        out["ts"] = pdf["ts"].to_numpy()
    return out
