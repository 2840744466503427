"""The fused extraction chain + single-process reference oracle.

``extract_batch`` is the complete pipeline over one Arrow record batch of
turns (the analog of running nlbin -> gpageseg -> rpred -> hocr on each
page): validation gates, then segmentation of every surviving payload
into one per-batch ``BlockTable``, one classification over that table,
and one reassembly of the whole batch. This one function body is shared
verbatim by

  * the Spark ``mapInArrow`` stage (``plans/extract.py``),
  * ``extract_frame``, its pandas wrapper and the single-process oracle
    used in tests (ground truth), and
  * ``extract_turn``, the single-turn API, which runs it on a one-row batch,

so per-turn text equality between oracle and cluster is by construction
(SURVEY.md section 7.1 design rule 1); the Spark layer is only trusted
with distribution (partitioning, ordering, resume). The classifier
training jobs (``operators/train.py``) run the same ``_gate_and_segment``
and ``classify_blocks`` pair.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from dup_ocropy_spark.config import DEFAULT_CONFIG, ExtractConfig
from dup_ocropy_spark.kernels.classify import classify_blocks
from dup_ocropy_spark.kernels.reassemble import reassemble
from dup_ocropy_spark.kernels.segment import BlockTable, segment_batch

# The three phases are called through these module-level names, so the
# benchmark's kernel replay (perfbench/kernel_replay.py) can time each by
# patching ``oracle.segment_payload``, ``oracle.classify_blocks_many`` and
# ``oracle.reassemble``. Here ``segment_payload`` is the batch segmenter.
segment_payload = segment_batch
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


def _gate_and_segment(text: pa.Array, tool: pa.Array, mask: pa.Array | None,
                      config: ExtractConfig
                      ) -> tuple[np.ndarray, np.ndarray, np.ndarray, BlockTable]:
    """Validation gates + segmentation for a batch of turns ->
    (payload_len, n_blocks, reject_reason, blocks): ``blocks`` holds the
    blocks of every row no gate rejected, ``row`` indexing the batch.
    Never raises on bad input — the reference's check_page/check_line
    gates print-and-skip (``ocropus-nlbin:186-190``)."""
    text = text.cast(pa.string())
    tool = tool.cast(pa.string())
    # a non-empty tool payload wins over the text
    payload = pc.if_else(pc.fill_null(pc.not_equal(tool, ""), False), tool,
                         pc.fill_null(text, ""))
    n = len(payload)
    plen = pc.utf8_length(payload).to_numpy().astype(np.int32)
    reject = np.full(n, None, dtype=object)
    # assigned lowest priority first, so the first failing gate wins
    reject[plen > config.max_payload_chars] = "too_long"   # check_page >10000px analog (P1)
    reject[plen < config.min_payload_chars] = "too_short"  # check_line h<20 analog (P3)
    reject[pc.utf8_is_space(payload).to_numpy(zero_copy_only=False)] = "blank"  # constant-image analog (N1 None)
    reject[plen == 0] = "empty"                            # empty-input guard (P7)
    live = np.flatnonzero(np.equal(reject, None))
    take = pa.array(live)
    # numpy's tolist decodes strings ~3x faster than pyarrow's to_pylist
    blocks = segment_payload(payload.take(take).to_numpy(zero_copy_only=False).tolist(),
                             None if mask is None else mask.take(take).to_pylist())
    blocks.row = live[blocks.row]
    n_blocks = np.bincount(blocks.row, minlength=n).astype(np.int32)
    too_many = n_blocks > config.max_blocks                # maxlines gate (gpageseg:432-434)
    if too_many.any():
        reject[too_many] = "too_many_blocks"
        blocks = blocks.take(~too_many[blocks.row])
    return plen, n_blocks, reject, blocks


def extract_batch(batch: pa.RecordBatch, config: ExtractConfig = DEFAULT_CONFIG
                  ) -> pa.RecordBatch:
    """Extraction over one Arrow batch with columns (conv_id, turn_idx,
    role, text, tool[, mask, ts]) -> EXTRACT_COLUMNS (+ ``ts``, passed
    through for event-time consumers).

    Classification runs once over ALL surviving rows' blocks: one feature
    matrix + one scoring pass per batch instead of per ~6-block document.
    Every scorer is per-block or per-document and ``logistic_scores`` is
    shape-independent, so where the batch boundaries fall never changes a
    row's output (asserted in test_kernels).
    """
    n = batch.num_rows
    names = batch.schema.names
    nulls = pa.nulls(n, pa.string())
    plen, n_blocks, reject, blocks = _gate_and_segment(
        batch.column("text") if "text" in names else nulls,
        batch.column("tool") if "tool" in names else nulls,
        batch.column("mask") if "mask" in names else None, config)
    classify_blocks_many(blocks, config)
    extracted, spans, n_content = reassemble(blocks, n, config)
    arrays = [
        batch.column("conv_id"),
        pc.cast(batch.column("turn_idx"), pa.int32()),
        batch.column("role") if "role" in names else pa.repeat(pa.scalar("", pa.string()), n),
        pa.array(plen), pa.array(n_blocks), pa.array(n_content),
        extracted, spans, pa.array(reject, type=pa.string()),
    ]
    out_names = list(EXTRACT_COLUMNS)
    if "ts" in names:  # event-time passthrough for streaming consumers
        arrays.append(batch.column("ts"))
        out_names.append("ts")
    return pa.RecordBatch.from_arrays(arrays, names=out_names)


_SURROGATE_RE = re.compile("[\ud800-\udfff]")


def extract_turn(text: str | None, tool: str | None = None,
                 forced_boundaries: list[int] | None = None,
                 config: ExtractConfig = DEFAULT_CONFIG) -> dict:
    """Extract main content from one turn: ``extract_batch`` on a one-row
    batch, as a dict of the per-turn output columns (invalid payloads come
    back with a ``reject_reason``). A lone surrogate, which no Arrow
    string can hold (the Spark path never sees one), becomes U+FFFD: one
    code point for one, so spans stay offsets into ``text``."""
    text, tool = (None if s is None else _SURROGATE_RE.sub("\ufffd", s) for s in (text, tool))
    out = extract_batch(pa.record_batch({
        "conv_id": pa.array([""]), "turn_idx": pa.array([0], pa.int32()),
        "text": pa.array([text], pa.string()), "tool": pa.array([tool], pa.string()),
        "mask": pa.array([forced_boundaries], pa.list_(pa.int64()))}), config)
    row = out.to_pylist()[0]
    return {c: row[c] for c in EXTRACT_COLUMNS[3:]}


def extract_frame(pdf: pd.DataFrame, config: ExtractConfig = DEFAULT_CONFIG) -> pd.DataFrame:
    """``extract_batch`` over a pandas frame with columns (conv_id,
    turn_idx, role, text, tool[, mask, ts]) -> EXTRACT_COLUMNS as pandas,
    ``spans`` as lists of dicts (the Python types ``extract_turn`` gives)."""
    cols = {c: pa.array(pdf[c], from_pandas=True,
                        type=pa.string() if c in ("text", "tool") else None)
            for c in ("conv_id", "turn_idx", "role", "text", "tool", "mask", "ts")
            if c in pdf}
    out = extract_batch(pa.record_batch(cols), config)
    return pd.DataFrame({name: (_span_dicts(col) if name == "spans" else col.to_pandas())
                         for name, col in zip(out.schema.names, out.columns)})


def _span_dicts(spans: pa.ListArray) -> list[list[dict]]:
    """``spans.to_pylist()``, built column-wise through numpy (pyarrow's
    per-value struct conversion measured ~17x slower, over half the cost
    of the extraction itself)."""
    f = spans.values.field
    dicts = [{"block_id": b, "start": s, "end": e, "label": lab, "score": sc}
             for b, s, e, lab, sc in zip(*(f(i).to_numpy(zero_copy_only=False).tolist()
                                          for i in range(5)))]
    offsets = spans.offsets.to_numpy().tolist()
    return [dicts[a:b] for a, b in zip(offsets, offsets[1:])]
