"""Document reassembly (reference H1-H5 analog).

The reference's ``ocropus-hocr:91-153`` walks recognized lines in reading
order and assembles an hOCR document with bbox spans. Here: content
blocks, in payload order, are normalized (T1) and joined with a single
newline; each contributes a char span ``(block_id, start, end, label,
score)`` into the raw payload.

The whole batch is reassembled at once from its ``BlockTable``:
normalization runs over the content rows' text column, and both outputs
are Arrow list columns over the same per-row offsets.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from dup_ocropy_spark.config import DEFAULT_CONFIG, ExtractConfig
from dup_ocropy_spark.kernels.classify import CONTENT
from dup_ocropy_spark.kernels.segment import BlockTable
from dup_ocropy_spark.kernels.textnorm import normalize_array

SPAN_TYPE = pa.struct([("block_id", pa.int32()), ("start", pa.int32()),
                       ("end", pa.int32()), ("label", pa.string()),
                       ("score", pa.float64())])


def reassemble(table: BlockTable, n_rows: int, config: ExtractConfig = DEFAULT_CONFIG
               ) -> tuple[pa.Array, pa.Array, np.ndarray]:
    """(extracted_text, spans, n_content) per batch row from a classified
    ``BlockTable`` of ``n_rows`` rows.

    Only ``content`` blocks contribute, in table (= reading) order; each
    is normalized, and a row's texts are newline-joined, mirroring the
    reference's per-line text -> page assembly under stable ordering. A
    row without content gets ``""`` and no spans.
    """
    idx = np.flatnonzero(table.label == CONTENT)
    vis = table.visible.take(pa.array(idx))
    text = normalize_array(vis) if config.normalize else pc.utf8_trim_whitespace(vis)
    keep = pc.utf8_length(text).to_numpy() > 0
    if not keep.all():
        idx = idx[keep]
        text = text.filter(pa.array(keep))
    counts = np.bincount(table.row[idx], minlength=n_rows)
    offsets = pa.array(np.concatenate([[0], np.cumsum(counts)]), type=pa.int32())
    spans = pa.StructArray.from_arrays(
        [pa.array(table.block_id[idx], type=pa.int32()),
         pa.array(table.start[idx], type=pa.int32()),
         pa.array(table.end[idx], type=pa.int32()),
         pa.repeat(pa.scalar("content", pa.string()), len(idx)),
         # Python's round (correctly rounded), not numpy's scaled rint
         pa.array([round(s, 6) for s in table.score[idx].tolist()], type=pa.float64())],
        fields=list(SPAN_TYPE))
    extracted = pc.binary_join(pa.ListArray.from_arrays(offsets, text), "\n")
    return extracted, pa.ListArray.from_arrays(offsets, spans), counts.astype(np.int32)
